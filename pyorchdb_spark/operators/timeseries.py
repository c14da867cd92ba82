"""Gap-based sessionization over event time.

The reference pipeline stamps a wall-clock period onto every batch
(PyOrchDB/utilities/tools.py:183-207 ``insert_period_columns``) and all
of its time reasoning stops there; a Spark-native engine can reason on
event time directly.  ``sessionize`` is the batch half of the engine's
session surface: ``streaming/stateful.py::sessionize_stream``
(``applyInPandasWithState``) is asserted equal to it on the same input.

Scale notes (100 TB): sessionization shuffles once on the session keys;
the in-partition pass is two window functions (lag + running sum) over
a sort that feeds straight from the shuffle's sorted output.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _agg_or_default(aggs: Sequence[Column] | None) -> list[Column]:
    if aggs:
        return list(aggs)
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    ]


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap: str = "30 minutes",
    keys: Sequence[str] = ("user_id",),
    aggs: Sequence[Column] | None = None,
) -> DataFrame:
    """Gap-based sessions: within each key, a new session starts when the
    time since the previous event is STRICTLY GREATER than ``gap``
    (an event exactly ``gap`` after its predecessor extends the session —
    the same closed-interval rule the streaming stateful variant applies,
    and expressible verbatim as a SQL gaps-and-islands oracle).

    One shuffle on ``keys``; lag + running count are computed in a single
    in-partition sorted pass.  Output: one row per session with
    ``session_start`` / ``session_end`` / aggregates.
    """
    gap_expr = F.expr(f"INTERVAL {gap}")
    by_key = Window.partitionBy(*keys).orderBy(F.col(ts_col).asc())
    ts = F.col(ts_col)
    is_new = (
        F.when(F.lag(ts).over(by_key).isNull(), F.lit(1))
        .when(ts > F.lag(ts).over(by_key) + gap_expr, F.lit(1))
        .otherwise(F.lit(0))
    )
    with_sess = df.withColumn("_new", is_new).withColumn(
        "session_no",
        F.sum("_new").over(by_key.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        with_sess.groupBy(*keys, "session_no")
        .agg(
            F.min(ts).alias("session_start"),
            F.max(ts).alias("session_end"),
            *_agg_or_default(aggs),
        )
        .drop("session_no")
    )

