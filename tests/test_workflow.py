"""F3 fixture (FIXTURES.md): the reference-shaped messy-raw flow,
end-to-end through the ETLWorkflow facade."""

from __future__ import annotations

import os

from pyorchdb_spark.workflow import ETLWorkflow, WorkflowConfig


def _write_messy_csvs(tmp_path):
    d = tmp_path / "rawdata"
    os.makedirs(d, exist_ok=True)
    (d / "sales_jan_2024-01-15.csv").write_text(
        "Unnamed: 0,Product Name,Qty,Region,ghost\n0,widget,3,north,\n1,gadget,5,south,\n"
    )
    # near-identical name, one column missing (schema drift)
    (d / "sales_feb_2024-02-15.csv").write_text(
        "Unnamed: 0,Product Name,Qty,ghost\n0,widget,7,\n1,sprocket,2,\n"
    )
    # unrelated table
    (d / "inventory_1999.csv").write_text("Item,Count\nwidget,10\n")
    return [str(d / f) for f in sorted(os.listdir(d))]


def test_build_curate_load_upload(spark, tmp_path):
    paths = _write_messy_csvs(tmp_path)
    wf = ETLWorkflow(spark, WorkflowConfig(columns_to_rename={"qty": "quantity"}))
    wf.build(paths).curate()

    assert set(wf.tables) == {"sales_feb", "inventory"}  # jan/feb clustered (rep = first name)
    sales = wf.tables["sales_feb"]
    assert "unnamed_0" not in [c.lower().replace(": ", "_") for c in sales.columns]
    assert "ghost" not in sales.columns  # all-null column dropped
    assert {"product_name", "quantity", "periodo"} <= set(sales.columns)
    assert sales.count() == 4  # unioned with missing 'region' null-filled
    per = {r["periodo"] for r in sales.select("periodo").distinct().collect()}
    assert per == {"2024-01-15", "2024-02-15"}
    region_nulls = sales.filter("region is null").count()
    assert region_nulls == 2

    out = wf.load(str(tmp_path / "processed"))
    assert set(out) == {"sales_feb", "inventory"}
    assert spark.read.parquet(out["sales_feb"]).count() == 4

    rows = wf.upload(str(tmp_path / "lake"), keys=["product_name", "periodo"])
    assert rows["sales_feb"] == 4
    # idempotent: re-upload skips committed batch
    rows2 = wf.upload(str(tmp_path / "lake"), keys=["product_name", "periodo"])
    assert rows2 == rows


def test_match_cols_blocks_shape_mismatch(spark, tmp_path):
    """merge_by_similarity parity (main.py:162-168): close names but
    disjoint columns must NOT be unioned."""
    d = tmp_path / "raw2"
    os.makedirs(d, exist_ok=True)
    (d / "metrics_a.csv").write_text("x,y\n1,2\n")
    (d / "metrics_b.csv").write_text("p,q\n3,4\n")  # same-ish name, alien shape
    wf = ETLWorkflow(spark, WorkflowConfig(match_cols=2))
    wf.build([str(d / "metrics_a.csv"), str(d / "metrics_b.csv")])
    assert len(wf.tables) == 2  # kept apart


def test_hierarchical_table_name_mapping():
    from pyorchdb_spark.workflow import map_table_name

    mapping = {
        "sales": {"mx": "ventas_mx", "us": "sales_us", "None": "sales_other"},
        "inventory": "stock",
    }
    assert map_table_name("sales_mx_2024", mapping) == "ventas_mx"
    assert map_table_name("sales_us", mapping) == "sales_us"
    # matched top key, no sub-key: default only when default_name
    assert map_table_name("sales_eu", mapping) == "sales_eu"
    assert map_table_name("sales_eu", mapping, default_name=True) == "sales_other"
    assert map_table_name("inventory_q1", mapping) == "stock"
    assert map_table_name("unrelated", mapping) == "unrelated"


def test_xlsx_roundtrip_and_build(spark, tmp_path):
    """S2 parity: the reference reads \\w+\\.(xlsx|csv); xlsx goes through
    the stdlib OOXML reader + type re-inference."""
    from pyorchdb_spark.sources.xlsx import read_xlsx, write_xlsx

    p = str(tmp_path / "orders_2024.xlsx")
    write_xlsx(p, ["Item", "Qty", "Price"], [("widget", 3, 1.5), ("gadget", 5, 2.25), ("naïl", None, 0.5)])
    df = read_xlsx(spark, p)
    assert df.columns == ["Item", "Qty", "Price"]
    rows = {r["Item"]: r for r in df.collect()}
    assert rows["widget"]["Qty"] == "3"  # raw reader: strings
    assert rows["naïl"]["Qty"] is None

    wf = ETLWorkflow(spark)
    wf.build([p])
    t = wf.tables["orders"]
    schema = {f.name: f.dataType.simpleString() for f in t.schema.fields}
    assert schema["Qty"] == "bigint" and schema["Price"] == "double"  # re-inferred
    assert {r["periodo"] for r in t.select("periodo").collect()} == {"2024"}


def test_union_type_drift_coerced(spark, tmp_path):
    """VERDICT missing #6: per-file inference drift (int vs string) must
    neither fail the union nor survive as a string column when every
    value is numeric."""
    d = tmp_path / "raw3"
    os.makedirs(d, exist_ok=True)
    (d / "log_a.csv").write_text("k,v\na,1\nb,2\n")
    (d / "log_b.csv").write_text("k,v\nc, 3\nd,\n")  # ' 3' + blank -> string inference
    wf = ETLWorkflow(spark)
    wf.build([str(d / "log_a.csv"), str(d / "log_b.csv")])
    t = wf.tables["log_a"] if "log_a" in wf.tables else next(iter(wf.tables.values()))
    schema = {f.name: f.dataType.simpleString() for f in t.schema.fields}
    # numeric drift widens numerically (int+double -> double); string drift
    # re-infers — either way the union succeeds and v ends up numeric
    assert schema["v"] in ("bigint", "double"), schema
    vals = sorted(float(r["v"]) for r in t.collect() if r["v"] is not None)
    assert vals == [1.0, 2.0, 3.0]

    # string-vs-int drift: blank-only column in one file infers string
    (d / "evt_a.csv").write_text("k,v\na,1\nb,2\n")
    (d / "evt_b.csv").write_text("k,v\nc,x\nd,y\n")  # truly non-numeric
    wf2 = ETLWorkflow(spark)
    wf2.build([str(d / "evt_a.csv"), str(d / "evt_b.csv")])
    t2 = next(iter(wf2.tables.values()))
    s2 = {f.name: f.dataType.simpleString() for f in t2.schema.fields}
    assert s2["v"] == "string"  # mixed alpha/num stays string, union intact
    assert t2.count() == 4


def test_clean_string_values(spark):
    """P9 parity (clean_db -> LightCleaner): accents folded, case and
    whitespace normalized, non-string columns untouched."""
    from pyorchdb_spark.operators.curate import clean_string_values

    df = spark.createDataFrame(
        [(1, "  Café  CON   Leche ", 2.5), (2, "ÑANDÚ\tveloz", 1.0)],
        "id long, s string, x double",
    )
    out = {r["id"]: r for r in clean_string_values(df).collect()}
    assert out[1]["s"] == "cafe con leche"
    assert out[2]["s"] == "nandu veloz"
    assert out[1]["x"] == 2.5


def test_standalone_upload_without_build(spark, tmp_path):
    """Reference scenario E3 (main.py:250-255, README Scenario 2/3):
    upload() straight after a restart — build() never ran in this
    process — self-derives the table set from the load() output
    directory and produces the same lake state as the full flow."""
    paths = _write_messy_csvs(tmp_path)
    wf = ETLWorkflow(spark, WorkflowConfig(columns_to_rename={"qty": "quantity"}))
    wf.build(paths).curate()
    processed = str(tmp_path / "processed")
    wf.load(processed)
    rows_full = wf.upload(str(tmp_path / "lake_full"), keys=["product_name", "periodo"])

    # fresh process: no build, no in-memory tables
    wf2 = ETLWorkflow(spark)
    assert wf2.tables == {}
    import pytest

    with pytest.raises(ValueError, match="processed_dir"):
        wf2.upload(str(tmp_path / "lake_standalone"), keys=["product_name", "periodo"])

    rows_standalone = wf2.upload(
        str(tmp_path / "lake_standalone"),
        keys=["product_name", "periodo"],
        processed_dir=processed,
    )
    assert rows_standalone == rows_full

    from pyorchdb_spark.sources.lake import LakeTable

    full = LakeTable(spark, str(tmp_path / "lake_full" / "sales_feb"),
                     keys=("product_name", "periodo")).snapshot()
    alone = LakeTable(spark, str(tmp_path / "lake_standalone" / "sales_feb"),
                      keys=("product_name", "periodo")).snapshot()
    cols = sorted(set(full.columns) & set(alone.columns))
    assert sorted(map(tuple, full.select(*cols).fillna("<n>").collect())) == \
           sorted(map(tuple, alone.select(*cols).fillna("<n>").collect()))

    # idempotent: standalone re-upload skips committed batches, counts
    # served from manifest arithmetic
    assert wf2.upload(str(tmp_path / "lake_standalone"),
                      keys=["product_name", "periodo"],
                      processed_dir=processed) == rows_full


def test_upload_row_count_falls_back_on_foreign_deltas(spark, tmp_path):
    """ADVICE r3 #3: upload()'s zero-scan manifest row count is exact
    only for pure-upsert tables without delta files; when a foreign
    writer lands MoR delta commits, the physical sum counts superseded versions — the
    count must fall back to the LWW-resolved snapshot count."""
    from pyspark.sql import functions as F

    from pyorchdb_spark.sources.lake import LakeTable
    from pyorchdb_spark.workflow import _table_rows

    paths = _write_messy_csvs(tmp_path)
    wf = ETLWorkflow(spark, WorkflowConfig(columns_to_rename={"qty": "quantity"}))
    wf.build(paths).curate()
    wf.upload(str(tmp_path / "lake"), keys=["product_name", "periodo"])

    # a foreign writer re-upserts one existing key as a MoR delta commit
    lake = LakeTable(spark, str(tmp_path / "lake" / "sales_feb"),
                     keys=["product_name", "periodo"])
    n_live = lake.snapshot().count()
    one = lake.snapshot().limit(1)
    foreign = one.withColumn("seq", F.lit(10**15).cast("long")).withColumn(
        "op", F.lit("upsert")
    )
    m = lake.merge(foreign, batch_id="foreign-delta")
    assert any(f.get("delta") for f in m.files)
    physical = sum(f["rows"] for f in m.files)
    assert physical == n_live + 1  # superseded version double-counted
    assert _table_rows(lake, m) == n_live  # fallback counts live rows

    # idempotent re-upload reports the accurate count, not the physical sum
    rows = wf.upload(str(tmp_path / "lake"), keys=["product_name", "periodo"])
    assert rows["sales_feb"] == n_live
