from __future__ import annotations

from pyspark.sql import functions as F

from pyorchdb_spark.generator import change_events


def test_generator_deterministic_across_partitioning(spark):
    a = change_events(spark, 2_000, num_partitions=2)
    b = change_events(spark, 2_000, num_partitions=7)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_generator_shape_and_pathologies(spark):
    n = 5_000
    df = change_events(spark, n, batch_size=1_000, evolution_batch=3).cache()
    try:
        assert df.columns == [
            "repo", "path", "commit", "seq", "op", "lang", "content", "batch_id", "ts", "lang_variant",
        ]
        total = df.count()
        assert total > n  # duplicate deliveries re-emitted
        stats = df.agg(
            F.countDistinct("repo").alias("repos"),
            F.countDistinct("batch_id").alias("batches"),
            F.sum((F.col("op") == "delete").cast("int")).alias("deletes"),
            F.min(F.length("content")).alias("minlen"),
            F.max(F.length("content")).alias("maxlen"),
        ).first()
        assert stats["batches"] == 5
        assert 0.05 * total < stats["deletes"] < 0.15 * total
        assert stats["minlen"] >= 64 and stats["maxlen"] <= 4200
        # multiple versions per key on average
        keys = df.select("repo", "path").distinct().count()
        assert total / keys > 2.0
        # skew: hottest repo holds far more than the uniform share
        top = df.groupBy("repo").count().orderBy(F.desc("count")).first()["count"]
        assert top > 5 * (total / stats["repos"])
        # evolution column null before batch 3, populated after
        assert df.filter((F.col("batch_id") < "b000003") & F.col("lang_variant").isNotNull()).isEmpty()
        assert df.filter((F.col("batch_id") >= "b000003") & F.col("lang_variant").isNotNull()).count() > 0
        # duplicates are exact duplicates (same seq → identical row)
        dup_groups = df.groupBy("seq").count().filter("count > 1")
        distinct_dup = df.join(dup_groups.select("seq"), "seq", "left_semi").dropDuplicates(["seq"]).count()
        assert dup_groups.count() == distinct_dup
    finally:
        df.unpersist()


def test_generator_path_mod_scales_key_cardinality(spark):
    """Key-axis knob (round 5): with the default path_mod the distinct
    (repo, path) image is bounded by the ~319k-path space (the churn-axis
    protocol shape), while a larger path_mod lets key cardinality track
    n_events — and the default-parameter data is bit-identical to the
    pre-knob generator."""
    from pyorchdb_spark.generator import change_events

    n = 300_000
    base = change_events(spark, n, batch_size=100_000, content_max_reps=2)
    # exercise the knob downward: path_mod=1 hard-bounds the pair image at
    # n_repos * |DIRS|^2 * |EXTS| = 200 * 320 = 64,000 whatever n is
    narrow = change_events(spark, n, batch_size=100_000, content_max_reps=2,
                           path_mod=1)
    k_base = base.select("repo", "path").distinct().count()
    k_narrow = narrow.select("repo", "path").distinct().count()
    # same event count either way; only the key image changes
    assert base.count() == narrow.count()
    # defaults are unsaturated at this n: most of the n/3 key ids survive
    assert k_base > 0.7 * (n / 3)
    # the narrowed image binds: strictly under its combinatorial bound,
    # and well under what the same event count yields at the default
    assert k_narrow <= 64_000 < k_base
    # defaults remain the committed protocol: same rows as a second build
    again = change_events(spark, n, batch_size=100_000, content_max_reps=2,
                          path_mod=997)
    assert base.exceptAll(again).isEmpty() and again.exceptAll(base).isEmpty()


def test_generator_wide_key_space(spark):
    """key_space='wide' (round-5g part 2): key ids drawn at full 64-bit
    hash resolution, so the distinct-key image is no longer capped by the
    1,000,003-value uniform grid. At small n the wide and grid images are
    statistically similar; the test pins (a) determinism, (b) the grid cap
    actually binding when n_keys exceeds the grid, (c) wide breaking it."""
    from pyorchdb_spark.generator import change_events

    n = 300_000
    # events_per_key tiny -> n_keys = 30M >> grid modulus. Grid mode can
    # only realise key ids on the ~1M-value lattice; at 300k draws over a
    # 30M-key space, collisions differ sharply between the two modes: the
    # grid quantizes u to 1e6 steps first (floor(u*3e7) hits ~30 ids per
    # step, but only ~1M reachable ids), wide reaches all 30M residues.
    kw = dict(batch_size=100_000, content_max_reps=2, path_mod=99991,
              events_per_key=0.01)
    grid = change_events(spark, n, **kw)
    wide = change_events(spark, n, key_space="wide", **kw)
    assert grid.count() == wide.count()
    k_grid = grid.select("repo", "path").distinct().count()
    k_wide = wide.select("repo", "path").distinct().count()
    # wide: 300k draws over 30M ids -> ~99.5% unique expected
    assert k_wide > 0.97 * n
    # grid: same draws but only ~1M reachable lattice points -> birthday
    # collisions bite (expected uniques ~= M*(1-exp(-n/M)) ~ 259k)
    assert k_grid < 0.95 * n
    assert k_wide > k_grid
    # deterministic across partitioning, like the grid mode
    wide7 = change_events(spark, n, key_space="wide", num_partitions=7, **kw)
    assert wide.exceptAll(wide7).isEmpty() and wide7.exceptAll(wide).isEmpty()


def test_generator_hot_share_collapses_events_onto_one_key(spark):
    n = 20_000
    share = 0.5
    ev = change_events(spark, n, hot_share=share)
    top = (
        ev.groupBy("repo", "path").count()
        .orderBy(F.desc("count")).limit(1).collect()[0]
    )
    total = ev.count()
    # the hot key holds ~share of all events (u < share is exact in
    # expectation; allow sampling slack) and vastly more than the ~3
    # events/key uniform background
    assert abs(top["count"] / total - share) < 0.05
    # default stays the pinned uniform grid: bit-identical to hot_share=0
    base = change_events(spark, 2_000)
    zero = change_events(spark, 2_000, hot_share=0.0)
    assert base.exceptAll(zero).isEmpty() and zero.exceptAll(base).isEmpty()
    # deterministic across partitioning like every other knob
    a = change_events(spark, 2_000, hot_share=0.3, num_partitions=2)
    b = change_events(spark, 2_000, hot_share=0.3, num_partitions=7)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_generator_nfc_noise_spells_one_key_two_ways(spark):
    import unicodedata

    ev = change_events(spark, 3_000, nfc_noise=0.3)
    paths = [r["path"] for r in ev.select("path").distinct().collect()]
    non_nfc = [p for p in paths if unicodedata.normalize("NFC", p) != p]
    nfc_twins = {unicodedata.normalize("NFC", p) for p in non_nfc} & set(paths)
    # decomposed spellings exist, and keys reach the log in both forms
    assert non_nfc and nfc_twins
    # every non-NFC spelling is one of the version-stable pairs: Latin
    # acute/grave or Hangul L+V jamo
    marks = {c for p in non_nfc for c in p if not c.isascii()}
    assert marks <= {"\u0301", "\u0300", "\u1100", "\u1102", "\u1161"}
    # default stays the pinned grid: bit-identical to nfc_noise=0
    base = change_events(spark, 2_000)
    zero = change_events(spark, 2_000, nfc_noise=0.0)
    assert base.exceptAll(zero).isEmpty() and zero.exceptAll(base).isEmpty()
    a = change_events(spark, 2_000, nfc_noise=0.3, num_partitions=2)
    b = change_events(spark, 2_000, nfc_noise=0.3, num_partitions=7)
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
