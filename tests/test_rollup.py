"""Continuous-aggregate rollup store (operators/rollup.py): bucket-edge
exactness, one-shot vs SQL, the batch fold law, stamp refusal, null
handling, finalizer identities, compaction invariance."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dataframes_spark.io.store import (
    compact_swap_store,
    drop_table_and_location,
    store_stamp,
)
from dataframes_spark.operators import rollup as R


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "k long, ts timestamp, g string, v double"
    )


def _fixture(spark, n=500):
    # deterministic events across ~3 hours, 2 groups, a few nulls
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 37_000_000
        ).alias("ts"),
        (F.col("id") % 2).cast("string").alias("g"),
        F.when(F.col("id") % 29 != 0, (F.col("id") * 7919 % 1000) / 7.0).alias(
            "v"
        ),
    )


def test_width_parse():
    assert R.width_us("1 hour") == 3_600_000_000
    assert R.width_us("15 minutes") == 900_000_000
    assert R.width_us("day") == 86_400_000_000
    assert R.width_us(42) == 42
    with pytest.raises(ValueError):
        R.width_us("1 month")
    with pytest.raises(ValueError):
        R.width_us("0 hours")


def test_bucket_edges_exact(spark):
    # an instant exactly on a boundary starts its own bucket; one µs
    # before belongs to the previous; pre-1970 floors (not truncates)
    w = 3_600_000_000
    df = spark.createDataFrame(
        [(0,), (w - 1,), (w,), (-1,), (-w,)], "e long"
    ).select(F.timestamp_micros("e").alias("ts"))
    got = sorted(
        r[0]
        for r in df.select(
            F.unix_micros(R.time_bucket("ts", "1 hour")).alias("b")
        ).collect()
    )
    assert got == [-w, -w, 0, 0, w]


def test_one_shot_matches_groupby_sql(spark):
    df = _fixture(spark)
    got = R.rollup_finalize(
        R.rollup(df, "ts", "v", "1 hour", by=["g"]),
        stats=("count", "n_rows", "sum", "mean", "min", "max", "var", "std"),
        by=["g"],
    )
    w = F.unix_micros("ts")
    exp = (
        df.groupBy(
            F.timestamp_micros(w - F.pmod(w, F.lit(3_600_000_000))).alias(
                "bucket_ts"
            ),
            "g",
        )
        .agg(
            F.count("v").alias("count"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").alias("sum"),
            F.avg("v").alias("mean"),
            F.min("v").alias("min"),
            F.max("v").alias("max"),
            F.var_pop("v").alias("var"),
            F.stddev_pop("v").alias("std"),
        )
    )
    g = {(r.bucket_ts, r.g): r for r in got.collect()}
    e = {(r.bucket_ts, r.g): r for r in exp.collect()}
    assert g.keys() == e.keys() and len(g) > 2
    for key, row in e.items():
        o = g[key]
        assert (o["count"], o["n_rows"], o["min"], o["max"]) == (
            row["count"],
            row["n_rows"],
            row["min"],
            row["max"],
        )
        for c in ("sum", "mean", "var", "std"):
            if row[c] is None:
                assert o[c] is None
            else:
                assert o[c] == pytest.approx(row[c], rel=1e-9)


def test_fold_law_three_batches(spark):
    """store fold over arbitrary splits == one-shot rollup over the
    union — the law that makes the store a continuous aggregate."""
    df = _fixture(spark)
    t = "t_rollup_fold_law"
    drop_table_and_location(spark, t)
    for i in range(3):
        R.rollup_store_update(
            spark, t, df.filter(F.col("k") % 3 == i), "ts", "v", "1 hour",
            by=["g"],
        )
    got = R.rollup_serve(
        spark, t, stats=("count", "n_rows", "sum", "mean", "min", "max")
    )
    exp = R.rollup_finalize(
        R.rollup(df, "ts", "v", "1 hour", by=["g"]),
        stats=("count", "n_rows", "sum", "mean", "min", "max"),
        by=["g"],
    )
    g = sorted(map(tuple, got.collect()))
    e = sorted(map(tuple, exp.collect()))
    assert len(g) == len(e) > 2
    for a, b in zip(g, e):
        assert a[:4] == b[:4]
        assert a[4:] == pytest.approx(b[4:], rel=1e-9)


def test_store_refuses_mismatched_fold(spark):
    df = _fixture(spark, 50)
    t = "t_rollup_refuse"
    drop_table_and_location(spark, t)
    R.rollup_store_update(spark, t, df, "ts", "v", "1 hour", by=["g"])
    with pytest.raises(ValueError, match="refusing to fold"):
        R.rollup_store_update(spark, t, df, "ts", "v", "15 minutes", by=["g"])
    with pytest.raises(ValueError, match="refusing to fold"):
        R.rollup_store_update(spark, t, df, "ts", "v", "1 hour", by=[])
    with pytest.raises(ValueError, match="refusing to fold"):
        R.rollup_store_update(spark, t, df, "ts", "k", "1 hour", by=["g"])


def test_null_handling(spark):
    base = dt.datetime(2024, 1, 1)
    df = _events(
        spark,
        [
            (1, base, "a", 1.0),
            (2, base, "a", None),  # counts in n_rows, not count/sum
            (3, None, "a", 9.0),  # null ts drops entirely
            (4, base, "b", None),  # all-null bucket serves NULL stats
        ],
    )
    rows = {
        r.g: r
        for r in R.rollup_finalize(
            R.rollup(df, "ts", "v", "1 hour", by=["g"]),
            stats=("count", "n_rows", "sum", "mean", "min", "max", "std"),
            by=["g"],
        ).collect()
    }
    assert rows["a"]["n_rows"] == 2 and rows["a"]["count"] == 1
    assert rows["a"]["sum"] == 1.0 and rows["a"]["std"] == 0.0
    assert rows["b"]["n_rows"] == 1 and rows["b"]["count"] == 0
    assert all(
        rows["b"][c] is None for c in ("sum", "mean", "min", "max", "std")
    )


def test_compaction_preserves_served_report(spark):
    df = _fixture(spark)
    t = "t_rollup_compact"
    drop_table_and_location(spark, t)
    for i in range(2):
        R.rollup_store_update(
            spark, t, df.filter(F.col("k") % 2 == i), "ts", "v", "1 hour",
            by=["g"],
        )
    before = sorted(map(tuple, R.rollup_serve(spark, t).collect()))
    stamp = store_stamp(spark, t)
    out = compact_swap_store(spark, t)
    assert out["files_after"] <= out["files_before"]
    assert store_stamp(spark, t) == stamp
    after = sorted(map(tuple, R.rollup_serve(spark, t).collect()))
    assert before == after


def test_merge_is_order_independent(spark):
    df = _fixture(spark, 300)
    parts = [R.rollup(df.filter(F.col("k") % 3 == i), "ts", "v", "1 hour") for i in range(3)]
    a = R.rollup_merge(parts[0].unionByName(parts[1]).unionByName(parts[2]))
    b = R.rollup_merge(parts[2].unionByName(parts[0]).unionByName(parts[1]))
    ka = sorted(map(tuple, a.select("bucket_ts", "n_rows", "n", "mn", "mx").collect()))
    kb = sorted(map(tuple, b.select("bucket_ts", "n_rows", "n", "mn", "mx").collect()))
    assert ka == kb and len(ka) > 2


def test_distinct_rollup_estimates_and_fold_idempotence(spark):
    """Keyed HLL rollup: per-bucket estimates within the sketch's error
    of exact; the store fold equals the one-shot registers under any
    split AND under re-delivery (max-merge idempotence)."""
    import pyspark.sql.functions as F

    from dataframes_spark.operators import rollup as R

    n = 4000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + (F.col("id") % 4) * 3_600_000_000
        ).alias("ts"),  # 4 hourly buckets
        (F.col("id") % ((F.col("id") % 4 + 1) * 250)).alias("u"),
    )
    regs = R.rollup_distinct(df, "ts", "u", "1 hour", p=10)
    est = {
        r.bucket_ts: r.est_ndv
        for r in R.rollup_distinct_serve(regs, p=10).collect()
    }
    exact = {
        r.bucket_ts: r.n
        for r in df.groupBy(R.time_bucket("ts", "1 hour").alias("bucket_ts"))
        .agg(F.countDistinct("u").alias("n"))
        .collect()
    }
    assert set(est) == set(exact) and len(exact) == 4
    for b, e in exact.items():
        assert abs(est[b] - e) / e < 0.15, (b, est[b], e)

    t = "t_rollup_distinct"
    from dataframes_spark.io.store import drop_table_and_location

    drop_table_and_location(spark, t)
    for i in range(3):
        R.rollup_distinct_store_update(
            spark, t, df.filter(F.col("k") % 3 == i), "ts", "u", "1 hour",
            p=10,
        )
    # re-deliver batch 0: idempotent, nothing changes
    before = sorted(
        map(tuple, R.rollup_distinct_serve_store(spark, t).collect())
    )
    R.rollup_distinct_store_update(
        spark, t, df.filter(F.col("k") % 3 == 0), "ts", "u", "1 hour", p=10
    )
    after = sorted(
        map(tuple, R.rollup_distinct_serve_store(spark, t).collect())
    )
    assert before == after
    got = {r[0]: r[1] for r in after}
    assert got == est  # fold == one-shot
    with pytest.raises(ValueError, match="refusing to fold"):
        R.rollup_distinct_store_update(
            spark, t, df, "ts", "u", "1 hour", p=11
        )


def test_store_refresh_replaces_range_only(spark):
    """Late/corrected data beyond what sum-merge can absorb: refresh
    recomputes ONLY the [lo, hi) buckets from the corrected slice;
    refresh == one-shot over the corrected union (the correction law)."""
    df = _fixture(spark)
    # corrupted copy: values doubled in hour 1 (the "bad first load")
    h1_lo = dt.datetime(2023, 11, 14, 23, 0)
    h1_hi = dt.datetime(2023, 11, 15, 0, 0)
    in_h1 = (F.col("ts") >= F.lit(h1_lo)) & (F.col("ts") < F.lit(h1_hi))
    bad = df.withColumn("v", F.when(in_h1, F.col("v") * 2).otherwise(F.col("v")))
    t = "t_rollup_refresh"
    drop_table_and_location(spark, t)
    R.rollup_store_update(spark, t, bad, "ts", "v", "1 hour", by=["g"])
    out = R.rollup_store_refresh(
        spark, t, df, "ts", "v", "1 hour", h1_lo, h1_hi, by=["g"]
    )
    assert out["replaced"] > 0
    got = sorted(map(tuple, R.rollup_serve(spark, t).collect()))
    exp = sorted(
        map(
            tuple,
            R.rollup_finalize(
                R.rollup(df, "ts", "v", "1 hour", by=["g"]), by=["g"]
            ).collect(),
        )
    )
    assert len(got) == len(exp)
    for a, b in zip(got, exp):
        assert a[:4] == b[:4] and a[4:] == pytest.approx(b[4:], rel=1e-9)
    with pytest.raises(ValueError, match="refusing to refresh"):
        R.rollup_store_refresh(
            spark, t, df, "ts", "v", "15 minutes", h1_lo, h1_hi, by=["g"]
        )
    with pytest.raises(ValueError, match="does not exist"):
        R.rollup_store_refresh(
            spark, "t_rollup_missing", df, "ts", "v", "1 hour", h1_lo, h1_hi
        )


def test_distinct_serve_store_handles_empty_store(spark):
    """Folding an EMPTY first batch leaves an empty but stamped store;
    serving returns an empty frame."""
    t = "t_rollup_distinct_empty"
    drop_table_and_location(spark, t)
    empty = spark.createDataFrame([], "k long, ts timestamp, u long")
    R.rollup_distinct_store_update(spark, t, empty, "ts", "u", "1 hour", p=9)
    assert R.rollup_distinct_serve_store(spark, t).count() == 0


def test_multi_rollup_one_scan_matches_per_column(spark):
    """rollup_multi == k independent rollups, in one scan; store fold
    law holds with the column in the merge key; mismatch refuses."""
    df = _fixture(spark)
    df = df.withColumn("v2", F.col("v") * 2 + 1)
    multi = R.rollup_finalize(
        R.rollup_multi(df, "ts", ["v", "v2"], "1 hour", by=["g"]),
        by=["g", "col"],
    )
    got = {
        (r.bucket_ts, r.g, r.col): tuple(r)[3:] for r in multi.collect()
    }
    for c in ("v", "v2"):
        solo = R.rollup_finalize(
            R.rollup(df, "ts", c, "1 hour", by=["g"]), by=["g"]
        )
        for r in solo.collect():
            assert got[(r.bucket_ts, r.g, c)] == pytest.approx(
                tuple(r)[2:], rel=1e-9
            ), (c, r.bucket_ts)
    t = "t_rollup_multi"
    drop_table_and_location(spark, t)
    for i in range(2):
        R.rollup_multi_store_update(
            spark, t, df.filter(F.col("k") % 2 == i), "ts", ["v", "v2"],
            "1 hour", by=["g"],
        )
    served = {
        (r.bucket_ts, r.g, r.col): tuple(r)[3:]
        for r in R.rollup_multi_serve(spark, t).collect()
    }
    assert len(served) == len(got)
    for k2, v2_ in got.items():
        assert served[k2] == pytest.approx(v2_, rel=1e-9), k2
    with pytest.raises(ValueError, match="refusing to fold"):
        R.rollup_multi_store_update(
            spark, t, df, "ts", ["v"], "1 hour", by=["g"]
        )


def test_serve_empty_store_keeps_group_columns(spark):
    """An empty first fold still stamps the store (a catalog property,
    not a row), so serve recovers the group columns: the served frame is
    empty but correctly shaped — downstream unionByName keeps working."""
    t = "t_rollup_empty_by"
    drop_table_and_location(spark, t)
    empty = spark.createDataFrame([], "g string, ts timestamp, v double")
    R.rollup_store_update(spark, t, empty, "ts", "v", "1 hour", by=["g"])
    assert store_stamp(spark, t) == {
        "col": "v", "width_us": 3_600_000_000, "by": ["g"],
    }
    served = R.rollup_serve(spark, t)
    assert served.columns[:2] == ["bucket_ts", "g"]
    assert served.count() == 0
    # and after a real fold the same serve call returns the same shape
    rows = [("a", dt.datetime(2024, 1, 1, 0, 30), 2.0)]
    R.rollup_store_update(
        spark,
        t,
        spark.createDataFrame(rows, "g string, ts timestamp, v double"),
        "ts",
        "v",
        "1 hour",
        by=["g"],
    )
    after = R.rollup_serve(spark, t)
    assert after.columns == served.columns
    assert after.count() == 1


def test_multi_serve_empty_store_keeps_group_columns(spark):
    t = "t_rollup_multi_empty_by"
    drop_table_and_location(spark, t)
    empty = spark.createDataFrame(
        [], "g string, ts timestamp, v double, v2 double"
    )
    R.rollup_multi_store_update(
        spark, t, empty, "ts", ["v", "v2"], "1 hour", by=["g"]
    )
    served = R.rollup_multi_serve(spark, t)
    assert served.columns[:3] == ["bucket_ts", "g", "col"]
    assert served.count() == 0


def test_distinct_serve_empty_store_keeps_group_columns(spark):
    t = "t_rollup_distinct_empty_by"
    drop_table_and_location(spark, t)
    empty = spark.createDataFrame([], "g string, ts timestamp, u long")
    R.rollup_distinct_store_update(
        spark, t, empty, "ts", "u", "1 hour", by=["g"], p=9
    )
    served = R.rollup_distinct_serve_store(spark, t)
    assert served.columns[:2] == ["bucket_ts", "g"]
    assert served.count() == 0
