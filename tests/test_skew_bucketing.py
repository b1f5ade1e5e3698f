"""Skew-safe aggregation (salted two-stage) and bucketed co-located joins."""

import math

import pytest
from pyspark.sql import functions as F

from dataframes_spark.io import bucketed as dbuck
from dataframes_spark.operators import aggregate as dagg
from dataframes_spark.operators import skew as dskew


@pytest.fixture()
def hot_key_df(spark):
    # 3 keys, one carrying 90% of rows — the shape that strands reducers
    rows = [("hot", float(i % 97)) for i in range(9000)]
    rows += [("a", float(i)) for i in range(500)]
    rows += [("b", None)] * 500
    return spark.createDataFrame(rows, ["k", "v"])


def test_salted_aggregate_matches_plain(spark, hot_key_df):
    plain = {
        r.k: r
        for r in dagg.aggregate_by(
            hot_key_df, "k", [("v", ["sum", "length", "min", "max", "mean", "std"])]
        ).collect()
    }
    salted = {
        r.k: r
        for r in dskew.aggregate_by_skew_safe(
            hot_key_df, "k", [("v", ["sum", "length", "min", "max", "mean", "std"])]
        ).collect()
    }
    assert plain.keys() == salted.keys()
    for k in plain:
        for f in ("v_sum", "v_length", "v_min", "v_max", "v_mean"):
            p, s = plain[k][f], salted[k][f]
            assert (p is None and s is None) or math.isclose(p, s, rel_tol=1e-9), (k, f)
        p, s = plain[k].v_std, salted[k].v_std
        assert (p is None and s is None) or math.isclose(p, s, rel_tol=1e-6)


def test_salt_is_deterministic_under_repartitioning(spark):
    """The salt feeds shuffle keys, so a task retry that recomputes its
    input must reproduce the same salt per row — i.e. the salt may depend
    only on row VALUES, never on partition layout or intra-partition order
    (rand() and monotonically_increasing_id() both violate this)."""
    df = spark.range(0, 2000).select(
        F.col("id").alias("rid"),
        (F.col("id") % 7).cast("string").alias("k"),
        (F.col("id") % 13).cast("double").alias("v"),
    )
    a = df.withColumn("__salt", dskew._salt(df, 16)).select("rid", "__salt")
    shuffled = df.repartition(11, "v")
    b = shuffled.withColumn("__salt", dskew._salt(shuffled, 16)).select(
        "rid", F.col("__salt").alias("__salt2")
    )
    mismatches = a.join(b, "rid").filter(F.col("__salt") != F.col("__salt2")).count()
    assert mismatches == 0


def test_salt_spreads_exact_duplicate_rows_via_id_col(spark):
    """Adversarial duplication: one exact row repeated 90%+ of the corpus.
    The deterministic content-hash salt lands all copies in ONE shard (the
    documented residual mode); passing ``id_col`` naming a per-row-unique
    column spreads them near-uniformly while staying retry-safe."""
    buckets = 16
    hot = spark.range(0, 9000).select(
        F.col("id").alias("rid"), F.lit("hot").alias("k"), F.lit(1.0).alias("v")
    )
    tail = spark.range(9000, 9500).select(
        F.col("id").alias("rid"),
        F.lit("a").alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    df = hot.unionAll(tail)

    # without id_col: values-only hash -> all 9000 identical (k, v) pairs
    # share one salt (rid excluded to simulate a dataset lacking unique ids)
    dup_only = df.select("k", "v")
    concentrated = (
        dup_only.withColumn("__salt", dskew._salt(dup_only, buckets))
        .filter(F.col("k") == "hot")
        .select("__salt")
        .distinct()
        .count()
    )
    assert concentrated == 1

    # with id_col: every shard gets a near-even slice
    dist = (
        df.withColumn("__salt", dskew._salt(df, buckets, id_col="rid"))
        .filter(F.col("k") == "hot")
        .groupBy("__salt")
        .count()
        .collect()
    )
    counts = {r["__salt"]: r["count"] for r in dist}
    assert len(counts) == buckets
    ideal = 9000 / buckets
    assert max(counts.values()) < 3 * ideal, counts


def test_salted_aggregate_rejects_nonmergeable(spark, hot_key_df):
    with pytest.raises(ValueError):
        dskew.aggregate_by_skew_safe(hot_key_df, "k", [("v", ["median"])])


def test_replicate_join_matches_plain(spark, hot_key_df):
    dim = spark.createDataFrame(
        [("hot", "H"), ("a", "A"), ("b", "B"), ("unused", "U")], ["k", "label"]
    )
    plain = hot_key_df.join(dim, "k").groupBy("label").count()
    salted = dskew.replicate_join(hot_key_df, dim, "k").groupBy("label").count()
    assert {(r.label, r["count"]) for r in plain.collect()} == {
        (r.label, r["count"]) for r in salted.collect()
    }


def test_bucketed_join_has_no_exchange(spark):
    a = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("x")
    )
    b = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("y")
    )
    dbuck.write_bucketed(a, "bt_a", "k", num_buckets=8, sort_by="k")
    dbuck.write_bucketed(b, "bt_b", "k", num_buckets=8, sort_by="k")
    try:
        joined = spark.table("bt_a").join(
            spark.table("bt_b"), "k"
        )
        # force the shuffle-join path so the assert is about bucketing,
        # not about broadcast hiding the exchange
        with_conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            plan = joined._jdf.queryExecution().explainString(mode)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            assert joined.count() == 10000
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", with_conf)
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_bucketed_aggregation_skips_shuffle(spark):
    df = spark.range(0, 5000).select(
        (F.col("id") % 100).alias("k"), F.col("id").cast("double").alias("v")
    )
    dbuck.write_bucketed(df, "bt_g", "k", num_buckets=8)
    try:
        agg = spark.table("bt_g").groupBy("k").agg(F.sum("v").alias("s"))
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = agg._jdf.queryExecution().explainString(mode)
        assert "Exchange" not in plan, plan
        assert agg.count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_g")


def test_salted_std_constant_column_no_nan(spark):
    """The raw-moment formula could return NaN (sqrt of a negative
    cancellation residue) and drifted visibly from stddev_pop on
    constant columns; the var_pop-merge form must stay finite and ~0."""
    import math

    from dataframes_spark.operators.skew import aggregate_by_skew_safe

    df = spark.createDataFrame([(1, 0.1)] * 7 + [(2, 3.5)], ["k", "v"])
    got = {
        r.k: r.v_std
        for r in aggregate_by_skew_safe(
            df, "k", [("v", ["std"])], salt_buckets=4
        ).collect()
    }
    assert not math.isnan(got[1]) and abs(got[1]) < 1e-6  # constant column
    assert got[2] is None  # single sample: gated like the plain path


def test_replicate_join_rejects_dim_duplicating_joins(spark):
    import pytest

    from dataframes_spark.operators.skew import replicate_join

    fact = spark.createDataFrame([(1, "a")], ["k", "x"])
    dim = spark.createDataFrame([(1, "y"), (2, "z")], ["k", "d"])
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError):
            replicate_join(fact, dim, "k", salt_buckets=4, how=how)
    # fact-preserving joins still work and never duplicate
    out = replicate_join(fact, dim, "k", salt_buckets=4, how="left")
    assert out.count() == 1


def test_salted_agg_matches_plain_agg_property(spark):
    """Hypothesis-driven: for random groups/values (including nulls and
    hot keys), the salted two-stage aggregation must be invisible —
    same results as a direct groupBy to float tolerance, exactly for
    count-like aggregates."""
    import math

    from hypothesis import given, settings, strategies as st

    from dataframes_spark.operators.skew import aggregate_by_skew_safe

    values = st.lists(
        st.tuples(
            st.integers(0, 2),  # 3 keys -> hot by construction
            st.one_of(st.none(), st.floats(-1e6, 1e6, allow_nan=False)),
        ),
        min_size=1,
        max_size=40,
    )

    @settings(max_examples=15, deadline=None)
    @given(rows=values)
    def check(rows):
        df = spark.createDataFrame(
            [(k, float(v) if v is not None else None) for k, v in rows],
            "k int, v double",
        )
        salted = {
            r.k: r
            for r in aggregate_by_skew_safe(
                df, "k", [("v", ["sum", "mean", "length", "min", "max", "std"])],
                salt_buckets=4,
            ).collect()
        }
        import pyspark.sql.functions as F

        plain = {
            r.k: r
            for r in df.groupBy("k")
            .agg(
                F.coalesce(F.sum("v"), F.lit(0.0)).alias("sum"),
                F.avg("v").alias("mean"),
                F.count(F.lit(1)).cast("double").alias("length"),
                F.min("v").alias("min"),
                F.max("v").alias("max"),
                F.when(F.count("v") >= 2, F.stddev_pop("v")).alias("std"),
            )
            .collect()
        }
        assert set(salted) == set(plain)
        for k in plain:
            s, p = salted[k], plain[k]
            assert s.v_length == p.length
            assert s.v_min == p.min and s.v_max == p.max
            for a, b in ((s.v_sum, p.sum), (s.v_mean, p.mean)):
                if b is None:
                    assert a is None
                else:
                    assert math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
            if p.std is None:
                assert s.v_std is None
            else:
                assert math.isclose(s.v_std, p.std, rel_tol=1e-7, abs_tol=1e-6)

    check()
