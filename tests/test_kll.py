"""KLL-style mergeable rank-quantile sketch (operators/kll.py): weight
conservation, capacity, determinism, no-op over-provisioning, rank-error
bound, merge law, persisted store."""

import pytest
from pyspark.sql import functions as F

from dataframes_spark.io.store import drop_table_and_location
from dataframes_spark.operators import kll

CFG = dict(k=64, shards=4, passes=10, merge_passes=10)


def _perm(spark, n, offset=0):
    # a fixed pseudo-random permutation of 0..n-1 so ranks are known
    return spark.range(n).select(
        ((F.col("id") * 7919 + offset) % n).cast("double").alias("v"),
        (F.col("id") + offset * 1_000_000).alias("k"),
    )


def _rows(sk):
    return sorted((r.level, r.value, r.tb) for r in sk.collect())


def test_weight_conservation_and_capacity(spark):
    n = 8000
    sk = kll.kll_build(_perm(spark, n), "v", "k", **CFG)
    rows = sk.collect()
    assert kll.kll_n(sk).first()["n"] == n
    from collections import Counter

    per_level = Counter(r.level for r in rows)
    assert all(c <= CFG["k"] for c in per_level.values()), per_level
    # sketch is O(k log(n/k)) rows, a small fraction of the input
    assert len(rows) < n / 10


def test_nulls_have_no_rank(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 3.0)], "k long, v double"
    )
    sk = kll.kll_build(df, "v", "k", k=8, shards=2, passes=3)
    assert kll.kll_n(sk).first()["n"] == 2


def test_deterministic_across_partitionings_and_extra_passes(spark):
    df = _perm(spark, 3000)
    a = _rows(kll.kll_build(df, "v", "k", **CFG))
    b = _rows(kll.kll_build(df.repartition(7), "v", "k", **CFG))
    assert a == b
    # over-provisioned passes are exact no-ops once every level fits
    c = _rows(
        kll.kll_build(
            df, "v", "k", k=64, shards=4, passes=13, merge_passes=10
        )
    )
    # NOTE: extra BUILD passes shift the merge-phase pass indices (the
    # coin stream), so compare against extra MERGE passes instead, which
    # append pure no-ops at the tail
    d = _rows(
        kll.kll_build(
            df, "v", "k", k=64, shards=4, passes=10, merge_passes=13
        )
    )
    assert a == d
    assert len(c) == len(a)  # same size class either way


def test_rank_error_bound(spark):
    n = 20000
    sk = kll.kll_build(_perm(spark, n), "v", "k", k=128, shards=8, passes=10)
    qs = [0.05, 0.25, 0.5, 0.75, 0.95]
    got = {r.q: r.value for r in kll.kll_quantiles(sk, qs).collect()}
    for q in qs:
        # k=128 on 20k rows: observed error well under 5% of n
        assert abs(got[q] - q * n) < 0.05 * n, (q, got[q])
    # quantile estimates are monotone in q
    vals = [got[q] for q in qs]
    assert vals == sorted(vals)
    # rank query agrees with the cumulative-weight definition
    r = kll.kll_rank(sk, n / 2).first()["rank"]
    assert abs(r - n / 2) < 0.05 * n


def test_merge_law_weight_exact_and_error_bounded(spark):
    n = 6000
    a = kll.kll_build(_perm(spark, n), "v", "k", **CFG)
    b = kll.kll_build(
        _perm(spark, n, offset=1).select(
            (F.col("v") + n).alias("v"), "k"
        ),
        "v",
        "k",
        **CFG,
    )
    m = kll.kll_merge(a, b, k=CFG["k"])
    assert kll.kll_n(m).first()["n"] == 2 * n
    got = {r.q: r.value for r in kll.kll_quantiles(m, [0.25, 0.5, 0.75]).collect()}
    for q in (0.25, 0.5, 0.75):
        assert abs(got[q] - q * 2 * n) < 0.06 * 2 * n, (q, got[q])
    # merge is deterministic given its inputs
    assert _rows(kll.kll_merge(a, b, k=CFG["k"])) == _rows(m)


def test_store_folds_batches_with_constant_state(spark):
    import uuid

    from dataframes_spark.io.store import store_stamp

    t = f"kll_store_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, t)
    try:
        kll.kll_store_update(spark, t, _perm(spark, 4000), "v", "k", **CFG)
        assert store_stamp(spark, t) == {"k": CFG["k"]}
        assert kll.kll_n(spark.table(t)).first()["n"] == 4000
        kll.kll_store_update(
            spark,
            t,
            _perm(spark, 4000, offset=2).select(
                (F.col("v") + 4000).alias("v"), "k"
            ),
            "v",
            "k",
            **CFG,
        )
        store = spark.table(t)
        assert store.columns == ["level", "value", "tb"]
        assert kll.kll_n(store).first()["n"] == 8000
        # state stays sketch-sized however many batches fold in
        assert store.count() < 1200
        got = {
            r.q: r.value
            for r in kll.kll_quantiles(
                spark.table(t).select("level", "value", "tb"), [0.5]
            ).collect()
        }
        assert abs(got[0.5] - 4000) < 0.06 * 8000
        # the capacity stamp refuses mismatched folds
        with pytest.raises(ValueError, match="refusing to fold"):
            kll.kll_store_update(
                spark, t, _perm(spark, 100), "v", "k",
                k=32, shards=4, passes=8,
            )
    finally:
        drop_table_and_location(spark, t)


def test_validation(spark):
    df = _perm(spark, 10)
    with pytest.raises(ValueError, match="k must be"):
        kll.kll_build(df, "v", "k", k=1)
    with pytest.raises(ValueError, match="qs"):
        kll.kll_quantiles(kll.kll_build(df, "v", "k", k=4, shards=2, passes=2), [])


def test_keyed_build_equals_per_key_builds_and_quantiles(spark):
    """key_cols sketches are EXACTLY the per-key independent builds
    (sharding, coins and pairing never cross keys), and keyed quantiles
    stay within the rank-error band per group."""
    from pyspark.sql import functions as F

    n = 3000
    df = spark.range(n).select(
        ((F.col("id") * 7919 + 13) % n).cast("double").alias("v"),
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
    )
    keyed = kll.kll_build(df, "v", "k", key_cols=["g"], **CFG)
    for g in ("0", "1", "2"):
        solo = kll.kll_build(df.filter(F.col("g") == g), "v", "k", **CFG)
        a = _rows(keyed.filter(F.col("g") == g).drop("g"))
        b = _rows(solo)
        assert a == b, g
    # per-group n is exact
    ns = {r.g: r.n for r in kll.kll_n(keyed, ["g"]).collect()}
    assert ns == {"0": 1000, "1": 1000, "2": 1000}
    qs = kll.kll_quantiles(keyed, [0.25, 0.75], key_cols=["g"])
    got = {(r.g, r.q): r.value for r in qs.collect()}
    assert len(got) == 6
    for g in ("0", "1", "2"):
        vals = sorted(
            r.v for r in df.filter(F.col("g") == g).collect()
        )
        for q in (0.25, 0.75):
            est = got[(g, q)]
            rank = sum(1 for v in vals if v <= est) / len(vals)
            assert abs(rank - q) < 0.08, (g, q, est, rank)


def test_auto_passes_identical_to_fixed_schedule(spark):
    """auto_passes right-sizes the EXECUTED pass count but must yield
    the bit-identical sketch (skipped passes are exact no-ops; the
    boundary invariant is verified and topped up otherwise) — global,
    keyed, and merge lanes."""
    df = _perm(spark, 3000)
    fixed = _rows(kll.kll_build(df, "v", "k", auto_passes=False, **CFG))
    auto = _rows(kll.kll_build(df, "v", "k", auto_passes=True, **CFG))
    assert auto == fixed

    keyed = df.withColumn("g", (F.col("k") % 3).cast("int"))
    kf = sorted(
        (r.g, r.level, r.value, r.tb)
        for r in kll.kll_build(
            keyed, "v", "k", key_cols=("g",), auto_passes=False, **CFG
        ).collect()
    )
    ka = sorted(
        (r.g, r.level, r.value, r.tb)
        for r in kll.kll_build(
            keyed, "v", "k", key_cols=("g",), auto_passes=True, **CFG
        ).collect()
    )
    assert ka == kf

    a = kll.kll_build(_perm(spark, 2000), "v", "k", **CFG)
    b = kll.kll_build(_perm(spark, 2000, offset=1), "v", "k", **CFG)
    mf = _rows(kll.kll_merge(a, b, k=64, auto_passes=False))
    ma = _rows(kll.kll_merge(a, b, k=64, auto_passes=True))
    assert ma == mf


def test_auto_passes_tiny_input_zero_build_passes(spark):
    """When every shard fits in k the build phase is skipped entirely
    — and the result still equals the full fixed schedule."""
    df = _perm(spark, 50)
    fixed = _rows(kll.kll_build(df, "v", "k", auto_passes=False, **CFG))
    auto = _rows(kll.kll_build(df, "v", "k", auto_passes=True, **CFG))
    assert auto == fixed
    assert kll.kll_n(kll.kll_build(df, "v", "k", **CFG)).first()["n"] == 50


@pytest.mark.parametrize(
    "n,k,shards,passes",
    [(8000, 64, 4, 10), (513, 8, 1, 12), (7, 8, 2, 5), (100, 3, 3, 8)],
)
def test_build_cascade_equals_pass_loop(spark, n, k, shards, passes):
    # the closed-form one-window build (_build_cascade) must reproduce
    # the explicit pass-by-pass loop coin for coin — levels, values,
    # tiebreaks, leftovers, odd/even partition sizes, n <= k no-ops
    items = (
        _perm(spark, n)
        .select(
            (
                kll._md5_long(
                    F.concat(F.col("k").cast("string"), F.lit("/kll-s"))
                )
                % shards
            ).cast("int").alias("__shard"),
            F.lit(0).alias("level"),
            F.col("v").cast("double").alias("value"),
            F.md5(
                F.concat(F.col("k").cast("string"), F.lit("/kll-t"))
            ).alias("tb"),
        )
    )
    part = ["__shard", "level"]
    loop = items
    for p in range(1, passes + 1):
        loop = kll._compact_pass(loop, part, p, k, "")
    cascade = kll._build_cascade(items, part, passes, k, "")
    got = sorted(
        (r["__shard"], r["level"], r["value"], r["tb"])
        for r in cascade.collect()
    )
    want = sorted(
        (r["__shard"], r["level"], r["value"], r["tb"])
        for r in loop.collect()
    )
    assert got == want


def _compact_pass_columns(items, part_cols, pass_idx, k, seed):
    # the Column-op form of kll._compact_pass, which emits generated SQL
    from pyspark.sql import Window as W

    wrn = W.partitionBy(*part_cols).orderBy("value", "tb")
    wn = wrn.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    x = items.withColumn("__rn", F.row_number().over(wrn)).withColumn(
        "__n", F.count(F.lit(1)).over(wn)
    )
    coin = F.concat(F.lit(f"kll:{seed}:{pass_idx}:"), F.col("level").cast("string"))
    off = (kll._md5_long(coin) % 2).cast("int")
    overfull = F.col("__n") > k
    paired = F.col("__rn") <= F.col("__n") - (F.col("__n") % 2)
    keep = (~overfull) | (~paired) | ((F.col("__rn") % 2) == off)
    return (
        x.where(keep)
        .select(
            F.when(overfull & paired, F.col("level") + 1)
            .otherwise(F.col("level"))
            .alias("level"),
            "value",
            "tb",
            *[c for c in part_cols if c != "level"],
        )
        .select(*items.columns)
    )


def test_generated_sql_quotes_seed_and_key_names(spark):
    """A seed holding a quote and a backslash reaches the generated SQL
    unchanged, and a key column whose name needs quoting works: the SQL
    passes equal the Column-op form and the driver-side cascade coins."""
    seed = "it's a\\b"
    lit = spark.range(1).selectExpr(f"{kll._sql_str(seed)} AS s").first().s
    assert lit == seed
    items = spark.range(96).select(
        (F.col("id") % 3).cast("string").alias("my key"),
        F.lit(0).alias("level"),
        ((F.col("id") * 37) % 96).cast("double").alias("value"),
        F.md5(F.col("id").cast("string")).alias("tb"),
    )
    part = ["my key", "level"]
    cols = ["my key", "level", "value", "tb"]

    def rows(df):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    sql = col = items
    for p in range(1, 4):
        sql = kll._compact_pass(sql, part, p, 3, seed)
        col = _compact_pass_columns(col, part, p, 3, seed)
    want = rows(col)
    assert rows(sql) == want
    assert rows(kll._build_cascade(items, part, 3, 3, seed)) == want
