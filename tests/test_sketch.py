"""Count-min sketch properties (operators/sketch.py)."""

import pytest
from pyspark.sql import functions as F

from dataframes_spark.operators.sketch import (
    cms_build,
    cms_estimate,
    cms_merge,
    cms_store_update,
    heavy_hitters,
)


@pytest.fixture(scope="module")
def stream(spark):
    # zipf-ish: key k appears 200//k times, k = 1..40 -> 200, 100, 66...
    rows = [(f"k{k}",) for k in range(1, 41) for _ in range(200 // k)]
    return spark.createDataFrame(rows, "v string")


def _true_counts(df):
    return {
        r.v: r.n for r in df.groupBy("v").agg(F.count("*").alias("n")).collect()
    }


def test_estimate_never_undercounts_and_exact_when_wide(spark, stream):
    true = _true_counts(stream)
    items = stream.select("v").distinct()
    # narrow sketch: collisions guaranteed (40 keys x 8 buckets)
    sk = cms_build(stream, "v", depth=3, width=8)
    est = {r.v: r.est for r in cms_estimate(sk, items, "v", depth=3, width=8).collect()}
    assert set(est) == set(true)
    assert all(est[k] >= true[k] for k in true)
    # wide sketch: no collisions -> exact
    skw = cms_build(stream, "v", depth=4, width=4096)
    estw = {
        r.v: r.est
        for r in cms_estimate(skw, items, "v", depth=4, width=4096).collect()
    }
    assert estw == true


def test_merge_equals_whole(spark, stream):
    a = stream.filter(F.length("v") == 2)  # k1..k9
    b = stream.filter(F.length("v") == 3)  # k10..k40
    merged = cms_merge(
        cms_build(a, "v", depth=3, width=32), cms_build(b, "v", depth=3, width=32)
    )
    whole = cms_build(stream, "v", depth=3, width=32)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_heavy_hitters_no_misses(spark, stream):
    true = _true_counts(stream)
    hh = {r.v for r in heavy_hitters(stream, "v", 50, depth=3, width=64).collect()}
    assert {k for k, n in true.items() if n >= 50} <= hh


def test_weighted_and_null_stream(spark):
    df = spark.createDataFrame(
        [("a", 5), ("a", 3), ("b", 2), (None, 99)], "v string, w long"
    )
    sk = cms_build(df, "v", depth=2, width=128, weight_col="w")
    est = {
        r.v: r.est
        for r in cms_estimate(
            sk, df.select("v").distinct().dropna(), "v", depth=2, width=128
        ).collect()
    }
    assert est == {"a": 8, "b": 2}


def test_md5_lane_matches_independent_arithmetic(spark):
    import hashlib

    df = spark.createDataFrame([("x",), ("x",), ("y",)], "v string")
    sk = cms_build(df, "v", depth=2, width=16, lane_hash="md5")
    cells = {(r.d, r.bucket): r.cnt for r in sk.collect()}
    for val, n in (("x", 2), ("y", 1)):
        for d in range(2):
            b = int(hashlib.md5(f"{d}:{val}".encode()).hexdigest()[:15], 16) % 16
            assert cells[(d, b)] >= n


def test_sketch_plan_shape(spark, stream):
    """Build keeps map-side partial aggregation; estimate broadcasts the
    sketch side and never shuffles the probe frame."""
    sk = cms_build(stream, "v", depth=3, width=32)
    bp = sk._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in bp or "HashAggregate" in bp
    est = cms_estimate(sk, stream.select("v").distinct(), "v", depth=3, width=32)
    ep = est._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in ep
    assert "SortMergeJoin" not in ep


def test_incremental_store_equals_whole(spark, stream):
    a = stream.filter(F.length("v") == 2)
    b = stream.filter(F.length("v") == 3)
    table = "cms_store_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert cms_store_update(
        spark, table, cms_build(a, "v", depth=3, width=32)
    ) is None
    cms_store_update(spark, table, cms_build(b, "v", depth=3, width=32))
    store = spark.table(table)
    whole = cms_build(stream, "v", depth=3, width=32)
    assert store.exceptAll(whole).count() == 0
    assert whole.exceptAll(store).count() == 0
    # estimates probe the store exactly like a fresh sketch
    true = _true_counts(stream)
    est = {
        r.v: r.est
        for r in cms_estimate(
            store, stream.select("v").distinct(), "v", depth=3, width=32
        ).collect()
    }
    assert all(est[k] >= true[k] for k in true)
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_validation(spark, stream):
    with pytest.raises(ValueError, match="depth"):
        cms_build(stream, "v", depth=0)
    with pytest.raises(ValueError, match="lane_hash"):
        cms_build(stream, "v", lane_hash="sha1")
    with pytest.raises(ValueError, match="at least one"):
        cms_merge()


# --------------------------------------------------------------------------
# HyperLogLog
# --------------------------------------------------------------------------

from dataframes_spark.operators.sketch import (  # noqa: E402
    approx_distinct,
    hll_build,
    hll_estimate,
    hll_merge,
    hll_store_update,
)


@pytest.fixture(scope="module")
def ids(spark):
    # 5000 distinct string ids across 2 groups (g0: 2000, g1: 3000)
    rows = [(f"g{0 if i < 2000 else 1}", f"id{i}") for i in range(5000)]
    # duplicates must not move the estimate (distinct-count semantics)
    rows += [(f"g{0 if i < 2000 else 1}", f"id{i}") for i in range(0, 5000, 7)]
    return spark.createDataFrame(rows, "g string, v string")


def test_hll_accuracy_both_regimes(spark, ids):
    # raw-harmonic regime: ndv >> 2.5m for p=8 (m=256)
    est = {
        r.g: r.est_ndv
        for r in approx_distinct(ids, "v", key_cols=("g",), p=8).collect()
    }
    assert abs(est["g0"] - 2000) / 2000 < 0.20  # ~3 sigma at 6.5% rse
    assert abs(est["g1"] - 3000) / 3000 < 0.20
    # linear-counting regime: ndv << 2.5m for p=12 (m=4096)
    est12 = {
        r.g: r.est_ndv
        for r in approx_distinct(ids, "v", key_cols=("g",), p=12).collect()
    }
    assert abs(est12["g0"] - 2000) / 2000 < 0.10
    assert abs(est12["g1"] - 3000) / 3000 < 0.10


def test_hll_merge_equals_whole_and_is_idempotent(spark, ids):
    a = ids.filter(F.col("v") < "id3")
    b = ids.filter(F.col("v") >= "id3")
    merged = hll_merge(
        hll_build(a, "v", ("g",), p=10),
        hll_build(b, "v", ("g",), p=10),
        key_cols=("g",),
    )
    whole = hll_build(ids, "v", ("g",), p=10)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0
    # max-merge is idempotent: folding the SAME batch twice changes nothing
    again = hll_merge(merged, hll_build(a, "v", ("g",), p=10), key_cols=("g",))
    assert again.exceptAll(whole).count() == 0
    assert whole.exceptAll(again).count() == 0


def test_hll_md5_lane_matches_independent_arithmetic(spark):
    import hashlib

    df = spark.createDataFrame([("x",), ("x",), ("y",), (None,)], "v string")
    regs = {
        r.r: r.maxrho
        for r in hll_build(df, "v", p=8, lane_hash="md5").collect()
    }
    expect = {}
    for val in ("x", "y"):
        h = int(hashlib.md5(f"hll:{val}".encode()).hexdigest()[:15], 16)
        idx, v = h >> 52, h & ((1 << 52) - 1)
        rho = 52 - v.bit_length() + 1
        expect[idx] = max(expect.get(idx, 0), rho)
    assert regs == expect


def test_hll_estimate_deterministic_under_repartition(spark, ids):
    """The exact-BIGINT harmonic denominator makes the estimate
    independent of partitioning/summation order — bit-for-bit."""
    e1 = {
        r.g: r.est_ndv
        for r in approx_distinct(ids, "v", ("g",), p=9).collect()
    }
    e2 = {
        r.g: r.est_ndv
        for r in approx_distinct(ids.repartition(13), "v", ("g",), p=9).collect()
    }
    assert e1 == e2


def test_hll_store_incremental_equals_whole(spark, ids):
    table = "hll_store_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    a = ids.filter(F.col("v") < "id3")
    b = ids.filter(F.col("v") >= "id3")
    hll_store_update(spark, table, hll_build(a, "v", ("g",), p=10), key_cols=("g",))
    hll_store_update(spark, table, hll_build(b, "v", ("g",), p=10), key_cols=("g",))
    store = spark.table(table)
    whole = hll_build(ids, "v", ("g",), p=10)
    assert store.exceptAll(whole).count() == 0
    assert whole.exceptAll(store).count() == 0
    # estimates off the store match estimates off a fresh one-shot build
    se = {r.g: r.est_ndv for r in hll_estimate(store, ("g",), p=10).collect()}
    we = {r.g: r.est_ndv for r in hll_estimate(whole, ("g",), p=10).collect()}
    assert se == we
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_hll_plan_shape(spark, ids):
    """Build is one partial-then-final hash aggregation (register-
    bounded shuffle); the whole build+estimate chain plans without a
    single-partition exchange."""
    regs = hll_build(ids, "v", ("g",), p=10)
    bp = regs._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in bp
    est = hll_estimate(regs, ("g",), p=10)
    ep = est._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in ep


def test_hll_validation(spark, ids):
    with pytest.raises(ValueError, match="4 <= p"):
        hll_build(ids, "v", p=3)
    with pytest.raises(ValueError, match="4 <= p"):
        hll_estimate(hll_build(ids, "v", p=8), p=17)
    with pytest.raises(ValueError, match="lane_hash"):
        hll_build(ids, "v", lane_hash="sha1")
    with pytest.raises(ValueError, match="at least one"):
        hll_merge()


def test_hll_pairwise_overlap_tracks_truth(spark):
    from dataframes_spark.operators.sketch import hll_pairwise_overlap

    # a: 0..2000, b: 1000..3000, c: 2800..3200
    # truth: a∩b=1000, a∩c=0, b∩c=200
    spans = {"a": (0, 2000), "b": (1000, 3000), "c": (2800, 3200)}
    rows = [(g, f"u{i}") for g, (lo, hi) in spans.items() for i in range(lo, hi)]
    df = spark.createDataFrame(rows, "g string, v string")
    regs = hll_build(df, "v", key_cols=("g",), p=12)
    out = {
        (r.ga, r.gb): r
        for r in hll_pairwise_overlap(regs, "g", p=12).collect()
    }
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab, ac, bc = out[("a", "b")], out[("a", "c")], out[("b", "c")]
    # overlap error compounds three ±1.6%-rse estimates; 15% is ~3σ
    assert abs(ab.overlap - 1000) / 1000 < 0.15
    assert ac.overlap < 100  # disjoint pair stays near zero
    assert abs(bc.overlap - 200) / 200 < 0.5
    # union estimates are consistent: never below either side's estimate
    for r in out.values():
        assert r.ndv_union >= max(r.ndv_a, r.ndv_b) - 1e-9
        assert 0.0 <= r.jaccard <= 1.0
    # the report composes with the store: fold two halves, same report
    half1 = hll_build(df.filter(F.col("v") < "u2"), "v", key_cols=("g",), p=12)
    half2 = hll_build(df.filter(F.col("v") >= "u2"), "v", key_cols=("g",), p=12)
    merged = hll_merge(half1, half2, key_cols=("g",))
    out2 = {
        (r.ga, r.gb): r.overlap
        for r in hll_pairwise_overlap(merged, "g", p=12).collect()
    }
    assert all(abs(out2[k] - out[k].overlap) < 1e-9 for k in out)


# --------------------------------------------------------------------------
# Bottom-k sample sketch
# --------------------------------------------------------------------------

from dataframes_spark.operators.sketch import (  # noqa: E402
    bottomk_build,
    bottomk_merge,
    bottomk_quantiles,
    bottomk_store_update,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, f"g{i % 3}", float(i * 10)) for i in range(300)]
    return spark.createDataFrame(rows, "id long, g string, v double")


def _rows(df):
    # NOTE: sorted-collect compare, NOT exceptAll — Spark 4.1's
    # ReplicateRows planning hits an ATTRIBUTE_NOT_FOUND internal error
    # on exceptAll over these window+dropDuplicates lineages.
    return sorted(tuple(r) for r in df.collect())


def test_bottomk_membership_matches_independent_permutation(spark, corpus):
    import hashlib

    got = bottomk_build(
        corpus, "id", 4, key_cols=("g",), payload_cols=("v",), salt="s"
    ).collect()
    perm = {}
    for i in range(300):
        perm.setdefault(f"g{i % 3}", []).append(
            (hashlib.md5(f"{i}/s".encode()).hexdigest(), i)
        )
    for g, pairs in perm.items():
        pairs.sort()
        expect_ids = [i for _, i in pairs[:4]]
        got_ids = [r.id for r in sorted(got, key=lambda r: r.rnk) if r.g == g]
        assert got_ids == expect_ids
    assert all(r.v == r.id * 10.0 for r in got)  # payload rides along


def test_bottomk_merge_equals_whole_and_refold_idempotent(spark, corpus):
    a = corpus.filter(F.col("id") % 2 == 0)
    b = corpus.filter(F.col("id") % 2 == 1)
    ka = bottomk_build(a, "id", 5, ("g",), ("v",), "s")
    kb = bottomk_build(b, "id", 5, ("g",), ("v",), "s")
    merged = bottomk_merge(ka, kb, id_col="id", k=5, key_cols=("g",))
    whole = bottomk_build(corpus, "id", 5, ("g",), ("v",), "s")
    assert _rows(merged) == _rows(whole)
    refold = bottomk_merge(merged, ka, id_col="id", k=5, key_cols=("g",))
    assert _rows(refold) == _rows(whole)


def test_bottomk_global_lane_is_topk_heap(spark, corpus):
    out = bottomk_build(corpus, "id", 7, payload_cols=("v",), salt="s")
    rows = out.collect()
    assert [r.rnk for r in sorted(rows, key=lambda r: r.rnk)] == list(range(1, 8))
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in p


def test_bottomk_grouped_plan_has_windowgrouplimit(spark, corpus):
    out = bottomk_build(corpus, "id", 4, key_cols=("g",), salt="s")
    p = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in p  # map-side cut before the exchange


def test_bottomk_store_incremental_and_quantiles(spark, corpus):
    table = "bk_store_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    a = corpus.filter(F.col("id") < 100)
    b = corpus.filter(F.col("id") >= 100)
    for part in (a, b):
        bottomk_store_update(
            spark, table, bottomk_build(part, "id", 20, ("g",), ("v",), "s"),
            id_col="id", k=20, key_cols=("g",),
        )
    store = spark.table(table)
    whole = bottomk_build(corpus, "id", 20, ("g",), ("v",), "s")
    assert _rows(store) == _rows(whole)
    # sample quantiles approximate the stream's (v uniform on 0..2990)
    q = {
        r.g: r.q0_5
        for r in bottomk_quantiles(store, "v", (0.5,), ("g",)).collect()
    }
    for g in ("g0", "g1", "g2"):
        assert 500.0 < q[g] < 2500.0  # crude but partitioning-independent
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bottomk_validation(spark, corpus):
    with pytest.raises(ValueError, match="k >= 1"):
        bottomk_build(corpus, "id", 0)
    with pytest.raises(ValueError, match="at least one"):
        bottomk_merge(id_col="id", k=3)
    with pytest.raises(ValueError, match="fractions"):
        bottomk_quantiles(corpus, "v", (1.5,))


# --------------------------------------------------------------------------
# Weighted sample store (operators/sample.py — same merge-law family)
# --------------------------------------------------------------------------


def test_weighted_merge_equals_whole_and_store(spark):
    from dataframes_spark.operators.sample import (
        weighted_sample_merge,
        weighted_sample_topk,
        weighted_store_update,
    )

    rows = [(i, f"s{i % 2}", float(1 + i % 7)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, s string, w double")
    a = df.filter(F.col("id") < 80)
    b = df.filter(F.col("id") >= 80)
    ka = weighted_sample_topk(a, "w", "id", k=5, stratum_col="s", salt="t")
    kb = weighted_sample_topk(b, "w", "id", k=5, stratum_col="s", salt="t")
    whole = weighted_sample_topk(df, "w", "id", k=5, stratum_col="s", salt="t")
    merged = weighted_sample_merge(ka, kb, key_col="id", k=5, stratum_col="s")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )
    # refold idempotence
    refold = weighted_sample_merge(merged, ka, key_col="id", k=5, stratum_col="s")
    assert sorted(map(tuple, refold.collect())) == sorted(
        map(tuple, whole.collect())
    )
    # the persisted store follows the same law
    table = "ws_store_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    weighted_store_update(spark, table, ka, key_col="id", k=5, stratum_col="s")
    weighted_store_update(spark, table, kb, key_col="id", k=5, stratum_col="s")
    store = spark.table(table)
    assert sorted(map(tuple, store.collect())) == sorted(
        map(tuple, whole.collect())
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    with pytest.raises(ValueError, match="at least one"):
        weighted_sample_merge(key_col="id", k=5)


def test_weighted_merge_reweighted_key_keeps_max_es_deterministically(spark):
    """If a key reappears across epochs with a CHANGED weight (hence a
    different es_key), the merge must keep the max-es_key row — not an
    arbitrary partitioning-dependent survivor (r8 ADVICE:
    dropDuplicates in weighted_sample_merge)."""
    from dataframes_spark.operators.sample import weighted_sample_merge

    schema = "id long, w double, es_key double"
    epoch1 = spark.createDataFrame(
        [(1, 1.0, 0.20), (2, 1.0, 0.90), (3, 1.0, 0.50)], schema
    )
    epoch2 = spark.createDataFrame(
        [(1, 9.0, 0.95), (4, 1.0, 0.10)], schema  # id 1 reweighted UP
    )
    for a, b in [(epoch1, epoch2), (epoch2, epoch1)]:  # order-independent
        got = {
            r.id: (r.w, r.es_key)
            for r in weighted_sample_merge(a, b, key_col="id", k=3).collect()
        }
        assert got[1] == (9.0, 0.95)  # max-es_key row survives
        assert set(got) == {1, 2, 3}  # top-3 by es_key after dedup
