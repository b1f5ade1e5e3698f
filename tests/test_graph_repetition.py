"""Connected components / dedup representatives, repetition signals, and
the md5 stratified mixture."""

import pytest
from pyspark.sql import functions as F

from dataframes_spark.functions.text import repetition_profile
from dataframes_spark.operators.graph import connected_components, dedup_representatives
from dataframes_spark.operators.sample import stratified_sample_md5


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    out = connected_components(df)
    return {r["id"]: r["component"] for r in out.collect()}


def test_cc_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_chain_converges_past_pointer_depth(spark):
    # a 12-node path graph: worst case for min-label propagation; pointer
    # jumping must still converge well inside max_iter
    edges = [(i, i + 1) for i in range(12)]
    got = _cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_cc_cycle_and_self_loop(spark):
    got = _cc(spark, [(5, 6), (6, 7), (7, 5), (9, 9)])
    assert got[5] == got[6] == got[7] == 5
    assert got[9] == 9


def test_dedup_representatives_keeps_min_and_singletons(spark):
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 4)], "id_a long, id_b long")
    kept = sorted(
        r["doc_id"]
        for r in dedup_representatives(df, pairs, "doc_id").collect()
    )
    # cluster {1,2,4} -> keep 1; 0, 3, 5 untouched
    assert kept == [0, 1, 3, 5]


def test_cc_max_iter_raises(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=0, small_graph_cap=0)


def test_repetition_profile_values(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a b"),          # dup words, dup bigram 'a a'
            (2, "w x y z"),           # no repetition
            (3, "solo"),              # single token: bigram frac 0
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_profile(df, "text", "doc_id").collect()}
    assert rows[1]["n_words"] == 4
    assert rows[1]["dup_word_frac"] == pytest.approx(0.5)
    # bigrams: [a a, a a, a b] -> distinct 2 of 3
    assert rows[1]["dup_bigram_frac"] == pytest.approx(1 - 2 / 3, abs=1e-6)
    assert rows[1]["top_word_frac"] == pytest.approx(0.75)
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["dup_bigram_frac"] == 0.0
    assert rows[2]["top_word_frac"] == pytest.approx(0.25)
    assert rows[3]["dup_bigram_frac"] == 0.0
    assert rows[3]["top_word_frac"] == pytest.approx(1.0)


def test_stratified_md5_mixture_is_partition_invariant(spark):
    df = spark.createDataFrame(
        [(i, "s0" if i % 2 else "s1") for i in range(400)],
        "id long, src string",
    )
    thresholds = {"s0": "80", "s1": "20"}
    a = stratified_sample_md5(df, "src", thresholds, "id")
    b = stratified_sample_md5(df.repartition(13), "src", thresholds, "id")
    ids_a = sorted(r["id"] for r in a.collect())
    ids_b = sorted(r["id"] for r in b.collect())
    assert ids_a == ids_b
    # unlisted strata dropped; rates roughly follow the hex thresholds
    n0 = sum(1 for i in ids_a if i % 2)
    n1 = len(ids_a) - n0
    assert 0.5 * 200 * 0.4 < n0 < 1.5 * 200 * 0.6  # ~0x80/0x100 = 50%
    assert n1 < 0.35 * 200  # ~0x20/0x100 = 12.5%


# ---------------------------------------------------------------------------
# property: connected_components vs a pure-Python union-find model
# ---------------------------------------------------------------------------

def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=6, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_cc_matches_union_find(spark, edges):
    want = _uf_components(edges)
    got = _cc(spark, [(int(a), int(b)) for a, b in edges])
    assert got == want


# ---------------------------------------------------------------------------
# weighted sampling: bias, determinism, partition invariance
# ---------------------------------------------------------------------------

def test_weighted_sample_biases_toward_heavy_rows(spark):
    from dataframes_spark.operators.sample import weighted_sample_topk

    # 100 heavy (w=20) + 100 light (w=1): a 40-row sample should be
    # dominated by heavy rows (P[light beats heavy] ~ 1/21 per pair)
    df = spark.createDataFrame(
        [(i, 20.0 if i < 100 else 1.0) for i in range(200)], "id long, w double"
    )
    picked = [r["id"] for r in weighted_sample_topk(df, "w", "id", k=40).collect()]
    assert len(picked) == 40
    n_heavy = sum(1 for i in picked if i < 100)
    assert n_heavy >= 30, f"weighting ineffective: {n_heavy}/40 heavy"


def test_weighted_sample_is_partition_invariant_and_salted(spark):
    from dataframes_spark.operators.sample import weighted_sample_topk

    df = spark.createDataFrame([(i, float(i % 7 + 1)) for i in range(300)], "id long, w double")
    a = sorted(r["id"] for r in weighted_sample_topk(df, "w", "id", k=25).collect())
    b = sorted(
        r["id"]
        for r in weighted_sample_topk(df.repartition(17), "w", "id", k=25).collect()
    )
    assert a == b  # same selection under any partitioning
    c = sorted(
        r["id"] for r in weighted_sample_topk(df, "w", "id", k=25, salt="x").collect()
    )
    assert a != c  # salt draws a different deterministic sample


def test_upsert_replaces_inserts_and_passes_through(spark):
    from dataframes_spark.operators.merge import upsert

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, v string, n long"
    )
    updates = spark.createDataFrame(
        [(2, "B", None), (9, "new", 90)], "id long, v string, n long"
    )
    got = {r["id"]: (r["v"], r["n"]) for r in upsert(base, updates, "id").collect()}
    assert got == {
        1: ("a", 10),
        2: ("B", None),  # whole-row replacement: update's null wins
        3: ("c", 30),
        9: ("new", 90),
    }
    import pytest as _pt

    with _pt.raises(ValueError, match="schema mismatch"):
        upsert(base, updates.drop("n"), "id")


def test_fuzzy_join_blocking_is_lossless(spark):
    from pyspark.sql import functions as F

    from dataframes_spark.operators.fuzzy import fuzzy_join

    words = ["cat", "cart", "carts", "dog", "dogs", "doggy", "a", "ab",
             "abc", "abcd", "xyzzy", "xyzy", ""]
    df = spark.createDataFrame([(w,) for w in words], "s string")
    got = {
        (r["sa"], r["sb"], r["dist"])
        for r in fuzzy_join(
            df.select(F.col("s").alias("sa")),
            df.select(F.col("s").alias("sb")),
            "sa", "sb", max_dist=2,
        ).collect()
    }
    # naive reference: full cross product
    import itertools

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (x, y, lev(x, y))
        for x, y in itertools.product(words, words)
        if lev(x, y) <= 2
    }
    assert got == want


def test_fuzzy_join_plans_hash_join_not_cartesian(spark):
    from pyspark.sql import functions as F

    from dataframes_spark.operators.fuzzy import fuzzy_join

    df = spark.createDataFrame([("abc",), ("abd",)], "s string")
    out = fuzzy_join(
        df.select(F.col("s").alias("sa")),
        df.select(F.col("s").alias("sb")),
        "sa", "sb", max_dist=1,
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = out._jdf.queryExecution().explainString(mode)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_fuzzy_join_drops_null_strings(spark):
    from pyspark.sql import functions as F

    from dataframes_spark.operators.fuzzy import fuzzy_join

    a = spark.createDataFrame([("abc",), (None,)], "sa string")
    b = spark.createDataFrame([("abd",), (None,)], "sb string")
    rows = fuzzy_join(a, b, "sa", "sb", max_dist=1).collect()
    assert [(r["sa"], r["sb"], r["dist"]) for r in rows] == [("abc", "abd", 1)]


def test_weighted_sample_global_two_phase_same_result(spark):
    """The two-phase global top-k (per-input-partition prefilter, then
    rank the <= k*P survivors) must select exactly the rows a single
    global rank would, at any partitioning."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from dataframes_spark.operators.sample import weighted_sample_topk

    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 9 + 1).cast("double").alias("w")
    )
    got = sorted(
        r["id"] for r in weighted_sample_topk(df.repartition(13), "w", "id", k=25).collect()
    )
    # naive single-window reference on the same deterministic es scores
    scored = weighted_sample_topk(df, "w", "id", k=500)  # k >= N: keeps all
    ref = sorted(
        r["id"]
        for r in scored.withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy(F.lit(1)).orderBy(F.col("es_key").desc(), F.col("id").asc())
            ),
        )
        .filter(F.col("rnk") <= 25)
        .collect()
    )
    assert got == ref and len(got) == 25


def test_cap_per_group_deterministic_and_partition_invariant(spark):
    from pyspark.sql import functions as F
    from dataframes_spark.operators.sample import cap_per_group

    df = spark.range(1000).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("src")
    )
    a = sorted(r["id"] for r in cap_per_group(df, "src", 10, "id").collect())
    b = sorted(
        r["id"] for r in cap_per_group(df.repartition(17), "src", 10, "id").collect()
    )
    assert a == b and len(a) == 30
    # per-group sizes exactly k (every group has >= k rows here)
    sizes = (
        cap_per_group(df, "src", 10, "id").groupBy("src").count().collect()
    )
    assert all(r["count"] == 10 for r in sizes)
    # a different salt redraws the survivors
    c = sorted(r["id"] for r in cap_per_group(df, "src", 10, "id", salt="x").collect())
    assert c != a


def test_cap_per_group_small_groups_untouched(spark):
    from pyspark.sql import functions as F
    from dataframes_spark.operators.sample import cap_per_group

    df = spark.range(5).select(F.col("id"), F.lit("only").alias("src"))
    out = cap_per_group(df, "src", 10, "id")
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3, 4]


def test_dedup_representatives_by_keeps_best(spark):
    from dataframes_spark.operators import graph as G

    df = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 30.0), (4, 5.0), (9, 1.0)],
        "doc_id long, score double",
    )
    # cluster {1,2,3} (transitive via 2), {4} via no edges, 9 singleton
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    kept = G.dedup_representatives_by(df, pairs, "doc_id", "score", keep="max")
    # max score 30.0 tie between 2 and 3 -> smaller id 2 wins; singletons survive
    assert sorted(r.doc_id for r in kept.collect()) == [2, 4, 9]
    low = G.dedup_representatives_by(df, pairs, "doc_id", "score", keep="min")
    assert sorted(r.doc_id for r in low.collect()) == [1, 4, 9]


def test_dedup_representatives_by_null_scores_lose(spark):
    import pytest as _pytest

    from dataframes_spark.operators import graph as G

    df = spark.createDataFrame(
        [(1, None), (2, 7.0)], "doc_id long, score double"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    kept = G.dedup_representatives_by(df, pairs, "doc_id", "score", keep="max")
    assert [r.doc_id for r in kept.collect()] == [2]
    # and for keep="min" a NULL still loses to any real score
    kept2 = G.dedup_representatives_by(df, pairs, "doc_id", "score", keep="min")
    assert [r.doc_id for r in kept2.collect()] == [2]
    with _pytest.raises(ValueError):
        G.dedup_representatives_by(df, pairs, "doc_id", "score", keep="best")


def test_cc_driver_path_equals_distributed(spark):
    """The small-graph union-find lane must produce the identical
    (id, component=min id) relation as the distributed pointer-jumping
    rounds — long ids, string ids, chains and random graphs."""
    import random

    rng = random.Random(11)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(300)]
    edges += [(1000 + i, 1001 + i) for i in range(40)]  # a long chain
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    fast = sorted(map(tuple, connected_components(df).collect()))
    slow = sorted(
        map(tuple, connected_components(df, small_graph_cap=0).collect())
    )
    assert fast == slow
    sdf = spark.createDataFrame(
        [(f"d{a:04d}", f"d{b:04d}") for a, b in edges],
        "id_a string, id_b string",
    )
    sfast = sorted(map(tuple, connected_components(sdf).collect()))
    sslow = sorted(
        map(tuple, connected_components(sdf, small_graph_cap=0).collect())
    )
    assert sfast == sslow


def test_cc_null_endpoint_falls_back_to_distributed(spark):
    """NULL endpoints keep the legacy distributed-lane semantics (the
    driver lane declines them)."""
    df = spark.createDataFrame(
        [(1, 2), (None, 3)], "id_a long, id_b long"
    )
    got = connected_components(df)  # must not raise
    assert {r.component for r in got.collect() if r.id in (1, 2)} == {1}


def test_cc_driver_lane_rows_and_dtypes(spark):
    """The small-graph lane builds its result from Arrow batches (no
    Python-RDD scan), keeps the id dtype and sorts rows by id — for an
    empty graph too."""
    for dtype, edges, want in [
        ("bigint", [(3, 1), (2, 3), (10, 11)], [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]),
        ("int", [(7, 5)], [(5, 5), (7, 5)]),
        ("string", [("b", "a"), ("c", "d")], [("a", "a"), ("b", "a"), ("c", "c"), ("d", "c")]),
        ("bigint", [], []),
    ]:
        df = spark.createDataFrame(edges, f"id_a {dtype}, id_b {dtype}")
        got = connected_components(df)
        assert got.dtypes == [("id", dtype), ("component", dtype)]
        assert [tuple(r) for r in got.collect()] == want
        assert "PythonRDD" not in got._jdf.queryExecution().toRdd().toDebugString()
