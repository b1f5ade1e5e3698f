"""Tests for the MLlib bridge (reference §2.12 sklearn adjunct), the
null-keeping group list-collect, numeric range windows, and the
LSH-candidates + exact-verify near-dup path."""

import math

import pytest
from pyspark.sql import functions as F

from dataframes_spark import ml as dml
from dataframes_spark.io.store import drop_table_and_location
from dataframes_spark.operators import aggregate as dagg
from dataframes_spark.operators import dedup as ddedup
from dataframes_spark.operators import window as dwindow


def test_linear_regression_exact_line(spark):
    # y = 3x + 2 exactly -> normal-equation OLS recovers it to fp precision
    df = spark.createDataFrame(
        [(float(x), 3.0 * x + 2.0) for x in range(50)], ["x", "y"]
    )
    summary, predict = dml.linear_regression(df, ["x"], "y")
    assert math.isclose(summary["coefficients"][0], 3.0, abs_tol=1e-6)
    assert math.isclose(summary["intercept"], 2.0, abs_tol=1e-6)
    assert math.isclose(summary["r2"], 1.0, abs_tol=1e-9)
    pred = predict(df).select("prediction").collect()
    assert math.isclose(pred[0][0], 2.0, abs_tol=1e-6)


def test_logistic_regression_separable(spark):
    df = spark.createDataFrame(
        [(float(x), 0.0 if x < 25 else 1.0) for x in range(50)], ["x", "label"]
    )
    model, predict = dml.logistic_regression(df, ["x"], "label")
    out = {r.x: r.prediction for r in predict(df).collect()}
    assert out[0.0] == 0.0 and out[49.0] == 1.0


def test_confusion_matrix_counts(spark):
    df = spark.createDataFrame(
        [(0, 0), (0, 0), (0, 1), (1, 1), (1, 0)], ["label", "pred"]
    )
    got = {(r.label, r.prediction): r.n for r in dml.confusion_matrix(df, "label", "pred").collect()}
    assert got == {(0, 0): 2, (0, 1): 1, (1, 1): 1, (1, 0): 1}


def test_one_hot_encode(spark):
    df = spark.createDataFrame([("a",), ("b",), ("a",), (None,)], ["c"])
    out = dml.one_hot_encode(df, "c")
    assert "c=a" in out.columns and "c=b" in out.columns
    rows = out.collect()
    assert sum(r["c=a"] for r in rows) == 2
    assert sum(r["c=b"] for r in rows) == 1


def test_train_test_split_deterministic_partition(spark):
    df = spark.range(1000).withColumnRenamed("id", "x")
    tr1, te1 = dml.train_test_split(df, 0.25)
    tr2, te2 = dml.train_test_split(df.repartition(7), 0.25)
    # split is content-hash-based: same membership under any partitioning
    assert sorted(r.x for r in te1.collect()) == sorted(r.x for r in te2.collect())
    assert tr1.count() + te1.count() == 1000


def test_group_collect_keeps_nulls_in_order(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, None), ("a", 3, 30.0), ("b", 1, None)],
        ["k", "o", "v"],
    )
    rows = {r.k: r.v_list for r in dagg.group_collect(df, "k", ["v"], "o").collect()}
    assert rows["a"] == [10.0, None, 30.0]  # null kept, order by o
    assert rows["b"] == [None]


def test_rolling_range_numeric_strict_and_inclusive(spark):
    df = spark.createDataFrame([(k, 1.0) for k in [1, 2, 5, 11]], ["k", "v"])
    inc = dwindow.rolling_range(df, "k", 9, [("v", ["length"])])
    got = {r.k: r.v_length for r in inc.collect()}
    # [k-9, k]: k=11 covers 2,5,11 (1 is out: 11-9=2)
    assert got == {1: 1.0, 2: 2.0, 5: 3.0, 11: 3.0}
    strict = dwindow.rolling_range(df, "k", 10, [("v", ["length"])], inclusive_left=False)
    got = {r.k: r.v_length for r in strict.collect()}
    # (k-10, k]: k=11 excludes 1
    assert got == {1: 1.0, 2: 2.0, 5: 3.0, 11: 3.0}


def test_near_dup_pairs_finds_planted_dup(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    texts = [
        (0, base),
        (1, base + "!"),  # near-identical
        (2, "completely different content about spark dataframes at scale"),
        (3, "another unrelated document with its own distinct vocabulary"),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    got = ddedup.near_dup_pairs(df, "text", "doc_id", min_jaccard=0.8).collect()
    assert [(r.id_a, r.id_b) for r in got] == [(0, 1)]
    assert got[0].jaccard > 0.9


def test_near_dup_pairs_releases_shingle_cache(spark):
    """Cache lifetime contract: the call releases the corpus-sized
    shingle cache before returning (only the near-dup-sized result
    stays, caller unpersists it). Guards against the
    one-leaked-cache-per-call regression in long sessions."""

    def cached_ids() -> set:
        # the id SET, not the count: earlier tests' async finalizers may
        # release THEIR caches mid-test, which only ever REMOVES ids —
        # so assertions on (ids_after - ids_before) are immune to
        # concurrent background releases (the r11 flake: the global
        # count moved under machine load)
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in jmap.keySet().toArray()}

    base = "the quick brown fox jumps over the lazy dog and runs far away home"
    df = spark.createDataFrame(
        [(0, base), (1, base + "!"), (2, "some other unrelated text body")],
        ["doc_id", "text"],
    )
    before = cached_ids()
    pairs = ddedup.near_dup_pairs(df, "text", "doc_id", min_jaccard=0.8)
    # at most the materialized result is new — the shingle cache is gone
    assert len(cached_ids() - before) <= 1
    pairs.unpersist(blocking=True)
    assert cached_ids() - before == set()


def test_jaccard_verify_matches_exact(spark):
    texts = [(i, f"shared prefix words here variant {i}") for i in range(6)]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    exact = {
        (r.id_a, r.id_b): r.jaccard
        for r in ddedup.jaccard_pairs(df, "text", "doc_id", shingle_k=3).collect()
    }
    cand = spark.createDataFrame(list(exact.keys()), ["id_a", "id_b"])
    verified = {
        (r.id_a, r.id_b): r.jaccard
        for r in ddedup.jaccard_verify(cand, df, "text", "doc_id", shingle_k=3).collect()
    }
    assert verified.keys() == exact.keys()
    for k in exact:
        assert math.isclose(verified[k], exact[k], rel_tol=1e-12)


# --------------------------------------------------------------------------
# PCA over embedding columns (ml.py embedding_moments / pca_fit / project)
# --------------------------------------------------------------------------


def _toy_vectors(spark, n=300, dim=6, seed=7):
    # deterministic anisotropic cloud: dim-0 dominates, dim-1 second
    import numpy as np

    rng = np.random.RandomState(seed)
    x = rng.randn(n, dim) * np.array([5.0, 2.0, 0.5, 0.3, 0.2, 0.1])
    rows = [(i, [float(v) for v in x[i]]) for i in range(n)]
    return (
        spark.createDataFrame(rows, "id long, embedding array<float>"),
        x.astype("float32").astype("float64"),
    )


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    df, x = _toy_vectors(spark)
    got = {
        (r.i, r.j): r.cov
        for r in dml.embedding_covariance(df, "embedding", 6).collect()
    }
    truth = np.cov(x, rowvar=False, bias=True)
    assert len(got) == 6 * 7 // 2
    for (i, j), v in got.items():
        assert i <= j and math.isclose(v, truth[i, j], abs_tol=1e-9)


def test_embedding_covariance_skips_bad_vectors(spark):
    df, x = _toy_vectors(spark)
    import numpy as np

    dirty = df.unionByName(
        spark.createDataFrame(
            [(1000, None), (1001, [1.0, 2.0])], "id long, embedding array<float>"
        )
    )
    got = {
        (r.i, r.j): r.cov
        for r in dml.embedding_covariance(dirty, "embedding", 6).collect()
    }
    truth = np.cov(x, rowvar=False, bias=True)
    for (i, j), v in got.items():
        assert math.isclose(v, truth[i, j], abs_tol=1e-9)


def test_pca_fit_components_orthonormal_and_ordered(spark):
    import numpy as np

    df, _ = _toy_vectors(spark)
    m = dml.pca_fit(df, "embedding", k=3, dim=6)
    c = np.asarray(m["components"])
    assert c.shape == (3, 6)
    assert np.allclose(c @ c.T, np.eye(3), atol=1e-9)
    ev = m["explained_variance"]
    assert ev[0] >= ev[1] >= ev[2] >= 0
    # dominant direction is dim 0 (variance 25 vs 4): |c1[0]| near 1
    assert abs(c[0][0]) > 0.95
    # sign fix: largest-|coeff| entry is positive
    for row in c:
        assert row[int(np.argmax(np.abs(row)))] > 0
    assert sum(m["explained_ratio"]) <= 1.0 + 1e-9


def test_pca_project_variance_equals_eigenvalue(spark):
    df, _ = _toy_vectors(spark)
    m = dml.pca_fit(df, "embedding", k=2, dim=6)
    proj = dml.pca_project(df, "embedding", m)
    n = df.count()
    got = proj.agg(
        F.var_pop("pc1").alias("v1"), F.var_pop("pc2").alias("v2")
    ).first()
    assert math.isclose(got.v1, m["explained_variance"][0], rel_tol=1e-9)
    assert math.isclose(got.v2, m["explained_variance"][1], rel_tol=1e-9)
    # projections are centered
    means = proj.agg(F.avg("pc1"), F.avg("pc2")).first()
    assert abs(means[0]) < 1e-9 and abs(means[1]) < 1e-9


def test_pca_project_stays_jvm_side(spark):
    df, _ = _toy_vectors(spark)
    m = dml.pca_fit(df, "embedding", k=2, dim=6)
    plan = dml.pca_project(df, "embedding", m)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Exchange" not in plan


def test_pca_validation(spark):
    df, _ = _toy_vectors(spark)
    with pytest.raises(ValueError, match="1 <= k"):
        dml.pca_fit(df, "embedding", k=0, dim=6)
    with pytest.raises(ValueError, match="no valid vectors"):
        dml.pca_fit(df.filter("id < 0"), "embedding", k=1, dim=6)


def test_pca_moment_store_incremental_equals_whole(spark):
    import numpy as np

    df, _ = _toy_vectors(spark)
    a = df.filter(F.col("id") < 120)
    b = df.filter(F.col("id") >= 120)
    table = "pca_moment_store_test"
    drop_table_and_location(spark, table)
    dml.moments_store_update(spark, table, a, "embedding", 6)
    dml.moments_store_update(spark, table, b, "embedding", 6)
    assert spark.table(table).agg(F.max("n")).first()[0] == 300
    whole = dml.pca_fit(df, "embedding", k=3, dim=6)
    inc = dml.pca_fit_from_store(spark, table, k=3, dim=6)
    assert np.allclose(inc["mean"], whole["mean"], atol=1e-12)
    assert np.allclose(inc["components"], whole["components"], atol=1e-9)
    assert np.allclose(
        inc["explained_variance"], whole["explained_variance"], atol=1e-12
    )
    drop_table_and_location(spark, table)
    with pytest.raises(Exception, match="empty store|TABLE_OR_VIEW"):
        dml.pca_fit_from_store(spark, "no_such_moment_store", k=1, dim=6)


def test_auc_rank_sum_exact_with_ties_and_nulls(spark):
    """AUC via average-rank Mann-Whitney equals the pairwise
    definition (ties count half), nulls excluded, degenerate NULL."""
    from dataframes_spark.ml import auc_roc

    rows = [
        (0.9, 1), (0.8, 1), (0.8, 0), (0.5, 0), (0.5, 1), (0.5, 0),
        (0.1, 0), (None, 1), (0.7, None),
    ]
    df = spark.createDataFrame(rows, "s double, y int")
    got = auc_roc(df, "s", "y").first()
    # pairwise: pos scores [.9,.8,.5], neg [.8,.5,.5,.1]
    wins = halves = 0
    for p in (0.9, 0.8, 0.5):
        for n in (0.8, 0.5, 0.5, 0.1):
            if p > n:
                wins += 1
            elif p == n:
                halves += 1
    want = (wins + halves / 2) / 12
    assert got.auc == want and got.n_pos == 3 and got.n_neg == 4
    one_class = spark.createDataFrame([(0.3, 1), (0.6, 1)], "s double, y int")
    assert auc_roc(one_class, "s", "y").first().auc is None


def test_auc_perfect_and_random(spark):
    from pyspark.sql import functions as F

    from dataframes_spark.ml import auc_roc

    n = 2000
    df = spark.range(n).select(
        (F.col("id") / n).alias("s"), (F.col("id") >= n / 2).cast("int").alias("y")
    )
    assert auc_roc(df, "s", "y").first().auc == 1.0
    # anti-predictive score
    df2 = df.select((1 - F.col("s")).alias("s"), "y")
    assert auc_roc(df2, "s", "y").first().auc == 0.0


def test_binary_metrics_thresholds(spark):
    from dataframes_spark.ml import binary_metrics

    rows = [(0.9, 1), (0.6, 0), (0.4, 1), (0.2, 0)]
    df = spark.createDataFrame(rows, "s double, y int")
    out = {r.threshold: r for r in binary_metrics(df, "s", "y", (0.5, 0.95)).collect()}
    r5 = out[0.5]
    assert (r5.tp, r5.fp, r5.fn, r5.tn) == (1, 1, 1, 1)
    assert r5.precision == 0.5 and r5.recall == 0.5 and r5.f1 == 0.5
    r95 = out[0.95]
    assert (r95.tp, r95.fp) == (0, 0) and r95.precision is None
    import pytest as _pt

    with _pt.raises(ValueError):
        binary_metrics(df, "s", "y", ())


def test_auc_plan_no_data_bearing_single_partition(spark):
    from pyspark.sql import functions as F

    from dataframes_spark.ml import auc_roc
    from dataframes_spark.plan import plan_report

    df = spark.range(500).select(
        ((F.col("id") * 7919 % 97) / 97.0).alias("s"),
        (F.col("id") % 3 == 0).cast("int").alias("y"),
    )
    rep = plan_report(auc_roc(df, "s", "y"))
    assert rep["single_partition_data_exchanges"] == 0
    assert rep["row_python_udf_nodes"] == 0
