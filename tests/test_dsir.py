"""DSIR importance resampling (operators/dsir.py): featurizer shape,
model laws, weight semantics, and the Gumbel resample's determinism."""

import math

import pytest
from pyspark.sql import functions as F

from dataframes_spark.operators import dsir


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_features_unigrams_plus_bigrams(spark):
    df = _docs(spark, [(1, "a b c", "en")])
    # features: a, b, c, 'a b', 'b c' -> 5 total occurrences
    feats = dsir.hashed_ngram_features(df, "text", "doc_id", buckets=8)
    total = feats.agg(F.sum("cnt")).collect()[0][0]
    assert total == 5
    assert feats.filter(
        (F.col("bucket") < 0) | (F.col("bucket") >= 8)
    ).count() == 0


def test_features_empty_and_single_token_docs(spark):
    df = _docs(
        spark, [(1, "", "en"), (2, "   ", "en"), (3, "solo", "en"), (4, None, "en")]
    )
    feats = dsir.hashed_ngram_features(df, "text", "doc_id", buckets=8)
    rows = {r["__id"]: r["cnt"] for r in feats.groupBy("__id").agg(
        F.sum("cnt").alias("cnt")).collect()}
    # empty/whitespace/null docs contribute nothing; a single token has
    # one unigram and no bigram
    assert rows == {3: 1}


def test_model_has_exactly_b_rows_and_sums_to_one(spark):
    df = _docs(spark, [(1, "x y z x", "en"), (2, "p q", "de")])
    model = dsir.dsir_fit(
        df.filter("lang = 'en'"), df, "text", "doc_id", buckets=16
    )
    rows = model.collect()
    assert len(rows) == 16
    for col in ("logp_target", "logp_raw"):
        s = sum(math.exp(r[col]) for r in rows)
        assert s == pytest.approx(1.0, abs=1e-9)
    for r in rows:
        assert r["log_ratio"] == pytest.approx(
            r["logp_target"] - r["logp_raw"], abs=1e-12
        )


def test_weights_favor_target_like_documents(spark):
    # target is pure "alpha beta" language; doc 1 matches it, doc 2 is
    # disjoint vocabulary -> doc 1 must out-weigh doc 2
    corpus = _docs(
        spark,
        [(1, "alpha beta alpha beta", "en"), (2, "zeta eta theta iota", "de")],
    )
    model = dsir.dsir_fit(
        corpus.filter("lang = 'en'"), corpus, "text", "doc_id", buckets=64
    )
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir.dsir_weights(corpus, model, "text", "doc_id", buckets=64).collect()
    }
    assert w[1] > w[2]


def test_weight_is_count_weighted_sum_of_log_ratios(spark):
    corpus = _docs(spark, [(1, "a a b", "en"), (2, "b c", "de")])
    model = dsir.dsir_fit(
        corpus.filter("lang = 'en'"), corpus, "text", "doc_id", buckets=32
    )
    ratios = {r["bucket"]: r["log_ratio"] for r in model.collect()}
    feats = dsir.hashed_ngram_features(
        corpus.filter("doc_id = 1"), "text", "doc_id", buckets=32
    ).collect()
    expected = sum(r["cnt"] * ratios[r["bucket"]] for r in feats)
    got = (
        dsir.dsir_weights(corpus, model, "text", "doc_id", buckets=32)
        .filter("doc_id = 1")
        .collect()[0]["log_weight"]
    )
    assert got == pytest.approx(round(expected, 6), abs=1e-6)


def test_sample_is_deterministic_and_seed_sensitive(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    target = docs.filter("lang = 'en'")
    a = dsir.dsir_sample(docs, target, "text", "doc_id", k=10, buckets=64)
    b = dsir.dsir_sample(docs, target, "text", "doc_id", k=10, buckets=64)
    assert [r["doc_id"] for r in a.collect()] == [r["doc_id"] for r in b.collect()]
    c = dsir.dsir_sample(
        docs, target, "text", "doc_id", k=10, buckets=64, seed="2"
    )
    assert [r["doc_id"] for r in a.collect()] != [r["doc_id"] for r in c.collect()]


def test_sample_keys_are_weight_shifted_gumbels(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    target = docs.filter("lang = 'en'")
    out = dsir.dsir_sample(docs, target, "text", "doc_id", k=50, buckets=64)
    rows = out.collect()
    assert len(rows) == 50
    # keys strictly ordered (ties measure-zero for distinct md5 draws)
    keys = [r["gumbel_key"] for r in rows]
    assert keys == sorted(keys, reverse=True)


def test_weights_drop_tokenless_documents(spark):
    corpus = _docs(spark, [(1, "a b", "en"), (2, "", "en")])
    model = dsir.dsir_fit(corpus, corpus, "text", "doc_id", buckets=8)
    out = dsir.dsir_weights(corpus, model, "text", "doc_id", buckets=8)
    assert [r["doc_id"] for r in out.collect()] == [1]
    # self-fit: target == raw -> every log_ratio is 0 -> weight 0
    assert out.collect()[0]["log_weight"] == pytest.approx(0.0, abs=1e-9)


def test_merge_counts_law_over_arbitrary_splits(spark, sf_dir):
    # counts(a) (+) counts(b) == counts(a UNION b) for any disjoint split
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    whole = dsir.bucket_counts(docs, "text", "doc_id", buckets=32)
    for mod in (2, 3, 7):
        parts = [
            dsir.bucket_counts(
                docs.filter(F.col("doc_id") % mod == i), "text", "doc_id", buckets=32
            )
            for i in range(mod)
        ]
        merged = parts[0]
        for p in parts[1:]:
            merged = dsir.merge_counts(merged, p)
        assert merged.exceptAll(whole).count() == 0
        assert whole.exceptAll(merged).count() == 0


def test_store_fold_equals_one_shot_fit(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    raw_t, tgt_t = "dsir_raw_store_test", "dsir_tgt_store_test"
    for t in (raw_t, tgt_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    a = docs.filter("doc_id % 2 = 0")
    b = docs.filter("doc_id % 2 = 1")
    for half in (a, b):
        dsir.dsir_store_update(
            spark, raw_t,
            dsir.bucket_counts(half, "text", "doc_id", buckets=32), 32)
    raw = spark.table(raw_t)
    assert raw.columns == ["bucket", "c"] and raw.count() <= 32
    for half in (a, b):
        dsir.dsir_store_update(
            spark, tgt_t,
            dsir.bucket_counts(
                half.filter("lang = 'en'"), "text", "doc_id", buckets=32), 32)
    inc = dsir.dsir_fit_from_stores(spark, tgt_t, raw_t, buckets=32)
    one = dsir.dsir_fit(
        docs.filter("lang = 'en'"), docs, "text", "doc_id", buckets=32)
    pairs = inc.alias("i").join(one.alias("o"), "bucket").select(
        F.max(F.abs(F.col("i.log_ratio") - F.col("o.log_ratio"))).alias("d"))
    assert pairs.collect()[0]["d"] < 1e-12
    # the bucket-domain stamp refuses mismatched folds and fits: a store
    # built with B=32 must reject counts hashed into B=64 and a fit
    # asking for B=64 (either would silently drop / zero buckets)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="refusing to fold"):
        dsir.dsir_store_update(
            spark, raw_t,
            dsir.bucket_counts(a, "text", "doc_id", buckets=64), 64)
    with _pytest.raises(ValueError, match="buckets=32"):
        dsir.dsir_fit_from_stores(spark, tgt_t, raw_t, buckets=64)
    for t in (raw_t, tgt_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_model_report_kl_properties(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # self-fit: KL == 0 exactly (log_ratio identically 0)
    self_m = dsir.dsir_fit(docs, docs, "text", "doc_id", buckets=32)
    r0 = dsir.dsir_model_report(self_m).collect()[0]
    assert r0["buckets"] == 32
    assert r0["kl_target_raw"] == 0.0 == r0["mean_abs_log_ratio"]
    # a real target: KL > 0 (Gibbs), and bounded by the extremes
    m = dsir.dsir_fit(
        docs.filter("lang = 'en'"), docs, "text", "doc_id", buckets=32
    )
    r = dsir.dsir_model_report(m).collect()[0]
    assert r["kl_target_raw"] > 0.0
    assert r["min_log_ratio"] <= 0.0 <= r["max_log_ratio"]


def test_ess_uniform_and_skewed(spark):
    uni = spark.createDataFrame(
        [(i, 0.0) for i in range(10)], "doc_id long, log_weight double"
    )
    r = dsir.dsir_ess(uni).collect()[0]
    assert r["n_docs"] == 10 and r["ess"] == pytest.approx(10.0)
    assert r["ess_frac"] == pytest.approx(1.0)
    # one dominant weight: ESS collapses toward 1
    skew = spark.createDataFrame(
        [(0, 20.0)] + [(i, 0.0) for i in range(1, 10)],
        "doc_id long, log_weight double",
    )
    r2 = dsir.dsir_ess(skew).collect()[0]
    assert r2["ess"] < 1.01
    assert r2["ess_frac"] < 0.11
