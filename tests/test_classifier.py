"""Hashed-n-gram quality classifier (functions/classifier.py):
featurization determinism/pooling, train→export→score separation,
separation power on synthetic corpora, empty-doc fallback, plan pins."""

import pytest
from pyspark.sql import functions as F

from dataframes_spark.functions import classifier as C
from dataframes_spark.io.store import drop_table_and_location


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hashed_counts_pool_and_determinism(spark):
    df = _docs(spark, [(1, "a b a c"), (2, ""), (3, "x")])
    got = C.hashed_term_counts(df, "text", "doc_id", dim=16, lane_hash="md5")
    rows = got.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, []).append(r)
    assert sum(r.tf for r in by_id[1]) == 4  # a b a c
    assert by_id[1][0].n_tokens == 4
    # tokenless doc survives as ONE (bucket NULL, tf 0) sentinel row
    assert len(by_id[2]) == 1
    assert by_id[2][0].bucket is None and by_id[2][0].n_tokens == 0
    assert by_id[3][0].tf == 1
    again = {(r.id, r.bucket, r.tf) for r in got.collect()}
    assert again == {(r.id, r.bucket, r.tf) for r in rows}


def test_train_and_score_separates_synthetic_corpora(spark):
    good_words = ["theory", "method", "result", "evidence", "study"]
    bad_words = ["click", "free", "winner", "casino", "prize"]
    pos = _docs(
        spark,
        [
            (i, " ".join(good_words[j % 5] for j in range(i % 7 + 3)))
            for i in range(60)
        ],
    )
    neg = _docs(
        spark,
        [
            (1000 + i, " ".join(bad_words[j % 5] for j in range(i % 7 + 3)))
            for i in range(60)
        ],
    )
    w, b = C.train_quality_classifier(
        pos, neg, "text", "doc_id", dim=256, max_iter=30
    )
    assert w.count() > 0
    test = _docs(
        spark,
        [(1, "method study evidence"), (2, "casino winner free prize")],
    )
    scores = {
        r.doc_id: r.quality_prob
        for r in C.score_quality(test, w, b, "text", "doc_id", dim=256).collect()
    }
    assert scores[1] > 0.8 > 0.2 > scores[2]


def test_score_pinned_weights_exact_and_empty_doc(spark):
    """Scoring with a pinned weights table is pure relational algebra:
    mean-pooled dot + sigmoid, empty docs fall back to sigmoid(bias)."""
    import math

    df = _docs(spark, [(1, "a a b"), (2, "   "), (3, "zzz")])
    dim = 8
    wrows = [(int(i), (i * 37 % 21 - 10) / 10.0) for i in range(dim)]
    weights = spark.createDataFrame(wrows, "bucket int, weight double")
    got = {
        r.doc_id: r.quality_prob
        for r in C.score_quality(
            df, weights, 0.5, "text", "doc_id", dim=dim, lane_hash="md5"
        ).collect()
    }
    wmap = dict(wrows)
    # replicate the md5 bucketing for 'a', 'b', 'zzz'
    bucket = {
        r["__qc_tok"]: r["b"]
        for r in spark.createDataFrame(
            [("a",), ("b",), ("zzz",)], "__qc_tok string"
        )
        .select("__qc_tok", C._bucket(F.col("__qc_tok"), dim, "qc", "md5").alias("b"))
        .collect()
    }
    z1 = (2 * wmap[bucket["a"]] + wmap[bucket["b"]]) / 3 + 0.5
    assert got[1] == pytest.approx(1 / (1 + math.exp(-z1)), rel=1e-12)
    assert got[2] == pytest.approx(1 / (1 + math.exp(-0.5)), rel=1e-12)
    z3 = wmap[bucket["zzz"]] + 0.5
    assert got[3] == pytest.approx(1 / (1 + math.exp(-z3)), rel=1e-12)
    assert len(got) == 3


def test_score_plan_is_broadcast_only(spark):
    from dataframes_spark.plan import plan_report

    df = _docs(spark, [(i, "w x y") for i in range(50)])
    weights = spark.createDataFrame(
        [(i, 0.1) for i in range(8)], "bucket int, weight double"
    )
    rep = plan_report(
        C.score_quality(df, weights, 0.0, "text", "doc_id", dim=8)
    )
    assert rep["cartesian_products"] == 0
    assert rep["row_python_udf_nodes"] == 0
    assert rep["single_partition_data_exchanges"] == 0
    assert rep["broadcast_hash_joins"] >= 1


def test_edge_whitespace_tokens_match_oracle_semantics(spark):
    """Leading \\n/\\t (which F.trim would keep) must not create an
    empty hashed token or inflate n_tokens."""
    df = _docs(spark, [(1, "\na b"), (2, "\t\t x \n")])
    got = {}
    for r in C.hashed_term_counts(df, "text", "doc_id", dim=16,
                                  lane_hash="md5").collect():
        got.setdefault(r.id, []).append(r)
    assert got[1][0].n_tokens == 2
    assert got[2][0].n_tokens == 1
    assert all(r.bucket is not None for rs in got.values() for r in rs)


def test_train_pos_neg_id_collision_is_safe(spark):
    """A pos doc and a neg doc with the SAME id must not merge term
    counts (the prefixed-id rule): training on colliding ids still
    separates the vocabularies."""
    pos = _docs(spark, [(i, "theory method study") for i in range(30)])
    neg = _docs(spark, [(i, "casino winner prize") for i in range(30)])
    w, b = C.train_quality_classifier(
        pos, neg, "text", "doc_id", dim=128, max_iter=20
    )
    test = _docs(spark, [(1, "theory study"), (2, "casino prize")])
    scores = {
        r.doc_id: r.quality_prob
        for r in C.score_quality(test, w, b, "text", "doc_id", dim=128).collect()
    }
    assert scores[1] > 0.8 > 0.2 > scores[2]


def test_store_roundtrip_and_stamp(spark):
    from dataframes_spark.functions.classifier import (
        classifier_store_update,
        score_quality_from_store,
    )
    from dataframes_spark.io.store import store_stamp

    t = "t_qc_store"
    drop_table_and_location(spark, t)
    weights = spark.createDataFrame(
        [(i, (i * 37 % 21 - 10) / 10.0) for i in range(8)],
        "bucket int, weight double",
    )
    classifier_store_update(
        spark, t, weights, bias=0.5, dim=8, lane_hash="md5"
    )
    # the store is the weight relation itself: no stamp columns, no
    # sentinel row; the featurization config is the table's stamp
    assert spark.table(t).columns == ["bucket", "weight"]
    assert spark.table(t).count() == 8
    assert store_stamp(spark, t) == {
        "bias": 0.5, "dim": 8, "salt": "qc", "hash": "md5",
    }
    df = _docs(spark, [(1, "a a b"), (2, "")])
    direct = {
        r.doc_id: r.quality_prob
        for r in C.score_quality(
            df, weights, 0.5, "text", "doc_id", dim=8, lane_hash="md5"
        ).collect()
    }
    stored = {
        r.doc_id: r.quality_prob
        for r in score_quality_from_store(
            spark, df, t, "text", "doc_id"
        ).collect()
    }
    assert stored == direct and len(stored) == 2
    # retrain REPLACES: new weights, new stamp
    w2 = spark.createDataFrame([(0, 1.0)], "bucket int, weight double")
    classifier_store_update(spark, t, w2, bias=0.0, dim=4)
    assert spark.table(t).count() == 1
    assert store_stamp(spark, t)["dim"] == 4
    # a ZERO-weight model stays servable: bias-only scoring
    import math

    empty_w = spark.createDataFrame([], "bucket int, weight double")
    classifier_store_update(spark, t, empty_w, bias=0.7, dim=4,
                            lane_hash="md5")
    got = {
        r.doc_id: r.quality_prob
        for r in score_quality_from_store(
            spark, df, t, "text", "doc_id"
        ).collect()
    }
    assert got[1] == pytest.approx(1 / (1 + math.exp(-0.7)), rel=1e-12)
    drop_table_and_location(spark, t)


def test_classify_each_batch_stream_equals_batch(spark, tmp_path):
    """The streaming quality gate: foreachBatch scoring over a real
    micro-batched run keeps exactly the docs the batch screen keeps."""
    import uuid

    from dataframes_spark.functions.classifier import (
        classifier_store_update,
        score_quality_from_store,
    )
    from dataframes_spark.streaming.events import classify_each_batch

    t = f"t_qc_stream_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, t)
    weights = spark.createDataFrame(
        [(i, (i * 37 % 21 - 10) / 10.0) for i in range(16)],
        "bucket int, weight double",
    )
    classifier_store_update(spark, t, weights, bias=0.0, dim=16,
                            lane_hash="md5")
    docs = _docs(
        spark,
        [(i, " ".join(f"w{j % 11}" for j in range(i % 6 + 1)))
         for i in range(60)],
    )
    out = str(tmp_path / "qc_docs")
    for lo, hi in ((0, 20), (20, 45), (45, 60)):
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("append").parquet(out)
    whole = spark.read.parquet(out)
    kept = []
    cb = classify_each_batch(
        t, "text", "doc_id", threshold=0.5,
        write=lambda df, e: kept.extend(r.doc_id for r in df.collect()),
    )
    src = (
        spark.readStream.schema(whole.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    q = src.writeStream.foreachBatch(cb).trigger(availableNow=True).start()
    q.awaitTermination(180)
    want = sorted(
        r.doc_id
        for r in score_quality_from_store(
            spark, whole, t, "text", "doc_id"
        ).filter(F.col("quality_prob") >= 0.5).collect()
    )
    assert sorted(kept) == want and 0 < len(want) < 60
    drop_table_and_location(spark, t)


def test_train_raises_on_null_and_duplicate_ids(spark):
    """NULL ids would silently vanish from training (NULL prefixed id
    drops at the counts join); duplicate ids within a side would merge
    two documents' term counts — both raise up front."""
    ok = _docs(spark, [(1, "good text here"), (2, "more good text")])
    with_null = spark.createDataFrame(
        [(1, "spam text"), (None, "more spam")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="NULL 'doc_id'"):
        C.train_quality_classifier(ok, with_null, "text", "doc_id", dim=64)
    with_dup = _docs(spark, [(7, "spam text"), (7, "more spam")])
    with pytest.raises(ValueError, match="duplicate 'doc_id'"):
        C.train_quality_classifier(with_dup, ok, "text", "doc_id", dim=64)
