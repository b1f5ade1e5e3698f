"""Trained multiclass langid (functions/langid.py): n-gram extraction,
featurization sentinel, multinomial train→export→score separation,
store roundtrip + stamp, pinned-weight scoring arithmetic."""

import pytest
from pyspark.sql import functions as F

from dataframes_spark.functions import langid as L
from dataframes_spark.io.store import drop_table_and_location


def test_char_ngrams_edges(spark):
    df = spark.createDataFrame(
        [("AB  cd",), ("x",), ("",), (None,)], "t string"
    )
    got = [
        r.g
        for r in df.select(L.char_ngrams(F.col("t"), 2, 3).alias("g")).collect()
    ]
    # "AB  cd" normalizes to "ab cd": 2-grams + 3-grams
    assert got[0] == ["ab", "b ", " c", "cd", "ab ", "b c", " cd"]
    assert got[1] == []          # shorter than n_lo
    assert got[2] == []
    assert got[3] == []          # NULL -> empty (coalesce)


def test_features_sentinel_and_determinism(spark):
    df = spark.createDataFrame(
        [(1, "abca"), (2, ""), (3, "zz")], "doc_id long, text string"
    )
    got = L.langid_features(df, "text", "doc_id", dim=16, lane_hash="md5")
    rows = got.collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, []).append(r)
    assert by_id[1][0].n_grams == 5  # 3x 2-grams + 2x 3-grams
    assert len(by_id[2]) == 1
    assert by_id[2][0].bucket is None and by_id[2][0].n_grams == 0
    assert by_id[3][0].n_grams == 1  # one 2-gram, no 3-gram
    again = {(r.id, r.bucket, r.tf) for r in got.collect()}
    assert again == {(r.id, r.bucket, r.tf) for r in rows}


def _corpus(spark, n=50):
    # three synthetic "languages" with disjoint character inventories
    mk = {
        "aa": lambda i: "the quick brown fox " * (i % 3 + 1),
        "bb": lambda i: "der schnelle braune fuchs über " * (i % 3 + 1),
        "cc": lambda i: "zorro marrón rápido según " * (i % 3 + 1),
    }
    rows = [
        (100 * k + i, lang, mk[lang](i))
        for k, lang in enumerate(sorted(mk))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


def test_train_and_score_multiclass(spark):
    df = _corpus(spark)
    train = df.filter(F.col("doc_id") % 5 != 0)
    test = df.filter(F.col("doc_id") % 5 == 0)
    w, b = L.train_langid(
        df=train, text_col="text", label_col="lang", id_col="doc_id",
        dim=512, max_iter=40,
    )
    assert set(b) == {"aa", "bb", "cc"}
    scored = L.langid_score(test, w, b, "text", "doc_id", dim=512)
    got = {r.doc_id: r.lang_pred for r in scored.collect()}
    want = {r.doc_id: r.lang for r in test.collect()}
    acc = sum(got[k] == want[k] for k in want) / len(want)
    assert acc == 1.0, f"expected perfect separation, got {acc}"


def test_store_roundtrip_and_hygiene(spark):
    from dataframes_spark.io.store import store_stamp

    df = _corpus(spark, n=20)
    w, b = L.train_langid(
        df=df, text_col="text", label_col="lang", id_col="doc_id",
        dim=256, max_iter=30,
    )
    t = "t_langid_model"
    drop_table_and_location(spark, t)
    L.langid_store_update(spark, t, w, b, dim=256)
    # weights only (no bias sentinel rows); biases ride the stamp
    assert spark.table(t).filter(F.col("bucket").isNull()).count() == 0
    assert sorted(store_stamp(spark, t)["biases"]) == sorted(b)
    assert len(b) == 3
    direct = sorted(
        map(tuple, L.langid_score(df, w, b, "text", "doc_id",
                                  dim=256).collect())
    )
    stored = sorted(
        map(
            tuple,
            L.langid_score_from_store(
                spark, df, t, "text", "doc_id"
            ).collect(),
        )
    )
    assert direct == stored
    drop_table_and_location(spark, t)

    dup = df.unionByName(df.limit(1))
    with pytest.raises(ValueError, match="duplicate ids"):
        L.train_langid(dup, "text", "lang", "doc_id", dim=64)
    nul = df.withColumn(
        "lang", F.when(F.col("doc_id") == 0, None).otherwise(F.col("lang"))
    )
    with pytest.raises(ValueError, match="NULL labels"):
        L.train_langid(nul, "text", "lang", "doc_id", dim=64)


def test_pinned_weight_scoring_arithmetic(spark):
    """Hand-checkable pinned scoring: one doc, tiny dim, weights and
    biases in multiples of 1/16 (the exact-arithmetic pin) — argmax
    and score match the closed form; gramless docs score bias-only
    with ties to the larger code."""
    df = spark.createDataFrame(
        [(1, "ab"), (2, "")], "doc_id long, text string"
    )
    # "ab" -> single 2-gram "ab"; find its md5 bucket at dim=4
    bucket = (
        spark.range(1)
        .select(
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.lit("lg:ab").cast("binary")), 1, 15),
                    16,
                    10,
                ).cast("long"),
                F.lit(4),
            ).cast("int").alias("b")
        )
        .first()["b"]
    )
    weights = spark.createDataFrame(
        [("xx", bucket, 8 / 16.0), ("yy", bucket, 4 / 16.0)],
        "lang string, bucket int, weight double",
    )
    biases = {"xx": -1 / 16.0, "yy": 2 / 16.0}
    got = {
        r.doc_id: (r.lang_pred, r.lang_score)
        for r in L.langid_score(
            df, weights, biases, "text", "doc_id", dim=4,
            lane_hash="md5", n_lo=2, n_hi=2,
        ).collect()
    }
    # doc 1: xx = 0.5*1/1 - 0.0625 = 0.4375 ; yy = 0.25 + 0.125 = 0.375
    assert got[1] == ("xx", pytest.approx(0.4375, abs=0))
    # doc 2 (gramless): bias-only -> yy wins
    assert got[2] == ("yy", pytest.approx(0.125, abs=0))


def test_train_raises_on_gramless_class_and_zero_weight_export(spark):
    """A class whose every document is gramless raises loudly (silent
    drop would desync MLlib's class count from the label list); an
    all-zero coefficient export is an EMPTY weight relation so the
    stored model still scores (bias-only), never a placeholder row."""
    bad = spark.createDataFrame(
        [(1, "xx", "plenty of text here"), (2, "yy", " ")],
        "doc_id long, lang string, text string",
    )
    with pytest.raises(ValueError, match=r"classes \['yy'\]"):
        L.train_langid(bad, "text", "lang", "doc_id", dim=64)

    tiny = _corpus(spark, n=4)
    # a huge reg_param drives every coefficient to (near-)zero; even if
    # the export is empty, store + score-from-store must keep working
    w, b = L.train_langid(
        tiny, "text", "lang", "doc_id", dim=128, max_iter=5, reg_param=1e6
    )
    t = "t_langid_zero"
    drop_table_and_location(spark, t)
    L.langid_store_update(spark, t, w, b, dim=128)
    scored = L.langid_score_from_store(
        spark, tiny, t, "text", "doc_id"
    ).collect()
    assert len(scored) == tiny.count()
    assert all(r.lang_pred in b for r in scored)
    drop_table_and_location(spark, t)
