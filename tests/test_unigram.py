"""Unigram-LM tokenizer training (functions/unigram.py): full-loop
parity against a pure-Python reference (same tie rules), coverage
invariant, vocab targeting, encode fallback, store roundtrip,
fertility vs BPE."""

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dataframes_spark.functions import unigram as U
from dataframes_spark.functions.bpe import word_type_counts

CORPUS = [
    "the cat sat on the mat the cat",
    "the mat and the cat sat on it",
    "a cat and a mat and a hat",
    "hats and mats and cats sat",
]


def _df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "id long, text string"
    )


# ---------------------------------------------------------------------------
# pure-Python reference with the module's exact tie rules
# ---------------------------------------------------------------------------

def _ref_m_step(counts):
    t = sum(counts.values())
    v = len(counts)
    return {
        p: (c, round(math.log((c + 1) / (t + v)), 6))
        for p, c in counts.items()
    }


def _ref_viterbi(word, pieces, maxp):
    dp = [(0.0, "")]
    for j in range(1, len(word) + 1):
        cands = []
        for s in range(max(1, j - maxp + 1), j + 1):
            sub = word[s - 1 : j]
            if sub in pieces:
                cands.append((dp[s - 1][0] + pieces[sub][1], s, sub))
        if not cands:
            sc, s, sub = dp[j - 1][0] + U.UNK_LP, j, word[j - 1]
        else:
            sc = max(c[0] for c in cands)
            s, sub = min((c[1], c[2]) for c in cands if c[0] == sc)
        dp.append((sc, dp[s - 1][1] + " " + sub))
    return dp[-1][0], dp[-1][1].split()


def _ref_train(words, schedule, seed_size, maxp):
    subs = Counter()
    for w, f in words.items():
        for s in range(len(w)):
            for l in range(1, min(maxp, len(w) - s) + 1):
                subs[w[s : s + l]] += f
    ranked = sorted(subs.items(), key=lambda kv: (-kv[1], kv[0]))
    kept = {p for p, _ in ranked[:seed_size]}
    kept |= {p for p in subs if len(p) == 1}
    pieces = _ref_m_step({p: subs[p] for p in kept})
    for op in schedule:
        vc = Counter()
        for w, f in words.items():
            _, path = _ref_viterbi(w, pieces, maxp)
            for p in path:
                vc[p] += f
        for p in pieces:
            if len(p) == 1 and p not in vc:
                vc[p] = 0
        if op == "em":
            keep = {p: c for p, c in vc.items() if c > 0 or len(p) == 1}
        else:
            n = op[1]
            rk = sorted(vc.items(), key=lambda kv: (-kv[1], kv[0]))
            keep = dict(rk[:n])
            keep.update({p: c for p, c in vc.items() if len(p) == 1})
        pieces = _ref_m_step(keep)
    return pieces


def _words(spark):
    return {
        r.word: r.freq
        for r in word_type_counts(_df(spark), "text").collect()
    }


def test_scheduled_training_matches_reference(spark):
    schedule = ["em", ("prune", 14), "em", ("prune", 10), "em"]
    got = {
        r.piece: (r.cnt, r.lp)
        for r in U.unigram_train_scheduled(
            word_type_counts(_df(spark), "text"),
            schedule,
            seed_size=25,
            max_piece_len=3,
        ).collect()
    }
    want = _ref_train(_words(spark), schedule, seed_size=25, maxp=3)
    assert got == want


def test_coverage_invariant_and_vocab_target(spark):
    pieces = U.unigram_train(
        _df(spark), "text", vocab_size=12, seed_size=40, max_piece_len=3
    )
    rows = {r.piece: r for r in pieces.collect()}
    chars = {c for w in _words(spark) for c in w}
    assert chars <= set(rows)  # every corpus char survives
    multi = [p for p in rows if len(p) > 1]
    assert len(multi) <= 12


def test_encode_matches_training_segmentation_and_unk(spark):
    df = _df(spark)
    pieces = U.unigram_train(df, "text", vocab_size=12, max_piece_len=3)
    seg = {
        r.word: list(r.pieces)
        for r in U.viterbi_types(
            word_type_counts(df, "text"), pieces, 3
        ).collect()
    }
    enc = U.unigram_encode(df, "text", "id", pieces, 3)
    for r in enc.collect():
        word = "".join(r.tokens).replace("", "")
        # every encoded word must match its training segmentation
        assert list(r.tokens) == seg["".join(r.tokens)]
    novel = spark.createDataFrame([(1, "zqx cat")], "id long, text string")
    got = {
        r.word_index: list(r.tokens)
        for r in U.unigram_encode(novel, "text", "id", pieces, 3).collect()
    }
    assert got[0] == ["z", "q", "x"]  # unseen chars: UNK singles
    assert got[1] == ["cat"]


def test_store_roundtrip(spark):
    from dataframes_spark.io.store import drop_table_and_location, store_stamp

    df = _df(spark)
    pieces = U.unigram_train(df, "text", vocab_size=10, max_piece_len=3)
    t = "t_unigram_model"
    drop_table_and_location(spark, t)
    U.unigram_store_update(spark, t, pieces, max_piece_len=3)
    assert spark.table(t).count() == pieces.count()
    assert store_stamp(spark, t) == {"max_piece_len": 3}
    direct = sorted(
        map(tuple, U.unigram_encode(df, "text", "id", pieces, 3).collect())
    )
    stored = sorted(
        map(
            tuple,
            U.unigram_encode_from_store(spark, df, t, "text", "id").collect(),
        )
    )
    assert direct == stored
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_fertility_vs_bpe_at_equal_vocab(spark):
    from dataframes_spark.functions import bpe as B

    df = _df(spark)
    counts = word_type_counts(df, "text")
    uni = U.unigram_train(df, "text", vocab_size=8, max_piece_len=3)
    useg = U.viterbi_types(counts, uni, 3)
    uf = U.fertility_report(useg).first()
    merges, bwords = B.bpe_learn(df, "text", k=8)
    bf = bwords.agg(
        F.round(
            F.sum(F.col("freq") * F.size("syms"))
            / F.sum("freq").cast("double"),
            6,
        ).alias("fertility")
    ).first()
    assert uf["fertility"] >= 1.0 and bf["fertility"] >= 1.0
    assert uf["n_words"] == bwords.agg(F.sum("freq")).first()[0]


def test_long_words_excluded_from_training_only(spark):
    long_word = "x" * 60
    df = spark.createDataFrame(
        [(1, f"short {long_word}")], "id long, text string"
    )
    pieces = U.unigram_train(
        df, "text", vocab_size=6, max_piece_len=3, max_word_len=10
    )
    assert "x" not in {r.piece for r in pieces.collect()}
    enc = {
        r.word_index: list(r.tokens)
        for r in U.unigram_encode(df, "text", "id", pieces, 3).collect()
    }
    assert enc[1] == ["x"] * 60  # encode still handles it (UNK singles)


def test_train_from_store_equals_one_shot(spark):
    """Fold the corpus through the shared word-type store in batches,
    refit from the store: identical piece table to one-shot training
    (the count-fold law carries over the whole trainer)."""
    import uuid

    from dataframes_spark.functions.bpe import word_type_store_update

    df = _df(spark)
    t = f"ug_wordtypes_{uuid.uuid4().hex[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    for lo, hi in [(0, 2), (2, 4)]:
        batch = df.filter((F.col("id") >= lo) & (F.col("id") < hi))
        word_type_store_update(
            spark, t, word_type_counts(batch, "text")
        )
    schedule = ["em", ("prune", 12), "em"]
    refit = {
        r.piece: (r.cnt, r.lp)
        for r in U.unigram_train_from_store(
            spark, t, schedule, seed_size=25, max_piece_len=3
        ).collect()
    }
    one_shot = {
        r.piece: (r.cnt, r.lp)
        for r in U.unigram_train_scheduled(
            word_type_counts(df, "text"), schedule, seed_size=25,
            max_piece_len=3,
        ).collect()
    }
    assert refit == one_shot
    spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---------------------------------------------------------------------------
# property: every Viterbi segmentation reconstructs its word exactly
# (pieces tile the word with no gaps/overlaps), trained or UNK-backed
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abcxyz", min_size=1, max_size=9),
        min_size=1,
        max_size=6,
        unique=True,
    )
)
def test_segmentation_reconstructs_word(spark, words):
    df = spark.createDataFrame([(1, " ".join(words))], "id long, text string")
    pieces = U.unigram_train(
        df, "text", vocab_size=6, seed_size=15, max_piece_len=3, em_rounds=1
    )
    seg = U.viterbi_types(word_type_counts(df, "text"), pieces, 3)
    for r in seg.collect():
        assert "".join(r.pieces) == r.word
    # and encode (UNK lane included) reconstructs too
    novel = spark.createDataFrame(
        [(2, " ".join(w + "QZ" for w in words))], "id long, text string"
    )
    for r in U.unigram_encode(novel, "text", "id", pieces, 3).collect():
        assert len("".join(r.tokens)) > 0


def test_token_counts_per_doc(spark):
    df = _df(spark)
    pieces = U.unigram_train(df, "text", vocab_size=10, max_piece_len=3)
    seg = {
        r.word: len(r.pieces)
        for r in U.viterbi_types(
            word_type_counts(df, "text"), pieces, 3
        ).collect()
    }
    got = {
        r.id: r.n_tokens
        for r in U.token_counts(df, "text", "id", pieces, 3).collect()
    }
    for i, text in enumerate(CORPUS):
        want = sum(seg[w] for w in text.lower().split())
        assert got[i] == want, (i, got[i], want)
    empty = spark.createDataFrame([(9, " "), (10, None)], "id long, text string")
    gz = {
        r.id: r.n_tokens
        for r in U.token_counts(empty, "text", "id", pieces, 3).collect()
    }
    assert gz == {9: 0, 10: 0}


def test_driver_lane_equals_distributed_schedule(spark):
    # the cap-gated driver trainer must reproduce the distributed
    # scheduled stages bit for bit: pieces, counts, quantized lps
    from dataframes_spark.functions.bpe import word_type_counts

    df = spark.createDataFrame(
        [(1, "banana bandana ban and an anna"),
         (2, "banana and anna band bandana")],
        "doc_id long, text string",
    )
    counts = word_type_counts(df, "text")
    schedule = ["em", ("prune", 9), "em"]
    fast = U.unigram_train_scheduled(
        counts, schedule, seed_size=20, max_piece_len=4
    )
    slow = U.unigram_train_scheduled(
        counts, schedule, seed_size=20, max_piece_len=4,
        small_vocab_cap=0,
    )
    key = lambda frame: sorted(
        (r["piece"], r["cnt"], r["lp"]) for r in frame.collect()
    )
    assert key(fast) == key(slow)
