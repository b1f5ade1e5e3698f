"""Distributed BPE merge induction (functions/bpe.py, Sennrich et al.
2016): learned merges against a hand-computed reference, greedy-merge
overlap semantics, determinism, and the encode path."""

import collections

import pytest
from pyspark.sql import functions as F

from dataframes_spark.functions import bpe
from dataframes_spark.io.store import drop_table_and_location


def _ref_bpe(texts, k):
    """Reference implementation: the classic dict-of-word-types BPE."""
    vocab = collections.Counter()
    for t in texts:
        for w in t.lower().split():
            vocab[w] += 1
    words = {w: list(w) + [bpe.END_MARKER] for w in vocab}
    merges = []
    for step in range(1, k + 1):
        counts = collections.Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += vocab[w]
        if not counts:
            break
        best_n = max(counts.values())
        lhs, rhs = min(p for p, n in counts.items() if n == best_n)
        merges.append((step, lhs, rhs, lhs + rhs, best_n))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == lhs
                    and syms[i + 1] == rhs
                ):
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges, words


TEXTS = [
    "low lower lowest low low",
    "new newer newest new newer",
    "wide wider widest wide",
    "low newer low wide lowest",
]


def test_learned_merges_match_reference(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                               "doc_id long, text string")
    got, words = bpe.bpe_learn(df, "text", 8)
    want, ref_words = _ref_bpe(TEXTS, 8)
    assert [(m["step"], m["lhs"], m["rhs"], m["merged"], m["n"])
            for m in got] == want
    final = {r["word"]: r["syms"] for r in words.collect()}
    assert final == ref_words


def test_overlap_rule_aaa(spark):
    # "aaaa aaa" with pair (a,a): greedy left-to-right non-overlapping
    df = spark.createDataFrame([(1, "aaaa aaa aaaa")],
                               "doc_id long, text string")
    merges, words = bpe.bpe_learn(df, "text", 1)
    assert (merges[0]["lhs"], merges[0]["rhs"]) == ("a", "a")
    final = {r["word"]: r["syms"] for r in words.collect()}
    assert final["aaaa"] == ["aa", "aa", bpe.END_MARKER]
    assert final["aaa"] == ["aa", "a", bpe.END_MARKER]


def test_early_stop_when_fully_merged(spark):
    df = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    merges, words = bpe.bpe_learn(df, "text", 50)
    # 'a b </w>' -> at most 2 merges before one symbol remains
    assert len(merges) == 2
    final = words.collect()
    assert final[0]["syms"] == ["ab" + bpe.END_MARKER]


def test_segment_applies_learned_merges_in_order(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                               "doc_id long, text string")
    merges, words = bpe.bpe_learn(df, "text", 6)
    seg = bpe.bpe_segment(df, "text", "doc_id", merges)
    # encoding the training corpus reproduces the final type relation
    final = {r["word"]: r["syms"] for r in words.collect()}
    for r in seg.collect():
        w = TEXTS[r["doc_id"]].lower().split()[r["word_index"]]
        assert r["tokens"] == final[w], w


def test_merge_table_and_validation(spark):
    df = spark.createDataFrame([(1, "abc abc")], "doc_id long, text string")
    merges, _ = bpe.bpe_learn(df, "text", 2)
    t = bpe.merge_table(spark, merges)
    rows = t.orderBy("step").collect()
    assert [r["step"] for r in rows] == [1, 2]
    assert all(r["merged"] == r["lhs"] + r["rhs"] for r in rows)
    with pytest.raises(ValueError):
        bpe.bpe_learn(df, "text", 0)


def test_merge_type_counts_fold_law(spark):
    """Any batch split folds to the one-shot count relation, so the
    learned merges are split-invariant — BPE's incremental law."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                               "doc_id long, text string")
    one_shot = bpe.word_type_counts(df, "text")
    batches = [df.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    folded = bpe.merge_type_counts(
        bpe.merge_type_counts(
            bpe.word_type_counts(batches[0], "text"),
            bpe.word_type_counts(batches[1], "text"),
        ),
        bpe.word_type_counts(batches[2], "text"),
    )
    a = {r["word"]: r["freq"] for r in one_shot.collect()}
    b = {r["word"]: r["freq"] for r in folded.collect()}
    assert a == b
    m1, _ = bpe.bpe_learn_from_counts(one_shot, 5)
    m2, _ = bpe.bpe_learn_from_counts(folded, 5)
    assert m1 == m2


def test_word_type_store_and_streaming_gate(spark):
    """Persisted word-type store: folding micro-batches then refitting
    equals the one-shot training run (stream == batch)."""
    import uuid

    from dataframes_spark.streaming import events as dstream

    t = f"bpe_types_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, t)
    df = spark.createDataFrame([(i, t_) for i, t_ in enumerate(TEXTS)],
                               "doc_id long, text string")
    served = []
    cb = dstream.word_types_each_batch(
        t, "text", merges_k=4,
        write=lambda d, e: served.append(
            [(r["step"], r["merged"]) for r in d.orderBy("step").collect()]
        ),
    )
    for epoch in range(3):
        cb(df.filter(F.col("doc_id") % 3 == epoch), epoch)
    want, _ = bpe.bpe_learn(df, "text", 4)
    got, _ = bpe.bpe_learn_from_store(spark, t, 4)
    assert got == want
    assert served[-1] == [(m["step"], m["merged"]) for m in want]
    drop_table_and_location(spark, t)


def test_fertility_matches_reference(spark):
    """Frequency-weighted tokens/word over the final type relation
    equals the reference computation (the bpe_fertility_docs fold)."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TEXTS)],
                               "doc_id long, text string")
    _, words = bpe.bpe_learn(df, "text", 4)
    row = words.agg(
        F.sum(F.size("syms").cast("bigint") * F.col("freq")).alias("nt"),
        F.sum("freq").alias("nw"),
    ).first()
    _, ref_words = _ref_bpe(TEXTS, 4)
    vocab = collections.Counter(
        w for t in TEXTS for w in t.lower().split()
    )
    want_nt = sum(len(s) * vocab[w] for w, s in ref_words.items())
    want_nw = sum(vocab.values())
    assert (row["nt"], row["nw"]) == (want_nt, want_nw)


def test_wordpiece_scoring_prefers_rare_part_pairs(spark):
    """scoring='wordpiece' ranks by n/(c_lhs*c_rhs): a pair of RARE
    symbols that always co-occur must beat a frequent pair with
    promiscuous parts — hand-checkable corpus; and the count lane is
    unchanged by the new parameter."""
    from dataframes_spark.functions import bpe as B

    # 'xy' appears 3x and x,y appear ONLY together (score 3/(3*3)=1/3);
    # 'aa' pairs appear 8x but 'a' occurs 12x (score 8/144)
    df = spark.createDataFrame(
        [(1, "xy xy xy aaa aaa aaa aaa")], "id long, text string"
    )
    wp, _ = B.bpe_learn(df, "text", 1, scoring="wordpiece")
    assert (wp[0]["lhs"], wp[0]["rhs"]) == ("x", "y")
    cnt, _ = B.bpe_learn(df, "text", 1)
    assert (cnt[0]["lhs"], cnt[0]["rhs"]) == ("a", "a")
    with __import__("pytest").raises(ValueError, match="scoring"):
        B.bpe_learn(df, "text", 1, scoring="nope")


def test_bytes_to_unicode_invariants():
    t = bpe.bytes_to_unicode()
    assert len(t) == 256
    # bijection, no space/control chars among values, ascii printables fixed
    assert len(set(t.values())) == 256
    assert all(" " not in v and len(v) == 1 for v in t.values())
    assert t[ord("a")] == "a" and t[ord("!")] == "!"
    assert t[0x20] == bpe.BYTE_SPACE and bpe.BYTE_SPACE != " "


def test_byte_seeding_ascii_and_multibyte(spark):
    counts = spark.createDataFrame(
        [("ab", 3), ("é", 1)], "word string, freq long"
    )
    rows = {
        r["word"]: r["syms"]
        for r in bpe.byte_types_from_counts(counts).collect()
    }
    t = bpe.bytes_to_unicode()
    assert rows["ab"] == [bpe.BYTE_SPACE, "a", "b"]
    # é is two UTF-8 bytes (0xC3 0xA9) -> two remapped symbols
    assert rows["é"] == [bpe.BYTE_SPACE, t[0xC3], t[0xA9]]


def test_byte_bpe_learns_space_prefixed_tokens(spark):
    df = spark.createDataFrame(
        [(1, "low low low lower")], "doc_id long, text string"
    )
    merges, words = bpe.byte_bpe_learn(df, "text", 3)
    # count-4 pairs (Ġl, lo, ow) tie; lexicographic tiebreak picks
    # ('l','o') first ('Ġ' = U+0120 sorts after ascii), then ('o','w')
    # can no longer pair (o is consumed) -> ('lo','w'), then (Ġ, low):
    # the word-initial token the space marker exists for
    assert [(m["lhs"], m["rhs"]) for m in merges] == [
        ("l", "o"), ("lo", "w"), (bpe.BYTE_SPACE, "low"),
    ]
    assert merges[0]["n"] == 4
    # fertility comparable shape: all words decompose, no unknowns
    total = words.select(
        F.sum(F.size("syms") * F.col("freq")).alias("t")
    ).first()["t"]
    assert total > 0


@pytest.mark.parametrize("scoring", ["count", "wordpiece"])
def test_driver_lane_equals_distributed(spark, scoring):
    # the cap-gated driver merge loop must match the distributed
    # rounds bit for bit: merges (order, counts) and the final types
    df = spark.createDataFrame(
        [(1, "low low low lower lowest newer newest new"),
         (2, "wide wider widest low new")],
        "doc_id long, text string",
    )
    types = bpe.word_types(df, "text")
    fast_m, fast_w = bpe.bpe_learn_from_types(types, 6, scoring)
    slow_m, slow_w = bpe.bpe_learn_from_types(
        types, 6, scoring, small_vocab_cap=0
    )
    assert fast_m == slow_m
    key = lambda frame: sorted(
        (r["word"], r["freq"], tuple(r["syms"])) for r in frame.collect()
    )
    assert key(fast_w) == key(slow_w)
