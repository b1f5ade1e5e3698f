"""Unigram-LM subword tokenizer training (Kudo 2018, "Subword
regularization" — the SentencePiece unigram model), distributed: the
OTHER production tokenizer family next to BPE (`functions/bpe.py`),
sharing its factorization — everything runs over the vocabulary-sized
word-TYPE relation (`bpe.word_type_counts` / the persisted word-type
store), never the raw corpus.

Algorithm (hard-EM / Viterbi variant, chosen deliberately: the
E-step's argmax path is engine-replayable term for term, where
forward-backward's soft counts would stack orders of FP summation —
documented delta vs SentencePiece's soft EM):

1. SEED: every substring of every word type up to ``max_piece_len``,
   frequency-weighted; keep the ``seed_size`` most frequent (ties
   lexicographic) plus ALL single characters — the coverage invariant
   every later stage preserves, so Viterbi lattices are never stuck.
2. E-STEP: per word type, the max-log-prob segmentation by Viterbi DP
   over character positions — ONE JVM fold (`F.aggregate`) whose
   lattice edges come from a broadcast join of the substring-position
   relation against the current piece table; expected counts are the
   frequency-weighted piece counts of the argmax paths.
3. M-STEP: piece log-probs from counts with add-one smoothing over
   the kept vocabulary, ``lp = round(ln((c+1)/(T+V)), 6)`` — the 6dp
   QUANTIZATION is load-bearing: both engines round the same double
   to the same 6dp value (ln outputs are irrational — never at a
   rounding boundary), so every DP comparison sees bit-identical
   scores and the argmax path needs no cross-engine tolerance. Pieces
   with zero count drop (except single characters).
4. PRUNE: keep the top-``n`` pieces by (count desc, piece asc) plus
   single characters; iterate EM/prune until the vocabulary target.

Determinism: every argmax carries an explicit total tie order (DP:
score desc then smallest start; seed/prune: count desc then piece
asc), so the trained vocabulary is a pure function of the type
relation and the schedule — the driver row replays the WHOLE training
loop in DuckDB via a generated recursive-CTE oracle
(`__spark_entry__._unigram_oracle_sql`), the `bpe_merges_docs`
precedent.

Scale shape: the corpus is touched once (the type-relation scan);
every EM round is a broadcast join + map-only DP fold + one
piece-sized groupBy. Words longer than ``max_word_len`` are excluded
from TRAINING (junk control, documented); `unigram_encode` handles
any length and falls back to per-character UNK pieces for uncovered
positions.

No reference analog (the reference has no tokenizer training,
src/Table.luna); semantics follow Kudo 2018 as adapted above.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataframes_spark.functions.bpe import word_type_counts

#: log-prob charged per character for positions no piece covers
#: (encode-time robustness only; training keeps full coverage)
UNK_LP = -20.0


def substring_positions(
    types: DataFrame, max_piece_len: int = 6
) -> DataFrame:
    """``(word, freq, s, e, sub)`` — every substring occurrence of
    every word type up to ``max_piece_len`` chars (1-based inclusive
    positions): the Viterbi lattice's edge candidates and the seed
    counts' source. Vocabulary-sized × O(len × max_piece_len) rows —
    never corpus-sized."""
    ex = types.select(
        "word",
        "freq",
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("s"),
    )
    ex2 = ex.select(
        "word",
        "freq",
        "s",
        F.explode(
            F.sequence(
                F.lit(1),
                F.least(
                    F.lit(max_piece_len), F.length("word") - F.col("s") + 1
                ),
            )
        ).alias("l"),
    )
    return ex2.select(
        "word",
        "freq",
        "s",
        (F.col("s") + F.col("l") - 1).alias("e"),
        F.expr("substring(word, s, l)").alias("sub"),
    )


def seed_pieces(
    types: DataFrame, seed_size: int, max_piece_len: int = 6
) -> DataFrame:
    """The seed vocabulary ``(piece, lp)``: top ``seed_size``
    substrings by frequency-weighted occurrence count (ties: piece
    asc) UNION all single characters, log-probs add-one-normalized
    over the seed. Single characters ride the same count relation, so
    the union is a rank filter, not a second scan."""
    if seed_size < 1:
        raise ValueError(f"seed_size must be >= 1, got {seed_size}")
    counts = (
        substring_positions(types, max_piece_len)
        .groupBy(F.col("sub").alias("piece"))
        .agg(F.sum("freq").alias("cnt"))
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.orderBy(F.col("cnt").desc(), F.col("piece").asc())
    )
    kept = counts.withColumn("__rk", rk).filter(
        (F.col("__rk") <= seed_size) | (F.length("piece") == 1)
    ).drop("__rk")
    return _m_step(kept)


def _m_step(counts: DataFrame) -> DataFrame:
    """Counts → pieces with add-one-smoothed 6dp-quantized log-probs
    (module docstring step 3). The total/vocab aggregate is one row,
    broadcast back."""
    tv = counts.agg(
        F.sum("cnt").alias("__t"), F.count(F.lit(1)).alias("__v")
    )
    return counts.crossJoin(F.broadcast(tv)).select(
        "piece",
        F.col("cnt").cast("long").alias("cnt"),
        F.round(
            F.log(
                (F.col("cnt") + 1).cast("double")
                / (F.col("__t") + F.col("__v")).cast("double")
            ),
            6,
        ).alias("lp"),
    )


def _viterbi_final(word: Column, ms: Column) -> Column:
    """The DP fold: ``ms`` is the sorted array of lattice edges
    ``struct(e, s, lp)``; returns ``struct(sc, bp)`` for the full word
    — best log-prob and the space-joined piece path. Tie rule: higher
    score, then SMALLEST start (longest last piece); positions no
    edge reaches fall back to a single UNK character (never in
    training — coverage invariant)."""
    acc0 = F.array(
        F.struct(F.lit(0.0).alias("sc"), F.lit("").alias("bp"))
    )

    def step(acc, j):
        ji = j.cast("int")
        ends = F.filter(ms, lambda m: m["e"] == ji)
        cands = F.transform(
            ends,
            lambda m: F.struct(
                (F.element_at(acc, m["s"]).getField("sc") + m["lp"]).alias(
                    "sc"
                ),
                m["s"].alias("s"),
                m["lp"].alias("lp"),
            ),
        )
        best = F.aggregate(
            F.slice(cands, 2, F.greatest(F.size(cands) - 1, F.lit(0))),
            F.element_at(cands, 1),
            lambda b, c: F.when(
                (c["sc"] > b["sc"])
                | ((c["sc"] == b["sc"]) & (c["s"] < b["s"])),
                c,
            ).otherwise(b),
        )
        fallback = F.struct(
            (F.element_at(acc, ji).getField("sc") + F.lit(UNK_LP)).alias(
                "sc"
            ),
            ji.alias("s"),
            F.lit(UNK_LP).alias("lp"),
        )
        pick = F.when(F.size(ends) == 0, fallback).otherwise(best)
        entry = F.struct(
            pick["sc"].alias("sc"),
            F.concat(
                F.element_at(acc, pick["s"]).getField("bp"),
                F.lit(" "),
                word.substr(pick["s"].cast("int"), ji - pick["s"] + 1),
            ).alias("bp"),
        )
        return F.concat(acc, F.array(entry))

    dp = F.aggregate(F.sequence(F.lit(1), F.length(word)), acc0, step)
    return F.element_at(dp, F.length(word) + 1)


def viterbi_types(
    types: DataFrame, pieces: DataFrame, max_piece_len: int = 6
) -> DataFrame:
    """E-step segmentation of the type relation under ``pieces``:
    ``(word, freq, pieces array<string>, loglik)``. One broadcast join
    builds each word's lattice edges; the DP is a map-only JVM fold."""
    edges = substring_positions(types, max_piece_len).join(
        F.broadcast(pieces.select(F.col("piece").alias("sub"), "lp")),
        "sub",
    )
    agg = edges.groupBy("word").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("e"), F.col("s"), F.col("lp")))
        ).alias("__ms")
    )
    # LEFT join back to the full type relation: a word with NO covered
    # position (encode-time, wholly-unseen characters) still segments
    # via the per-position UNK fallback over an empty edge list
    ms = types.select("word", "freq").join(agg, "word", "left").withColumn(
        "__ms",
        F.coalesce(
            F.col("__ms"),
            F.array().cast("array<struct<e:int,s:int,lp:double>>"),
        ),
    )
    fin = _viterbi_final(F.col("word"), F.col("__ms"))
    return ms.select(
        "word",
        "freq",
        F.split(F.trim(fin.getField("bp")), " ").alias("pieces"),
        fin.getField("sc").alias("loglik"),
    )


def viterbi_counts(seg: DataFrame) -> DataFrame:
    """Frequency-weighted piece counts of the argmax segmentations —
    the hard-EM expected counts. Piece-sized groupBy."""
    return (
        seg.select("freq", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def _prune(counts: DataFrame, n: int) -> DataFrame:
    """Top-``n`` pieces by (count desc, piece asc) plus every single
    character present — the coverage invariant."""
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.orderBy(F.col("cnt").desc(), F.col("piece").asc())
    )
    return counts.withColumn("__rk", rk).filter(
        (F.col("__rk") <= n) | (F.length("piece") == 1)
    ).drop("__rk")


def _train_driver(
    spark,
    rows,
    schedule: Sequence,
    seed_size: int,
    max_piece_len: int,
) -> DataFrame:
    """The scheduled trainer on collected word types — exact mirror of
    the distributed stages, for the cap-gated small-vocabulary lane
    (`bpe_learn_from_types`' `_learn_driver` precedent). Bit-equality
    contract, stage for stage:

    - counts and ranks are exact ints with total tie orders;
    - the M-step's ``round(ln((c+1)/(T+V)), 6)`` mirrors Spark's
      HALF_UP-on-shortest-decimal-repr semantics via
      ``Decimal(repr(x))`` (JVM ``BigDecimal.valueOf`` IS the shortest
      repr); ``math.log`` vs the JVM's ``Math.log`` may differ in the
      last ulp for some inputs, the SAME accepted risk class as the
      DuckDB oracle's ``ln`` — 6dp quantization of irrational values
      never sits on a rounding boundary;
    - the Viterbi DP adds the identical quantized doubles in the
      identical order (edge lists sorted (e, s, lp), fold seeded with
      the first candidate, tie rule score-then-smallest-start), so
      scores and argmaxes match the JVM fold bit for bit.

    Pinned against the distributed lane in tests/test_unigram*.py and
    by the unchanged recursive-CTE DuckDB oracle."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def q6(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    types = [(r["word"], int(r["freq"])) for r in rows]

    def m_step(counts: dict) -> dict:
        t = sum(counts.values())
        v = len(counts)
        return {
            p: (c, q6(math.log((c + 1) / float(t + v))))
            for p, c in counts.items()
        }

    # seed: frequency-weighted substring counts, top-N by (cnt desc,
    # piece asc) plus every single character
    sub_counts: dict = {}
    for word, freq in types:
        n = len(word)
        for s in range(n):
            for l in range(1, min(max_piece_len, n - s) + 1):
                sub = word[s : s + l]
                sub_counts[sub] = sub_counts.get(sub, 0) + freq
    ranked = sorted(sub_counts.items(), key=lambda kv: (-kv[1], kv[0]))
    kept = {
        p: c
        for i, (p, c) in enumerate(ranked)
        if i < seed_size or len(p) == 1
    }
    pieces = m_step(kept)

    def viterbi_counts() -> dict:
        vc: dict = {}
        for word, freq in types:
            n = len(word)
            # lattice edges by end position, each list in (s, lp) order
            by_end: list = [[] for _ in range(n + 1)]
            for s in range(n):
                for l in range(1, min(max_piece_len, n - s) + 1):
                    ent = pieces.get(word[s : s + l])
                    if ent is not None:
                        by_end[s + l].append((s + 1, ent[1]))
            dp = [(0.0, [])]  # 1-based position -> (score, path)
            for j in range(1, n + 1):
                cands = [
                    (dp[s - 1][0] + lp, s, lp) for s, lp in by_end[j]
                ]
                if not cands:
                    best = (dp[j - 1][0] + UNK_LP, j, UNK_LP)
                else:
                    best = cands[0]
                    for c in cands[1:]:
                        if c[0] > best[0] or (
                            c[0] == best[0] and c[1] < best[1]
                        ):
                            best = c
                sc, s, _lp = best
                dp.append((sc, dp[s - 1][1] + [word[s - 1 : j]]))
            for piece in dp[n][1]:
                vc[piece] = vc.get(piece, 0) + freq
        return vc

    for op in schedule:
        vc = viterbi_counts()
        # coverage invariant: current single-char pieces survive at 0
        for p in pieces:
            if len(p) == 1 and p not in vc:
                vc[p] = 0
        if op == "em":
            pieces = m_step(vc)
        else:
            kind, n = op
            if kind != "prune":
                raise ValueError(f"unknown schedule op {op!r}")
            ranked = sorted(vc.items(), key=lambda kv: (-kv[1], kv[0]))
            vc = {
                p: c
                for i, (p, c) in enumerate(ranked)
                if i < n or len(p) == 1
            }
            pieces = m_step(vc)
    return spark.createDataFrame(
        [(p, c, lp) for p, (c, lp) in sorted(pieces.items())],
        "piece string, cnt bigint, lp double",
    )


def unigram_train_scheduled(
    counts: DataFrame,
    schedule: Sequence,
    seed_size: int,
    max_piece_len: int = 6,
    max_word_len: int = 48,
    small_vocab_cap: int = 65_536,
) -> DataFrame:
    """Run an EXPLICIT schedule over a ``(word, freq)`` type relation:
    each element is ``"em"`` (E-step, drop zero-count non-single
    pieces, M-step) or ``("prune", n)`` (rank cut + M-step). A static
    schedule is what makes the whole trainer oracle-replayable (the
    generated recursive-CTE twin mirrors it stage for stage). Returns
    the final piece table ``(piece, cnt, lp)``. Iteration state is
    snapshotted per stage — the eager checkpoint is LOAD-BEARING, not
    a tuning choice: each stage consumes the previous piece table in
    several branches, so a lazy persist() leaves the first action a
    2^stages-duplicated uncached lineage and the planner never returns
    (measured: the 5-stage schedule hung past 10 minutes on data that
    checkpoints in ~12 s)."""
    from dataframes_spark.operators.graph import snapshot

    types = counts.filter(F.length("word") <= max_word_len)
    # cap-gated driver lane: word types are the trainer's sufficient
    # statistic, vocabulary-sized by construction — when they fit the
    # cap (one bounded limit+collect decides), the whole schedule runs
    # as a Python loop, bit-identical (see `_train_driver`), instead
    # of ~5 checkpointed DAG stages per schedule op. Oversized
    # vocabularies fall through to the distributed stages below; pass
    # ``small_vocab_cap=0`` to force them.
    if small_vocab_cap:
        # persist before the probe: the distributed fall-through's
        # stages re-consume `types` repeatedly, and the probe's
        # limit+collect would otherwise compute-and-discard the full
        # relation once (the bpe_learn_from_types probe contract)
        types = types.persist()
        head = types.limit(small_vocab_cap + 1).collect()
        if len(head) <= small_vocab_cap:
            types.unpersist()
            return _train_driver(
                counts.sparkSession, head, schedule, seed_size,
                max_piece_len,
            )
    pieces = snapshot(seed_pieces(types, seed_size, max_piece_len))
    for op in schedule:
        if op == "em":
            seg = viterbi_types(types, pieces, max_piece_len)
            vc = viterbi_counts(seg)
            pieces = snapshot(_m_step(_keep_covered(vc, pieces)))
        else:
            kind, n = op
            if kind != "prune":
                raise ValueError(f"unknown schedule op {op!r}")
            seg = viterbi_types(types, pieces, max_piece_len)
            vc = viterbi_counts(seg)
            pieces = snapshot(_m_step(_prune(_keep_covered(vc, pieces), n)))
    return pieces


def _keep_covered(vcounts: DataFrame, pieces: DataFrame) -> DataFrame:
    """EM count relation with the coverage invariant re-applied:
    single-character pieces of the CURRENT vocabulary survive even at
    count zero (count 0 → smoothing gives them the floor prob)."""
    singles = (
        pieces.filter(F.length("piece") == 1)
        .select("piece")
        .join(vcounts, "piece", "left_anti")
        .select("piece", F.lit(0).cast("long").alias("cnt"))
    )
    return vcounts.unionByName(singles)


def unigram_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int,
    seed_size: int | None = None,
    max_piece_len: int = 6,
    max_word_len: int = 48,
    em_rounds: int = 2,
    shrink: float = 0.75,
) -> DataFrame:
    """Train from raw text: derive the type relation, build the
    standard schedule (EM, then prune by ``shrink`` toward
    ``vocab_size`` with an EM round between cuts — the SentencePiece
    outer loop), run it. ``seed_size`` defaults to 4x the target."""
    if vocab_size < 1:
        raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
    if not 0 < shrink < 1:
        raise ValueError(f"shrink must be in (0, 1), got {shrink}")
    seed_size = seed_size or 4 * vocab_size
    schedule: list = ["em"] * em_rounds
    n = seed_size
    while n > vocab_size:
        n = max(vocab_size, int(n * shrink))
        schedule.append(("prune", n))
        schedule += ["em"] * em_rounds
    return unigram_train_scheduled(
        word_type_counts(df, text_col),
        schedule,
        seed_size,
        max_piece_len,
        max_word_len,
    )


def unigram_encode(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pieces: DataFrame,
    max_piece_len: int = 6,
) -> DataFrame:
    """ENCODE new text with a trained piece table: per word the same
    Viterbi DP (uncovered positions fall back to single UNK-scored
    characters, so any input segments). Returns ``(id, word_index,
    tokens array<string>, loglik)`` — one row per word, the
    `bpe_segment` contract plus the segmentation's log-prob."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.split(
                    F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
                    r"\s+",
                ),
                lambda x: x != F.lit(""),
            )
        ).alias("word_index", "word"),
    )
    words = toks.select(F.col("word")).distinct().withColumn(
        "freq", F.lit(1).cast("long")
    )
    seg = viterbi_types(words, pieces, max_piece_len).select(
        "word",
        F.col("pieces").alias("tokens"),
        "loglik",
    )
    return toks.join(seg, "word").select(
        F.col(id_col), "word_index", "tokens", "loglik"
    )


def unigram_store_update(
    spark,
    table: str,
    pieces: DataFrame,
    max_piece_len: int = 6,
) -> None:
    """Persist a trained piece table as a catalog table ``(piece, cnt,
    lp)`` stamped with its lattice width — encode from the store can
    never run under a different width than training. REPLACES any
    prior model (models are versions, the classifier-store contract);
    crash-safe staging swap (`io.store.fold_store`)."""
    from dataframes_spark.io.store import fold_store

    fold_store(
        spark,
        table,
        pieces.select(
            "piece",
            F.col("cnt").cast("long").alias("cnt"),
            F.col("lp").cast("double").alias("lp"),
        ),
        stamp={"max_piece_len": int(max_piece_len)},
    )


def unigram_encode_from_store(
    spark,
    df: DataFrame,
    table: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Encode against the persisted model; the lattice width recovers
    from the stamp."""
    from dataframes_spark.io.store import store_stamp

    return unigram_encode(
        df,
        text_col,
        id_col,
        spark.table(table),
        max_piece_len=store_stamp(spark, table)["max_piece_len"],
    )


def fertility_report(seg: DataFrame) -> DataFrame:
    """Corpus fertility of a segmentation relation carrying ``freq``
    and ``pieces``: one row ``(n_words, n_tokens, fertility)`` —
    frequency-weighted tokens per word, the BPE-vs-unigram comparison
    number (`bpe_fertility_docs`' contract)."""
    return seg.agg(
        F.sum("freq").cast("long").alias("n_words"),
        F.sum(F.col("freq") * F.size("pieces")).cast("long").alias(
            "n_tokens"
        ),
        F.round(
            F.sum(F.col("freq") * F.size("pieces"))
            / F.sum("freq").cast("double"),
            6,
        ).alias("fertility"),
    )


def unigram_train_from_store(
    spark,
    table: str,
    schedule: Sequence,
    seed_size: int,
    max_piece_len: int = 6,
    max_word_len: int = 48,
) -> DataFrame:
    """Refit the unigram model from the persisted word-type count
    store (`functions/bpe.py word_type_store_update` — the SAME
    sufficient statistic BPE refits from, fed by the SAME
    `streaming.word_types_each_batch` gate): tokenizer retraining over
    all ingested history at vocabulary cost, no corpus re-scan. The
    count-fold law (fold-of-batches == one-shot relation) makes the
    refit equal the one-shot training on the concatenated corpus —
    pinned in tests."""
    return unigram_train_scheduled(
        spark.table(table),
        schedule,
        seed_size,
        max_piece_len,
        max_word_len,
    )


def token_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    pieces: DataFrame,
    max_piece_len: int = 6,
    max_word_len: int = 48,
) -> DataFrame:
    """Per-document TOKEN counts under a trained piece table —
    the quantity token-budgeted packing and mixture manifests actually
    need (character counts are the stand-in): ``(id, n_tokens)`` for
    every document, zero for wordless ones.

    Plan: segment the word-TYPE relation once (vocabulary-sized DP,
    `viterbi_types`), broadcast the resulting ``(word, ntok)`` map, and
    reduce each document's word stream against it — the corpus pays one
    tokenizing scan plus its (doc)-keyed count reduction; the DP never
    touches corpus-sized data. Words longer than ``max_word_len`` are
    excluded from the count, symmetric with the trainer's junk rule
    (count them separately if they matter)."""
    types = (
        df.select(
            F.explode(
                F.filter(
                    F.split(
                        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
                        r"\s+",
                    ),
                    lambda x: x != F.lit(""),
                )
            ).alias("word")
        )
        .filter(F.length("word") <= max_word_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ntok = viterbi_types(types, pieces, max_piece_len).select(
        "word", F.size("pieces").alias("__ug_ntok")
    )
    words = df.select(
        F.col(id_col).alias("__ug_id"),
        F.explode_outer(
            F.filter(
                F.split(
                    F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
                    r"\s+",
                ),
                lambda x: x != F.lit(""),
            )
        ).alias("word"),
    )
    return (
        words.join(F.broadcast(ntok), "word", "left")
        .groupBy("__ug_id")
        .agg(
            F.coalesce(F.sum("__ug_ntok"), F.lit(0)).cast("long").alias(
                "n_tokens"
            )
        )
        .select(F.col("__ug_id").alias(id_col), "n_tokens")
    )
