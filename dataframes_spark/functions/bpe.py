"""Distributed BPE merge induction (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units").

Byte-pair-encoding tokenizer training is a corpus-level ITERATIVE
computation — k rounds of "count adjacent symbol pairs, merge the most
frequent" — that production trainers run over the WORD-TYPE frequency
table, not the raw corpus. That factorization is what makes the
distributed form tractable and is kept here:

- ONE corpus scan builds ``(word, freq, syms)`` — the type relation,
  |vocabulary| rows (millions at web scale, never corpus-sized).
- Each merge round is one explode+groupBy over the type relation for
  pair counts, a 1-row ``TakeOrderedAndProject`` for the argmax (the
  single driver-side ``collect`` per round is that one row — the
  bounded model-fit exception, the PQ-codebook precedent), and a
  MAP-ONLY rewrite of the symbol arrays via a JVM higher-order fold
  (no shuffle, no Python in the row path).
- Ties break deterministically (count desc, then lexicographic
  ``(lhs, rhs)``), and the greedy left-to-right non-overlapping merge
  is a pure left fold — so the learned merge table is a pure function
  of the corpus, reproducible on any engine (the driver row replays
  every round in DuckDB via a generated unrolled-CTE oracle).

At 100 TB the corpus scan dominates and happens once; the k rounds
touch only the type relation. Rounds recount pairs from scratch
(correct and simple); the classic delta-update optimization (only
words containing the merged pair change) is a broadcast-semi-join
refinement left documented rather than implemented. For large k,
re-``persist`` the type relation every ~20 rounds to cut fold-chain
lineage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

END_MARKER = "</w>"


def word_type_counts(df: DataFrame, text_col: str) -> DataFrame:
    """``(word, freq)`` — BPE training's SUFFICIENT STATISTIC. The
    symbol sequences are a pure function of the word, so this 2-column
    relation is everything the training loop needs, and frequency
    addition makes it associatively/commutatively MERGEABLE across
    batches (`merge_type_counts`): the incremental law is
    fold-of-batches == one-shot, the DSIR count-store pattern.
    Tokenization matches `vocab_topk` (lowercased whitespace split).
    ONE corpus scan; output is vocabulary-sized."""
    toks = df.select(
        F.explode(
            F.split(
                F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))),
                r"\s+",
            )
        ).alias("word")
    ).filter(F.col("word") != "")
    return toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))


def merge_type_counts(a: DataFrame, b: DataFrame) -> DataFrame:
    """Fold two word-type count relations: per-word frequency sums.
    Associative and commutative, so any batch split of the corpus
    folds to the one-shot relation (pinned in tests and hash-verified
    by `bpe_incremental_docs` against the unsplit oracle)."""
    return (
        a.unionByName(b)
        .groupBy("word")
        .agg(F.sum("freq").alias("freq"))
    )


def types_from_counts(
    counts: DataFrame, end_marker: str = END_MARKER
) -> DataFrame:
    """Attach the initial symbol sequences (characters + end-of-word
    marker) to a count relation — map-only."""
    chars = F.expr("regexp_extract_all(word, '.', 0)")
    return counts.select(
        "word",
        "freq",
        F.concat(chars, F.array(F.lit(end_marker))).alias("syms"),
    )


def word_types(
    df: DataFrame, text_col: str, end_marker: str = END_MARKER
) -> DataFrame:
    """The BPE training relation: one row per distinct word with its
    corpus frequency and initial symbol sequence. ONE corpus scan;
    output is vocabulary-sized."""
    return types_from_counts(word_type_counts(df, text_col), end_marker)


def bytes_to_unicode() -> dict[int, str]:
    """The byte→printable-unicode remap of byte-level BPE (Radford et
    al. 2019, GPT-2; the convention every deployed byte-level
    tokenizer shares): printable latin bytes map to themselves, the
    rest shift into the U+0100.. range so every byte has a VISIBLE,
    single-character spelling. The remap is what keeps the merge
    machinery symbol-agnostic — byte symbols never contain the space
    the fold accumulator delimits on, and merged symbols stay plain
    string concatenations."""
    keep = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(0xA1, 0xAD))
        + list(range(0xAE, 0x100))
    )
    table = {b: chr(b) for b in keep}
    n = 0
    for b in range(256):
        if b not in table:
            table[b] = chr(256 + n)
            n += 1
    return table


#: the mapped space byte — byte-level BPE's word-boundary marker
#: (every word is seeded with a leading space, the add-prefix-space
#: convention, so merges can learn word-initial tokens like "Ġthe").
BYTE_SPACE = bytes_to_unicode()[0x20]


def byte_types_from_counts(counts: DataFrame) -> DataFrame:
    """Attach byte-level initial symbol sequences to a ``(word, freq)``
    count relation: UTF-8 bytes through `bytes_to_unicode`, prefixed
    with the space marker, NO end marker (the GPT-2 seeding; the char
    lane's ``</w>`` plays the opposite boundary role). Map-only; the
    hex spelling materializes as an attribute before the per-byte
    transform (higher-order lambdas re-evaluate captured expressions
    per element — the `char_ngrams` PERF WARNING)."""
    table = bytes_to_unicode()
    arr = F.array(*[F.lit(table[b]) for b in range(256)])
    hexed = counts.select(
        "word", "freq", F.hex(F.encode(F.col("word"), "UTF-8")).alias("__hx")
    )
    hx = F.col("__hx")
    # empty-word guard: F.sequence(1, 0) runs DESCENDING (the
    # char_ngrams hazard) and would fabricate [Ġ, NULL, NULL]; an
    # empty word seeds as the bare space marker on both lanes
    body = F.when(
        F.length(hx) >= 2,
        F.transform(
            F.sequence(F.lit(1), (F.length(hx) / 2).cast("int")),
            lambda i: F.element_at(
                arr,
                F.conv(hx.substr((i * 2 - 1).cast("int"), F.lit(2)), 16, 10)
                .cast("int")
                + 1,
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    syms = F.concat(F.array(F.lit(BYTE_SPACE)), body)
    return hexed.select("word", "freq", syms.alias("syms"))


def word_type_store_update(spark, table: str, batch_counts: DataFrame) -> None:
    """Fold a batch's word-type counts into a persisted store (catalog
    parquet table, `io.store.fold_store`): per-word frequency addition,
    one swap. The store is vocabulary-sized however many epochs fold
    in, and carries no configuration (the 2-column schema is
    config-free), so there is nothing to stamp. Not transactional: run
    between increments."""
    from dataframes_spark.io.store import fold_store

    fold_store(spark, table, batch_counts, merge=merge_type_counts)


def bpe_learn_from_store(
    spark, table: str, k: int, end_marker: str = END_MARKER,
    scoring: str = "count",
) -> tuple[list[dict], DataFrame]:
    """Learn ``k`` merges from a persisted word-type count store —
    tokenizer refit over ALL ingested history at vocabulary cost, no
    corpus re-scan (`dsir_fit_from_stores`' counterpart)."""
    return bpe_learn_from_counts(spark.table(table), k, end_marker, scoring)


def sym_counts(words: DataFrame) -> DataFrame:
    """Frequency-weighted symbol occurrence counts over the type
    relation: ``(sym, c)`` — the denominators of the WordPiece pair
    score. One explode + symbol-sized groupBy."""
    return (
        words.select("freq", F.explode("syms").alias("sym"))
        .groupBy("sym")
        .agg(F.sum("freq").cast("bigint").alias("c"))
    )


def pair_counts(words: DataFrame) -> DataFrame:
    """Frequency-weighted adjacent-pair counts over the type relation:
    ``(lhs, rhs, n)``. One explode + one groupBy (map-side partials);
    the exchange carries pair rows, never words."""
    n = F.size(F.col("syms"))
    pairs = words.select(
        "freq",
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.greatest(n - 1, F.lit(0))),
                F.slice(F.col("syms"), 2, F.greatest(n - 1, F.lit(0))),
                lambda x, y: F.struct(x.alias("lhs"), y.alias("rhs")),
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.lhs", "p.rhs").agg(
        F.sum("freq").cast("bigint").alias("n")
    )


def _merge_fold(syms: Column, lhs: str, rhs: str) -> Column:
    """Greedy left-to-right non-overlapping merge of ``(lhs, rhs)`` in
    one JVM left fold over the symbol array, accumulator a
    space-delimited string (symbols never contain spaces). ``"aaa"``
    with pair ``(a, a)`` folds to ``"aa a"`` — the overlap rule BPE
    specifies. The DuckDB twin is ``list_reduce`` with the identical
    CASE (seed = first element on both sides)."""
    a, b = F.lit(lhs), F.lit(rhs)
    merged = F.concat(a, b)
    folded = F.aggregate(
        F.slice(syms, 2, F.greatest(F.size(syms) - 1, F.lit(0))),
        F.element_at(syms, 1),
        lambda acc, x: F.when((acc == a) & (x == b), merged)
        .when(
            acc.endswith(F.concat(F.lit(" "), a)) & (x == b),
            F.concat(
                F.substring(acc, F.lit(1), F.length(acc) - F.length(a)),
                merged,
            ),
        )
        .otherwise(F.concat(acc, F.lit(" "), x)),
    )
    return F.split(folded, " ")


def apply_merge(words: DataFrame, lhs: str, rhs: str) -> DataFrame:
    """Rewrite the type relation's symbol arrays with one merge —
    map-only, no exchange."""
    return words.withColumn("syms", _merge_fold(F.col("syms"), lhs, rhs))


def bpe_learn(
    df: DataFrame,
    text_col: str,
    k: int,
    end_marker: str = END_MARKER,
    scoring: str = "count",
) -> tuple[list[dict], DataFrame]:
    """Learn the first ``k`` merges over the corpus. Returns
    ``(merges, words)``: the ordered merge table (each entry
    ``{"step", "lhs", "rhs", "merged", "n"}``) and the final type
    relation with merged symbol arrays. Stops early if no pair is left
    (fully merged vocabulary). ``scoring="wordpiece"`` switches the
    argmax to the likelihood-gain score (see
    `bpe_learn_from_counts`)."""
    return bpe_learn_from_counts(
        word_type_counts(df, text_col), k, end_marker, scoring
    )


def bpe_learn_from_counts(
    counts: DataFrame,
    k: int,
    end_marker: str = END_MARKER,
    scoring: str = "count",
) -> tuple[list[dict], DataFrame]:
    """The training loop over an explicit ``(word, freq)`` relation —
    the shared core of `bpe_learn` (one-shot) and `bpe_learn_from_store`
    (incremental refit).

    ``scoring`` selects the pair-argmax metric — the ONLY difference
    between the two published merge-based tokenizer trainers:

    - ``"count"`` (default): raw pair frequency — BPE (Sennrich 2016);
    - ``"wordpiece"``: the likelihood-gain score ``n / (c_lhs *
      c_rhs)`` (Schuster & Nakajima 2012 — merge the pair whose union
      most increases a unigram LM's corpus likelihood), where ``c_x``
      is the symbol's frequency-weighted occurrence count in the
      CURRENT type relation. The score is one double division of
      exact integers (the product runs in doubles: symbol counts are
      exact below 2^53 and the product rounds identically on both
      engines), so the argmax replays in DuckDB bit for bit; ties
      break (lhs, rhs) lexicographic as in the count lane. Costs one
      extra symbol-sized groupBy per round.
    """
    return bpe_learn_from_types(
        types_from_counts(counts, end_marker), k, scoring
    )


def byte_bpe_learn(
    df: DataFrame, text_col: str, k: int, scoring: str = "count"
) -> tuple[list[dict], DataFrame]:
    """Byte-level BPE (Radford et al. 2019 — the GPT-2 family, the
    most-deployed production tokenizer): the SAME merge loop over the
    SAME word-type sufficient statistic, seeded with remapped UTF-8
    bytes plus the leading space marker instead of characters plus
    ``</w>`` (`byte_types_from_counts`). No unknown token can ever
    exist — every string decomposes into bytes — which is the
    variant's whole point. Tokenization (lowercased whitespace types)
    matches the char lane so fertility is comparable at equal merge
    count."""
    return bpe_learn_from_types(
        byte_types_from_counts(word_type_counts(df, text_col)), k, scoring
    )


def bpe_learn_from_types(
    words: DataFrame,
    k: int,
    scoring: str = "count",
    small_vocab_cap: int = 65_536,
) -> tuple[list[dict], DataFrame]:
    """The merge loop proper, over an explicit ``(word, freq, syms)``
    relation — symbol-agnostic (char and byte seedings share it).

    Cap-gated driver lane (the `connected_components` small-graph
    precedent): when the TYPE relation holds at most
    ``small_vocab_cap`` rows — one bounded ``limit(cap+1).collect()``
    decides — the k merge rounds run as a plain Python loop over the
    collected types instead of k (pair-count shuffle + 1-row argmax
    job) rounds. The arithmetic is exact on both lanes (pair/symbol
    counts are ints; the WordPiece score is one IEEE double division,
    identical in Python and the JVM) and every tie order is total, so
    the lanes are bit-identical — pinned in tests/test_bpe.py and by
    the unchanged generated DuckDB oracles. Word types are BPE's
    sufficient statistic, vocabulary-sized by construction; a corpus
    whose vocabulary exceeds the cap falls through to the distributed
    loop. Pass ``small_vocab_cap=0`` to force it."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if scoring not in ("count", "wordpiece"):
        raise ValueError(f"scoring must be count|wordpiece, got {scoring!r}")
    # persist BEFORE the cap probe: on the large-vocab fall-through
    # the probe's limit+collect would otherwise compute the full type
    # relation once and throw it away (one wasted corpus aggregation,
    # exactly on the inputs where it is most expensive)
    words = words.persist()
    if small_vocab_cap:
        head = words.limit(small_vocab_cap + 1).collect()
        if len(head) <= small_vocab_cap:
            words.unpersist()
            return _learn_driver(
                words.sparkSession, head, k, scoring
            )
    merges: list[dict] = []
    for step in range(1, k + 1):
        pc = pair_counts(words)
        if scoring == "wordpiece":
            sc = sym_counts(words)
            pc = (
                pc.join(
                    sc.select(
                        F.col("sym").alias("lhs"), F.col("c").alias("__cl")
                    ),
                    "lhs",
                )
                .join(
                    sc.select(
                        F.col("sym").alias("rhs"), F.col("c").alias("__cr")
                    ),
                    "rhs",
                )
                .select(
                    "lhs",
                    "rhs",
                    "n",
                    (
                        F.col("n")
                        / (
                            F.col("__cl").cast("double")
                            * F.col("__cr").cast("double")
                        )
                    ).alias("__score"),
                )
            )
            order = [F.desc("__score"), F.asc("lhs"), F.asc("rhs")]
        else:
            order = [F.desc("n"), F.asc("lhs"), F.asc("rhs")]
        top = pc.orderBy(*order).limit(1).collect()
        if not top:
            break
        r = top[0]
        merges.append(
            {
                "step": step,
                "lhs": r["lhs"],
                "rhs": r["rhs"],
                "merged": r["lhs"] + r["rhs"],
                "n": r["n"],
            }
        )
        words = apply_merge(words, r["lhs"], r["rhs"])
    return merges, words


def _learn_driver(
    spark, rows, k: int, scoring: str
) -> tuple[list[dict], DataFrame]:
    """The merge loop on collected types — exact mirror of the
    distributed rounds (`pair_counts`/`sym_counts` aggregation,
    count-desc-then-lex / score-desc-then-lex argmax, `_merge_fold`'s
    greedy left-to-right non-overlapping rewrite)."""
    types = [(r["word"], int(r["freq"]), list(r["syms"])) for r in rows]
    merges: list[dict] = []
    for step in range(1, k + 1):
        pc: dict[tuple, int] = {}
        for _w, freq, syms in types:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + freq
        if not pc:
            break
        if scoring == "wordpiece":
            sc: dict[str, int] = {}
            for _w, freq, syms in types:
                for s in syms:
                    sc[s] = sc.get(s, 0) + freq
            # score DESC then (lhs, rhs) ASC — one IEEE double
            # division of exact ints, bit-identical to the JVM's
            best = min(
                pc.items(),
                key=lambda kv: (
                    -(kv[1] / (float(sc[kv[0][0]]) * float(sc[kv[0][1]]))),
                    kv[0],
                ),
            )
        else:
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        (lhs, rhs), n = best
        merges.append(
            {"step": step, "lhs": lhs, "rhs": rhs, "merged": lhs + rhs, "n": n}
        )
        out_types = []
        for w, freq, syms in types:
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
            out_types.append((w, freq, out))
        types = out_types
    final = spark.createDataFrame(
        types, "word string, freq bigint, syms array<string>"
    )
    return merges, final


def merge_table(spark, merges: list[dict]) -> DataFrame:
    """The learned merges as a k-row DataFrame ``(step, lhs, rhs,
    merged, n)`` — the artifact a tokenizer ships."""
    return spark.createDataFrame(
        [(m["step"], m["lhs"], m["rhs"], m["merged"], m["n"]) for m in merges],
        "step int, lhs string, rhs string, merged string, n bigint",
    )


def bpe_segment(
    df: DataFrame,
    text_col: str,
    id_col: str,
    merges: list[dict],
    end_marker: str = END_MARKER,
) -> DataFrame:
    """Apply a learned merge table to new text — the tokenizer's
    ENCODE path: per word, start from characters + marker and fold the
    merges IN LEARNED ORDER. k chained JVM folds, map-only, no shuffle;
    returns ``(id, word_index, tokens array<string>)`` one row per word
    so downstream counts stay relational."""
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
    syms = F.concat(
        F.expr("regexp_extract_all(word, '.', 0)"),
        F.array(F.lit(end_marker)),
    )
    for m in merges:
        syms = _merge_fold(syms, m["lhs"], m["rhs"])
    return toks.select(
        F.col(id_col),
        "word_index",
        syms.alias("tokens"),
    )
