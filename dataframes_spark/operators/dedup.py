"""Deduplication operators for large-scale text corpora.

Beyond the reference's surface (it has no dedup at all) — these are the
operators a 100 TB training-data pipeline needs, designed shuffle-first:

- exact_dedup:      hash-groupBy on content — one shuffle on a 64-bit key.
- minhash_lsh:      shingle -> minhash signature -> banded LSH buckets ->
                    candidate pairs via a self-join on (band, bucket).
                    The only shuffle of document pairs is WITHIN buckets,
                    never the full cross product.
- simhash:          64-bit weighted fingerprint; near-dups differ in a few
                    bits; banded into 4 x 16-bit keys for candidate joins.
- ngram_jaccard:    exact Jaccard on character shingle sets for candidate
                    pairs (verification stage after LSH, or standalone on
                    small slices).
- embedding_near_dups: cosine near-dup pairs over an embedding column —
                    exact all-pairs baseline, hyperplane-LSH-bucketed
                    candidate join as the scale path.

All hashing uses built-in expressions (xxhash64 / crc32 / md5) — JVM-side,
no Python in the hot path. Every function returns a DataFrame and keeps
the pipeline lazy.
"""

from __future__ import annotations

import math

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _spread(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster's parallelism when the source scan
    cannot feed every core (e.g. one small parquet file locally) — the
    per-document shingle/hash work below is CPU-bound and would otherwise
    run on however few cores the file layout dictates.

    The guard is ``df.inputFiles()``: pure driver-side plan metadata (no
    plan->RDD conversion, no job — unlike a ``.rdd.getNumPartitions()``
    probe). Fewer files than cores triggers the repartition; at corpus
    scale the input has thousands of files and this is plan-free. The one
    imprecise corner — few-but-huge splittable files, which the scan
    would already split by maxPartitionBytes — pays a single extra
    shuffle, acceptable for a layout that pathological. Non-file inputs
    (in-memory test frames) report zero files and are left alone:
    ``createDataFrame`` already parallelizes."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        nfiles = len(df.inputFiles())
    except Exception:
        return df
    if 0 < nfiles < target:
        return df.repartition(target)
    return df


def md5_long60(c: Column) -> Column:
    """Top 60 bits of ``md5(input)`` as a non-negative BIGINT — the ONE
    engine-portable hash expression every md5-mode operator shares
    (minhash lanes, simhash bits, hyperplane components). 15 hex chars
    keep the value positive and well inside int64; the oracle twin is
    ``('0x' || substr(md5(x), 1, 15))::BIGINT``. Kept as a single
    helper because the whole oracle-twin contract rides on the two
    sides staying bit-identical."""
    return F.conv(F.substring(F.md5(c.cast("binary")), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact content value.

    GroupBy on a compound content key + min-id representative: the shuffle
    key is ~32 bytes regardless of document size, so 100 TB of text
    shuffles ~32 B x N keys plus one id column. A second semi-join pulls
    the full surviving rows without shuffling text bodies.

    The key is ``(length, xxhash64, md5)`` — 64 bits alone is NOT enough
    at corpus scale (1e10 docs -> n^2/2^65 ≈ several expected corpus-wide
    collisions, each silently deleting a distinct document); adding the
    independent 128-bit md5 pushes expected collisions below 1e-18 while
    everything stays a single JVM-side projection pass over the text.
    """
    hashed = df.withColumn(
        "__h",
        F.struct(
            F.length(F.col(text_col)).alias("len"),
            F.xxhash64(F.col(text_col)).alias("xx"),
            F.unhex(F.md5(F.col(text_col).cast("binary"))).alias("md5"),
        ),
    )
    keep = hashed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "left_semi")


def duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-duplicate group report: one row per distinct content with its
    representative id and multiplicity."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("representative_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _line_relation(df: DataFrame, text_col: str, id_col: str, sep: str) -> DataFrame:
    """``(id, __pos, __line, __lh)`` relation: one row per line of each
    document, position-stamped, with the collision-safe content key from
    ``exact_dedup`` (``(length, xxhash64, md5)`` struct — 64 bits alone is
    not enough at corpus scale, see exact_dedup's docstring). ``sep`` is a
    LITERAL separator (escaped before Spark's regex ``split``)."""
    import re as _re

    lines = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), _re.escape(sep))
        ).alias("__pos", "__line"),
    )
    return lines.withColumn(
        "__lh",
        F.struct(
            F.length("__line").alias("len"),
            F.xxhash64("__line").alias("xx"),
            F.unhex(F.md5(F.col("__line").cast("binary"))).alias("md5"),
        ),
    )


def repeated_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Report of lines (``sep``-delimited segments) that appear in at least
    ``min_docs`` DISTINCT documents: ``(line, n_docs, n_occurrences)``.

    Line-level exact substring dedup is the standard boilerplate-removal
    pass of web-corpus pipelines (CCNet / RefinedWeb strip repeated lines
    — headers, footers, nav bars — before document-level dedup). The
    reference has no dedup at all; this extends the training-pipeline
    family (SURVEY §2.14).

    Scale: the report's output must carry the line text anyway, so the
    groupBy key IS the line (string grouping keys stay inside
    HashAggregate; putting the text in the aggregation BUFFER instead —
    e.g. ``min(line)`` keyed by hash — demotes the whole aggregation to
    SortAggregate and sorts the exploded corpus). Map-side partial
    aggregation still reduces the shuffle to one row per distinct
    (line, id) per partition. Blank lines (empty after trim) are
    structure, not content, and are never reported.

    Precondition (shared with ``strip_repeated_lines``): ``id_col`` must
    be NON-NULL — ``count_distinct`` skips nulls, so lines shared only
    among null-id documents would undercount and never cross the
    ``min_docs`` bar.
    """
    lines = _line_relation(_spread(df), text_col, id_col, sep)
    return (
        lines.filter(F.trim("__line") != "")
        .groupBy(F.col("__line").alias("line"))
        .agg(
            F.count_distinct("__id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("line", "n_docs", "n_occurrences")
    )


def strip_repeated_lines(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """Rebuild each document with every line that occurs in at least
    ``min_docs`` distinct documents removed (CCNet/RefinedWeb-style
    boilerplate stripping). Keeps all other columns; a document whose
    every line is stripped survives with empty text. Line order is
    preserved. Blank lines are structure, not content: they are kept and
    never counted toward duplication.

    Plan shape (explain-audited): the line relation is evaluated twice —
    once under the duplicated-line aggregate (groupBy on the 32 B
    content key, map-side partial agg, no text wider than one distinct
    line per partition shuffles) and once as the flag-join probe (Spark
    shares no common subtree across the two branches, so the source
    scans+explodes twice per action); the flagging join is on that same
    key against a relation that is small by construction (only lines
    crossing the ``min_docs`` bar) — AQE broadcasts it in practice; one
    groupBy(id) rebuilds the text; one id-equi-join restores the
    untouched columns. No step is quadratic and nothing collects to the
    driver.

    Precondition: ``id_col`` must be NON-NULL and UNIQUE per document —
    the same contract as ``merge.upsert``. A null id never matches the
    rebuild join (the document would vanish); duplicate ids would merge
    both documents' lines into one rebuilt text.
    """
    lines = _line_relation(_spread(df), text_col, id_col, sep)
    common = (
        lines.filter(F.trim("__line") != "")
        .groupBy("__lh")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__lh", F.lit(True).alias("__dup"))
    )
    flagged = lines.join(common, "__lh", "left")
    rebuilt = flagged.groupBy("__id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.filter(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__line", "__dup"))
                    ),
                    lambda s: s["__dup"].isNull(),
                ),
                lambda s: s["__line"],
            ),
        ).alias("__stripped")
    )
    out = df.join(rebuilt.withColumnRenamed("__id", id_col), id_col, "inner")
    return out.select(
        *[
            F.col("__stripped").alias(c) if c == text_col else F.col(c)
            for c in df.columns
        ]
    )


def _token_window_relation(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> tuple[DataFrame, DataFrame]:
    """Token-stream relations for duplicated-span dedup.

    Returns ``(tokens, windows)``:

    - ``tokens``: ``(__id, __rtoks)`` — raw whitespace tokens per
      document (``split(trim(text), '\\s+')``). Positions in this array
      are the coordinate system every span refers to.
    - ``windows``: ``(__id, __pos, __wh)`` — md5 of every sliding
      ``n``-token window of the LOWERCASED token stream; ``__pos`` is
      the 0-based index of the window's first token. Documents shorter
      than ``n`` tokens contribute no windows.

    The lowered token array is materialized in its own projection before
    the per-window transform (same HOF re-evaluation pitfall documented
    at `_shingles_of_norm`). Window tokens are joined on ``\\x1f`` before
    hashing so token boundaries cannot alias (``"ab c"`` vs ``"a bc"``).
    """
    tokens = _spread(df).select(
        F.col(id_col).alias("__id"),
        F.split(
            F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"
        ).alias("__rtoks"),
    )
    lowered = tokens.select(
        "__id", F.transform("__rtoks", lambda t: F.lower(t)).alias("__toks")
    )
    windows = lowered.filter(F.size("__toks") >= n).select(
        "__id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - F.lit(n - 1)),
                lambda i: F.md5(F.concat_ws("\x1f", F.slice("__toks", i, n))),
            )
        ).alias("__pos", "__wh"),
    )
    return tokens, windows


def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated token spans, report form: maximal token
    ranges covered by length-``n`` windows that appear in at least
    ``min_docs`` DISTINCT documents. Returns
    ``(id_col, span_start, span_end, n_windows)`` where the span bounds
    are 0-based INCLUSIVE indexes into the document's whitespace token
    array and ``n_windows`` counts the duplicated windows merged into
    the span.

    This is the token-level half of exact-substring training-data dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): their suffix-array ExactSubstr pass marks any >=50-token
    run shared verbatim across the corpus. A suffix array is a global,
    memory-resident structure with no distributed construction on a
    shuffle engine; the standard scale form is the one here — hash every
    sliding ``n``-token window, keep windows whose hash recurs, and
    merge overlapping/adjacent survivors into maximal spans (any shared
    run of length >= n is covered end-to-end by its length-``n``
    windows, so the merged span recovers it exactly; runs shorter than
    ``n`` are below the dedup threshold by definition). Casing is
    ignored for matching (windows hash the lowercased stream) but span
    coordinates index the raw tokens. The reference has no dedup surface
    (SURVEY §2.14); this extends the training-pipeline family alongside
    the line-level pass (`repeated_lines` — fixed structural segments)
    and document-level `exact_dedup`/`near_dup_pairs`.

    Scale: tokenize + window-hash is map-only JVM work; the exploded
    window relation is one row per token (the same volume every shingle
    pass here carries). One groupBy on the 32 B window hash (map-side
    partial agg) finds recurring windows; the semi join back is on that
    same key; the merge is two window passes partitioned by document —
    no step depends on corpus-squared anything, and no text wider than
    one window ever shuffles. Skew note: a window shared by MANY
    documents (classic boilerplate) fans out only in the semi-join
    probe, one row per (doc, pos) — the same rows the report must carry.

    Preconditions (shared with `strip_repeated_lines`): ``id_col``
    non-null; ``min_docs >= 2`` and ``n >= 2`` (``n = 1`` would hash
    bare tokens and flag every shared word).
    """
    if n < 2:
        raise ValueError(f"need n >= 2, got n={n}")
    _, win = _token_window_relation(df, text_col, id_col, n)
    dup = (
        win.groupBy("__wh")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("__wh")
    )
    hits = win.join(dup, "__wh", "leftsemi")
    return _merge_hit_windows(hits, id_col, n)


def _merge_hit_windows(hits: DataFrame, id_col: str, n: int) -> DataFrame:
    """Merge a ``(__id, __pos)`` duplicated-window relation into maximal
    spans: two window passes partitioned by document (gaps-and-islands).
    """
    w = Window.partitionBy("__id").orderBy("__pos")
    # Windows at p1 < p2 merge when their [p, p+n-1] ranges overlap or
    # touch (p2 <= p1 + n); window starts are unique per doc, so the
    # running max end is lag(pos) + n - 1 and one lag suffices.
    brk = F.when(
        F.col("__pos") - F.lag("__pos").over(w) <= n, F.lit(0)
    ).otherwise(F.lit(1))
    return (
        hits.withColumn("__brk", brk)
        .withColumn(
            "__sid",
            F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("__id", "__sid")
        .agg(
            F.min("__pos").cast("bigint").alias("span_start"),
            (F.max("__pos") + F.lit(n - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            F.col("__id").alias(id_col), "span_start", "span_end", "n_windows"
        )
    )


def span_window_hashes(
    df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """Distinct window-hash relation ``(wh)`` of a corpus or batch — the
    persistable STORE for `duplicate_spans_incremental` (one 32 B md5
    per distinct ``n``-token window ever seen, no text, no positions).
    Persist with ``io.bucketed.write_span_store`` (bucketed by ``wh``):
    the incremental probe joins on exactly that key, so the store side
    never reshuffles. Store size is bounded by corpus tokens (md5's
    128 bits keep the collision budget negligible at trillions of
    windows, where a 64-bit key would saturate)."""
    _, win = _token_window_relation(df, text_col, id_col, n)
    return win.select(F.col("__wh").alias("wh")).distinct()


def duplicate_spans_incremental(
    new_df: DataFrame,
    seen_windows: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Incremental duplicated-span dedup: which token spans of an
    arriving batch duplicate anything the corpus has ALREADY seen —
    without re-hashing history. Returns ``(spans, updated_windows)``:

    - ``spans`` — `duplicate_spans`-shaped rows for BATCH documents; a
      window counts as duplicated if its hash is in the historical
      ``seen_windows`` store (>=1 prior document) OR in >=2 distinct
      batch documents. With the store built from all prior batches this
      equals the batch-restricted rows of batch-mode
      ``duplicate_spans(history ∪ batch, min_docs=2)`` — the law the
      unit suite pins over arbitrary splits.
    - ``updated_windows`` — the store plus the batch's distinct NEW
      hashes, ready to persist for the next increment. No ``.distinct``
      on the union: the anti join makes the sides provably disjoint and
      each is internally distinct — a distinct here would re-shuffle
      the FULL store every increment (the `exact_dedup_incremental`
      rule).

    Scale shape: the batch is tokenized/hashed once (map-only); history
    participates in exactly TWO joins keyed solely on ``wh`` (the probe
    semi join and the store-update anti join), both satisfied as-scanned
    by a ``wh``-bucketed store (``io.bucketed.write_span_store``) — the
    store never reshuffles, so per-batch cost is O(batch + matching
    buckets) however large history grows. The in-batch rule reuses the
    batch's own window relation (batch-sized groupBy), and the span
    merge runs on hit windows only.
    """
    if n < 2:
        raise ValueError(f"need n >= 2, got n={n}")
    _, win = _token_window_relation(new_df, text_col, id_col, n)
    in_batch = (
        win.groupBy("__wh")
        .agg(F.count_distinct("__id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("__wh")
    )
    # two semi joins (NOT a union of the store into the batch probe —
    # that would re-shuffle full history through a distinct every
    # increment); the union of the two hit relations is hit-sized and
    # its distinct collapses windows flagged by both rules. The store
    # side joins UNPROJECTED (explicit condition, no rename) so a
    # wh-bucketed scan's output partitioning survives to the join.
    hits = (
        win.join(in_batch, "__wh", "leftsemi")
        .select("__id", "__pos")
        .unionByName(
            win.join(
                seen_windows, win["__wh"] == seen_windows["wh"], "leftsemi"
            ).select("__id", "__pos")
        )
        .distinct()
    )
    spans = _merge_hit_windows(hits, id_col, n)
    # anti join BEFORE the distinct: a distinct-first batch side carries
    # its own Exchange(wh, shuffle.partitions), which the planner then
    # reuses for the join and RESHUFFLES THE STORE to match (the
    # bucketed scan reads "disabled by query planner"); joining the raw
    # window relation forces the batch side to shuffle to the store's
    # bucketing instead, and the post-join distinct inherits that
    # partitioning — same rows, zero history movement
    fresh = (
        win.select(F.col("__wh").alias("wh"))
        .join(seen_windows, "wh", "left_anti")
        .distinct()
    )
    return spans, seen_windows.unionByName(fresh)


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Rebuild each document with every cross-document duplicated token
    span (as reported by `duplicate_spans`) removed — the rewrite half
    of ExactSubstr dedup (Lee et al. 2022 cut the duplicated spans and
    keep the remainder, rather than dropping whole documents). Keeps all
    other columns; a document whose every token sits in a duplicated
    span survives with empty text.

    The rewrite operates on the whitespace TOKEN stream: surviving raw
    tokens (original casing) are rejoined with single spaces, so runs of
    whitespace fold — the same normalization contract the matching
    domain uses. Token order is preserved.

    Plan shape: `duplicate_spans`'s relation (window-hash groupBy + semi
    join + per-doc merge) feeds a groupBy(id) that collects each doc's
    span list — bounded by spans-per-doc, never tokens — and ONE
    id-equi-join attaches it to the token relation; the surviving-token
    fold is a JVM higher-order filter (no explode of the corpus on the
    rebuild side). Nothing collects to the driver.

    Preconditions: ``id_col`` non-null and UNIQUE per document (the
    `strip_repeated_lines` / `merge.upsert` contract).
    """
    spans = duplicate_spans(df, text_col, id_col, n=n, min_docs=min_docs)
    return apply_span_removal(df, spans, text_col, id_col, n=n)


def apply_span_removal(
    df: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
) -> DataFrame:
    """Rewrite ``df`` cutting the given `duplicate_spans`-shaped spans
    out of each document's whitespace token stream — the rewrite half of
    `strip_duplicate_spans`, reusable with spans from ANY discovery pass
    (batch, incremental store probe, streaming micro-batch). Same
    contract: surviving raw tokens rejoined with single spaces, all
    other columns kept, span-free documents pass through unchanged
    (modulo whitespace folding)."""
    tokens, _ = _token_window_relation(df, text_col, id_col, n)
    per_doc = spans.groupBy(F.col(id_col).alias("__id")).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    rebuilt = tokens.join(per_doc, "__id", "left").select(
        "__id",
        F.concat_ws(
            " ",
            F.transform(
                F.filter(
                    F.transform(
                        "__rtoks",
                        lambda t, i: F.struct(t.alias("t"), i.alias("i")),
                    ),
                    # exists() over a doc with no spans is null -> keep.
                    lambda s: ~F.coalesce(
                        F.exists(
                            "__spans",
                            lambda sp: (s["i"] >= sp["span_start"])
                            & (s["i"] <= sp["span_end"]),
                        ),
                        F.lit(False),
                    ),
                ),
                lambda s: s["t"],
            ),
        ).alias("__stripped"),
    )
    out = df.join(rebuilt.withColumnRenamed("__id", id_col), id_col, "inner")
    return out.select(
        *[
            F.col("__stripped").alias(c) if c == text_col else F.col(c)
            for c in df.columns
        ]
    )


def _norm_text(text_col: str) -> Column:
    """Lowercased, whitespace-folded view of a text column."""
    return F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))


def _shingles_of_norm(norm_col: str, k: int) -> Column:
    """Distinct k-shingles of an ALREADY-NORMALIZED string column.

    The normalization must be materialized in its own projection first:
    a higher-order-function lambda re-evaluates every outer expression it
    captures PER ELEMENT, so shingling the raw ``lower(regexp_replace(
    ...))`` expression would run the regex once per shingle — measured
    ~10x the cost of the whole stage on real documents.
    """
    norm = F.col(norm_col)
    n = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: norm.substr(i, F.lit(k)))
    )


def shingled(df: DataFrame, text_col: str, id_col: str, k: int = 5) -> DataFrame:
    """``(id, sh)`` relation: distinct k-shingle array per document, with
    the normalization materialized before the per-shingle transform."""
    return df.select(
        F.col(id_col).alias("id"), _norm_text(text_col).alias("__norm")
    ).select("id", _shingles_of_norm("__norm", k).alias("sh"))


def shingle_ngrams(text_col: str, k: int = 5) -> Column:
    """Distinct character k-shingle array (lowercased, whitespace folded).

    Single-expression form for composing into one projection; prefer
    :func:`shingled` in operator pipelines — it materializes the
    normalization first (see :func:`_shingles_of_norm`).
    """
    norm = F.lower(F.regexp_replace(F.col(text_col), r"\s+", " "))
    n = F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: norm.substr(i, F.lit(k)))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_k: int = 5,
    lane_hash: str = "xxhash64",
) -> DataFrame:
    """Per-document minhash signature: ``min over shingles of
    ((2i+1) * hash(shingle) + 7919*(i+1) mod p)`` for ``num_hashes``
    independent affine hash functions (p = 2^31-1 keeps a*h+b inside
    int64; coefficients are deterministic, seed-free).

    ``lane_hash`` picks the base shingle hash:

    - ``"xxhash64"`` (default) — Spark's native 64-bit hash, the fast
      path; not reproducible outside Spark.
    - ``"md5"`` — the top 60 bits of ``md5(shingle)`` parsed from hex
      (still a JVM-side expression). ~2x the hash cost, but md5 is a
      universal standard, so the ENTIRE signature arithmetic becomes
      reproducible in any engine (the DuckDB oracle twin runs the
      identical formula) — the verification mode; signatures are NOT
      comparable across modes.

    Shingle hashing stays JVM-side; the (shingles x lanes)
    min-reduction runs as an Arrow-batched pandas UDF — one numpy
    broadcast-multiply + ``min(axis=0)`` per document. The pure
    expression formulation (a ``zip_with`` fold carrying a running-min
    array) allocates a ``num_hashes``-element array PER SHINGLE and was
    measured ~10x slower at 128 lanes; this is the sanctioned
    vectorized-UDF escape hatch, not a row-at-a-time Python UDF.
    No shuffle at this stage; embarrassingly parallel per document."""
    if lane_hash == "xxhash64":
        hash_one = lambda s: F.xxhash64(s)  # noqa: E731
    elif lane_hash == "md5":
        hash_one = md5_long60
    else:
        raise ValueError(f"lane_hash must be 'xxhash64' or 'md5', got {lane_hash!r}")
    base = shingled(_spread(df), text_col, id_col, shingle_k).select(
        "id", F.transform("sh", hash_one).alias("sh")
    )
    sig = _minhash_sig_udf(num_hashes)
    return base.select(F.col("id").alias(id_col), sig(F.col("sh")).alias("signature"))


def _minhash_sig_udf(num_hashes: int):
    """Arrow-batched signature kernel: int64-exact twin of the affine
    formula above (numpy ``%`` and Spark ``pmod`` agree for a positive
    modulus; ``h < 2^31`` and ``a <= 2*num_hashes-1`` keep products well
    inside int64)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    p = (1 << 31) - 1
    a = np.arange(num_hashes, dtype=np.int64) * 2 + 1
    b = (np.arange(num_hashes, dtype=np.int64) + 1) * 7919

    @pandas_udf("array<bigint>")
    def sig(sh: pd.Series) -> pd.Series:
        out = []
        for arr in sh:
            h = np.asarray(arr, dtype=np.int64) % p
            if h.size == 0:
                out.append(np.full(num_hashes, p, dtype=np.int64))
            else:
                out.append(((h[:, None] * a[None, :] + b[None, :]) % p).min(axis=0))
        return pd.Series(out)

    return sig


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    lane_hash: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    Signature split into ``bands`` bands of ``num_hashes/bands`` rows; a
    pair colliding in ANY band becomes a candidate. The join is a
    shuffle on (band_id, band_hash) — documents only meet inside a bucket,
    so the cross product never materializes. AQE's skew-join handles the
    pathological all-identical-docs bucket.

    ``lane_hash`` follows ``minhash_signatures``: ``"xxhash64"`` is the
    fast path (band buckets are an xxhash64 of the band slice, compact
    at scale, not reproducible outside Spark); ``"md5"`` is the
    verification mode — lane hashes come from md5 AND the band bucket is
    the band slice ITSELF (serialized), so bucket grouping is exact
    value equality and any engine reproduces the identical candidate
    set (no hash-collision delta is even possible).

    Returns (id_a, id_b) with id_a < id_b; verify with ``jaccard_verify``.
    """
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, lane_hash=lane_hash
    ).select(F.col(id_col).alias("id"), "signature")
    return _banded_pairs(sigs, num_hashes, bands, exact_buckets=lane_hash == "md5")


def _bucket_pair_expand(banded: DataFrame) -> DataFrame:
    """Distinct candidate pairs from an ``(id, band, bucket)`` relation.

    ONE shuffle: gather each bucket's members with a groupBy-collect,
    expand in-bucket pairs with nested array transforms (JVM-side),
    explode. A self-join on (band, bucket) would shuffle the banded
    relation — and recompute whatever expensive fingerprint feeds it —
    twice; this path evaluates the input once. Buckets hold only
    colliding docs, so member lists stay small; a pathological
    all-identical corpus concentrates in one bucket, which exact_dedup
    upstream is expected to collapse."""
    ids = F.sort_array(F.col("ids"))
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda a, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.id_a", "p.id_b")
        # duplicate ids in the input (a non-key id column) would pair
        # with themselves under the positional expansion; filter the
        # degenerate (x, x) pairs — the strictness a join formulation
        # got from its `<` condition
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )


def _banded_relation(
    sigs: DataFrame, num_hashes: int, bands: int, exact_buckets: bool = False
) -> DataFrame:
    """``(id, band, bucket)`` relation from a (id, signature) relation —
    the banding step of LSH, exposed flat so it can be PERSISTED as an
    incremental-candidate store (see :func:`lsh_bucket_store`).

    Bands are generated from ONE reference to the signature (transform
    over a band-index sequence) — a per-band literal array would inline
    the whole signature fold once per band after projection collapse.

    ``exact_buckets`` swaps the compact xxhash64 band bucket for the
    serialized band slice itself: grouping becomes exact value equality
    (no collision-induced extra candidates), and — because serialization
    is plain comma-joined decimal — any engine reproduces the identical
    bucket key, which is what makes the md5 verification lane of
    ``minhash_lsh_pairs`` cross-engine hash-checkable.

    Bucket values are deterministic and seed-free (affine coefficients
    are fixed; the base hash is xxhash64 or md5 of the shingle), so
    buckets computed in DIFFERENT runs are comparable — the property
    the incremental store depends on."""
    rows_per_band = num_hashes // bands

    def bucket_of(b):
        sl = F.slice(
            F.col("signature"), b * rows_per_band + 1, F.lit(rows_per_band)
        )
        if exact_buckets:
            return F.array_join(F.transform(sl, lambda x: x.cast("string")), ",")
        return F.xxhash64(sl)

    return sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(b.alias("band"), bucket_of(b).alias("bucket")),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _banded_pairs(
    sigs: DataFrame, num_hashes: int, bands: int, exact_buckets: bool = False
) -> DataFrame:
    """Banded-LSH candidate pairs from a (id, signature) relation: band
    (see :func:`_banded_relation`), then expand in-bucket pairs."""
    return _bucket_pair_expand(_banded_relation(sigs, num_hashes, bands, exact_buckets))


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 4,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via shingle co-occurrence.

    Plan shape (2 shuffles, no arrays cross a shuffle, no driver state):

    1. explode each document's distinct shingle set to (id, shingle-hash)
       rows — the shingle is collapsed to ``xxhash64`` *before* the
       shuffle, so shuffle rows are 16 bytes regardless of shingle text;
    2. self-join on the hash and count co-occurrences per (id_a, id_b)
       with a map-side-combining groupBy — this yields the exact
       ``|A ∩ B|`` directly, no candidate/verify round trip;
    3. join per-doc set sizes (an aggregate a fraction of the corpus
       size) and compute ``|A∩B| / (|A| + |B| - |A∩B|)``.

    Cost is Σ_g df(g)² over shingles — exact all-pairs similarity is
    inherently quadratic in co-occurring documents, so this operator is
    the *verification-grade* path. For corpus-scale near-dup detection
    use ``near_dup_pairs`` (MinHash-LSH candidates + this metric applied
    only to candidates), which touches O(near-dups) pairs instead of
    O(co-occurring) pairs.
    """
    t = float(min_jaccard)
    sh = shingled(_spread(df), text_col, id_col, shingle_k)
    ex = sh.select(
        "id", F.explode(F.transform("sh", lambda s: F.xxhash64(s))).alias("g")
    )
    sizes = sh.select("id", F.size("sh").alias("n"))
    co = (
        ex.alias("a")
        .join(ex.alias("b"), (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        co.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    if t > 0:
        out = out.filter(F.col("jaccard") >= t)
    return out


def jaccard_verify(
    candidates: DataFrame,
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 4,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact Jaccard for an explicit (id_a, id_b) candidate list.

    Joins each side's distinct shingle set onto the candidate pairs and
    intersects JVM-side (``array_intersect``). Cost is O(candidates),
    so the pair set — not the corpus — bounds the work; this is the
    verify stage behind ``near_dup_pairs``.

    Sets are collapsed to ``xxhash64(shingle)`` long arrays before the
    join: the intersect then hashes 8-byte longs instead of shingle
    strings (~10x cheaper per pair) and the shuffled rows shrink the
    same way. 64-bit hashing is collision-free for any realistic
    per-document set cardinality (birthday bound ~n^2/2^64), so the
    intersection count — and the Jaccard — is exact. Candidates are
    rebalanced across the cluster first: they typically arrive from a
    distinct/aggregate whose output AQE coalesces to a few small
    partitions, which would serialize the intersect work."""
    sets = shingled(_spread(df), text_col, id_col, shingle_k).select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh")
    )
    cand = candidates.repartition(
        candidates.sparkSession.sparkContext.defaultParallelism
    )
    return _verify_pairs(cand, sets, min_jaccard)


def _verify_pairs(
    candidates: DataFrame, sets: DataFrame, min_jaccard: float
) -> DataFrame:
    """Exact-Jaccard scoring of an (id_a, id_b) relation against a
    hashed shingle-set relation ``(id, sh)`` — the ONE definition of the
    verify stage, shared by :func:`jaccard_verify` and
    :func:`near_dup_pairs` so the intersect/metric arithmetic cannot
    drift between them.

    Plain equi-joins: the shingle relation scales WITH THE CORPUS, so it
    must never be forced broadcast (a driver collect of the corpus);
    AQE broadcasts the genuinely-small side adaptively when one exists."""
    out = (
        candidates.join(
            sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")),
            "id_b",
        )
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.col("n_common")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    if min_jaccard > 0:
        out = out.filter(F.col("jaccard") >= min_jaccard)
    return out


def near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_jaccard: float = 0.8,
    num_hashes: int = 128,
    bands: int = 16,
    shingle_k: int = 4,
) -> DataFrame:
    """Corpus-scale near-duplicate detection: MinHash-LSH candidate
    generation + exact Jaccard verification of candidates only.

    This is the 100 TB path: candidate volume scales with the number of
    true near-duplicates (each band bucket holds only colliding docs),
    not with the number of co-occurring pairs, and the verify stage is
    O(candidates). Recall for a pair at similarity s is
    ``1 - (1 - s^(num_hashes/bands))^bands`` — the 128-hash/16-band
    default (8 rows per band) puts the S-curve threshold near 0.8:
    99.9% recall at s = 0.88, while pairs at the corpus's background
    similarity (~0.45) collide with probability < 3%, keeping the
    candidate set near the true near-dup count. Precision is exact:
    every emitted pair is verified with the true metric.

    The call is EAGER: it executes the pipeline at call time, persists
    the (tiny, true-near-dup-sized) result, and releases the
    corpus-sized shingle cache before returning; the caller owns
    ``.unpersist()`` of the returned frame. Executing once populates the
    shingle cache before its five consumer stages fan out — a lazy plan
    made them race to populate the still-empty cache, recomputing the
    scan (~2x wall clock)."""
    # one hashed shingle-set relation feeds BOTH the signature fold and the
    # verify joins; persisted because three consumers would otherwise each
    # re-scan the corpus and re-shingle (MEMORY_AND_DISK: ~8B per distinct
    # shingle per doc, spills instead of evicting under pressure)
    from pyspark import StorageLevel

    sets = (
        shingled(_spread(df), text_col, id_col, shingle_k)
        .select("id", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sigs = sets.select(
        "id", _minhash_sig_udf(num_hashes)(F.col("sh")).alias("signature")
    )
    cand = _banded_pairs(sigs, num_hashes, bands)
    # Stage 1 — signature prefilter: estimated jaccard = fraction of
    # agreeing minhash lanes, compared per pair with one zip_with over the
    # (tiny, broadcast) signature relation. A band collision only proves
    # ONE band agrees; most candidates sit far below the threshold and
    # die here for ~128 integer compares instead of a set intersection.
    # The margin (threshold - 0.2) is ~5 sigma of the 128-lane estimator
    # at j = threshold, so true pairs pass with certainty ~1-1e-7.
    est_cut = max(min_jaccard - 0.2, 0.0)
    agree = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda a, b: F.when(a == b, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    prefiltered = (
        cand.join(
            sigs.select(F.col("id").alias("id_a"), F.col("signature").alias("sig_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col("id").alias("id_b"), F.col("signature").alias("sig_b")),
            "id_b",
        )
        .filter(agree >= F.lit(int(est_cut * num_hashes)))
        .select("id_a", "id_b")
    )
    # Stage 2 — exact verification of the survivors only (the shared
    # _verify_pairs definition; min_jaccard > 0 always holds here so the
    # threshold filter is applied inside).
    pairs = _verify_pairs(prefiltered, sets, min_jaccard).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pairs.count()
    sets.unpersist()
    return pairs


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 4,
    num_bits: int = 64,
    lane_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint: per shingle hash, each bit votes +1/-1; the
    sign of each bit-sum forms the fingerprint. Near-duplicate texts
    land within small Hamming distance.

    One fold over the shingle hashes with a ``num_bits``-lane vote-array
    accumulator (``zip_with`` update), then one fold over the vote array
    to pack sign bits — the shingle hashes are evaluated exactly once
    (independent per-bit aggregates would rescan them per bit; Catalyst
    does not CSE across higher-order functions).

    ``lane_hash="md5"`` draws bits from the top 60 bits of
    ``md5(shingle)`` (so ``num_bits <= 60``): a universal hash any
    engine can recompute — the DuckDB oracle behind
    ``simhash_fingerprints_md5`` reruns the identical vote/pack
    arithmetic. xxhash64 stays the perf default; fingerprints are NOT
    comparable across modes."""
    if lane_hash == "xxhash64":
        hash_one = lambda s: F.xxhash64(s)  # noqa: E731
    elif lane_hash == "md5":
        if num_bits > 60:
            raise ValueError("md5 mode exposes 60 hash bits; num_bits <= 60")
        hash_one = md5_long60
    else:
        raise ValueError(f"lane_hash must be 'xxhash64' or 'md5', got {lane_hash!r}")
    if not 1 <= num_bits <= 64:
        raise ValueError(f"num_bits must be in [1, 64], got {num_bits}")
    base = shingled(_spread(df), text_col, id_col, shingle_k)
    hashes = F.transform(F.col("sh"), hash_one)
    # literal per-bit masks (bit 63 = int64 sign bit)
    masks = F.array(
        *[
            F.lit((1 << b) if b < 63 else -(1 << 63)).cast("long")
            for b in range(num_bits)
        ]
    )
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), num_bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return base.select(F.col("id").alias(id_col), fingerprint.alias("simhash"))


def simhash_candidates(df: DataFrame, text_col: str, id_col: str, shingle_k: int = 4) -> DataFrame:
    """Candidate pairs whose SimHash collides in any 16-bit band (Hamming
    distance <= 3 guaranteed to collide in at least one of 4 bands).

    The banded relation flows through the same single-shuffle
    groupBy-collect pair expansion as MinHash LSH
    (:func:`_bucket_pair_expand`): the fingerprint — a full shingle fold
    per document — is computed ONCE and the banded rows shuffle once,
    where the previous self-join formulation evaluated both twice."""
    fp = simhash(df, text_col, id_col, shingle_k)
    banded = fp.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), 16 * b)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("bucket"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    return _bucket_pair_expand(banded)


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    num_planes: int = 0,
    seed: int = 42,
    n_blocks: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a, id_b, cosine)``
    with ``id_a < id_b`` and ``cosine >= threshold``.

    ``num_planes = 0`` is the exact all-pairs form, computed as a BLOCKED
    MATMUL: ids hash into ``n_blocks`` blocks, every unordered block pair
    becomes one task, each vector is shuffled to the ``n_blocks`` tasks
    that need it, and an Arrow-batched ``applyInPandas`` runs one numpy
    ``A @ B.T`` per task. Shuffle volume is O(N x n_blocks) rows — never
    the N^2 pair relation — and the quadratic dot-product work runs at
    BLAS speed instead of per-pair expression evaluation. Still
    inherently quadratic in compute: the correct-baseline / verification
    stage, not the 100 TB discovery path.

    ``num_planes > 0`` is that scale path: random-hyperplane LSH buckets
    the corpus first and pairs only meet inside a bucket. Recall is < 1
    for pairs straddling a hyperplane — raise recall by lowering
    ``num_planes`` (bigger buckets) or unioning several seeds.
    """
    from dataframes_spark.operators.similarity import _dot, _norm, hyperplane_buckets

    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    if num_planes > 0:
        # (vec, nrm) with norms divided out per pair — a unit-normalize
        # transform re-evaluates its captured norm per element
        # (O(d^2)/row; see similarity._unit)
        base = hyperplane_buckets(df, vec_col, id_col, num_planes, seed)
        prepped = base.select(
            F.col(id_col).alias("id"),
            F.col("bucket"),
            vd.alias("vec"),
            _norm(vd).alias("nrm"),
        )
        cond = (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id"))
        return (
            prepped.alias("a")
            .join(prepped.alias("b"), cond)
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                (
                    _dot(F.col("a.vec"), F.col("b.vec"))
                    / (F.col("a.nrm") * F.col("b.nrm"))
                ).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
        )

    if n_blocks is None:
        n_blocks = max(4, df.sparkSession.sparkContext.defaultParallelism // 2)
    import pandas as pd

    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )
    block = F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
    # replicate each vector to every task (bi, bj) touching its block
    tasks = F.array(
        *[
            F.struct(
                F.least(F.col("__b"), F.lit(j)).alias("ti"),
                F.greatest(F.col("__b"), F.lit(j)).alias("tj"),
            )
            for j in range(n_blocks)
        ]
    )
    # ship RAW vectors; normalization happens once per vector inside the
    # numpy kernel (a Spark-side unit-normalize transform re-evaluates
    # its captured norm per element — O(d^2)/row; see similarity._unit)
    prepped = (
        df.select(F.col(id_col).alias("id"), vd.alias("vec"))
        .withColumn("__b", block)
        .withColumn("__t", F.explode(tasks))
        .select("id", "vec", "__b", F.col("__t.ti").alias("ti"), F.col("__t.tj").alias("tj"))
    )

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ti, tj = int(pdf["ti"].iloc[0]), int(pdf["tj"].iloc[0])
        vecs = np.stack(pdf["vec"].to_numpy())
        norms = np.linalg.norm(vecs, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0  # zero vectors: cosine 0, not NaN
        units = vecs / norms
        ids = pdf["id"].to_numpy()
        if ti == tj:
            m = units @ units.T
            ia, ib = np.where(m >= threshold)
            keep = ids[ia] < ids[ib]
            ia, ib = ia[keep], ib[keep]
            return pd.DataFrame(
                {"id_a": ids[ia], "id_b": ids[ib], "cosine": m[ia, ib]}
            )
        amask = (pdf["__b"] == ti).to_numpy()
        a_ids, b_ids = ids[amask], ids[~amask]
        m = units[amask] @ units[~amask].T
        ia, ib = np.where(m >= threshold)
        lo = np.minimum(a_ids[ia], b_ids[ib])
        hi = np.maximum(a_ids[ia], b_ids[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": m[ia, ib]})

    return prepped.groupBy("ti", "tj").applyInPandas(score_block, out_schema)


def embedding_store(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    num_planes: int = 8,
    seed: int = 42,
    plane_hash: str = "xxhash64",
) -> DataFrame:
    """Flat ``(id, bucket, vec, nrm)`` hyperplane bucketing of an
    embedding corpus — the persistable candidate STORE for incremental
    SEMANTIC near-dup detection (the `lsh_bucket_store` counterpart for
    embeddings). Unlike the text-LSH store, verification needs the
    vectors, so the store carries them with their precomputed norms: at
    1e10 documents the store is the corpus's embedding column plus
    ~16 B/row — it REPLACES that column for dedup purposes rather than
    duplicating anything else.

    Bucket ids are deterministic given ``(num_planes, seed,
    plane_hash)`` (`similarity.hyperplane_buckets`); the caller owns
    keeping those constant across increments. Persist with
    ``io.bucketed.write_embedding_store`` (bucketed by ``bucket``):
    `embedding_dedup_incremental`'s candidate join uses exactly that
    equi-key, so the store side never reshuffles."""
    from dataframes_spark.operators.similarity import (
        _norm,
        hyperplane_buckets,
    )

    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    base = hyperplane_buckets(
        df, vec_col, id_col, num_planes, seed, plane_hash
    )
    return base.select(
        F.col(id_col).alias("id"),
        "bucket",
        vd.alias("vec"),
        _norm(vd).alias("nrm"),
    )


def embedding_dedup_incremental(
    new_df: DataFrame,
    store: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    num_planes: int = 8,
    seed: int = 42,
    plane_hash: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Incremental semantic near-dups: which arriving embeddings are
    near-duplicates (cosine >= ``threshold``) of something the corpus
    has ALREADY seen — without re-bucketing or re-scoring history.
    Returns ``(dups, updated_store)``:

    - ``dups`` — ``(id_new, id_seen, cosine)`` where ``id_new`` is a
      batch vector scoring >= ``threshold`` against a STORED vector
      sharing its hyperplane bucket, or against an earlier (smaller-id)
      batch vector sharing one (the `near_dup_incremental` in-batch
      rule). Single-band LSH gives each vector exactly one bucket, so
      no pair is emitted twice.
    - ``updated_store`` — the store plus the batch's bucketing, ready
      to persist (ids are assumed new — run `exact_dedup_incremental`
      first; no distinct, the `near_dup_incremental` contract).

    Recall caveat (shared with `embedding_near_dups`' LSH mode): pairs
    straddling a hyperplane are missed; raise recall by lowering
    ``num_planes`` (bigger buckets) or unioning several seeds. This
    completes the incremental family across all four dedup modalities:
    exact content (`exact_dedup_incremental`), text shingles
    (`near_dup_incremental`), token spans
    (`duplicate_spans_incremental`), and embeddings (here).

    Scale shape: the batch buckets map-only; ONE equi-join on
    ``bucket`` against a store bucketed on exactly that key
    (``io.bucketed.write_embedding_store``) satisfies the join's
    required distribution as scanned — history never reshuffles, and
    the dot-product verification runs JVM-side on candidates only
    (plan pinned in ``tests/test_plans.py``). In-batch pairs reuse the
    batch's own bucketing (batch-sized self-join)."""
    from dataframes_spark.operators.similarity import _dot

    fresh = embedding_store(
        new_df, vec_col, id_col, num_planes, seed, plane_hash
    )

    cosine = (
        _dot(F.col("n.vec"), F.col("s.vec")) / (F.col("n.nrm") * F.col("s.nrm"))
    ).alias("cosine")
    pick = [
        F.col("n.id").alias("id_new"),
        F.col("s.id").alias("id_seen"),
        cosine,
    ]
    vs_store = (
        fresh.alias("n")
        .join(store.alias("s"), "bucket")
        .filter(F.col("n.id") != F.col("s.id"))
        .select(*pick)
        .filter(F.col("cosine") >= threshold)
    )
    in_batch = (
        fresh.alias("n")
        .join(fresh.alias("s"), "bucket")
        .filter(F.col("s.id") < F.col("n.id"))
        .select(*pick)
        .filter(F.col("cosine") >= threshold)
    )
    dups = vs_store.unionByName(in_batch)
    return dups, store.unionByName(fresh)


def content_fingerprints(df: DataFrame, text_col: str) -> DataFrame:
    """Distinct FLAT ``(len, xx, md5)`` content keys of a corpus — the
    persistable fingerprint STORE for incremental dedup. Same
    collision-safe compound key as ``exact_dedup``: ~32 bytes per
    distinct content, no text retained.

    The schema is flat (not a struct) ON PURPOSE: the incremental anti
    join extracts ``xx`` alone as its equi-key, so a store bucketed by
    ``xx`` (``io.bucketed.write_fingerprints``) satisfies the join's
    required distribution and never reshuffles — a struct key would
    force hashing the whole struct and destroy the co-location."""
    return df.select(
        F.length(F.col(text_col)).alias("len"),
        F.xxhash64(F.col(text_col)).alias("xx"),
        F.unhex(F.md5(F.col(text_col).cast("binary"))).alias("md5"),
    ).distinct()


def exact_dedup_incremental(
    new_df: DataFrame,
    seen_fps: DataFrame,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup: the arriving-batch problem every
    continuously-ingesting corpus has. Returns ``(fresh, updated_fps)``:

    - ``fresh`` — rows of ``new_df`` whose content appears neither in
      the historical ``seen_fps`` store (``content_fingerprints``) nor
      earlier within the batch itself (min-id representative, the
      ``exact_dedup`` rule);
    - ``updated_fps`` — the store plus the fresh batch's keys, ready to
      persist for the next increment.

    Scale shape: the batch deduplicates internally first (32 B key
    shuffle), then ONE anti join of the batch against the store — text
    bodies never join anything. The join's SINGLE equi-key is ``xx``
    (``len``/``md5`` ride as null-safe residual conditions): Spark's
    required distribution is then hashpartitioning(xx), which a store
    bucketed by ``xx`` (``io.bucketed.write_fingerprints``) satisfies
    AS SCANNED — the history side never reshuffles, so per-batch cost
    is O(batch + matching buckets) even at 1e10 stored keys
    (``tests/test_plans.py`` pins the store-side no-Exchange plan).
    xxhash64 never returns null (null input folds to the seed), so the
    equi-key is safe; the null-text content key lives in the null-safe
    len/md5 conditions — null-text rows still dedup against history
    exactly like ``exact_dedup``'s null-equal grouping."""
    in_batch = exact_dedup(new_df, text_col, id_col)
    keyed = (
        in_batch.withColumn("__len", F.length(F.col(text_col)))
        .withColumn("__xx", F.xxhash64(F.col(text_col)))
        .withColumn("__md5", F.unhex(F.md5(F.col(text_col).cast("binary"))))
    )
    # the len/md5 conditions are null-safe equalities WRAPPED IN
    # coalesce so Catalyst cannot extract them as equi-join keys:
    # EqualNullSafe at the top level becomes a (coalesce, isnull) key
    # pair, the join would then require hashpartitioning on all five
    # expressions, and the xx-bucketed store layout would be discarded
    # ("Bucketed: false (disabled by query planner)"). With xx as the
    # SOLE equi-key the bucketed scan satisfies the join's distribution
    # as-is and only the (small) batch side shuffles.
    def _nse(a: Column, b: Column) -> Column:
        return F.coalesce(a == b, a.isNull() & b.isNull())

    cond = (
        (keyed["__xx"] == seen_fps["xx"])
        & _nse(keyed["__len"], seen_fps["len"])
        & _nse(keyed["__md5"], seen_fps["md5"])
    )
    fresh = keyed.join(seen_fps, cond, "left_anti").drop(
        "__len", "__xx", "__md5"
    )
    # no .distinct() on the union: fresh is provably disjoint from the
    # store (the anti join above removed every key already present, on
    # the same null-safe compound key) and content_fingerprints is
    # internally distinct — a distinct here would re-shuffle the FULL
    # store on every increment, breaking the O(batch) contract
    updated = seen_fps.unionByName(content_fingerprints(fresh, text_col))
    return fresh, updated


def lsh_bucket_store(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    lane_hash: str = "xxhash64",
) -> DataFrame:
    """Flat ``(id, band, bucket)`` LSH banding of a corpus — the
    persistable candidate STORE for incremental NEAR-dup detection
    (the :func:`exact_dedup_incremental` counterpart for fuzzy
    duplicates). ~``bands`` small rows per document, no text retained.

    Bucket values are deterministic and seed-free, so a store written
    today is joinable against bands computed from tomorrow's batch —
    provided (num_hashes, bands, shingle_k, lane_hash) match; the
    caller owns keeping those constant across increments.

    Persist with ``io.bucketed.write_lsh_store`` (bucketed by
    ``(band, bucket)``): :func:`near_dup_incremental`'s candidate join
    uses exactly those equi-keys, so the store side never reshuffles."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_k, lane_hash=lane_hash
    ).select(F.col(id_col).alias("id"), "signature")
    return _banded_relation(sigs, num_hashes, bands, exact_buckets=lane_hash == "md5")


def near_dup_incremental(
    new_df: DataFrame,
    store: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    lane_hash: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-duplicate candidates: which arriving documents
    look like something the corpus has ALREADY seen — without
    re-banding history. Returns ``(candidates, updated_store)``:

    - ``candidates`` — distinct ``(id_new, id_seen)`` pairs where
      ``id_new`` is a batch document and ``id_seen`` is either a stored
      document sharing an LSH bucket in ANY band, or an earlier
      (smaller-id) batch document sharing one (the in-batch rule
      mirrors ``exact_dedup``'s min-id representative: the later
      arrival is the suspected duplicate);
    - ``updated_store`` — the store plus the batch's banding, ready to
      persist for the next increment.

    Candidates are LSH candidates, not verified near-dups: fetch the
    seen documents' text by id from the corpus and confirm with
    ``jaccard_verify`` (the store keeps no text — at 1e10 documents the
    store is ~32 B x bands per doc, the corpus stays where it lives).

    Scale shape: the batch is shingled/hashed once (map-only), then ONE
    equi-join on ``(band, bucket)`` against the store. A store bucketed
    on exactly those keys (``io.bucketed.write_lsh_store``) satisfies
    the join's required distribution as scanned — history never
    reshuffles, so per-batch cost is O(batch + colliding buckets) no
    matter how large the store grows (plan pinned in
    ``tests/test_plans.py``). The in-batch pairs reuse the batch's own
    banding (batch-sized groupBy). No .distinct() on the store union:
    batch ids are assumed new (run ``exact_dedup_incremental`` first),
    and a distinct would re-shuffle the FULL store every increment."""
    fresh_banded = lsh_bucket_store(
        new_df, text_col, id_col, num_hashes, bands, shingle_k, lane_hash
    )
    in_batch = _bucket_pair_expand(fresh_banded).select(
        F.col("id_b").alias("id_new"), F.col("id_a").alias("id_seen")
    )
    vs_store = (
        fresh_banded.alias("n")
        .join(store.alias("s"), ["band", "bucket"])
        .filter(F.col("n.id") != F.col("s.id"))
        .select(F.col("n.id").alias("id_new"), F.col("s.id").alias("id_seen"))
    )
    # the union is candidate-pair-sized (post-LSH), so this distinct is
    # cheap; it collapses multi-band collisions from the store join
    candidates = in_batch.unionByName(vs_store).distinct()
    updated = store.unionByName(fresh_banded)
    return candidates, updated


def semdedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centers: list,
    threshold: float = 0.95,
) -> DataFrame:
    """SemDedup (Abbas et al. 2023, "SemDedup: Data-efficient learning
    at web-scale through semantic deduplication"): partition the
    embedding space with k centroids, compare pairs only WITHIN a
    cluster, and mark as duplicate every item that is cosine-similar
    (>= ``threshold``) to a keep-preferred twin. Keep preference follows
    the paper: within a similar pair the item with the LOWER cosine to
    its cluster centroid survives (far-from-centroid = the more
    informative example), ties to the smaller id — so each duplicate
    pair resolves to exactly one loser, the relational form of the
    paper's per-cluster greedy. Returns ``(id, cluster, cent_cos,
    is_dup)`` for every input row.

    ``centers`` are PINNED literal centroids (a prior k-means fit, e.g.
    `similarity.ivf_fit`, or any deterministic choice) — given them,
    assignment, scoring and the dup rule are exact relational algebra
    (the `ivf_assign` pattern), so the whole operator is
    cross-engine-verifiable and incrementally reusable without
    refitting.

    Scale shape: assignment is map-only (centroids ride as k x dim plan
    literals); the ONLY shuffle is the cluster equi-key self-join, so
    candidate pairs are bounded per cluster — size k for ~|corpus|/k
    cluster population (the paper's lever), and a whale cluster shows
    up in `skew.skew_report` on ``cluster`` before it hurts. The
    keep-priority ``cent_cos`` compares ROUNDED (6dp) so the verdict is
    reproducible across engines; the pair threshold compares the raw
    dot product (deterministic: same element order both sides).

    Sizing: the literal-centroid path fits k up to the low thousands
    (k x dim doubles in the plan). Beyond that, pre-partition the space
    with `embedding_store`'s hyperplane buckets (or the partitioned IVF
    index) and run semdedup per bucket with per-bucket centroids — the
    candidate-bounding argument composes. Zero vectors have no
    direction and produce NaN cosines — filter them out first."""
    from dataframes_spark.operators.similarity import _unit

    if not centers:
        raise ValueError("semdedup needs at least one centroid")
    vd = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    unit = _unit(vd)
    scores = []
    for c in centers:
        cn = math.sqrt(sum(float(x) * float(x) for x in c)) or 1.0
        from dataframes_spark.operators.similarity import lit_dvec

        ccol = lit_dvec([float(x) / cn for x in c])
        scores.append(
            F.aggregate(
                F.zip_with(unit, ccol, lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
    sarr = F.array(*scores)
    base = df.select(
        F.col(id_col).alias("id"),
        (F.array_position(sarr, F.array_max(sarr)) - 1)
        .cast("int")
        .alias("cluster"),
        F.round(F.array_max(sarr), 6).alias("cent_cos"),
        unit.alias("__unit"),
    )
    a = base.select(
        F.col("id").alias("__ida"),
        F.col("cluster").alias("__cl"),
        F.col("cent_cos").alias("__ca"),
        F.col("__unit").alias("__ua"),
    )
    b = base.select(
        F.col("id").alias("__idb"),
        F.col("cluster").alias("__cl"),
        F.col("cent_cos").alias("__cb"),
        F.col("__unit").alias("__ub"),
    )
    pair_cos = F.aggregate(
        F.zip_with(F.col("__ua"), F.col("__ub"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    losers = (
        a.join(b, "__cl")
        .filter(F.col("__ida") != F.col("__idb"))
        .filter(pair_cos >= F.lit(float(threshold)))
        .filter(
            (F.col("__cb") < F.col("__ca"))
            | (
                (F.col("__cb") == F.col("__ca"))
                & (F.col("__idb") < F.col("__ida"))
            )
        )
        .select(F.col("__ida").alias("id"))
        .distinct()
        .withColumn("__dup", F.lit(1))
    )
    return (
        base.join(losers, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "cluster",
            "cent_cos",
            F.coalesce(F.col("__dup"), F.lit(0)).alias("is_dup"),
        )
    )
