"""DSIR: Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) — select raw-corpus documents whose hashed n-gram
distribution looks like a TARGET corpus.

The published recipe, re-expressed as Spark relational algebra:

1. Features: unigrams + bigrams of the lowercased whitespace
   tokenization, hashed into ``B`` buckets (hashed n-gram features).
   The md5 lane makes the bucket assignment bit-identical in any
   engine with standard md5 (DuckDB, Trino), so the whole pipeline is
   oracle-replayable — same trick as ``operators/sample.md5_sample``.
2. Fit: two bag-of-buckets multinomials with Laplace smoothing —
   ``p_target`` over the target corpus, ``p_raw`` over the raw corpus.
   The model is EXACTLY ``B`` rows (every bucket, observed or not), so
   it broadcasts and the scoring join never shuffles the model side.
3. Weigh: per-document log importance weight
   ``log w(d) = sum_f n_f(d) * (ln p_target[f] - ln p_raw[f])``.
4. Resample: Gumbel top-k over ``log w`` — ``key = log w - ln(-ln u)``
   with ``u`` a content-hash uniform, equivalent to sampling without
   replacement proportionally to ``w`` (Efraimidis-Spirakis duality),
   and deterministic per (doc, seed) like every sampler in this repo.

Scale shape: each fit is ONE scan+explode folded to B rows; weighing is
ONE scan+explode with a per-(doc,bucket) partial agg, then a broadcast
join against the B-row model; resampling is a TakeOrdered heap — no
all-pairs, no driver-side loop, nothing grows with corpus size except
the per-document relation itself.

The reference engine has no data-selection surface (its analysis ends at
dataframes/Analysis.cpp); this extends the LLM-pipeline family
(quality scores, unigram/bigram LM filters) with the importance-
resampling selector those papers' pipelines pair them with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataframes_spark.io.store import fold_store, store_stamp

#: Laplace smoothing mass added to every bucket count.
ALPHA = 1.0


def _bucket_rows(
    df: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int,
    flag=None,
) -> DataFrame:
    """The exploded per-feature bucket relation ``(__id, bucket[, __t])``
    every DSIR aggregate derives from: unigrams plus adjacent bigrams of
    the lowercased whitespace tokenization, each hashed to
    ``[0, buckets)`` via the md5 lane. One scan, one explode, all JVM.

    ``bucket`` is wrapped non-NULLABLE (`coalesce` with 0 — the md5
    chain never actually yields NULL for a non-null feature, so the
    fallback is dead): downstream equi-joins on ``bucket`` otherwise
    infer an ``IsNotNull(bucket)`` constraint that pushes below the
    projection and RE-EXPANDS the md5 expression into the filter — the
    hash evaluated twice per feature row (codegen does not CSE across
    the Filter/Project operator boundary). Non-nullable, the inferred
    filter constant-folds away.

    ``flag`` (optional boolean Column over ``df``) rides along as
    ``__t`` — it lets one explode serve both the raw and the
    target-subcorpus aggregates (`dsir_fit_weights`,
    `bucket_counts_split`) instead of scanning the corpus once per
    side."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    cols = [F.col(id_col).alias("__id"), toks.alias("__w")]
    if flag is not None:
        cols.append(flag.alias("__t"))
    base = df.select(*cols)
    n = F.size("__w")
    bigrams = F.zip_with(
        F.slice("__w", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("__w", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    keep = ["__id"] + (["__t"] if flag is not None else [])
    feats = base.select(
        *keep, F.explode(F.concat(F.col("__w"), bigrams)).alias("__f")
    )
    bucket = F.coalesce(
        F.conv(
            F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("__f"))), 1, 15),
            16,
            10,
        ).cast("long")
        % F.lit(buckets),
        F.lit(0),
    )
    return feats.select(*keep, bucket.alias("bucket"))


def hashed_ngram_features(
    df: DataFrame, text_col: str, id_col: str, buckets: int = 256
) -> DataFrame:
    """Per-document hashed n-gram bag: ``(id, bucket, cnt)``.

    Features are the unigrams plus adjacent bigrams of the lowercased
    whitespace tokenization (the DSIR paper's hashed n-gram featurizer),
    each hashed to ``[0, buckets)`` via the md5 lane (`_bucket_rows`).
    One scan, one explode, one (id, bucket) partial aggregation —
    entirely JVM-side higher-order functions, no Python in the row
    path."""
    return (
        _bucket_rows(df, text_col, id_col, buckets)
        .groupBy("__id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def bucket_counts(
    df: DataFrame, text_col: str, id_col: str, buckets: int = 256
) -> DataFrame:
    """Corpus-level feature bucket counts ``(bucket, c)`` — the
    SUFFICIENT STATISTIC of a DSIR side: the smoothed model is a pure
    function of these at most ``buckets`` rows, and counts from disjoint
    batches merge by per-bucket addition (``merge_counts``). This is
    what makes the fit incremental: each arriving batch is scanned once,
    folded into a constant-size relation, and history is never
    re-tokenized.

    Folds the exploded feature rows straight to the bucket domain — ONE
    exchange of B-row map-side partials, not the former two-step
    (id, bucket) aggregate then bucket aggregate, whose first exchange
    moved the docs x buckets relation for nothing (the per-id
    intermediate is only needed when per-document weights are also
    being computed — `dsir_fit_weights` keeps it for exactly that
    reason)."""
    return (
        _bucket_rows(df, text_col, id_col, buckets)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def bucket_counts_split(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_flag,
    buckets: int = 256,
) -> DataFrame:
    """Raw AND target-subcorpus bucket counts from ONE scan of a batch:
    ``(bucket, c, c_target)`` where ``c`` counts every feature
    occurrence and ``c_target`` only those from rows where
    ``target_flag`` holds (NULL flag counts as false, matching
    ``df.filter(target_flag)``). Equivalent to two `bucket_counts`
    calls — a bucket whose ``c_target`` is 0 contributes exactly what
    an absent row would (the smoothed model coalesces missing buckets
    to 0) — but an arriving batch is read and exploded once, not once
    per side."""
    return (
        _bucket_rows(df, text_col, id_col, buckets, flag=target_flag)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(
                F.when(F.col("__t"), F.lit(1)).otherwise(F.lit(0))
            ).alias("c_target"),
        )
    )


def merge_counts(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two bucket-count relations by per-bucket addition —
    associative, commutative, so any fold order over any batch split
    yields the counts of the union (the store law pinned in tests)."""
    return (
        a.select("bucket", "c")
        .unionByName(b.select("bucket", "c"))
        .groupBy("bucket")
        .agg(F.sum("c").alias("c"))
    )


def dsir_store_update(
    spark, table: str, batch_counts: DataFrame, buckets: int
) -> None:
    """Fold a batch's bucket counts into a persisted DSIR count store
    (catalog parquet table, `io.store.fold_store`): scan the batch
    once, add per bucket, swap. The store is at most ``buckets`` rows
    however many epochs fold in — a constant-size job. Not
    transactional: run between increments, like the other stores.

    ``buckets`` — the hash domain ``batch_counts`` was built with —
    stamps the store: folding counts built with a DIFFERENT domain, or
    fitting with a mismatched ``buckets`` argument
    (`dsir_fit_from_stores`), raises instead of silently
    dropping/zeroing buckets."""
    fold_store(
        spark,
        table,
        batch_counts,
        merge=merge_counts,
        stamp={"buckets": int(buckets)},
    )


def _model_from_counts(
    spark: SparkSession, counts: DataFrame, buckets: int, p_col: str
) -> DataFrame:
    """Smoothed log-prob column from a bucket-count relation:
    ``(bucket, ln((c + ALPHA) / (total + ALPHA * B)) AS p_col)``.
    ``spark.range`` supplies the unobserved buckets so the model always
    has exactly ``buckets`` rows (inner-joinable, broadcastable)."""
    total = counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("double").alias("__t")
    )
    full = (
        spark.range(buckets)
        .select(F.col("id").alias("bucket"))
        .join(counts, "bucket", "left")
        .select("bucket", F.coalesce(F.col("c"), F.lit(0)).alias("__c"))
    )
    return full.crossJoin(F.broadcast(total)).select(
        "bucket",
        F.log(
            (F.col("__c") + F.lit(ALPHA))
            / (F.col("__t") + F.lit(ALPHA * buckets))
        ).alias(p_col),
    )


def dsir_fit_from_counts(
    spark: SparkSession,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    buckets: int = 256,
) -> DataFrame:
    """Fit the DSIR model from two bucket-count relations (one-shot
    ``bucket_counts`` or a persisted ``dsir_store_update`` store —
    identical by the merge law). Same output contract as ``dsir_fit``."""
    t = _model_from_counts(spark, target_counts, buckets, "logp_target")
    r = _model_from_counts(spark, raw_counts, buckets, "logp_raw")
    return t.join(r, "bucket").select(
        "bucket",
        "logp_target",
        "logp_raw",
        (F.col("logp_target") - F.col("logp_raw")).alias("log_ratio"),
    )


def materialize_model(model: DataFrame) -> DataFrame:
    """Pin a fitted DSIR model as a LITERAL local relation (B rows of
    four scalars — bounded by the ``buckets`` parameter, never by data
    volume): the fit executes once, and later actions join a local
    table instead of re-deriving the fit subtree. Use when ONE model
    scores MANY separate actions/batches (fit once, score forever — the
    production DSIR shape with a frozen model). For a single-action
    query, DON'T: AQE's runtime exchange reuse already shares the fit's
    shuffles inside the one plan, and splitting fit and scoring into
    two jobs measured ~1.5x SLOWER at sf0.1 (extra job scheduling, no
    shared scan)."""
    spark = model.sparkSession
    return spark.createDataFrame(model.collect(), model.schema)


def dsir_fit_from_stores(
    spark, target_table: str, raw_table: str, buckets: int = 256
) -> DataFrame:
    """Fit the DSIR model from two persisted count stores — the
    incremental-epoch form: each corpus side folds in batch by batch at
    O(batch), and the model over the stores equals the one-shot fit over
    everything folded (count-merge associativity).

    Refuses a ``buckets`` that disagrees with either store's stamp (see
    `dsir_store_update`): the range join would otherwise silently drop
    out-of-domain counts and fit a wrong model."""
    for table in (target_table, raw_table):
        built = store_stamp(spark, table)["buckets"]
        if built != int(buckets):
            raise ValueError(
                f"DSIR store {table!r} was built with buckets={built}; "
                f"refusing to fit with buckets={buckets}"
            )
    return dsir_fit_from_counts(
        spark, spark.table(target_table), spark.table(raw_table), buckets
    )


def dsir_fit(
    target: DataFrame,
    raw: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int = 256,
) -> DataFrame:
    """Fit the DSIR bucket model: ``(bucket, logp_target, logp_raw,
    log_ratio)``, exactly ``buckets`` rows. Each side is one
    scan+explode folded to B rows; the B-row join is broadcastable by
    size (Spark's threshold catches it — B is hundreds to tens of
    thousands)."""
    spark = target.sparkSession
    return dsir_fit_from_counts(
        spark,
        bucket_counts(target, text_col, id_col, buckets),
        bucket_counts(raw, text_col, id_col, buckets),
        buckets,
    )


def dsir_weights(
    df: DataFrame,
    model: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int = 256,
) -> DataFrame:
    """Per-document log importance weight under a fitted model:
    ``(id, n_feats, log_weight)`` with ``log_weight = sum_f n_f *
    log_ratio[f]`` rounded to 6 places (the repo's float-output
    contract). Documents with no tokens carry no features and drop,
    matching ``unigram_logprob``. ONE corpus scan; the model side rides
    a broadcast join."""
    feats = hashed_ngram_features(df, text_col, id_col, buckets)
    return (
        feats.join(F.broadcast(model.select("bucket", "log_ratio")), "bucket")
        .groupBy("__id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.round(F.sum(F.col("cnt") * F.col("log_ratio")), 6).alias(
                "log_weight"
            ),
        )
        .select(F.col("__id").alias(id_col), "n_feats", "log_weight")
    )


def _smoothed_log_ratio(ct, cr, tt, tr, buckets: int):
    """``log_ratio`` with the EXACT expression shape of
    `_model_from_counts` — ``log((coalesce(c,0) + ALPHA) / (total +
    ALPHA*B))`` per side, then the target-minus-raw subtraction — so a
    weight fold over this column is bit-identical (same IEEE ops on the
    same doubles) to inner-joining the Range-completed B-row model: a
    bucket absent from a count side coalesces to 0 and smooths to the
    same ``ALPHA / (total + ALPHA*B)`` value its Range row would carry.
    ``ct``/``cr`` are (nullable) long count columns, ``tt``/``tr`` the
    double totals."""
    return F.log(
        (F.coalesce(ct, F.lit(0)) + F.lit(ALPHA))
        / (tt + F.lit(ALPHA * buckets))
    ) - F.log(
        (F.coalesce(cr, F.lit(0)) + F.lit(ALPHA))
        / (tr + F.lit(ALPHA * buckets))
    )


def _ratio_weights(feats: DataFrame, id_col: str, buckets: int) -> DataFrame:
    """Per-document weight fold over a feats relation that already
    carries ``__ct``/``__cr``/``__tt``/``__tr``: one groupBy, same
    aggregate expressions as `dsir_weights`."""
    lr = _smoothed_log_ratio(
        F.col("__ct"), F.col("__cr"), F.col("__tt"), F.col("__tr"), buckets
    )
    return (
        feats.groupBy("__id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.round(F.sum(F.col("cnt") * lr), 6).alias("log_weight"),
        )
        .select(F.col("__id").alias(id_col), "n_feats", "log_weight")
    )


def dsir_fit_weights(
    df: DataFrame,
    target_flag,
    text_col: str,
    id_col: str,
    buckets: int = 256,
) -> DataFrame:
    """Fit AND weigh in one corpus pass, for the common case where the
    target corpus is a predicate over the raw corpus (`target_flag`, a
    boolean Column — e.g. ``col('lang') == 'en'``; NULL counts false,
    matching ``df.filter(target_flag)``). Output is identical to
    ``dsir_weights(df, dsir_fit(df.filter(target_flag), df, ...), ...)``
    — same counts, same smoothed model, same weights — but the corpus
    is scanned and exploded ONCE: the flag rides the exploded feature
    relation (`_bucket_rows`), and BOTH sides' bucket counts come from
    ONE aggregate over it (a target-side count of 0 is exactly what an
    absent bucket smooths to). The model scaffold never enters the plan:
    the weight fold only needs ``log_ratio`` for buckets PRESENT in the
    feature relation, so the per-bucket counts join straight back
    (broadcast) and the two totals ride one broadcast 1-row relation —
    `_smoothed_log_ratio` keeps the arithmetic bit-identical to the
    B-row model form, while the former Range left-join + per-side
    total crossJoin (4 extra broadcast stages per side at sf0.1)
    disappear. The separated `dsir_fit`/`dsir_weights` remain for
    frozen-model scoring and for targets that are not a predicate over
    the raw corpus."""
    feats = (
        _bucket_rows(df, text_col, id_col, buckets, flag=target_flag)
        .groupBy("__id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("__t").alias("__t"))
    )
    bc = feats.groupBy("bucket").agg(
        F.sum("cnt").alias("__cr"),
        F.sum(F.when(F.col("__t"), F.col("cnt")).otherwise(F.lit(0))).alias(
            "__ct"
        ),
    )
    # exact-integer totals folded from the bucket relation (same values
    # as summing each side's count relation: addition is associative
    # over exact longs), cast to double exactly like _model_from_counts
    tot = bc.agg(
        F.coalesce(F.sum("__cr"), F.lit(0)).cast("double").alias("__tr"),
        F.coalesce(F.sum("__ct"), F.lit(0)).cast("double").alias("__tt"),
    )
    joined = feats.join(F.broadcast(bc), "bucket").crossJoin(F.broadcast(tot))
    return _ratio_weights(joined, id_col, buckets)


def dsir_weights_from_counts(
    df: DataFrame,
    target_counts: DataFrame,
    raw_counts: DataFrame,
    text_col: str,
    id_col: str,
    buckets: int = 256,
) -> DataFrame:
    """Per-document weights directly from two bucket-count relations
    (one-shot `bucket_counts` or persisted `dsir_store_update` stores) —
    output bit-identical to ``dsir_weights(df, dsir_fit_from_counts(
    spark, target_counts, raw_counts, buckets), ...)``: the feats
    relation left-joins the two (<= B)-row count relations and
    `_smoothed_log_ratio` replays the model arithmetic per present
    bucket, coalescing absent buckets to the exact smoothed value their
    Range-completed model row would carry. Skips the B-row model
    scaffold (Range left join, two per-side total crossJoins) that
    `dsir_fit_from_counts` builds — use that form when the model
    relation itself is the product (`dsir_model_report`)."""
    feats = hashed_ngram_features(df, text_col, id_col, buckets)
    bc = raw_counts.select("bucket", F.col("c").alias("__cr")).join(
        target_counts.select("bucket", F.col("c").alias("__ct")),
        "bucket",
        "full",
    )
    tr = raw_counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("double").alias("__tr")
    )
    tt = target_counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("double").alias("__tt")
    )
    joined = (
        feats.join(F.broadcast(bc), "bucket", "left")
        .crossJoin(F.broadcast(tr))
        .crossJoin(F.broadcast(tt))
    )
    return _ratio_weights(joined, id_col, buckets)


def dsir_sample(
    df: DataFrame,
    target: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    buckets: int = 256,
    seed: str = "",
    target_flag=None,
) -> DataFrame:
    """Gumbel top-k importance resample: the ``k`` raw documents with the
    largest ``log_weight - ln(-ln(u))``, ``u = (int(md5(id + '/dsir-g' +
    seed)[:13], 16) + 1) / 2^52`` — exact in doubles (52-bit numerator,
    power-of-two denominator), so any md5 engine draws the same sample.
    Equivalent to weight-proportional sampling without replacement
    (Gumbel-max / Efraimidis-Spirakis duality). Returns ``(id, n_feats,
    log_weight, gumbel_key)`` ordered by key descending; the sort is a
    TakeOrderedAndProject heap, never a global sort.

    When the target corpus is a predicate over ``df``, pass it as
    ``target_flag`` (with ``target=None``) and the fit+weigh runs as
    the one-scan `dsir_fit_weights` — same sample, one corpus pass."""
    if target_flag is not None:
        w = dsir_fit_weights(df, target_flag, text_col, id_col, buckets)
    else:
        model = dsir_fit(target, df, text_col, id_col, buckets)
        w = dsir_weights(df, model, text_col, id_col, buckets)
    h = F.md5(
        F.concat(F.col(id_col).cast("string"), F.lit("/dsir-g" + seed))
    )
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("long") + 1) / F.lit(
        float(2**52)
    )
    keyed = w.withColumn(
        "gumbel_key", F.round(F.col("log_weight") - F.log(-F.log(u)), 6)
    )
    return keyed.orderBy(
        F.col("gumbel_key").desc(), F.col(id_col).asc()
    ).limit(k)


def dsir_model_report(model: DataFrame) -> DataFrame:
    """One-row model summary quantifying SELECTION PRESSURE:
    ``(buckets, kl_target_raw, mean_abs_log_ratio, max_log_ratio,
    min_log_ratio)``. ``kl_target_raw`` is KL(target || raw) =
    sum_b p_target[b] * (logp_target[b] - logp_raw[b]) over the smoothed
    bucket models — 0 means the target is indistinguishable from the raw
    corpus under the featurizer (resampling would be uniform; raise
    ``buckets`` or n-gram order), large means aggressive reweighting
    (watch variance / effective sample size). Folds the B-row model —
    no data touched."""
    return model.agg(
        F.count(F.lit(1)).alias("buckets"),
        F.round(
            F.sum(F.exp("logp_target") * F.col("log_ratio")), 6
        ).alias("kl_target_raw"),
        F.round(F.avg(F.abs("log_ratio")), 6).alias("mean_abs_log_ratio"),
        F.round(F.max("log_ratio"), 6).alias("max_log_ratio"),
        F.round(F.min("log_ratio"), 6).alias("min_log_ratio"),
    )


def dsir_ess(weights: DataFrame) -> DataFrame:
    """Effective sample size of an importance-weighted corpus:
    ``(n_docs, ess, ess_frac)`` with ``ess = (sum w)^2 / sum w^2`` (Kish)
    over ``w = exp(log_weight - max(log_weight))`` — the shift makes the
    ratio overflow-safe and cancels exactly. ``ess_frac`` near 1 means
    resampling barely reweights; near 0 means a few documents dominate
    (selection variance — grow the target set or temper the weights).
    The standard companion diagnostic to `dsir_model_report`'s KL. Two
    passes over the doc-sized weights relation (max, then the folds),
    each a 1-row aggregate."""
    mx = weights.agg(F.max("log_weight").alias("__m"))
    w = weights.crossJoin(F.broadcast(mx)).select(
        F.exp(F.col("log_weight") - F.col("__m")).alias("__w")
    )
    return w.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            (F.sum("__w") * F.sum("__w")) / F.sum(F.col("__w") * F.col("__w")),
            6,
        ).alias("ess"),
        F.round(
            (F.sum("__w") * F.sum("__w"))
            / (F.sum(F.col("__w") * F.col("__w")) * F.count(F.lit(1))),
            6,
        ).alias("ess_frac"),
    )
