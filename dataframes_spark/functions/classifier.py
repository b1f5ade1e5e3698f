"""FastText-style hashed-n-gram quality classifier — the linear text
classifier behind the published corpus-quality filters (GPT-3's
WebText-vs-CommonCrawl screen, Brown et al. 2020 Appendix A; CCNet's
companion LM filter, Wenzek et al. 2020): hash words into a fixed
feature space (the hashing trick, Weinberger et al. 2009), average
token features per document, fit logistic regression on
reference-vs-crawl labels, then score the whole corpus map-only.

Scale design:

- Featurization is one explode + map-side-combining groupBy per doc —
  the exchange carries (doc, bucket) term-count rows bounded by the
  doc's DISTINCT hashed buckets, never raw tokens.
- Training collapses each doc to ONE ``dim``-sized sparse vector
  (Arrow-batched assembly) and hands MLlib's L-BFGS a
  sample-of-the-corpus-sized frame — training sets are curated samples
  by definition; the 100 TB side is scoring.
- Scoring never touches MLlib: the fitted model is exported to a
  ``dim``-row ``(bucket, weight)`` TABLE, and scoring is a broadcast
  join + one aggregate per doc (mean-pooled dot product + sigmoid) —
  pure JVM expressions inside the corpus scan stage, so the corpus
  never shuffles anything but its (doc, bucket) reduction.

The ``md5`` lane hash makes bucketing engine-reproducible (the
sketch-store idiom), so a pinned-weights scoring pass replays in DuckDB
term for term; ``xxhash64`` is the cheaper production default.

No reference analog (the reference has the sklearn bridge only,
`src/Table.luna`); semantics follow the cited public recipes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: normalized word split shared by both featurize paths — empty tokens
#: (edge whitespace of ANY kind, incl. \n/\t that F.trim would keep)
#: are filtered, matching the oracle's list_filter
def _words(c: Column) -> Column:
    return F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != F.lit(""))


def _bucket(tok: Column, dim: int, salt: str, lane_hash: str) -> Column:
    """Hashing-trick bucket of a token — ``pmod(h(salt:token), dim)``;
    the md5 lane keeps 15 hex chars (60 bits) so conv() stays exact."""
    if lane_hash == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(salt), tok), F.lit(dim)).cast("int")
    if lane_hash == "md5":
        h = F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), tok).cast("binary")), 1, 15
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(dim)).cast("int")
    raise ValueError(f"lane_hash must be xxhash64|md5, got {lane_hash!r}")


def _per_bucket_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int,
    salt: str,
    lane_hash: str,
) -> DataFrame:
    """``(id, bucket, tf)`` — one explode + map-side-combining groupBy;
    tokenless documents survive as one ``(id, bucket=NULL, tf=0)`` row
    (``explode_outer``). The shared featurization core: consumers that
    can fold the token total into their OWN per-doc aggregate
    (`score_quality`: ``n = sum(tf)``) read this directly and skip
    `hashed_term_counts`' totals join-back — two exchanges fewer."""
    if dim < 2:
        raise ValueError(f"need dim >= 2, got {dim}")
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(_words(F.col(text_col))).alias("__qc_tok"),
    )
    return (
        toks.select(
            "id",
            F.when(
                F.col("__qc_tok").isNotNull(),
                _bucket(F.col("__qc_tok"), dim, salt, lane_hash),
            ).alias("bucket"),
            "__qc_tok",
        )
        .groupBy("id", "bucket")
        .agg(F.count("__qc_tok").cast("long").alias("tf"))
    )


def hashed_term_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 1 << 18,
    salt: str = "qc",
    lane_hash: str = "xxhash64",
) -> DataFrame:
    """Per-document hashed term counts ``(id, bucket, tf, n_tokens)`` —
    one explode + map-side-combining groupBy; ``n_tokens`` (the doc's
    token total, for mean pooling) rides the same aggregation.
    TOKENLESS documents (empty/whitespace/null text) survive as one
    ``(id, bucket=NULL, tf=0, n_tokens=0)`` row (``explode_outer``), so
    downstream consumers never need a second corpus pass to recover
    them. NULL ids merge into one group (SQL groupBy semantics, kept
    by a null-safe join-back) — pass unique non-null ids for
    per-document results."""
    per_bucket = _per_bucket_counts(df, text_col, id_col, dim, salt, lane_hash)
    # the token total for mean pooling is the sum of the per-bucket tfs
    # — derived from the already-reduced relation, never a second scan
    totals = per_bucket.groupBy("id").agg(F.sum("tf").alias("n_tokens"))
    # null-SAFE: a NULL id is a (single, merged) group to the groupBys
    # above — SQL group semantics — so the join-back must keep it too
    from dataframes_spark.operators.global_order import nullsafe_join

    return nullsafe_join(per_bucket, totals, ["id"])


def train_quality_classifier(
    pos: DataFrame,
    neg: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 1 << 18,
    salt: str = "qc",
    lane_hash: str = "xxhash64",
    max_iter: int = 50,
    reg_param: float = 1e-4,
):
    """Fit the reference-vs-crawl logistic model: ``pos`` (label 1, the
    curated/high-quality sample) vs ``neg`` (label 0). Returns
    ``(weights_df, bias)`` — ``weights_df`` is the ``(bucket, weight)``
    export (only non-zero weights; ≤ dim rows) that `score_quality`
    broadcasts; MLlib never sees the scoring corpus."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import SparseVector, VectorUDT
    from pyspark.sql import types as T

    # id hygiene, checked UP FRONT (one action over the training
    # sample — the bounded lane): a NULL id would concat to a NULL
    # prefixed id and silently drop out of training at the counts join;
    # duplicate ids within one side would merge two documents' term
    # counts without warning. Both are caller bugs — raise, loudly.
    checks = (
        pos.select(F.col(id_col).alias("__qc_id"), F.lit("pos").alias("__qc_side"))
        .unionByName(
            neg.select(
                F.col(id_col).alias("__qc_id"), F.lit("neg").alias("__qc_side")
            )
        )
        .groupBy("__qc_side")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.count("__qc_id").alias("__nn"),
            F.countDistinct("__qc_id").alias("__nd"),
        )
        .collect()
    )
    for r in checks:
        if r["__n"] > r["__nn"]:
            raise ValueError(
                f"train_quality_classifier: {r['__n'] - r['__nn']} NULL "
                f"{id_col!r} value(s) in the {r['__qc_side']} set — every "
                "training document needs a unique non-null id"
            )
        if r["__nn"] > r["__nd"]:
            raise ValueError(
                f"train_quality_classifier: {r['__nn'] - r['__nd']} "
                f"duplicate {id_col!r} value(s) in the {r['__qc_side']} set "
                "— duplicates would merge distinct documents' term counts"
            )

    # ids are PREFIXED per side: a pos doc and a neg doc sharing an id
    # (both sets typically number from 0) must never merge their term
    # counts in the shared groupBy
    labeled = pos.select(
        F.concat(F.lit("p:"), F.col(id_col).cast("string")).alias("id"),
        F.col(text_col).alias("__qc_t"),
        F.lit(1.0).alias("label"),
    ).unionByName(
        neg.select(
            F.concat(F.lit("n:"), F.col(id_col).cast("string")).alias("id"),
            F.col(text_col).alias("__qc_t"),
            F.lit(0.0).alias("label"),
        )
    )
    counts = hashed_term_counts(
        labeled, "__qc_t", "id", dim, salt, lane_hash
    ).filter(F.col("n_tokens") > 0)  # tokenless docs carry no signal
    rows = counts.join(labeled.select("id", "label"), "id").groupBy(
        "id", "label", "n_tokens"
    ).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("bucket"), F.col("tf")))
        ).alias("__qc_bt")
    )

    out_schema = T.StructType(
        [
            T.StructField("label", T.DoubleType()),
            T.StructField("features", VectorUDT()),
        ]
    )

    # VectorUDT cannot cross Arrow (applyInPandas rejects UDT output),
    # so the sample-sized training frame assembles through the classic
    # RDD path — training inputs are curated samples by definition; the
    # corpus-scale path (score_quality) never builds vectors at all.
    def _assemble(r):
        idx = [int(e["bucket"]) for e in r["__qc_bt"]]
        val = [float(e["tf"]) / float(r["n_tokens"]) for e in r["__qc_bt"]]
        return (float(r["label"]), SparseVector(dim, idx, val))

    train = rows.sparkSession.createDataFrame(
        rows.rdd.map(_assemble), out_schema
    )
    model = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        maxIter=max_iter,
        regParam=reg_param,
    ).fit(train)
    coef = model.coefficients
    spark = pos.sparkSession
    weights = spark.createDataFrame(
        [(int(i), float(v)) for i, v in zip(coef.indices, coef.values)]
        if hasattr(coef, "indices")
        else [(i, float(v)) for i, v in enumerate(coef) if v != 0.0],
        "bucket int, weight double",
    )
    return weights, float(model.intercept)


def score_quality(
    df: DataFrame,
    weights: DataFrame,
    bias: float,
    text_col: str,
    id_col: str,
    dim: int = 1 << 18,
    salt: str = "qc",
    lane_hash: str = "xxhash64",
    out_col: str = "quality_prob",
) -> DataFrame:
    """Mean-pooled linear score + sigmoid for every document —
    ``sigmoid(sum_b(w_b * tf_b) / n_tokens + bias)`` — as a broadcast
    join on the bucket key plus one per-doc aggregate: the corpus never
    shuffles anything but its (doc, bucket)-bounded reduction (tokenless
    docs ride that same reduction via their ``bucket=NULL`` sentinel row
    — no second pass, no distinct). Docs with no tokens score
    ``sigmoid(bias)`` (dot 0). Buckets without a weight contribute 0
    (L1-sparse models stay sparse).

    The token total folds into the SAME per-doc aggregate
    (``n = sum(tf)`` — the identical long `hashed_term_counts` would
    have joined back), so scoring reads the bare ``(id, bucket, tf)``
    relation: two exchanges fewer than the joined form, measured 1.6s
    -> 0.73s on the sf0.1 documents at dim=64/md5."""
    counts = _per_bucket_counts(df, text_col, id_col, dim, salt, lane_hash)
    dots = (
        counts.join(F.broadcast(weights), "bucket", "left")
        .groupBy("id")
        .agg(
            F.coalesce(
                F.sum(F.col("weight") * F.col("tf").cast("double")),
                F.lit(0.0),
            ).alias("__qc_ws"),
            F.sum("tf").alias("__qc_n"),
        )
    )
    dot = F.when(
        F.col("__qc_n") > 0,
        F.col("__qc_ws") / F.col("__qc_n").cast("double"),
    ).otherwise(F.lit(0.0))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-(dot + F.lit(bias))))
    return dots.select(F.col("id").alias(id_col), score.alias(out_col))


def classifier_store_update(
    spark,
    table: str,
    weights: DataFrame,
    bias: float,
    dim: int,
    salt: str = "qc",
    lane_hash: str = "xxhash64",
) -> None:
    """Persist a trained classifier as a catalog table (the repo's
    store idiom, `io.store.fold_store`): ``(bucket, weight)`` rows,
    with ``(bias, dim, salt, lane_hash)`` in the store's stamp, so
    scoring can never silently run under a different feature space
    than the one the model was trained in. A model with zero non-zero
    weights (strong L1 can do that) stays servable on its bias alone.
    REPLACES any prior model (models are versions, not folds —
    retraining is the update path); crash-safe via the staging swap."""
    from dataframes_spark.io.store import fold_store

    fold_store(
        spark,
        table,
        weights.select(
            F.col("bucket").cast("int").alias("bucket"),
            F.col("weight").cast("double").alias("weight"),
        ),
        stamp={
            "bias": float(bias), "dim": int(dim), "salt": salt,
            "hash": lane_hash,
        },
    )


def score_quality_from_store(
    spark,
    df: DataFrame,
    table: str,
    text_col: str,
    id_col: str,
    out_col: str = "quality_prob",
) -> DataFrame:
    """Score a corpus against the persisted model — featurization
    config recovers from the stamp, so the scoring feature space is the
    training one BY CONSTRUCTION. Same plan as `score_quality`
    (broadcast weights, one per-doc reduction)."""
    from dataframes_spark.io.store import store_stamp

    meta = store_stamp(spark, table)
    return score_quality(
        df,
        spark.table(table),
        meta["bias"],
        text_col,
        id_col,
        dim=meta["dim"],
        salt=meta["salt"],
        lane_hash=meta["hash"],
        out_col=out_col,
    )
