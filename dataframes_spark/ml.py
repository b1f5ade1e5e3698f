"""ML bridge: the reference's sklearn adjunct re-expressed on Spark MLlib.

Reference surface (src/Learn/*.luna; C++ marshalling
native_libs/learn/Learn.h:13-36, Learn.cpp:17-73): LinearRegression,
LogisticRegression (fit / predict / score), confusionMatrix, oneHotEncode.
The reference ships whole columns to an embedded CPython running sklearn;
here the same capabilities are distributed MLlib estimators — fit is a
Spark job, predict is a plan transformation, nothing round-trips through
the driver.

All helpers take/return DataFrames with plain numeric columns; the
VectorAssembler step is internal so callers never touch MLlib vector
types.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dataframes_spark.io.store import fold_store


def _assemble(df: DataFrame, features: Sequence[str]):
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(inputCols=list(features), outputCol="__features").transform(df)


def linear_regression(
    df: DataFrame,
    features: Sequence[str],
    label: str,
    fit_intercept: bool = True,
):
    """Fit OLS (``solver='normal'`` — exact least squares, deterministic).

    Returns ``(model_summary_dict, predict)`` where ``predict(df)`` appends
    a ``prediction`` column lazily."""
    from pyspark.ml.regression import LinearRegression

    assembled = _assemble(df, features)
    lr = LinearRegression(
        featuresCol="__features",
        labelCol=label,
        solver="normal",
        regParam=0.0,
        fitIntercept=fit_intercept,
    )
    model = lr.fit(assembled)
    summary = {
        "coefficients": [float(c) for c in model.coefficients],
        "intercept": float(model.intercept),
        "r2": float(model.summary.r2),
        "rmse": float(model.summary.rootMeanSquaredError),
    }

    def predict(new_df: DataFrame) -> DataFrame:
        out = model.transform(_assemble(new_df, features))
        return out.drop("__features").withColumnRenamed("prediction", "prediction")

    return summary, predict


def logistic_regression(
    df: DataFrame,
    features: Sequence[str],
    label: str,
    max_iter: int = 100,
):
    """Binary/multinomial logistic regression (L-BFGS). Returns
    ``(model, predict)``; ``predict`` appends ``prediction`` and
    ``probability`` columns."""
    from pyspark.ml.classification import LogisticRegression

    assembled = _assemble(df, features)
    model = LogisticRegression(
        featuresCol="__features", labelCol=label, maxIter=max_iter
    ).fit(assembled)

    def predict(new_df: DataFrame) -> DataFrame:
        return model.transform(_assemble(new_df, features)).drop("__features")

    return model, predict


def confusion_matrix(df: DataFrame, label_col: str, pred_col: str) -> DataFrame:
    """Long-form confusion matrix: (label, prediction, n) — a groupBy, so
    it scales to any row count; pivot driver-side only if a dense matrix is
    wanted (class count is small by definition)."""
    return (
        df.groupBy(
            F.col(label_col).alias("label"), F.col(pred_col).alias("prediction")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "prediction")
    )


def auc_roc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Distributed ROC-AUC via the rank-sum (Mann-Whitney U) identity —
    ``AUC = (sum of positives' AVERAGE ranks − n_pos(n_pos+1)/2) /
    (n_pos · n_neg)`` — with tied scores taking their average rank
    (the textbook tie correction, equivalent to counting ties as half
    a concordant pair). One map-side-combining fold to per-DISTINCT-
    SCORE (count, positive count) rows, an exclusive running count over
    that key relation (`global_order.cumsum_global` — key-cardinality
    work, never a global sort of the data), and one aggregate: exact
    integer-and-half arithmetic until the single final division, so the
    result is engine-reproducible with no rounding below ~2^52 rows.
    Null scores and null labels are excluded (no rank, no class).
    Returns ONE row ``(auc, n_pos, n_neg)``; degenerate single-class
    inputs serve NULL auc. Label truthiness: any non-zero / true label
    is positive."""
    from dataframes_spark.operators.global_order import cumsum_global

    pos = F.col(label_col).cast("double") != 0.0
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    )
    per_score = base.groupBy(F.col(score_col).alias("__auc_s")).agg(
        F.count(F.lit(1)).alias("__auc_cnt"),
        F.sum(pos.cast("long")).alias("__auc_pos"),
    )
    ranked = cumsum_global(
        per_score, "__auc_cnt", "__auc_s", out_col="__auc_before"
    )
    avg_rank = (
        F.col("__auc_before").cast("double")
        + (F.col("__auc_cnt").cast("double") + 1.0) / 2.0
    )
    agg = ranked.agg(
        F.sum(F.col("__auc_pos").cast("double") * avg_rank).alias("__auc_rs"),
        F.sum("__auc_pos").alias("n_pos"),
        (F.sum("__auc_cnt") - F.sum("__auc_pos")).alias("n_neg"),
    )
    np_, nn = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        (F.col("__auc_rs") - np_ * (np_ + 1.0) / 2.0) / (np_ * nn),
    )
    return agg.select(auc.alias("auc"), "n_pos", "n_neg")


def binary_metrics(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: Sequence[float] = (0.5,),
) -> DataFrame:
    """Thresholded binary-classification report — one row per
    threshold: confusion counts (predict positive at ``score >= t``)
    plus precision / recall / f1. ONE scan: thresholds explode from a
    literal array (small by definition) and the counts fold in a single
    map-side-combining groupBy; the ratios are row-local arithmetic on
    exact integers (NULL where undefined). Null scores/labels are
    excluded, as in `auc_roc`."""
    if not thresholds:
        raise ValueError("need at least one threshold")
    pos = (F.col(label_col).cast("double") != 0.0).cast("int")
    base = df.filter(
        F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.col(score_col).alias("__bm_s"),
        pos.alias("__bm_y"),
        F.explode(
            F.array(*[F.lit(float(t)) for t in thresholds])
        ).alias("threshold"),
    )
    p = (F.col("__bm_s") >= F.col("threshold")).cast("int")
    agg = base.groupBy("threshold").agg(
        F.sum(p * F.col("__bm_y")).alias("tp"),
        F.sum(p * (1 - F.col("__bm_y"))).alias("fp"),
        F.sum((1 - p) * F.col("__bm_y")).alias("fn"),
        F.sum((1 - p) * (1 - F.col("__bm_y"))).alias("tn"),
    )
    tp, fp, fn = (F.col(c).cast("double") for c in ("tp", "fp", "fn"))
    prec = F.when(tp + fp > 0, tp / (tp + fp))
    rec = F.when(tp + fn > 0, tp / (tp + fn))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
        2.0 * prec * rec / (prec + rec),
    )
    return agg.select(
        "threshold", "tp", "fp", "fn", "tn",
        prec.alias("precision"), rec.alias("recall"), f1.alias("f1"),
    )


def one_hot_encode(df: DataFrame, col: str, drop_last: bool = False) -> DataFrame:
    """One-hot a categorical column into explicit 0/1 columns named
    ``<col>=<value>``. Category discovery is one distinct aggregation
    (driver receives only the category list — bounded by cardinality, not
    rows); encoding is a plan-side projection, no shuffle."""
    cats = [
        r[0]
        for r in df.select(col).distinct().orderBy(col).collect()
        if r[0] is not None
    ]
    if drop_last and cats:
        cats = cats[:-1]
    exprs = [
        F.when(F.col(col) == v, F.lit(1)).otherwise(F.lit(0)).alias(f"{col}={v}")
        for v in cats
    ]
    return df.select("*", *exprs)


def train_test_split(df: DataFrame, test_ratio: float = 0.25, seed: int = 42):
    """Deterministic hash-based split (stable across runs and partitioning,
    unlike randomSplit which depends on partition layout)."""
    bucket = F.pmod(F.xxhash64(*df.columns), F.lit(10_000))
    test = df.filter(bucket < int(test_ratio * 10_000))
    train = df.filter(bucket >= int(test_ratio * 10_000))
    return train, test


# --------------------------------------------------------------------------
# PCA over embedding columns (array<float>)
# --------------------------------------------------------------------------


def embedding_moments(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """First/second moments of an embedding column in ONE scan:
    ``(pos, val, n)`` where pos < dim holds the per-dimension SUM and
    pos >= dim holds the flattened Gram matrix sum(x_i * x_j) at
    ``dim + i*dim + j``.

    The scan is a `mapInPandas` Arrow-batched numpy kernel emitting one
    partial row per batch (``n`` + a ``dim + dim^2`` array — constant
    size however many rows the batch holds: the classic map-side
    combine, exactly the CMS/HLL state-bounding idiom applied to dense
    second moments). The reduce shuffles only partial rows
    (P * (dim + dim^2) values for P batches), never data. NULL and
    wrong-length vectors are skipped and counted out of ``n``."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            vecs = [
                v for v in pdf[vec_col] if v is not None and len(v) == dim
            ]
            if not vecs:
                continue
            x = np.asarray(vecs, dtype=np.float64)
            sg = np.concatenate([x.sum(axis=0), (x.T @ x).ravel()])
            yield pd.DataFrame({"n": [len(vecs)], "sg": [sg.tolist()]})

    partials = df.select(vec_col).mapInPandas(kernel, "n long, sg array<double>")
    n_total = partials.agg(F.sum("n").alias("n"))
    reduced = (
        partials.select(F.posexplode("sg").alias("pos", "val"))
        .groupBy("pos")
        .agg(F.sum("val").alias("val"))
    )
    return reduced.crossJoin(F.broadcast(n_total))


def embedding_covariance(
    df: DataFrame, vec_col: str, dim: int
) -> DataFrame:
    """Population covariance matrix of an embedding column as an
    ``(i, j, cov)`` frame (upper triangle, i <= j) — assembled
    declaratively from `embedding_moments`: cov_ij = E[x_i x_j] -
    E[x_i] E[x_j]. Everything after the one-scan moment pass joins
    dim^2-sized frames (broadcast), so the plan's data-side cost is the
    single mapInPandas scan. The SQL-oracle-able face of `pca_fit`."""
    m = embedding_moments(df, vec_col, dim)
    means = m.filter(F.col("pos") < dim).select(
        F.col("pos").alias("__k"), (F.col("val") / F.col("n")).alias("mu")
    )
    gram = m.filter(F.col("pos") >= dim).select(
        ((F.col("pos") - dim) / dim).cast("bigint").alias("i"),
        ((F.col("pos") - dim) % dim).cast("bigint").alias("j"),
        "val",
        "n",
    )
    mu_i = means.select(F.col("__k").alias("i"), F.col("mu").alias("mu_i"))
    mu_j = means.select(F.col("__k").alias("j"), F.col("mu").alias("mu_j"))
    return (
        gram.filter(F.col("i") <= F.col("j"))
        .join(F.broadcast(mu_i), "i")
        .join(F.broadcast(mu_j), "j")
        .select(
            "i",
            "j",
            (F.col("val") / F.col("n") - F.col("mu_i") * F.col("mu_j")).alias(
                "cov"
            ),
        )
    )


def pca_fit(df: DataFrame, vec_col: str, k: int, dim: int) -> dict:
    """Fit PCA: ONE distributed moment scan (`embedding_moments`), then
    an eigendecomposition of the driver-tiny dim x dim covariance
    (sanctioned collect: dim^2 doubles, the same driver-side closing
    step as the OLS normal equations / KMeans centroids). Components
    are sign-fixed (largest-|coefficient| positive) so the fit is
    deterministic up to float-sum jitter in the moments. Returns
    ``{"mean", "components" (k x dim, orthonormal rows),
    "explained_variance", "explained_ratio"}``."""
    import numpy as np

    if not 1 <= k <= dim:
        raise ValueError(f"need 1 <= k <= dim, got k={k}, dim={dim}")
    rows = embedding_moments(df, vec_col, dim).collect()
    if not rows:
        raise ValueError("pca_fit: no valid vectors")
    return _pca_from_moment_rows(rows, k, dim)


def _pca_from_moment_rows(rows, k: int, dim: int) -> dict:
    """Eigendecomposition of the covariance implied by collected
    moment rows; components sign-fixed (largest-|coefficient|
    positive) so the fit is deterministic up to float-sum jitter."""
    import numpy as np

    n = rows[0]["n"]
    flat = np.zeros(dim + dim * dim)
    for r in rows:
        flat[r["pos"]] = r["val"]
    mean = flat[:dim] / n
    cov = flat[dim:].reshape(dim, dim) / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T  # k x dim
    for c in comps:  # sign fix: largest-|coeff| positive
        if c[np.argmax(np.abs(c))] < 0:
            c *= -1.0
    ev = np.maximum(evals[order], 0.0)
    total = max(float(np.trace(cov)), 1e-300)
    return {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "explained_variance": ev.tolist(),
        "explained_ratio": (ev / total).tolist(),
    }


def pca_project(
    df: DataFrame, vec_col: str, model: dict, prefix: str = "pc"
) -> DataFrame:
    """Append ``pc1..pck`` projections: map-only JVM array arithmetic
    (zip_with products + one aggregate fold per component, the
    similarity-module dot idiom) against the fit's literal mean/
    component arrays — no shuffle, no Python in the plan, survives any
    scale the scan survives."""
    from dataframes_spark.operators.similarity import lit_dvec

    mean = lit_dvec(model["mean"])
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"), mean, lambda x, m: x - m
    )
    out = df.withColumn("__centered", centered)
    for c_idx, comp in enumerate(model["components"], start=1):
        carr = lit_dvec(comp)
        dot = F.aggregate(
            F.zip_with(F.col("__centered"), carr, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out = out.withColumn(f"{prefix}{c_idx}", dot)
    return out.drop("__centered")


def moments_store_update(
    spark, table: str, df: DataFrame, vec_col: str, dim: int
) -> None:
    """Fold a batch's `embedding_moments` into a persisted moment store
    (catalog parquet table, `io.store.fold_store`). Moments are sums,
    so the merge is element-wise addition — the store stays
    ``dim + dim^2 + 1`` values however many epochs fold in, and
    `pca_fit_from_store` refits PCA over EVERYTHING ever folded in
    at O(batch) per epoch: each batch is scanned once, history never.
    NOT idempotent (sums double-count a refolded batch — CMS semantics,
    not HLL): fold each batch exactly once."""
    fold_store(
        spark,
        table,
        embedding_moments(df, vec_col, dim),
        merge=lambda old, new: old.unionByName(new)
        .groupBy("pos")
        .agg(F.sum("val").alias("val"), F.sum("n").alias("n")),
    )


def pca_fit_from_store(spark, table: str, k: int, dim: int) -> dict:
    """Fit PCA from a persisted moment store — same result as
    `pca_fit` over the concatenation of every batch ever folded in,
    without rescanning any of it. Same return shape as `pca_fit`."""
    if not 1 <= k <= dim:
        raise ValueError(f"need 1 <= k <= dim, got k={k}, dim={dim}")
    rows = spark.table(table).collect()
    if not rows:
        raise ValueError("pca_fit_from_store: empty store")
    return _pca_from_moment_rows(rows, k, dim)
