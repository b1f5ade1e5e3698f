"""Data-quality validation: Deequ-style declarative checks, computed in
ONE aggregation pass.

A training-data pipeline gates every ingest on expectations — row count
bounds, null fractions, uniqueness, value ranges, set membership,
pattern conformance. Running each check as its own action re-scans the
input per check; here every check compiles to an aggregate expression
and the whole suite is a single ``df.agg(...)`` (map-side partial
combine, one job), returning a tiny report frame:

    (check, column, passed, observed, expected)

``observed``/``expected`` are strings for uniform schema; ``passed`` is
the gate. ``validate(df, checks)`` raises on failure for pipeline use.

Check constructors (all return a ``Check``):
- ``row_count(min_rows, max_rows)``
- ``not_null(col, max_null_fraction=0.0)``
- ``unique(col, approx=False, rsd=0.05)`` — no duplicate non-null
  values; ``approx=True`` uses HyperLogLog++ (constant memory, 3·rsd
  error band) for cheap corpus-scale gates
- ``in_range(col, lo, hi)`` — every non-null value inside [lo, hi]
- ``values_in(col, allowed)`` — every non-null value in the set
- ``matches(col, regex, min_fraction=1.0)`` — anchored full-match
- ``mean_between(col, lo, hi)``

Uniqueness uses ``count_distinct`` in the same aggregate — Catalyst
plans the mixed distinct/non-distinct aggregation with its standard
Expand strategy, still one pass over the data.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataframes_spark.io.store import fold_store, store_stamp


@dataclass(frozen=True)
class Check:
    name: str
    column: str
    # aggregate expressions whose results feed the verdict
    aggs: tuple  # tuple[Column, ...]
    # (observed_values...) -> (passed: bool expr over result row, expected: str)
    verdict: Callable
    expected: str


def _frac(cond: Column) -> Column:
    """Fraction of rows satisfying ``cond`` (0.0 on an empty input)."""
    return F.coalesce(
        F.sum(F.when(cond, 1).otherwise(0)) / F.greatest(F.count(F.lit(1)), F.lit(1)),
        F.lit(0.0),
    )


def row_count(min_rows: int = 0, max_rows: int | None = None) -> Check:
    hi = "inf" if max_rows is None else str(max_rows)

    def verdict(n):
        ok = n >= min_rows and (max_rows is None or n <= max_rows)
        return ok, str(n)

    return Check(
        "row_count", "*", (F.count(F.lit(1)),), verdict, f"[{min_rows}, {hi}]"
    )


def not_null(col: str, max_null_fraction: float = 0.0) -> Check:
    def verdict(frac):
        return frac <= max_null_fraction, f"{frac:.6f}"

    return Check(
        "not_null",
        col,
        (_frac(F.col(col).isNull()),),
        verdict,
        f"null fraction <= {max_null_fraction}",
    )


def unique(
    col: str,
    *,
    approx: bool = False,
    rsd: float = 0.01,
    max_duplicate_fraction: float | None = None,
) -> Check:
    """No duplicate non-null values in ``col``.

    Exact mode (default) uses ``count_distinct`` — one pass via
    Catalyst's Expand strategy, but a distinct aggregation over a
    near-unique key is itself heavy at corpus scale (the distinct-key
    state is ~the size of the column). ``approx=True`` swaps in
    ``approx_count_distinct`` (HyperLogLog++, bounded ~relative standard
    deviation ``rsd``, constant memory). An HLL estimate cannot prove
    zero duplicates, so the approx gate needs a visible tolerance:
    ``max_duplicate_fraction`` is the estimated duplicate mass the check
    accepts; it defaults to the estimator's 3·rsd error band (0.03 at
    the default rsd=0.01 — duplicate mass statistically
    indistinguishable from HLL noise). Pass it explicitly to make the
    looseness a call-site decision. Use approx for cheap gates on
    100 TB ingests, exact when the answer must be a proof.
    """
    if approx:
        band = 3 * rsd if max_duplicate_fraction is None else max_duplicate_fraction

        def verdict_approx(n_non_null, n_distinct_est):
            if not n_non_null:
                return True, "no values"
            est_dup_frac = max(0.0, 1.0 - n_distinct_est / n_non_null)
            return est_dup_frac <= band, f"~{est_dup_frac:.6f} duplicate fraction"

        return Check(
            "unique_approx",
            col,
            (F.count(F.col(col)), F.approx_count_distinct(F.col(col), rsd)),
            verdict_approx,
            f"duplicate fraction <= {band:.4f}"
            + ("" if max_duplicate_fraction is not None else f" (3*rsd error band, rsd={rsd})"),
        )

    def verdict(n_non_null, n_distinct):
        return n_non_null == n_distinct, f"{n_non_null - n_distinct} duplicates"

    return Check(
        "unique",
        col,
        (F.count(F.col(col)), F.count_distinct(F.col(col))),
        verdict,
        "0 duplicates",
    )


def in_range(col: str, lo, hi) -> Check:
    def verdict(n_out):
        return n_out == 0, f"{n_out} out of range"

    c = F.col(col)
    # coalesce: F.sum over a zero-row input is NULL, and None == 0 is
    # False — a vacuously-true check would fail on an empty micro-batch
    # (and permanently kill a validate_each_batch stream in raise mode)
    return Check(
        "in_range",
        col,
        (
            F.coalesce(
                F.sum(F.when(c.isNotNull() & ((c < lo) | (c > hi)), 1).otherwise(0)),
                F.lit(0),
            ),
        ),
        verdict,
        f"[{lo}, {hi}]",
    )


def values_in(col: str, allowed) -> Check:
    allowed = list(allowed)

    def verdict(n_out):
        return n_out == 0, f"{n_out} outside set"

    c = F.col(col)
    # coalesce: see in_range — empty input must be vacuously true
    return Check(
        "values_in",
        col,
        (
            F.coalesce(
                F.sum(F.when(c.isNotNull() & ~c.isin(allowed), 1).otherwise(0)),
                F.lit(0),
            ),
        ),
        verdict,
        f"in {sorted(map(str, allowed))}",
    )


def matches(col: str, regex: str, min_fraction: float = 1.0) -> Check:
    # vacuously true with no non-null values (like in_range/values_in):
    # an empty micro-batch must not kill a raise-mode stream gate
    def verdict(frac, n_non_null):
        if n_non_null == 0:
            return True, "no values"
        return frac >= min_fraction, f"{frac:.6f}"

    c = F.col(col)
    return Check(
        "matches",
        col,
        (
            F.coalesce(
                F.sum(F.when(c.rlike(f"^(?:{regex})$"), 1).otherwise(0))
                / F.greatest(F.count(c), F.lit(1)),
                F.lit(0.0),
            ),
            F.count(c),
        ),
        verdict,
        f"match fraction >= {min_fraction}",
    )


def mean_between(col: str, lo: float, hi: float) -> Check:
    # vacuously true with no non-null values — see matches
    def verdict(mean, n_non_null):
        if n_non_null == 0:
            return True, "no values"
        # n_non_null > 0 guarantees avg() is non-null here
        return lo <= mean <= hi, f"{mean:.6f}"

    return Check(
        "mean_between",
        col,
        (F.avg(F.col(col)), F.count(F.col(col))),
        verdict,
        f"[{lo}, {hi}]",
    )


def run_checks(df: DataFrame, checks: list[Check]) -> list[dict]:
    """Evaluate every check in ONE aggregation job; returns a list of
    ``{check, column, passed, observed, expected}`` dicts (tiny by
    construction — one entry per check)."""
    if not checks:
        return []
    aggs, slots = [], []
    for i, ch in enumerate(checks):
        idx = []
        for j, a in enumerate(ch.aggs):
            aggs.append(a.alias(f"__c{i}_{j}"))
            idx.append(f"__c{i}_{j}")
        slots.append(idx)
    row = df.agg(*aggs).first()
    report = []
    for ch, idx in zip(checks, slots):
        passed, observed = ch.verdict(*[row[k] for k in idx])
        report.append(
            {
                "check": ch.name,
                "column": ch.column,
                "passed": bool(passed),
                "observed": observed,
                "expected": ch.expected,
            }
        )
    return report


def check_report(df: DataFrame, checks: list[Check]) -> DataFrame:
    """``run_checks`` as a DataFrame: (check, column, passed, observed,
    expected) — one row per check, driver-tiny."""
    spark = df.sparkSession
    rows = [
        (r["check"], r["column"], r["passed"], r["observed"], r["expected"])
        for r in run_checks(df, checks)
    ]
    return spark.createDataFrame(
        rows, "check string, column string, passed boolean, observed string, expected string"
    )


def format_failures(report: list[dict]) -> str:
    """One line per failed check — shared by ``validate`` and the
    streaming ``validate_each_batch`` gate so their messages never
    drift."""
    return "\n  ".join(
        f"{r['check']}({r['column']}): observed {r['observed']}, "
        f"expected {r['expected']}"
        for r in report
        if not r["passed"]
    )


def validate(df: DataFrame, checks: list[Check]) -> None:
    """Raise ``ValueError`` naming every failed check — the pipeline
    gate form. One aggregation job either way."""
    failed = [r for r in run_checks(df, checks) if not r["passed"]]
    if failed:
        raise ValueError(
            "data-quality checks failed:\n  " + format_failures(failed)
        )


# --------------------------------------------------------------------------
# Distribution drift: Population Stability Index between two frames
# --------------------------------------------------------------------------


def drift_psi(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    smoothing: float = 0.5,
) -> DataFrame:
    """Population Stability Index of ``cur`` against ``ref`` over fixed
    equal-width bins: per-bin rows ``(bin, p_ref, p_cur, psi_term)``
    with ``psi_term = (p_cur - p_ref) * ln(p_cur / p_ref)``; the PSI is
    their sum (industry reading: < 0.1 stable, 0.1-0.25 drifting,
    > 0.25 shifted). The continuously-ingesting pipeline's drift gate:
    did this batch's length / quality-score / value distribution move
    against the corpus it joins?

    Each side costs ONE filtered scan folding to a bins-row partial
    aggregate (the exchange carries bins rows, never data); the bin
    frames join broadcast-small. Probabilities are Laplace-smoothed
    ((count + smoothing) / (n + smoothing * bins)) so empty bins
    contribute finite terms and the arithmetic is deterministic —
    identical on any engine up to ln()'s last ulp. Values outside
    [lo, hi] clamp into the edge bins (drift OUT of range must move
    the index, not vanish); NULLs are excluded. ``lo``/``hi`` default
    to the REFERENCE frame's min/max — pass them explicitly when the
    gate must be reproducible across epochs."""
    if bins < 2:
        raise ValueError(f"need bins >= 2, got {bins}")
    if smoothing <= 0:
        raise ValueError(f"need smoothing > 0, got {smoothing}")
    if lo is None or hi is None:
        b = ref.agg(
            F.min(F.col(col).cast("double")), F.max(F.col(col).cast("double"))
        ).first()
        if b[0] is None or b[1] is None:
            raise ValueError(
                f"reference frame has no non-null values for {col!r}; "
                "pass explicit lo/hi or a non-empty reference"
            )
        lo = float(b[0]) if lo is None else lo
        hi = float(b[1]) if hi is None else hi
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")

    rc = _binned_counts(ref, col, bins, lo, hi, "n_ref")
    cc = _binned_counts(cur, col, bins, lo, hi, "n_cur")
    return _psi_report(ref.sparkSession, rc, cc, bins, smoothing)


def _binned_counts(
    df: DataFrame, col: str, bins: int, lo: float, hi: float, out: str
) -> DataFrame:
    """Clamped equal-width bin counts: ``(bin, out)``, NULLs and NaNs
    excluded, out-of-range values in the edge bins. ONE scan folding to
    a bins-row partial aggregate.

    The clamp runs on floor()'s LongType result BEFORE the int cast —
    casting first wraps once the scaled value passes 2^31 (an extreme
    outlier would land in bin 0 or a random middle bin instead of the
    edge bin the contract promises); +/-inf saturate at the long
    extremes and clamp into the edge bins."""
    x = F.col(col).cast("double")
    raw = F.floor((x - F.lit(lo)) / F.lit(hi - lo) * F.lit(bins))
    idx = F.greatest(
        F.lit(0).cast("bigint"), F.least(F.lit(bins - 1).cast("bigint"), raw)
    ).cast("int")
    return (
        df.filter(x.isNotNull() & ~F.isnan(x))
        .groupBy(idx.alias("bin"))
        .agg(F.count(F.lit(1)).alias(out))
    )


def _psi_report(
    spark, rc: DataFrame, cc: DataFrame, bins: int, smoothing: float
) -> DataFrame:
    """Per-bin PSI report from two bin-count frames (``(bin, n_ref)``
    and ``(bin, n_cur)``) — shared by the two-frame form and the
    persisted-histogram-store form."""
    spine = spark.range(bins).select(F.col("id").cast("int").alias("bin"))
    j = (
        spine.join(F.broadcast(rc), "bin", "left")
        .join(F.broadcast(cc), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = j.agg(F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc"))
    s = float(smoothing)
    p_ref = (F.col("n_ref") + F.lit(s)) / (F.col("tr") + F.lit(s * bins))
    p_cur = (F.col("n_cur") + F.lit(s)) / (F.col("tc") + F.lit(s * bins))
    return (
        j.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n_ref",
            "n_cur",
            p_ref.alias("p_ref"),
            p_cur.alias("p_cur"),
            ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi_term"),
        )
        .orderBy("bin")
    )


def drift_gate(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    max_psi: float = 0.25,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
) -> dict:
    """Pass/fail form of `drift_psi`: returns ``{"psi", "passed"}``;
    raise-on-drift is the caller's ``assert``/``validate`` choice."""
    psi = drift_psi(ref, cur, col, bins=bins, lo=lo, hi=hi).agg(
        F.sum("psi_term")
    ).first()[0]
    psi = float(psi or 0.0)
    return {"psi": psi, "passed": psi <= max_psi}


def _sum_n(keys: list[str]):
    """Count-store merge: sum ``n`` per key (CMS semantics)."""
    return lambda old, new: (
        old.unionByName(new).groupBy(*keys).agg(F.sum("n").alias("n"))
    )


def hist_store_update(
    spark,
    table: str,
    df: DataFrame,
    col: str,
    bins: int,
    lo: float,
    hi: float,
) -> None:
    """Fold a batch's bin counts into a persisted histogram store
    (catalog parquet table, `io.store.fold_store`) — the reference side
    of an INCREMENTAL drift gate: production pipelines keep the
    reference HISTOGRAM, not the reference data, so each epoch costs
    one scan of the batch and the store stays ``bins`` rows forever.
    ``lo``/``hi``/``bins`` are REQUIRED and stamped on the store; an
    update with different binning raises (bins that change meaning
    between epochs would make every stored count wrong). Counts
    sum-merge (CMS semantics: NOT idempotent — fold each batch exactly
    once)."""
    if bins < 2:
        raise ValueError(f"need bins >= 2, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    fold_store(
        spark,
        table,
        _binned_counts(df, col, bins, float(lo), float(hi), "n"),
        merge=_sum_n(["bin"]),
        stamp={"col": col, "bins": int(bins), "lo": float(lo), "hi": float(hi)},
    )


def drift_psi_from_store(
    spark, table: str, cur: DataFrame, smoothing: float = 0.5
) -> DataFrame:
    """`drift_psi` of ``cur`` against a persisted histogram store —
    the incremental form: the reference side reads ``bins`` rows, the
    batch side is one scan, and the store's stamped (col, bins, lo, hi)
    guarantee both sides bin identically."""
    meta = store_stamp(spark, table)
    rc = spark.table(table).select("bin", F.col("n").alias("n_ref"))
    cc = _binned_counts(
        cur, meta["col"], meta["bins"], meta["lo"], meta["hi"], "n_cur"
    )
    return _psi_report(spark, rc, cc, meta["bins"], smoothing)


def drift_gate_from_store(
    spark, table: str, cur: DataFrame, max_psi: float = 0.25
) -> dict:
    """Pass/fail form of `drift_psi_from_store`."""
    psi = (
        drift_psi_from_store(spark, table, cur)
        .agg(F.sum("psi_term"))
        .first()[0]
    )
    psi = float(psi or 0.0)
    return {"psi": psi, "passed": psi <= max_psi}


def drift_psi_multi(
    ref: DataFrame,
    cur: DataFrame,
    specs: dict,
    bins: int = 10,
    smoothing: float = 0.5,
) -> DataFrame:
    """PSI drift for SEVERAL columns in ONE scan per side: ``specs``
    maps column -> (lo, hi). Each row explodes to one (col, bin) cell
    per listed column (map-side, nothing widens the exchange beyond
    ``k * bins`` count rows), so a 20-column quality gate costs the
    same two scans as a 1-column gate — at 100 TB the difference
    between one pass and twenty. Returns per-(col, bin) rows with the
    same columns as `drift_psi` plus ``col``; sum ``psi_term`` per
    ``col`` for the per-column index. Binning semantics are identical
    to `drift_psi` (clamped equal-width, NULLs excluded per column)."""
    if not specs:
        raise ValueError("specs must map at least one column to (lo, hi)")
    if bins < 2:
        raise ValueError(f"need bins >= 2, got {bins}")
    if smoothing <= 0:
        raise ValueError(f"need smoothing > 0, got {smoothing}")
    for c, (lo, hi) in specs.items():
        if not float(hi) > float(lo):
            raise ValueError(f"need hi > lo for {c!r}, got [{lo}, {hi}]")
    rc = _multi_cells(ref, specs, bins, "n_ref")
    cc = _multi_cells(cur, specs, bins, "n_cur")
    return _psi_report_multi(
        ref.sparkSession, rc, cc, list(specs), bins, smoothing
    )


def _multi_cells(df: DataFrame, specs: dict, bins: int, out: str) -> DataFrame:
    """Per-(col, bin) counts for k columns in ONE scan: each row
    explodes map-side to one cell per listed column, partial
    aggregation folds before the exchange (it carries ≤ k * bins count
    rows). Shared by the two-frame multi gate and the persisted
    multi-column histogram store."""
    structs = []
    for c, (lo, hi) in specs.items():
        x = F.col(c).cast("double")
        raw = F.floor(
            (x - F.lit(float(lo))) / F.lit(float(hi) - float(lo)) * F.lit(bins)
        )
        # clamp on the LongType floor BEFORE the int cast (same
        # wrap-around contract as _binned_counts); NULL/NaN value
        # -> NULL bin, dropped below (per-column NULLs)
        idx = F.when(
            x.isNotNull() & ~F.isnan(x),
            F.greatest(
                F.lit(0).cast("bigint"),
                F.least(F.lit(bins - 1).cast("bigint"), raw),
            ).cast("int"),
        )
        structs.append(F.struct(F.lit(c).alias("col"), idx.alias("bin")))
    return (
        df.select(F.explode(F.array(*structs)).alias("__c"))
        .select("__c.col", "__c.bin")
        .filter(F.col("bin").isNotNull())
        .groupBy("col", "bin")
        .agg(F.count(F.lit(1)).alias(out))
    )


def _psi_report_multi(
    spark, rc: DataFrame, cc: DataFrame, cols: list, bins: int, smoothing: float
) -> DataFrame:
    """Per-(col, bin) PSI report from two (col, bin, count) frames —
    shared by `drift_psi_multi` and `drift_psi_multi_from_store`."""
    spine = (
        spark.range(bins)
        .select(F.col("id").cast("int").alias("bin"))
        .crossJoin(spark.createDataFrame([(c,) for c in cols], "col string"))
    )
    j = (
        spine.join(F.broadcast(rc), ["col", "bin"], "left")
        .join(F.broadcast(cc), ["col", "bin"], "left")
        .select(
            "col",
            "bin",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tots = j.groupBy("col").agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    j = j.join(F.broadcast(tots), "col")
    s = float(smoothing)
    p_ref = (F.col("n_ref") + F.lit(s)) / (F.col("__tr") + F.lit(s * bins))
    p_cur = (F.col("n_cur") + F.lit(s)) / (F.col("__tc") + F.lit(s * bins))
    return j.select(
        "col",
        "bin",
        "n_ref",
        "n_cur",
        p_ref.alias("p_ref"),
        p_cur.alias("p_cur"),
        ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi_term"),
    ).orderBy("col", "bin")


def hist_store_update_multi(
    spark, table: str, df: DataFrame, specs: dict, bins: int = 10
) -> None:
    """Fold a batch's k-column binned counts into ONE persisted
    multi-column histogram store (rows ``(col, bin, n)``,
    `io.store.fold_store`): the batch costs ONE scan for all k columns
    (`_multi_cells`), the merged store stays at most ``k * bins`` rows
    however many epochs fold in, and the stamped per-column
    ``(lo, hi)`` and ``bins`` guarantee every epoch binned identically
    — the store refuses to fold a mismatched spec (changed bounds
    silently corrupt a histogram sum). One store backs the whole
    k-column drift gate (`drift_psi_multi_from_store`), where the
    single-column `hist_store_update` needed k stores and k scans."""
    if not specs:
        raise ValueError("specs must map at least one column to (lo, hi)")
    if bins < 2:
        raise ValueError(f"need bins >= 2, got {bins}")
    for c, (lo, hi) in specs.items():
        if not float(hi) > float(lo):
            raise ValueError(f"need hi > lo for {c!r}, got [{lo}, {hi}]")
    fold_store(
        spark,
        table,
        _multi_cells(df, specs, bins, "n"),
        merge=_sum_n(["col", "bin"]),
        stamp={
            "bins": int(bins),
            "specs": {c: [float(lo), float(hi)] for c, (lo, hi) in specs.items()},
        },
    )


def drift_psi_multi_from_store(
    spark, table: str, cur: DataFrame, smoothing: float = 0.5
) -> DataFrame:
    """`drift_psi_multi` of ``cur`` against ONE persisted multi-column
    histogram store — the incremental k-column gate: the reference side
    reads ``k * bins`` rows, the batch side is ONE scan for all k
    columns, and the store's stamped per-column (lo, hi) and bins
    guarantee both sides bin identically. Store-backed == two-frame by
    construction (same cells, same report arithmetic)."""
    meta = store_stamp(spark, table)
    bins, specs = meta["bins"], meta["specs"]
    rc = spark.table(table).select("col", "bin", F.col("n").alias("n_ref"))
    cc = _multi_cells(cur, specs, bins, "n_cur")
    return _psi_report_multi(spark, rc, cc, list(specs), bins, smoothing)


# --------------------------------------------------------------------------
# Categorical drift: value-bucket PSI (top-k categories + __other__)
# --------------------------------------------------------------------------

OTHER_BUCKET = "__other__"


def _categorical_counts(
    df: DataFrame, col: str, cats: DataFrame, out: str
) -> DataFrame:
    """Per-category counts with everything outside ``cats`` folded into
    the ``__other__`` bucket: ONE scan folding to a per-distinct-value
    partial aggregate (the exchange carries distinct values, never
    rows), then a broadcast join against the ≤ k-row category frame and
    a second tiny fold to ≤ k+1 buckets. NULLs are excluded (the
    numeric `drift_psi` contract)."""
    vc = (
        df.filter(F.col(col).isNotNull())
        .groupBy(F.col(col).cast("string").alias("__v"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        vc.join(F.broadcast(cats.withColumn("__is_cat", F.lit(1))), "__v", "left")
        .select(
            F.when(F.col("__is_cat").isNotNull(), F.col("__v"))
            .otherwise(F.lit(OTHER_BUCKET))
            .alias("category"),
            "__n",
        )
        .groupBy("category")
        .agg(F.sum("__n").alias(out))
    )


def drift_psi_categorical(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    top_k: int = 20,
    categories: list | None = None,
    smoothing: float = 0.5,
) -> DataFrame:
    """Population Stability Index over VALUE buckets — the drift gate
    for the columns an LLM pipeline actually watches (language, source,
    license), which `drift_psi`'s numeric binning cannot express.
    Buckets are the top ``top_k`` categories of the REFERENCE frame
    (deterministic: count desc, value asc tiebreak) plus ``__other__``;
    pass ``categories`` explicitly when the gate must be reproducible
    across epochs (the store variant stamps them). Returns per-bucket
    rows ``(category, n_ref, n_cur, p_ref, p_cur, psi_term)``; the PSI
    is their sum, same smoothing and reading as `drift_psi`.

    Each side costs ONE scan folding to a per-distinct-value partial
    aggregate (the exchange carries distinct values, never rows); the
    bucket fold and the report join run over ≤ k+1-row broadcast
    frames. With derived categories the reference is scanned twice
    (once to rank values, once to count) — pass ``categories`` to make
    it one scan per side. NULLs are excluded, like `drift_psi`."""
    if smoothing <= 0:
        raise ValueError(f"need smoothing > 0, got {smoothing}")
    spark = ref.sparkSession
    if categories is not None:
        if not categories:
            raise ValueError("categories must be non-empty when given")
        if len(set(categories)) != len(categories):
            raise ValueError("categories must be distinct")
        if OTHER_BUCKET in categories:
            raise ValueError(f"{OTHER_BUCKET!r} is the reserved overflow bucket")
        cats = spark.createDataFrame([(str(c),) for c in categories], "__v string")
    else:
        if top_k < 1:
            raise ValueError(f"need top_k >= 1, got {top_k}")
        cats = (
            ref.filter(F.col(col).isNotNull())
            .groupBy(F.col(col).cast("string").alias("__v"))
            .agg(F.count(F.lit(1)).alias("__n"))
            .orderBy(F.col("__n").desc(), F.col("__v").asc())
            .limit(int(top_k))
            .select("__v")
        )
    rc = _categorical_counts(ref, col, cats, "n_ref")
    cc = _categorical_counts(cur, col, cats, "n_cur")
    spine = cats.select(F.col("__v").alias("category")).unionByName(
        spark.createDataFrame([(OTHER_BUCKET,)], "category string")
    )
    # bucket count for the smoothing denominator: spine rows, computed
    # in-plan (1-row broadcast) so derived-top-k stays action-free
    nb = spine.agg(F.count(F.lit(1)).alias("__nb"))
    j = (
        spine.join(F.broadcast(rc), "category", "left")
        .join(F.broadcast(cc), "category", "left")
        .select(
            "category",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = j.agg(F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc"))
    s = float(smoothing)
    p_ref = (F.col("n_ref") + F.lit(s)) / (F.col("__tr") + F.lit(s) * F.col("__nb"))
    p_cur = (F.col("n_cur") + F.lit(s)) / (F.col("__tc") + F.lit(s) * F.col("__nb"))
    return (
        j.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nb))
        .select(
            "category",
            "n_ref",
            "n_cur",
            p_ref.alias("p_ref"),
            p_cur.alias("p_cur"),
            ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi_term"),
        )
        .orderBy("category")
    )


def drift_gate_categorical(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    max_psi: float = 0.25,
    top_k: int = 20,
    categories: list | None = None,
) -> dict:
    """Pass/fail form of `drift_psi_categorical`."""
    psi = (
        drift_psi_categorical(ref, cur, col, top_k=top_k, categories=categories)
        .agg(F.sum("psi_term"))
        .first()[0]
    )
    psi = float(psi or 0.0)
    return {"psi": psi, "passed": psi <= max_psi}


def cat_hist_store_update(
    spark, table: str, df: DataFrame, col: str, categories: list
) -> None:
    """Fold a batch's categorical counts into a persisted category
    histogram store (rows ``(category, n)``, `io.store.fold_store`): at
    most ``len(categories) + 1`` rows however many epochs fold in. The
    store is stamped with the column name and the SORTED category set
    and refuses to fold a mismatched gate (a changed category set
    silently corrupts bucket sums — the same guard as the numeric
    store's (bins, lo, hi) stamp). Explicit categories are required: a
    per-epoch top-k would re-derive different buckets per fold."""
    if not categories:
        raise ValueError("categories must be non-empty")
    if len(set(categories)) != len(categories):
        raise ValueError("categories must be distinct")
    if OTHER_BUCKET in categories:
        raise ValueError(f"{OTHER_BUCKET!r} is the reserved overflow bucket")
    cats = spark.createDataFrame([(str(c),) for c in categories], "__v string")
    # persist the FULL spine (every category + __other__, zeros
    # included): the read side derives the category set from the store
    # ROWS, so a category that happened to count 0 in every fold must
    # not vanish and silently re-bucket future batches into __other__
    spine = cats.select(F.col("__v").alias("category")).unionByName(
        spark.createDataFrame([(OTHER_BUCKET,)], "category string")
    )
    batch = spine.join(
        F.broadcast(_categorical_counts(df, col, cats, "n")), "category", "left"
    ).select("category", F.coalesce("n", F.lit(0)).alias("n"))
    fold_store(
        spark,
        table,
        batch,
        merge=_sum_n(["category"]),
        stamp={"col": col, "categories": sorted(str(c) for c in categories)},
    )


def drift_psi_categorical_from_store(
    spark, table: str, cur: DataFrame, smoothing: float = 0.5
) -> DataFrame:
    """`drift_psi_categorical` of ``cur`` against a persisted category
    store — the incremental form: the reference side reads ≤ k+1 rows,
    the batch side is one scan, and the store's stamped category set
    guarantees both sides bucket identically. Store-backed == two-frame
    with the same explicit categories, by construction."""
    store = spark.table(table)
    cats = (
        store.filter(F.col("category") != OTHER_BUCKET)
        .select(F.col("category").alias("__v"))
    )
    rc = store.select("category", F.col("n").alias("n_ref"))
    cc = _categorical_counts(cur, store_stamp(spark, table)["col"], cats, "n_cur")
    spine = cats.select(F.col("__v").alias("category")).unionByName(
        spark.createDataFrame([(OTHER_BUCKET,)], "category string")
    )
    nb = spine.agg(F.count(F.lit(1)).alias("__nb"))
    j = (
        spine.join(F.broadcast(rc), "category", "left")
        .join(F.broadcast(cc), "category", "left")
        .select(
            "category",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = j.agg(F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc"))
    s = float(smoothing)
    p_ref = (F.col("n_ref") + F.lit(s)) / (F.col("__tr") + F.lit(s) * F.col("__nb"))
    p_cur = (F.col("n_cur") + F.lit(s)) / (F.col("__tc") + F.lit(s) * F.col("__nb"))
    return (
        j.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nb))
        .select(
            "category",
            "n_ref",
            "n_cur",
            p_ref.alias("p_ref"),
            p_cur.alias("p_cur"),
            ((p_cur - p_ref) * F.log(p_cur / p_ref)).alias("psi_term"),
        )
        .orderBy("category")
    )


def corpus_report(
    df: DataFrame,
    text_col: str,
    group_col: str,
    label_col: str | None = None,
) -> DataFrame:
    """Corpus data card: the per-``group_col`` (source/shard/snapshot)
    summary a training-data pipeline publishes alongside the data —
    volume, token mass, exact-duplicate exposure, and (with
    ``label_col``, e.g. a language column) the dominant label and its
    share. One row per group:

    ``(group, n_docs, n_dup_docs, total_tokens, avg_tokens, top_label,
    top_label_frac)`` — ``n_dup_docs`` counts documents whose exact
    content (md5, case- and whitespace-sensitive like `exact_dedup`'s
    grouping domain) appears more than once in the WHOLE corpus, so two
    sources sharing a document each report it (cross-source
    contamination is visible from both sides). Without ``label_col``
    the two label columns are omitted. Ties on the label mode break to
    the alphabetically-smallest label (deterministic report).

    Scale: one scan computes fingerprint + token count per document
    (map-only); the duplicate flag is the `strip_repeated_lines` shape
    — a groupBy on the 32 B fingerprint and an AQE-broadcastable flag
    join (only fingerprints crossing the bar join back); the label mode
    is a per-(group, label) count plus a top-1 window — every relation
    after the scan is group- or fingerprint-sized, never corpus-wide
    text."""
    toks = F.size(
        F.filter(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
            lambda t: t != "",
        )
    )
    label = [F.col(label_col).alias("__l")] if label_col else []
    base = df.select(
        F.col(group_col).alias("__g"),
        *label,
        # null text -> null fingerprint; groupBy groups nulls together,
        # so null-text documents dedup-count against each other exactly
        # like exact_dedup's null-equal grouping — no sentinel needed
        F.md5(F.col(text_col).cast("binary")).alias("__fp"),
        toks.alias("__nt"),
    )
    dup = (
        base.groupBy("__fp")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select(F.col("__fp").alias("__dfp"), F.lit(True).alias("__dup"))
    )
    # null-safe flag join: null-text documents share a null fingerprint
    # (grouped together above) and must match their flag row too
    flagged = base.join(
        dup, base["__fp"].eqNullSafe(dup["__dfp"]), "left"
    ).drop("__dfp")
    report = flagged.groupBy("__g").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("__dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_docs"),
        F.sum("__nt").cast("bigint").alias("total_tokens"),
        F.round(F.avg("__nt"), 6).alias("avg_tokens"),
    )
    if label_col is None:
        return report.withColumnRenamed("__g", group_col)
    from pyspark.sql import Window as _W

    lg = base.groupBy("__g", "__l").agg(F.count(F.lit(1)).alias("__c"))
    w = _W.partitionBy("__g").orderBy(
        F.col("__c").desc(), F.col("__l").asc_nulls_last()
    )
    top = (
        lg.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "__g",
            F.col("__l").alias("top_label"),
            F.col("__c").alias("__tc"),
        )
    )
    return report.join(top, "__g").select(
        F.col("__g").alias(group_col),
        "n_docs",
        "n_dup_docs",
        "total_tokens",
        "avg_tokens",
        "top_label",
        F.round(F.col("__tc") / F.col("n_docs"), 6).alias("top_label_frac"),
    )


def histogram_counts(
    df: DataFrame, col: str, bins: int, lo: float, hi: float
) -> DataFrame:
    """Public face of the clamped equal-width binning every drift/store
    lane here shares: ``(bin, n)`` — one scan folding to a bins-row
    partial aggregate; NULL/NaN excluded, out-of-range values clamped
    into the edge bins. The mergeable constant-size summary
    `hist_quantiles` estimates from (bin counts from disjoint batches
    sum-merge — the `hist_store_update` law)."""
    if bins < 2:
        raise ValueError(f"need bins >= 2, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    return _binned_counts(df, col, bins, float(lo), float(hi), "n")


def hist_quantiles(
    hist: DataFrame, qs, bins: int, lo: float, hi: float
) -> DataFrame:
    """Quantile estimates from a bins-row histogram (`histogram_counts`
    output or a `hist_store_update` store): ``(q, est)`` by linear
    interpolation inside the covering bin — the sketch-family quantile:
    the state is ``bins`` rows regardless of data volume, merges by
    addition, and the estimate is exact to within one bin width
    ``(hi-lo)/bins`` for in-range data (clamped outliers pin to the
    edges). ``qs`` must lie in (0, 1].

    Everything after the (already bins-row) histogram touches only
    bins-row relations: the cumulative window and the covering-bin join
    run over at most ``bins`` rows — a deliberate, bounded
    single-partition fold, never data-bearing."""
    for q in qs:
        if not 0.0 < q <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    from pyspark.sql import Window as W

    spark = hist.sparkSession
    width = (float(hi) - float(lo)) / bins
    cum = hist.select("bin", "n").withColumn(
        "cum", F.sum("n").over(W.orderBy("bin"))
    )
    tot = hist.agg(F.sum("n").cast("double").alias("__N"))
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    j = qdf.crossJoin(F.broadcast(tot)).withColumn(
        "__target", F.col("q") * F.col("__N")
    )
    covering = j.join(
        F.broadcast(cum),
        (F.col("cum") >= F.col("__target"))
        & ((F.col("cum") - F.col("n")) < F.col("__target")),
    )
    return covering.select(
        "q",
        F.round(
            F.lit(float(lo))
            + F.lit(width)
            * (
                F.col("bin")
                + (F.col("__target") - (F.col("cum") - F.col("n")))
                / F.col("n")
            ),
            6,
        ).alias("est"),
    )
