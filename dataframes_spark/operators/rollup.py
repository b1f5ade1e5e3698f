"""Hypertable-style continuous aggregates: time-bucketed rollups with
MERGEABLE partial state, an incremental persisted store, and serving
finalizers — the "rollup a 100 TB event stream into calendar-bounded
summaries once, serve forever" primitive (the continuous-aggregate /
materialized-rollup design popularized by TimescaleDB and Druid; no
reference analog — the reference's aggregation surface is one-shot
``aggregateBy``, ``src/Table.luna`` group-by only).

Design for scale:

- ``rollup`` is ONE map-side-combining groupBy: the exchange carries
  (bucket x group)-cardinality partial-state rows, never data rows.
  Partial state is the classic mergeable five-tuple per bucket —
  ``(n_rows, n, s, mn, mx, ss)`` — from which count / sum / mean / min /
  max / variance / stddev all finalize with row-local arithmetic.
- ``rollup_store_update`` folds a batch into a persisted catalog table
  at O(batch) cost: history is never re-scanned, the store stays
  calendar-bounded ((buckets so far) x groups rows) forever, and the
  swap is crash-safe (`io.store.fold_store`). Counts/sums SUM-merge
  (CMS semantics: NOT idempotent — fold each batch exactly once);
  min/max merge idempotently. The store is stamped with
  ``(value col, width, group cols)`` and REFUSES a mismatched fold —
  buckets that silently changed meaning between epochs would corrupt
  every stored row.
- ``rollup_serve`` finalizes from the store without touching raw data:
  the serving scan is bounded by the store's cardinality, not the
  corpus's.

Bucketing is exact integer arithmetic on epoch microseconds
(``e - pmod(e, width)``) — no double division, so boundary instants land
deterministically at any epoch including pre-1970 (floor semantics, not
truncation toward zero).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..io.store import fold_store, store_stamp

_UNITS_US = {
    "second": 1_000_000,
    "minute": 60 * 1_000_000,
    "hour": 3_600 * 1_000_000,
    "day": 86_400 * 1_000_000,
    "week": 7 * 86_400 * 1_000_000,
}

#: partial-state columns, in storage order
STATE_COLS = ("n_rows", "n", "s", "mn", "mx", "ss")

#: finalizable statistics
STATS = ("count", "n_rows", "sum", "mean", "min", "max", "var", "std")


def width_us(width: str | int) -> int:
    """Parse a bucket width — ``"15 minutes"``, ``"1 hour"``, or a raw
    microsecond count — to microseconds. Calendar-irregular units
    (month, year) are deliberately unsupported: fixed-width buckets are
    what makes the store mergeable across epochs without a calendar."""
    if isinstance(width, int):
        if width <= 0:
            raise ValueError(f"need a positive width, got {width}")
        return width
    parts = width.strip().split()
    if len(parts) == 1:
        parts = ["1", parts[0]]
    if len(parts) != 2:
        raise ValueError(f"cannot parse width {width!r}")
    count, unit = parts
    unit = unit.rstrip("s").lower()
    if unit not in _UNITS_US:
        raise ValueError(
            f"unsupported unit {unit!r} (fixed-width units only: "
            f"{sorted(_UNITS_US)})"
        )
    n = int(count)
    if n <= 0:
        raise ValueError(f"need a positive width, got {width!r}")
    return n * _UNITS_US[unit]


def time_bucket(ts: Column | str, width: str | int) -> Column:
    """The bucket-start timestamp for ``ts`` under fixed ``width``
    buckets anchored at the epoch — exact bigint floor arithmetic
    (``e - pmod(e, w)``), no doubles near the boundary."""
    w = width_us(width)
    e = F.unix_micros(F.col(ts) if isinstance(ts, str) else ts)
    return F.timestamp_micros(e - F.pmod(e, F.lit(w)))


def rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    width: str | int,
    by: Sequence[str] = (),
) -> DataFrame:
    """Time-bucketed PARTIAL aggregates of ``value_col``: one row per
    (``bucket_ts``, *by*) carrying the mergeable five-tuple state.
    ONE map-side-combining groupBy — the only exchange is at
    (buckets x groups) cardinality. Null timestamps drop (a bucket for
    "no time" has no serving meaning); null values count in ``n_rows``
    but not in ``n``/``s``/``ss`` (SQL aggregate semantics)."""
    v = F.col(value_col).cast("double")
    return (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(
            time_bucket(ts_col, width).alias("bucket_ts"),
            *[F.col(c) for c in by],
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(v).alias("n"),
            F.sum(v).alias("s"),
            F.min(v).alias("mn"),
            F.max(v).alias("mx"),
            F.sum(v * v).alias("ss"),
        )
    )


def rollup_merge(
    parts: DataFrame, by: Sequence[str] = ()
) -> DataFrame:
    """Merge partial-state frames (a union of `rollup` outputs) back to
    one row per (bucket, group): counts/sums sum, min/max fold
    idempotently. The merge is associative and commutative — batches
    may arrive in any order and any grouping."""
    return parts.groupBy("bucket_ts", *by).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("n").alias("n"),
        F.sum("s").alias("s"),
        F.min("mn").alias("mn"),
        F.max("mx").alias("mx"),
        F.sum("ss").alias("ss"),
    )


def rollup_finalize(
    partials: DataFrame,
    stats: Sequence[str] = ("count", "sum", "mean", "min", "max"),
    by: Sequence[str] = (),
) -> DataFrame:
    """Serve final statistics from partial state with row-local
    arithmetic (no further shuffle): ``count``=non-null values,
    ``n_rows``=rows, ``sum``/``mean``/``min``/``max``, and population
    ``var``/``std`` via the moment identity ``ss/n - mean^2`` (clamped
    at 0 against FP cancellation). Empty-value buckets serve NULL for
    value statistics."""
    unknown = set(stats) - set(STATS)
    if unknown:
        raise ValueError(f"unknown stats {sorted(unknown)}; have {STATS}")
    n = F.col("n")
    mean = F.when(n > 0, F.col("s") / n)
    var = F.when(
        n > 0, F.greatest(F.col("ss") / n - mean * mean, F.lit(0.0))
    )
    exprs = {
        "count": n.alias("count"),
        "n_rows": F.col("n_rows").alias("n_rows"),
        "sum": F.when(n > 0, F.col("s")).alias("sum"),
        "mean": mean.alias("mean"),
        "min": F.col("mn").alias("min"),
        "max": F.col("mx").alias("max"),
        "var": var.alias("var"),
        "std": F.sqrt(var).alias("std"),
    }
    return partials.select(
        "bucket_ts", *by, *[exprs[s] for s in stats]
    )


def _stamp(value_col: str, w_us: int, by: Sequence[str]) -> dict:
    return {"col": value_col, "width_us": int(w_us), "by": list(by)}


def rollup_store_update(
    spark,
    table: str,
    df: DataFrame,
    ts_col: str,
    value_col: str,
    width: str | int,
    by: Sequence[str] = (),
) -> None:
    """Fold one batch into a persisted continuous-aggregate store
    (catalog parquet table, `io.store.fold_store`).

    Cost per fold: one map-side-combining scan of the BATCH plus a
    merge against the store's (buckets x groups) rows — history data is
    never re-read, so a year of epochs costs a year of batches, not a
    year squared. The store is stamped with its configuration and a
    fold under a different (value col, width, group cols) raises.
    Sum-merged state is NOT idempotent: fold each batch exactly once
    (the CMS/histogram-store contract)."""
    by = list(by)
    fold_store(
        spark,
        table,
        rollup(df, ts_col, value_col, width, by),
        merge=lambda old, new: rollup_merge(old.unionByName(new), by),
        stamp=_stamp(value_col, width_us(width), by),
    )


def rollup_serve(
    spark,
    table: str,
    stats: Sequence[str] = ("count", "sum", "mean", "min", "max"),
) -> DataFrame:
    """Finalize statistics from a persisted rollup store — the serving
    read touches only the store's calendar-bounded rows, never raw
    data. Group columns come from the store's stamp, so an empty store
    serves an empty but correctly shaped frame."""
    by = store_stamp(spark, table)["by"]
    return rollup_finalize(spark.table(table), stats, by)


def rollup_distinct(
    df: DataFrame,
    ts_col: str,
    distinct_col: str,
    width: str | int,
    by: Sequence[str] = (),
    p: int = 12,
    lane_hash: str = "xxhash64",
) -> DataFrame:
    """Count-DISTINCT continuous aggregate, sketch half: an HLL
    register frame keyed by (``bucket_ts``, *by*) — the "distinct users
    per hour" state the numeric five-tuple cannot carry (distinct
    counts don't sum across batches; HLL registers max-merge). ONE
    scan, one max-combining exchange bounded at ``2^p`` rows per
    (bucket, group); rows with null timestamps drop, null values
    contribute no distinct (the `rollup`/`hll_build` contracts)."""
    from .sketch import hll_build

    keyed = df.filter(F.col(ts_col).isNotNull()).withColumn(
        "bucket_ts", time_bucket(ts_col, width)
    )
    return hll_build(
        keyed, distinct_col, key_cols=("bucket_ts", *by), p=p,
        lane_hash=lane_hash,
    )


def rollup_distinct_serve(
    registers: DataFrame, by: Sequence[str] = (), p: int = 12
) -> DataFrame:
    """Estimates from a distinct-rollup register frame:
    ``(bucket_ts, *by, est_ndv)`` — exact-BIGINT harmonic denominator,
    one IEEE division per bucket (`sketch.hll_estimate`)."""
    from .sketch import hll_estimate

    return hll_estimate(registers, ("bucket_ts", *tuple(by)), p)


def rollup_distinct_store_update(
    spark,
    table: str,
    df: DataFrame,
    ts_col: str,
    distinct_col: str,
    width: str | int,
    by: Sequence[str] = (),
    p: int = 12,
    lane_hash: str = "xxhash64",
) -> None:
    """Fold one batch into a persisted distinct-rollup store — the HLL
    twin of `rollup_store_update`, with one upgrade: register max-merge
    is IDEMPOTENT, so re-delivered batches cannot inflate the counts
    (exactly-once is NOT required, unlike the sum-merged numeric
    store). Store size is calendar-bounded at (buckets x groups x 2^p)
    rows; config is stamped and a mismatched fold raises."""
    from .sketch import hll_merge

    by = list(by)
    fold_store(
        spark,
        table,
        rollup_distinct(df, ts_col, distinct_col, width, by, p, lane_hash),
        merge=lambda old, new: hll_merge(
            old, new, key_cols=("bucket_ts", *by)
        ),
        stamp={
            "col": distinct_col,
            "width_us": width_us(width),
            "by": by,
            "p": int(p),
            "hash": lane_hash,
        },
    )


def rollup_distinct_serve_store(
    spark, table: str, p: int | None = None
) -> DataFrame:
    """Estimates straight from a persisted distinct-rollup store. Group
    columns and ``p`` (unless given) come from the store's stamp, so an
    empty store serves an empty frame that keeps its group columns."""
    stamp = store_stamp(spark, table)
    return rollup_distinct_serve(
        spark.table(table), stamp["by"], stamp["p"] if p is None else p
    )


def rollup_store_refresh(
    spark,
    table: str,
    df: DataFrame,
    ts_col: str,
    value_col: str,
    width: str | int,
    lo,
    hi,
    by: Sequence[str] = (),
) -> dict:
    """Range REFRESH — the hypertable correction path for late or
    revised data the sum-merged fold cannot absorb (folding a
    correction batch would double-count): recompute the buckets whose
    start falls in ``[lo, hi)`` from ``df`` (the corrected source rows
    for that range) and REPLACE them in the store; buckets outside the
    range are untouched. One scan of the correction slice + a store
    rewrite (the staging swap the folds already pay). The stamp must
    match (same refusal as `rollup_store_update`). Returns
    ``{"replaced", "buckets"}``."""
    by = list(by)
    stamp = _stamp(value_col, width_us(width), by)
    if not spark.catalog.tableExists(table):
        raise ValueError(f"rollup store {table!r} does not exist")
    built = store_stamp(spark, table)
    if built != stamp:
        raise ValueError(
            f"rollup store {table!r} was built with {built}; refusing to "
            f"refresh {stamp}"
        )
    lo_c, hi_c = F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp")
    in_range = (F.col("bucket_ts") >= lo_c) & (F.col("bucket_ts") < hi_c)
    fresh = rollup(
        df.filter(
            (time_bucket(ts_col, width) >= lo_c)
            & (time_bucket(ts_col, width) < hi_c)
        ),
        ts_col,
        value_col,
        width,
        by,
    )
    replaced = spark.table(table).filter(in_range).count()
    fold_store(
        spark,
        table,
        fresh,
        merge=lambda old, new: old.filter(~in_range).unionByName(new),
        stamp=stamp,
    )
    return {
        "replaced": int(replaced),
        "buckets": spark.table(table).count(),
    }


def rollup_multi(
    df: DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
    width: str | int,
    by: Sequence[str] = (),
) -> DataFrame:
    """k-COLUMN time-bucketed partials in ONE scan (the
    `quality.hist_store_update_multi` argument — per-column passes
    would re-read the corpus k times): each row fans out to k
    ``(col, value)`` cells map-side, then the same map-side-combining
    groupBy — the exchange carries (buckets x groups x k) partial rows.
    Output is the long form ``(bucket_ts, *by, col, <five-tuple>)``;
    `rollup_merge` / `rollup_finalize` apply with ``by=[*by, "col"]``.
    Per-column semantics identical to `rollup` (null values count in
    n_rows only)."""
    cols = list(value_cols)
    if not cols:
        raise ValueError("need at least one value column")
    arr = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col(c).cast("double").alias("v"),
            )
            for c in cols
        ]
    )
    cells = df.filter(F.col(ts_col).isNotNull()).select(
        time_bucket(ts_col, width).alias("bucket_ts"),
        *[F.col(c) for c in by],
        F.explode(arr).alias("__rm"),
    )
    v = F.col("__rm.v")
    return cells.groupBy(
        "bucket_ts", *by, F.col("__rm.col").alias("col")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(v).alias("n"),
        F.sum(v).alias("s"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
        F.sum(v * v).alias("ss"),
    )


def rollup_multi_store_update(
    spark,
    table: str,
    df: DataFrame,
    ts_col: str,
    value_cols: Sequence[str],
    width: str | int,
    by: Sequence[str] = (),
) -> None:
    """Fold one batch's k-column partials into a persisted store — the
    `rollup_store_update` contract (stamped config, refuse-on-mismatch,
    sum-merge = fold each batch once, crash-safe swap) with the column
    set in the stamp."""
    by = list(by)
    cols = list(value_cols)
    fold_store(
        spark,
        table,
        rollup_multi(df, ts_col, cols, width, by),
        merge=lambda old, new: rollup_merge(
            old.unionByName(new), [*by, "col"]
        ),
        stamp={"cols": cols, "width_us": width_us(width), "by": by},
    )


def rollup_multi_serve(
    spark,
    table: str,
    stats: Sequence[str] = ("count", "sum", "mean", "min", "max"),
) -> DataFrame:
    """Finalize the k-column store: ``(bucket_ts, *by, col, <stats>)``.
    Group columns come from the stamp (`rollup_serve`), so an empty
    store serves the correct empty frame."""
    by = store_stamp(spark, table)["by"]
    return rollup_finalize(spark.table(table), stats, [*by, "col"])
