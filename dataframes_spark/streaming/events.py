"""Structured Streaming variants of the event-table operators.

The reference has no streaming at all (SURVEY.md §2.13); these are the
Spark-native streaming counterparts of its batch time-window operators —
same aggregate contract, incremental execution:

- windowed_aggregate: tumbling/sliding event-time windows with a watermark
  (late data beyond the watermark is dropped deterministically);
- sessionize: session windows keyed by user;
- stream_from_directory: file-source stream over the same parquet layout
  the batch path reads, so batch and stream share one schema.

These run identically against a Kafka source by swapping readStream
options; file source keeps the tests hermetic.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataframes_spark.operators.aggregate import aggregate_exprs


def stream_from_directory(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream: each new parquet file in ``path`` becomes a
    micro-batch. maxFilesPerTrigger bounds batch size for steady latency."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(path)
    )


def exact_dedup_stream(
    events: DataFrame,
    text_col: str,
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of ``operators.dedup.exact_dedup``: drop rows whose
    content was already seen, first-processed row wins.

    The dedup key is the same compound ``(length, xxhash64, md5)`` content
    key as the batch operator (reference for the collision math:
    operators/dedup.py docstring) — ~32 bytes of state per distinct
    document, never the text body. ``dropDuplicatesWithinWatermark``
    bounds that state: a key's entry evicts once the watermark passes its
    event time, so memory is O(distinct keys per watermark window), not
    O(stream history) — the property that makes streaming-ingest dedup
    runnable forever. Duplicates farther apart than the watermark are NOT
    collapsed (by contract); a periodic batch ``exact_dedup`` compaction
    is the complement, and the shared key definition makes the two passes
    agree on what "duplicate" means."""
    hashed = events.withColumn(
        "__h_len", F.length(F.col(text_col))
    ).withColumn("__h_xx", F.xxhash64(F.col(text_col))).withColumn(
        "__h_md5", F.unhex(F.md5(F.col(text_col).cast("binary")))
    )
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h_len", "__h_xx", "__h_md5"])
        .drop("__h_len", "__h_xx", "__h_md5")
    )


def windowed_aggregate(
    events: DataFrame,
    ts_col: str,
    window: str,
    slide: str | None,
    watermark: str,
    pairs: Sequence[tuple[str, Sequence[str]]],
    keys: Sequence[str] = (),
) -> DataFrame:
    """Event-time windowed aggregation with late-data handling.

    The watermark bounds state: groups older than (max event time -
    watermark) finalize and evict, so state size is O(active windows), not
    O(history) — the property that lets this run forever at 100 TB/day.
    """
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), *keys)
        .agg(*aggregate_exprs(pairs))
        .withColumn("window_start", F.col("win.start"))
        .withColumn("window_end", F.col("win.end"))
        .drop("win")
    )


def sessionize_batch(
    events: DataFrame,
    ts_col: str,
    user_col: str,
    gap_s: int = 1800,
) -> DataFrame:
    """Batch twin of ``sessionize``: gap-based sessions via lag +
    running-sum of session starts — two window passes inside one
    per-user sort, then a hash aggregate. Same output columns as the
    streaming variant, so batch backfill and live stream reconcile."""
    from pyspark.sql import Window as W

    w = W.partitionBy(user_col).orderBy(ts_col)
    us = F.unix_micros(F.col(ts_col))
    gap_us = F.lit(int(gap_s) * 1_000_000)
    new_session = (
        F.when(F.lag(ts_col).over(w).isNull(), 1)
        .when(us - F.unix_micros(F.lag(ts_col).over(w)) > gap_us, 1)
        .otherwise(0)
    )
    with_id = events.withColumn(
        "__sess", F.sum(new_session).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        with_id.groupBy(F.col(user_col), F.col("__sess"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .drop("__sess")
    )


def sessionize(
    events: DataFrame,
    ts_col: str,
    user_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Session windows: a session closes after ``gap`` of user inactivity.
    State per active user only, evicted by the watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), F.col(user_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col(user_col),
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def _ewma_schemas(schema):
    from pyspark.sql import types as T

    out = T.StructType(list(schema.fields) + [T.StructField("ewma", T.DoubleType())])
    state = T.StructType([T.StructField("prev", T.DoubleType())])
    return out, state


def _ewma_pdf(pdf, ts_col, value_col, alpha, prev):
    """Sequential EWMA over one key's rows (sorted by event time); returns
    (annotated pdf, final state). Shared by the stream and batch forms so
    the consistency test pins one implementation against the other.

    Runs as pandas ``ewm(adjust=False, ignore_na=True)`` — the identical
    recursion ``y_t = alpha*x_t + (1-alpha)*y_{t-1}`` evaluated in C
    instead of a per-row Python loop; a carried ``prev`` state (stream
    continuation) is folded in by seeding the series with it and
    dropping that row. Null values are TRANSPARENT (the repo-wide EWMA
    contract, shared with the batch `operators/ewma.py` lane): they
    leave the state unchanged and their own output row is NULL."""
    import math as _math

    import pandas as _pd

    pdf = pdf.sort_values(ts_col, kind="stable")
    vals = pdf[value_col].astype("float64").reset_index(drop=True)
    if prev is not None:
        seeded = _pd.concat([_pd.Series([float(prev)]), vals], ignore_index=True)
        raw = (
            seeded.ewm(alpha=alpha, adjust=False, ignore_na=True)
            .mean()
            .iloc[1:]
            .to_numpy()
        )
    else:
        raw = (
            vals.ewm(alpha=alpha, adjust=False, ignore_na=True)
            .mean()
            .to_numpy()
        )
    if len(raw) and not _math.isnan(raw[-1]):
        prev = float(raw[-1])
    out = raw.copy()
    out[vals.isna().to_numpy()] = float("nan")
    return pdf.assign(ewma=out), prev


def ewma_stream(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    alpha: float = 0.2,
    watermark: str = "1 hour",
    state_ttl_ms: int = 3_600_000,
) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-key exponentially weighted moving average, emitted per event.

    Order-dependent state no built-in windowed aggregate expresses: each
    event's output depends on the full prefix of its key's stream. State
    is one double per key, evicted ``state_ttl_ms`` past the watermark
    when the key goes silent (EventTimeTimeout), so state size is O(active keys) — the
    property that keeps this runnable forever on an unbounded stream.

    Within a micro-batch rows are sorted by event time; rows arriving in
    a LATER batch with an earlier timestamp fold in arrival order (the
    watermark bounds how late that can happen).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema, state_schema = _ewma_schemas(events.schema)
    out_cols = [f.name for f in out_schema.fields]

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        prev = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        out, prev = _ewma_pdf(pdf, ts_col, value_col, alpha, prev)
        state.update((prev,))
        state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + state_ttl_ms)
        yield out[out_cols]

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def ewma_batch(
    events: DataFrame,
    ts_col: str,
    key_col: str,
    value_col: str,
    alpha: float = 0.2,
) -> DataFrame:
    """Batch twin of :func:`ewma_stream`: same fold, same output schema.

    Shaped for scale as ``mapInPandas`` over key-partitioned, (key, ts)-
    sorted data rather than ``applyInPandas`` per key: one Python/Arrow
    round-trip per BATCH (not per group — measured ~5x on many small
    groups), with the whole batch folded in one Cython
    ``groupby().ewm(adjust=False)`` call. A group straddling two Arrow
    batches is stitched exactly: only the FIRST group of a batch can be
    a continuation (the data is key-sorted), and that one group is
    re-folded seeded with the carried state. Null values are
    TRANSPARENT (the repo-wide EWMA contract): state unchanged, output
    NULL for the null row."""
    import math as _math

    import pandas as _pd

    out_schema, _ = _ewma_schemas(events.schema)
    out_cols = [f.name for f in out_schema.fields]

    def fn(batches):
        carry_key = object()  # sentinel unequal to any real key
        carry_val = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.reset_index(drop=True)
            vals = pdf[value_col].astype("float64")
            raw = (
                vals.groupby(pdf[key_col], sort=False)
                .ewm(alpha=alpha, adjust=False, ignore_na=True)
                .mean()
                .reset_index(level=0, drop=True)
                .sort_index()
                .to_numpy()
            )
            first_key = pdf[key_col].iloc[0]
            if first_key == carry_key and carry_val is not None:
                n0 = int((pdf[key_col] == first_key).values.argmin() or len(pdf))
                seeded = _pd.concat(
                    [_pd.Series([carry_val]), vals.iloc[:n0]], ignore_index=True
                )
                raw[:n0] = (
                    seeded.ewm(alpha=alpha, adjust=False, ignore_na=True)
                    .mean()
                    .iloc[1:]
                    .to_numpy()
                )
            last_key = pdf[key_col].iloc[-1]
            last_grp = raw[(pdf[key_col] == last_key).to_numpy()]
            valid = last_grp[~_pd.isna(last_grp)]
            if len(valid):
                carry_val = float(valid[-1])
            elif last_key != carry_key:
                carry_val = None  # fresh key, no state observed yet
            carry_key = last_key
            out = raw.copy()
            out[vals.isna().to_numpy()] = float("nan")
            yield pdf.assign(ewma=out)[out_cols]

    prepped = events.repartition(key_col).sortWithinPartitions(key_col, ts_col)
    return prepped.mapInPandas(fn, out_schema)


def decontaminate_each_batch(evals, text_col, id_col, n=13, write=None):
    """Streaming twin of ``operators.decontaminate.decontaminate``: a
    ``foreachBatch`` callback that drops eval-contaminated documents from
    every micro-batch of an ingestion stream.

    ``foreachBatch`` is the right streaming shape for this operator —
    not a stream-static join — because the per-document verdict needs a
    per-document aggregate over its exploded n-grams (ANY overlap), and
    that aggregate on a stream would demand watermark state for what is
    actually a stateless, batch-local decision: a document's verdict
    depends only on the STATIC eval set, never on other stream rows, so
    micro-batch boundaries cannot change results and stream output ==
    batch ``decontaminate`` of the same rows (pinned in
    tests/test_streaming.py). Inside each micro-batch the plan is the
    batch plan: eval n-gram hashes broadcast, corpus side unshuffled.

    ``evals`` should be ``.persist()``-ed by the caller for long-running
    streams — the callback reuses the frame every trigger, and the cache
    keeps the benchmark suite from being re-scanned and re-shingled per
    micro-batch. ``write(clean_df, epoch_id)`` is the caller's sink
    (idempotent writes keyed on ``epoch_id`` give exactly-once)."""
    from dataframes_spark.operators.decontaminate import decontaminate

    if write is None:
        raise ValueError("write(clean_df, epoch_id) sink callback is required")

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        write(
            decontaminate(batch_df, evals, text_col, id_col, n=n), epoch_id
        )

    return _apply


def cap_stream(
    events: DataFrame,
    key_col: str,
    k: int,
    order_col: str | None = None,
) -> DataFrame:
    """Streaming per-group ingest cap: emit at most ``k`` rows per group
    over the LIFETIME of the stream — the ingest-time counterpart of
    ``operators/sample.cap_per_group``. The batch cap picks a
    deterministic hash sample over the full corpus; a stream cannot
    retract rows it already emitted, so the streaming contract is
    first-``k``: once a group saturates, later rows drop. Use it to
    bound per-domain ingest before the (exact, retractable) batch cap
    runs downstream.

    Within a micro-batch rows are ordered by ``order_col`` when given
    (arrival order otherwise), so intra-batch admission is
    deterministic. State is ONE long per group and is never evicted —
    a cap must remember saturated groups — so state size is O(distinct
    groups), bytes per group, the smallest possible for these
    semantics."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import StructField, StructType, LongType

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    out_schema = events.schema
    out_cols = [f.name for f in out_schema.fields]
    state_schema = StructType([StructField("n", LongType())])

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        seen = state.get[0] if state.exists else 0
        if seen >= k:
            state.update((seen,))
            return
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if order_col is not None:
            pdf = pdf.sort_values(order_col, kind="mergesort")
        take = min(k - seen, len(pdf))
        state.update((seen + take,))
        if take:
            yield pdf.iloc[:take][out_cols]

    return events.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def attribution_join_stream(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream event-time interval join — the streaming twin of
    the batch range join (operators/interval.py): pair each ``left`` row
    (e.g. a click) with every ``right`` row (e.g. a purchase) for the
    same key whose timestamp falls in ``[left_ts, left_ts + within]``.
    The classic attribution shape.

    Both sides carry watermarks and the join condition bounds
    ``right_ts`` relative to ``left_ts``, which is what lets Spark
    EVICT buffered rows: a side's state holds only rows newer than
    (max event time - watermark - within), so state is O(recent
    traffic), not O(stream history) — without the time-range predicate
    a stream-stream join must buffer both streams forever, which the
    engine rejects in append mode. Columns are prefixed ``l_``/``r_``
    to keep the two sides' schemas from colliding."""
    l = left.select(
        F.col(key_col).alias("l_key"),
        F.col(left_ts).alias("l_ts"),
        *[
            F.col(c).alias(f"l_{c}")
            for c in left.columns
            if c not in (key_col, left_ts)
        ],
    ).withWatermark("l_ts", watermark)
    r = right.select(
        F.col(key_col).alias("r_key"),
        F.col(right_ts).alias("r_ts"),
        *[
            F.col(c).alias(f"r_{c}")
            for c in right.columns
            if c not in (key_col, right_ts)
        ],
    ).withWatermark("r_ts", watermark)
    cond = (
        (F.col("l_key") == F.col("r_key"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"interval {within}"))
    )
    return l.join(r, cond, "inner")


def validate_each_batch(checks, on_fail: str = "raise", log=None, write=None):
    """Streaming ingest gate: a ``foreachBatch`` callback running the
    one-pass data-quality suite (``dataframes_spark.quality``) on every
    micro-batch BEFORE it lands anywhere.

    ``write(batch_df, epoch_id)`` is the sink stage the gate guards
    (e.g. a parquet append); omit it to only check. ``on_fail`` decides
    what happens to a failing batch:

    - ``"raise"`` — stop the stream (a poisoned batch halts ingest; the
      posture for training pipelines where bad data is worse than late
      data);
    - ``"skip"`` — do NOT call ``write`` for the failing batch, keep
      the stream running (requires ``write``: without a sink to
      withhold there is nothing to skip, so that combination raises at
      construction instead of silently behaving like ``"log"``);
    - ``"log"`` — record and write anyway.

    ``log`` receives ``(epoch_id, failed_report_rows)`` for every
    failing batch. Wire it up as
    ``stream.writeStream.foreachBatch(validate_each_batch(checks,
    write=lambda df, e: df.write.mode("append").parquet(out)))``."""
    from dataframes_spark import quality as Q

    if on_fail not in ("raise", "skip", "log"):
        raise ValueError(f"on_fail must be raise|skip|log, got {on_fail}")
    if on_fail == "skip" and write is None:
        raise ValueError(
            "on_fail='skip' needs a write callback to withhold; pass "
            "write=, or use on_fail='log'/'raise'"
        )

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        report = Q.run_checks(batch_df, checks)
        failed = [r for r in report if not r["passed"]]
        if failed:
            if log is not None:
                log(epoch_id, failed)
            if on_fail == "raise":
                raise ValueError(
                    f"batch {epoch_id} failed data-quality checks:\n  "
                    + Q.format_failures(failed)
                )
            if on_fail == "skip":
                return
        if write is not None:
            write(batch_df, epoch_id)

    return _apply


def drift_gate_each_batch(
    table: str,
    col: str,
    *,
    bins: int = 10,
    lo: float | None = None,
    hi: float | None = None,
    categories: list | None = None,
    max_psi: float = 0.25,
    on_fail: str = "raise",
    update_store: bool = True,
    log=None,
    write=None,
):
    """Streaming drift gate: a ``foreachBatch`` callback that scores
    every micro-batch's PSI against a persisted histogram store BEFORE
    it lands anywhere — the continuously-ingesting pipeline's "did this
    batch's distribution move?" check, in the stream.

    Numeric mode (default) gates ``col`` against the store built by
    `quality.hist_store_update`; ``lo``/``hi`` are REQUIRED (the store
    stamps its binning, and a drifting per-batch min/max would change
    the bins under the gate). Categorical mode (``categories=[...]``)
    gates against the `quality.cat_hist_store_update` store — explicit
    categories for the same reproducibility reason.

    Per batch: if the store exists, compute the PSI and gate it
    (``on_fail`` = ``"raise"`` stop the stream / ``"skip"`` withhold
    the sink and the fold / ``"log"`` record and continue — the
    `validate_each_batch` postures); a passing (or logged) batch is
    written via ``write(batch_df, epoch_id)`` and, with
    ``update_store=True``, FOLDED into the store so the reference
    tracks the accepted corpus at O(batch) per epoch. The first batch
    seeds an absent store and passes vacuously. ``log`` receives
    ``(epoch_id, psi)`` for every failing batch.

    The per-batch cost is the store idiom's: one scan of the batch
    folding to a bins-row (or ≤ k+1-row) partial aggregate, a
    bins-row read of the store, and the constant-size store swap —
    nothing rescans history, so the gate's cost is independent of how
    much the stream has already ingested."""
    from dataframes_spark import quality as Q

    if on_fail not in ("raise", "skip", "log"):
        raise ValueError(f"on_fail must be raise|skip|log, got {on_fail}")
    if on_fail == "skip" and write is None:
        raise ValueError(
            "on_fail='skip' needs a write callback to withhold; pass "
            "write=, or use on_fail='log'/'raise'"
        )
    if categories is None and (lo is None or hi is None):
        raise ValueError(
            "numeric drift_gate_each_batch needs explicit lo/hi (the "
            "store stamps its binning); pass categories=[...] for the "
            "categorical gate"
        )

    def _fold(spark, batch_df) -> None:
        if categories is not None:
            Q.cat_hist_store_update(spark, table, batch_df, col, categories)
        else:
            Q.hist_store_update(spark, table, batch_df, col, bins=bins, lo=lo, hi=hi)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if spark.catalog.tableExists(table):
            if categories is not None:
                rep = Q.drift_psi_categorical_from_store(spark, table, batch_df)
            else:
                rep = Q.drift_psi_from_store(spark, table, batch_df)
            psi = float(rep.agg(F.sum("psi_term")).first()[0] or 0.0)
            if psi > max_psi:
                if log is not None:
                    log(epoch_id, psi)
                if on_fail == "raise":
                    raise ValueError(
                        f"batch {epoch_id} drifted: PSI {psi:.6f} > "
                        f"{max_psi} against store {table!r}"
                    )
                if on_fail == "skip":
                    return
        if write is not None:
            write(batch_df, epoch_id)
        if update_store:
            _fold(spark, batch_df)

    return _apply


def span_dedup_each_batch(
    table: str,
    text_col: str,
    id_col: str,
    *,
    n: int = 8,
    mode: str = "strip",
    num_buckets: int = 32,
    write=None,
    update_store: bool = True,
):
    """Streaming ExactSubstr dedup: a ``foreachBatch`` callback that cuts
    (or drops/flags) every arriving micro-batch's duplicated token spans
    against the persisted window-hash store BEFORE the batch lands — the
    continuously-crawling pipeline's "have we already trained on this
    passage?" pass, in the stream. The batch twin is
    ``dedup.duplicate_spans_incremental`` and the semantics are its:
    a window is duplicated if seen in ANY prior batch (the store) or in
    >= 2 distinct documents of this batch.

    ``mode``: ``"strip"`` rewrites each document with its spans cut
    (``dedup.apply_span_removal``); ``"drop"`` withholds any document
    containing a span; ``"flag"`` passes everything with a boolean
    ``has_dup_span`` column. The processed batch goes to
    ``write(df, epoch_id)``; with ``update_store=True`` the batch's NEW
    window hashes then fold into the store. The first batch seeds an
    absent store (its in-batch duplicates are still caught).

    Per-batch cost is the span store's contract: the batch hashes once
    (map-only), history joins as-scanned through the ``wh``-bucketed
    table, and the fold APPENDS only the batch's fresh hashes (bucketed
    append, no history rewrite — run ``io.bucketed.compact_store`` with
    key ``wh`` periodically to fold small files). Nothing rescans
    history, so the gate's cost is independent of how much the stream
    has ingested.

    Stream == batch: replaying the same batches through this callback
    yields exactly ``duplicate_spans_incremental`` fold-by-fold (pinned
    in tests/test_streaming.py).
    """
    from dataframes_spark.io.bucketed import write_span_store
    from dataframes_spark.operators import dedup as D

    if mode not in ("strip", "drop", "flag"):
        raise ValueError(f"mode must be strip|drop|flag, got {mode}")

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        exists = spark.catalog.tableExists(table)
        store = (
            spark.table(table)
            if exists
            else spark.createDataFrame([], "wh string")
        )
        spans, _ = D.duplicate_spans_incremental(
            batch_df, store, text_col, id_col, n=n
        )
        if mode == "strip":
            out = D.apply_span_removal(batch_df, spans, text_col, id_col, n=n)
        elif mode == "drop":
            flagged = spans.select(F.col(id_col)).distinct()
            out = batch_df.join(flagged, id_col, "left_anti")
        else:
            flagged = spans.select(
                F.col(id_col), F.lit(True).alias("has_dup_span")
            ).distinct()
            out = batch_df.join(flagged, id_col, "left").withColumn(
                "has_dup_span", F.coalesce("has_dup_span", F.lit(False))
            )
        if write is not None:
            write(out, epoch_id)
        if update_store:
            fresh = D.span_window_hashes(batch_df, text_col, id_col, n=n)
            if exists:
                fresh = fresh.join(spark.table(table), "wh", "left_anti")
            write_span_store(
                fresh,
                table,
                num_buckets=num_buckets,
                mode="append" if exists else "overwrite",
            )

    return _apply


def dsir_select_each_batch(
    raw_table: str,
    target_table: str,
    text_col: str,
    id_col: str,
    *,
    buckets: int = 256,
    min_log_weight: float = 0.0,
    update_raw_store: bool = True,
    log=None,
    write=None,
):
    """Streaming DSIR selection: a ``foreachBatch`` callback that scores
    every micro-batch's documents against the persisted DSIR count
    stores (operators/dsir.py) and writes only those whose log
    importance weight clears ``min_log_weight`` — importance-resampling
    data selection in the ingest path.

    The TARGET store is fixed reference data: seed it up front with
    ``dsir_store_update(spark, target_table, bucket_counts(target, ...),
    buckets)``.
    The RAW store tracks everything the stream has seen: with
    ``update_raw_store=True`` each batch's bucket counts fold in BEFORE
    scoring, so the raw model is exactly the one-shot model over all
    ingested batches (the count-merge law) and selection thresholds mean
    the same thing as in the batch pipeline. The model therefore
    SHARPENS as the stream runs — early and late batches are scored
    against different raw models, which is inherent to any online
    selector; replay the corpus through the batch path for a
    fixed-model selection.

    Per-batch cost is the store idiom's: one scan of the batch folded to
    a <= ``buckets``-row partial, a constant-size store swap, and the
    scoring join against the broadcast B-row model — independent of how
    much the stream has already ingested. ``log`` receives
    ``(epoch_id, n_in, n_kept)`` per batch."""
    from dataframes_spark.operators import dsir as D

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        if not spark.catalog.tableExists(target_table):
            raise ValueError(
                f"dsir_select_each_batch needs a seeded target store; "
                f"table {target_table!r} does not exist"
            )
        counts = D.bucket_counts(batch_df, text_col, id_col, buckets)
        if update_raw_store:
            D.dsir_store_update(spark, raw_table, counts, buckets)
        elif not spark.catalog.tableExists(raw_table):
            raise ValueError(
                f"update_raw_store=False needs an existing raw store; "
                f"table {raw_table!r} does not exist"
            )
        model = D.dsir_fit_from_stores(
            spark, target_table, raw_table, buckets
        )
        w = D.dsir_weights(batch_df, model, text_col, id_col, buckets)
        kept_ids = w.filter(
            F.col("log_weight") >= F.lit(float(min_log_weight))
        ).select(id_col)
        kept = batch_df.join(F.broadcast(kept_ids), id_col)
        if log is not None:
            log(epoch_id, batch_df.count(), kept.count())
        if write is not None:
            write(kept, epoch_id)

    return _apply


def transitions_each_batch(
    counts_table: str,
    last_table: str,
    user_col: str,
    ts_col: str,
    type_col: str,
    tiebreak_col: str,
    *,
    update_stores: bool = True,
    write=None,
):
    """Streaming Markov transition counting: a ``foreachBatch`` callback
    maintaining the `operators/funnel.py event_transitions` count matrix
    incrementally — per batch, each user's FIRST event pairs with that
    user's last event from prior batches (the persisted ``last_table``:
    one row per user), in-batch successors pair with the usual lag
    window, and the |types|^2 pair counts sum-merge into
    ``counts_table``. With event-time-ordered micro-batches (per user),
    the folded counts equal the one-shot batch matrix over everything
    ingested — the stream==batch law this family pins.

    Per-batch cost: the batch's user-keyed lag window, a user-sized
    store join, and two constant-size swaps (|users| rows and |types|^2
    rows) — nothing rescans history. ``write(transitions_df, epoch_id)``
    receives the UPDATED cumulative matrix (counts only; normalize with
    a final select when serving). ``update_stores=False`` is shadow
    mode: the sink still sees the current cumulative matrix (store +
    this batch, computed on the fly) but nothing persists."""
    from pyspark.sql import Window as W

    from dataframes_spark.io.store import fold_store

    def sum_counts(old: DataFrame, new: DataFrame) -> DataFrame:
        return (
            old.unionByName(new)
            .groupBy("prev_type", "next_type")
            .agg(F.sum("n").alias("n"))
        )

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ev = batch_df.select(
            F.col(user_col).alias("__u"),
            F.col(ts_col).alias("__ts"),
            F.col(tiebreak_col).alias("__tb"),
            F.col(type_col).alias("__e"),
        )
        w = W.partitionBy("__u").orderBy(
            F.col("__ts").asc(), F.col("__tb").asc()
        )
        lagged = ev.withColumn("__prev", F.lag("__e").over(w)).withColumn(
            "__rn", F.row_number().over(w)
        )
        in_batch = lagged.filter(F.col("__prev").isNotNull()).select(
            F.col("__prev").alias("prev_type"),
            F.col("__e").alias("next_type"),
        )
        firsts = lagged.filter(F.col("__rn") == 1)
        if spark.catalog.tableExists(last_table):
            prior = spark.table(last_table)
            cross_batch = firsts.join(
                prior.select("__u", F.col("__e").alias("__last")), "__u"
            ).select(
                F.col("__last").alias("prev_type"),
                F.col("__e").alias("next_type"),
            )
            pairs = in_batch.unionByName(cross_batch)
        else:
            pairs = in_batch
        batch_counts = pairs.groupBy("prev_type", "next_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        # counts store: |types|^2 rows, sum-merge
        if update_stores:
            fold_store(spark, counts_table, batch_counts, merge=sum_counts)
            # last-event store: one row per user ever seen; the batch's
            # per-user LAST event wins over the stored one (in-order law)
            lasts = lagged.withColumn(
                "__rnd",
                F.row_number().over(
                    W.partitionBy("__u").orderBy(
                        F.col("__ts").desc(), F.col("__tb").desc()
                    )
                ),
            ).filter(F.col("__rnd") == 1).select("__u", "__e")
            fold_store(
                spark,
                last_table,
                lasts,
                merge=lambda prior, new: prior.join(
                    new.select("__u"), "__u", "left_anti"
                ).unionByName(new),
            )
            if write is not None:
                # after a swap, read the persisted table (stable files)
                write(spark.table(counts_table), epoch_id)
        elif write is not None:
            # shadow mode: the sink still receives the CURRENT cumulative
            # matrix (store + this batch), unpersisted
            shadow = (
                sum_counts(spark.table(counts_table), batch_counts)
                if spark.catalog.tableExists(counts_table)
                else batch_counts
            )
            write(shadow, epoch_id)

    return _apply


def funnel_each_batch(
    state_table: str,
    steps,
    *,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    write=None,
):
    """Streaming funnel: a ``foreachBatch`` callback maintaining the
    per-user `funnel_stage` state — the realtime "how far has each user
    progressed" dashboard. The greedy fold's ``(stage, completed_ts)``
    pair is the funnel's sufficient statistic, so the persisted state is
    ONE ROW PER USER regardless of event volume, and folding
    event-time-ordered micro-batches through it equals the one-shot
    batch funnel over everything ingested (stream==batch, unit-pinned).

    Per-batch cost: the batch's user-keyed fold (only step-typed events
    cross the exchange), a user-sized full-outer join against the
    state, and one staging swap. ``write(report_df, epoch_id)`` receives
    the k-row cumulative funnel report derived from the updated state
    (`funnel_report_from_stages`)."""
    from dataframes_spark.io.store import fold_store
    from dataframes_spark.operators import funnel as fn

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession

        def stage(init):
            return fn.funnel_stage(
                batch_df, steps, user_col, type_col, ts_col, init=init
            )

        fold_store(
            spark, state_table, stage(None), merge=lambda state, _: stage(state)
        )
        if write is not None:
            write(
                fn.funnel_report_from_stages(spark.table(state_table), steps),
                epoch_id,
            )

    return _apply


def retention_each_batch(
    pairs_table: str,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    period: str = "week",
    num_buckets: int = 32,
    write=None,
):
    """Streaming cohort retention: an APPEND-ONLY persisted store of the
    distinct ``(user, period)`` activity pairs, bucketed by user so the
    per-batch novelty anti-join and the report's per-user fold never
    reshuffle history. Unlike the funnel/transition stores this needs NO
    event-time-ordering assumption: retention is a pure function of the
    activity SET, and pairs-of-a-union = union-of-pairs — re-delivered
    or out-of-order batches fold to the same store (idempotent).

    Per-batch cost: the batch's distinct pairs, one anti-join against
    the store (batch side shuffles, history reads in place), and an
    append of only the NOVEL pairs — O(batch) however long the stream
    has run. The store is (users x active periods) rows — bounded by
    the calendar, not the event volume. ``write(report_df, epoch_id)``
    receives the cumulative cohort matrix
    (`funnel.retention_from_pairs`)."""
    from dataframes_spark.io.bucketed import write_bucketed
    from dataframes_spark.operators import funnel as fn

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        pairs = fn.activity_pairs(
            batch_df, user_col, ts_col, period
        ).distinct()
        if spark.catalog.tableExists(pairs_table):
            fresh = pairs.join(
                spark.table(pairs_table), ["u", "p"], "left_anti"
            )
            write_bucketed(
                fresh, pairs_table, bucket_by="u",
                num_buckets=num_buckets, mode="append",
            )
        else:
            write_bucketed(
                pairs, pairs_table, bucket_by="u",
                num_buckets=num_buckets, mode="overwrite",
            )
        if write is not None:
            write(
                fn.retention_from_pairs(spark.table(pairs_table), period),
                epoch_id,
            )

    return _apply


def quantiles_each_batch(
    table: str,
    value_col: str,
    id_col: str,
    *,
    k: int = 200,
    shards: int = 32,
    passes: int = 20,
    qs=(0.5, 0.9, 0.99),
    write=None,
):
    """Streaming rank quantiles: a ``foreachBatch`` callback folding each
    micro-batch into a persisted KLL sketch store (`operators/kll.py`) —
    the "live p99 of a column with unknown domain" gate the fixed-bin
    histogram store cannot express. Per-batch cost: the batch's own
    sketch build plus a constant-size merge + swap; state stays
    ``O(k log(n/k))`` rows however long the stream runs, and the total
    weight is EXACTLY the ingested row count under any batch split
    (weight conservation — pinned in tests). ``write(quantiles_df,
    epoch_id)`` receives the updated ``(q, value)`` estimates."""
    from dataframes_spark.operators import kll as K

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        K.kll_store_update(
            spark, table, batch_df, value_col, id_col,
            k=k, shards=shards, passes=passes,
        )
        if write is not None:
            sk = spark.table(table).select("level", "value", "tb")
            write(K.kll_quantiles(sk, list(qs)), epoch_id)

    return _apply


def rollup_each_batch(
    table: str,
    ts_col: str,
    value_col: str,
    width: str | int,
    by=(),
    *,
    stats=("count", "sum", "mean", "min", "max"),
    write=None,
):
    """Streaming continuous aggregate: a ``foreachBatch`` callback
    folding each micro-batch into the persisted time-bucket rollup
    store (`operators/rollup.py`) — the hypertable pattern where raw
    events are touched once and every dashboard read serves from the
    calendar-bounded store. Per-batch cost: one map-side-combining scan
    of the batch plus a (buckets x groups)-row merge and swap; history
    is never re-scanned, and the fold law (batch folds == one-shot
    rollup over the union) makes stream == batch under any micro-batch
    split — pinned in tests. Sum-merged state: exactly-once delivery is
    the caller's dedup concern (the CMS-store contract).
    ``write(finalized_df, epoch_id)`` receives the served statistics."""
    from dataframes_spark.operators import rollup as RU

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        RU.rollup_store_update(
            spark, table, batch_df, ts_col, value_col, width, by=list(by)
        )
        if write is not None:
            write(RU.rollup_serve(spark, table, stats=stats), epoch_id)

    return _apply


def word_types_each_batch(
    table: str,
    text_col: str,
    *,
    merges_k: int | None = None,
    write=None,
):
    """Streaming tokenizer statistics: a ``foreachBatch`` callback
    folding each micro-batch's word-type counts into the persisted
    store BPE trains from (`functions/bpe.py word_type_store_update`).
    Frequency addition is associative/commutative, so re-delivered or
    re-ordered batches fold to the same store (idempotence is the
    caller's dedup concern, as with the retention pairs) and a refit
    (`bpe_learn_from_store`) sees exactly the one-shot relation —
    stream == batch by the count-fold law, pinned in tests. Per-batch
    cost: one batch scan + a vocabulary-sized merge and swap; the store
    never re-scans history. With ``merges_k`` set, ``write(merge_table,
    epoch_id)`` receives the freshly refit first-k merges each batch
    (the live tokenizer dashboard); otherwise it receives the updated
    counts."""
    from dataframes_spark.functions import bpe as B

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        B.word_type_store_update(
            spark, table, B.word_type_counts(batch_df, text_col)
        )
        if write is not None:
            if merges_k is not None:
                merges, _ = B.bpe_learn_from_store(spark, table, merges_k)
                write(B.merge_table(spark, merges), epoch_id)
            else:
                write(spark.table(table), epoch_id)

    return _apply


def cluster_each_batch(
    lsh_table: str,
    cluster_table: str,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    lane_hash: str = "xxhash64",
    num_buckets: int = 32,
    write=None,
):
    """Streaming incremental near-dup CLUSTERING — the full
    dedup→cluster chain as one ``foreachBatch`` gate:

    1. LSH candidates for the batch against the persisted bucket store
       (`dedup.near_dup_incremental`: history never re-bands; the
       bucketed store joins as-scanned);
    2. the candidate pairs fold into the persisted cluster store
       (`graph.cluster_store_update`: history never re-clusters);
    3. the batch's own bands APPEND to the LSH store (no rewrite).

    The union of per-batch candidate sets equals the one-shot banded
    pair relation over everything ingested (a cross-batch pair
    surfaces when its later document arrives; an in-batch pair
    immediately), so by the cluster-store fold law the store equals the
    one-shot `connected_components` over the full corpus's LSH pairs —
    stream == batch, pinned in tests. ``write(assignments_df,
    epoch_id)`` receives the batch documents' cluster assignment
    (singletons labeled by their own id).

    Candidates are LSH candidates, not verified near-dups — same
    contract as `near_dup_incremental`; thread a `jaccard_verify`
    stage between steps 1 and 2 when band collisions must be confirmed
    against document text."""
    from dataframes_spark.io.bucketed import write_lsh_store
    from dataframes_spark.operators import dedup as D
    from dataframes_spark.operators import graph as G

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        exists = spark.catalog.tableExists(lsh_table)
        store = (
            spark.table(lsh_table)
            if exists
            else D.lsh_bucket_store(
                batch_df.limit(0), text_col, id_col,
                num_hashes, bands, shingle_k, lane_hash,
            )
        )
        cands, _ = D.near_dup_incremental(
            batch_df, store, text_col, id_col,
            num_hashes, bands, shingle_k, lane_hash,
        )
        G.cluster_store_update(
            spark, cluster_table, cands,
            src="id_new", dst="id_seen", num_buckets=num_buckets,
        )
        fresh = D.lsh_bucket_store(
            batch_df, text_col, id_col, num_hashes, bands, shingle_k, lane_hash
        )
        write_lsh_store(
            fresh, lsh_table, num_buckets,
            mode="append" if exists else "overwrite",
        )
        if write is not None:
            ids = batch_df.select(F.col(id_col).alias("id"))
            assigned = ids.join(
                spark.table(cluster_table), "id", "left"
            ).select(
                "id", F.coalesce("component", F.col("id")).alias("component")
            )
            write(assigned, epoch_id)

    return _apply


def rollup_distinct_each_batch(
    table: str,
    ts_col: str,
    distinct_col: str,
    width: str | int,
    by=(),
    *,
    p: int = 12,
    lane_hash: str = "xxhash64",
    write=None,
):
    """Streaming count-DISTINCT continuous aggregate: a ``foreachBatch``
    callback folding each micro-batch into the persisted keyed-HLL
    register store (`operators/rollup.py rollup_distinct_store_update`).
    Register max-merge is IDEMPOTENT, so at-least-once delivery is safe
    (re-run batches cannot inflate the counts — stronger than the
    sum-merged numeric gate); stream == batch by the merge law, pinned
    in tests. ``write(estimates_df, epoch_id)`` receives the served
    per-bucket estimates."""
    from dataframes_spark.operators import rollup as RU

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        RU.rollup_distinct_store_update(
            spark, table, batch_df, ts_col, distinct_col, width,
            by=list(by), p=p, lane_hash=lane_hash,
        )
        if write is not None:
            write(RU.rollup_distinct_serve_store(spark, table), epoch_id)

    return _apply


def classify_each_batch(
    table: str,
    text_col: str,
    id_col: str,
    *,
    threshold: float | None = None,
    write=None,
):
    """Streaming quality scoring: a ``foreachBatch`` callback scoring
    each micro-batch against the persisted classifier store
    (`functions/classifier.py classifier_store_update`) — the
    ingestion-time twin of the batch quality screen. Scoring is
    STATELESS (the model is static within a batch), so micro-batch
    boundaries cannot change results and stream output == batch
    `score_quality_from_store` of the same rows (the
    decontaminate_each_batch argument; pinned in tests). With
    ``threshold`` set, ``write(kept_df, epoch_id)`` receives only the
    documents scoring at or above it (the quality gate); otherwise the
    full scored frame. The model can be RETRAINED mid-stream — each
    batch reads the current store, so a swap takes effect on the next
    trigger."""
    from dataframes_spark.functions.classifier import (
        score_quality_from_store,
    )

    if write is None:
        raise ValueError("write(df, epoch_id) sink callback is required")

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        from dataframes_spark.operators.global_order import nullsafe_join

        spark = batch_df.sparkSession
        scored = score_quality_from_store(
            spark, batch_df, table, text_col, id_col
        )
        out = nullsafe_join(batch_df, scored, [id_col])
        if threshold is not None:
            out = out.filter(F.col("quality_prob") >= float(threshold))
        write(out, epoch_id)

    return _apply


def url_dedup_each_batch(
    table: str,
    url_col: str,
    id_col: str,
    *,
    strip_www: bool = False,
    sort_query: bool = False,
    num_buckets: int = 32,
    write=None,
):
    """Streaming URL-level dedup: a ``foreachBatch`` callback running
    `functions/url.py url_dedup_incremental` against the persisted
    canonical-URL fingerprint store — C4's stage-0 pass at ingestion
    time. Each batch dedups internally (min-id survivor per canonical
    URL), anti-joins the url-bucketed store (no history reshuffle),
    and swaps the store forward; NULL-URL rows always pass and never
    enter the store. Batches must arrive exactly once (a canonical URL
    admitted in batch N is IN the store for batch N+1 — re-delivery
    would drop the re-delivered copies, which for dedup is harmless).
    Stream survivors == the order-respecting incremental fold of the
    batch sequence (pinned in tests). ``write(fresh_df, epoch_id)``
    receives each batch's surviving rows. ``strip_www``/``sort_query``
    pass through to the canonicalizer — they MUST match the flags any
    pre-seeded store was built with (a store canonicalized under
    different flags would silently split the key space)."""
    from dataframes_spark.functions import url as U
    from dataframes_spark.io.store import fold_store

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        seen = (
            spark.table(table)
            if spark.catalog.tableExists(table)
            else U.url_fingerprints(
                batch_df.limit(0), url_col, strip_www, sort_query
            )
        )
        fresh, updated = U.url_dedup_incremental(
            batch_df, seen, url_col, id_col, strip_www, sort_query
        )
        # the fresh rows must be decided BEFORE the store moves (they
        # read it); the swap materializes updated first, so writers see
        # old-or-new, never partial (the fold_store contract)
        out = fresh.localCheckpoint(eager=True)
        fold_store(
            spark, table, updated, bucket_by="url", num_buckets=num_buckets
        )
        if write is not None:
            write(out, epoch_id)

    return _apply


def langid_each_batch(
    table: str,
    text_col: str,
    id_col: str,
    *,
    keep_langs: Sequence[str] | None = None,
    write=None,
):
    """Streaming language identification: a ``foreachBatch`` callback
    scoring each micro-batch against the persisted langid model store
    (`functions/langid.py langid_store_update`) — CCNet stage 1 at
    ingestion time, the `classify_each_batch` shape generalized to
    multinomial. Scoring is STATELESS (static model within a batch),
    so stream output == batch `langid_score_from_store` of the same
    rows; the model can be retrained mid-stream (next trigger reads
    the new store). With ``keep_langs`` set, ``write(kept_df,
    epoch_id)`` receives only documents predicted in that set (the
    language gate); otherwise the full frame with ``lang_pred`` /
    ``lang_score`` columns."""
    from dataframes_spark.functions.langid import langid_score_from_store

    if write is None:
        raise ValueError("write(df, epoch_id) sink callback is required")

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        from dataframes_spark.operators.global_order import nullsafe_join

        spark = batch_df.sparkSession
        scored = langid_score_from_store(
            spark, batch_df, table, text_col, id_col
        )
        out = nullsafe_join(batch_df, scored, [id_col])
        if keep_langs is not None:
            out = out.filter(F.col("lang_pred").isin(list(keep_langs)))
        write(out, epoch_id)

    return _apply
