"""Bucketed table layout: pre-shuffled storage for co-located joins.

At 100 TB the dominant cost of a fact-fact join is shuffling both sides
on the join key. Writing each table bucketed (hash-partitioned into a
fixed number of files per key) moves that shuffle to WRITE TIME, once:
every subsequent join or aggregation on the bucket key reads co-located
buckets and plans with NO Exchange on either side
(``tests/test_plans.py::test_bucketed_join_has_no_exchange`` pins this).

Spark bucketing needs the table catalog (``saveAsTable``), not plain
``save`` — bucket metadata lives in the catalog entry.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: str | Sequence[str],
    num_buckets: int = 32,
    sort_by: str | Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Materialize ``df`` as a bucketed (optionally bucket-sorted) parquet
    table. ``sort_by`` additionally sorts within buckets, which lets
    sort-merge joins skip the per-task sort too."""
    cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
    writer = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *cols)
    if sort_by is not None:
        scols = [sort_by] if isinstance(sort_by, str) else list(sort_by)
        writer = writer.sortBy(*scols)
    writer.saveAsTable(table)


def write_fingerprints(
    fps: DataFrame, table: str, num_buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Persist an incremental-dedup fingerprint store
    (``dedup.content_fingerprints``, flat ``(len, xx, md5)`` schema)
    BUCKETED BY its xxhash64 component. ``exact_dedup_incremental``'s
    anti join uses ``xx`` as its single equi-key, so the bucketed
    store's scan-time partitioning satisfies the join's required
    distribution and the history side never reshuffles — per-batch
    dedup stays O(batch) in shuffle volume as the store grows toward
    1e10 keys (the no-Exchange plan is pinned in tests/test_plans.py)."""
    write_bucketed(fps, table, bucket_by="xx", num_buckets=num_buckets, mode=mode)


def write_lsh_store(
    banded: DataFrame, table: str, num_buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Persist an incremental near-dup LSH store
    (``dedup.lsh_bucket_store``, flat ``(id, band, bucket)`` schema)
    BUCKETED BY ``(band, bucket)``. ``near_dup_incremental``'s candidate
    join uses exactly those equi-keys, so the bucketed store's scan-time
    partitioning satisfies the join's required distribution and the
    history side never reshuffles — per-batch near-dup detection stays
    O(batch) in shuffle volume as the store grows (plan pinned in
    tests/test_plans.py)."""
    write_bucketed(
        banded, table, bucket_by=("band", "bucket"), num_buckets=num_buckets, mode=mode
    )


def write_span_store(
    hashes: DataFrame, table: str, num_buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Persist an incremental span-dedup window-hash store
    (``dedup.span_window_hashes``, flat ``(wh)`` schema) BUCKETED BY
    ``wh``. ``duplicate_spans_incremental`` touches history through two
    joins keyed solely on ``wh`` (the probe semi join, the store-update
    anti join); the bucketed store's scan-time partitioning satisfies
    both required distributions, so history never reshuffles — per-batch
    span dedup stays O(batch) in shuffle volume as the store grows
    toward trillions of windows (plan pinned in tests/test_plans.py)."""
    write_bucketed(hashes, table, bucket_by="wh", num_buckets=num_buckets, mode=mode)


def write_embedding_store(
    vecs: DataFrame, table: str, num_buckets: int = 32, mode: str = "overwrite"
) -> None:
    """Persist an incremental semantic near-dup store
    (``dedup.embedding_store``, flat ``(id, bucket, vec, nrm)`` schema)
    BUCKETED BY ``bucket`` — the sole equi-key of
    ``embedding_dedup_incremental``'s candidate join, so the store's
    scan-time partitioning satisfies the join's required distribution
    and history never reshuffles or re-scores (plan pinned in
    tests/test_plans.py)."""
    write_bucketed(
        vecs, table, bucket_by="bucket", num_buckets=num_buckets, mode=mode
    )


def compact_store(
    spark: SparkSession,
    table: str,
    bucket_by: str | Sequence[str],
    num_buckets: int = 32,
) -> dict:
    """Rewrite a bucketed store in place, one file per bucket.

    Incremental stores grow by APPEND: every increment adds at least one
    file per bucket it touches (Spark writes one file per task-bucket
    pair), so after many increments the per-bucket FILE COUNT — not the
    data volume — dominates scan setup (open/footer-read per file). The
    fix is the same one ``write_partitioned`` applies to hive layouts:
    periodically rewrite. The source is read with auto-bucketed-scan
    FORCED ON (one task per bucket, all of a bucket's files in that
    task) — without this Spark reads the table as plain files, elides
    any repartition on the bucket keys as "redundant" (the CATALOG says
    the data is bucket-partitioned even when the physical scan isn't),
    and the rewrite sprays each bucket across every input task. With
    the bucketed scan each task holds exactly one bucket and the
    rewrite yields ONE file per bucket. Bucket keys (and therefore
    every downstream no-reshuffle join plan) and the store's stamp are
    unchanged — pinned in tests/test_plans.py.

    The rewrite swaps through ``io.store.staging_swap`` (orphan-safe
    staging, DROP + RENAME); run it when no reader holds the table
    (e.g. between increments — a natural cadence is every N appends or
    when files-per-bucket exceeds ~10). Returns
    ``{"files_before", "files_after", "rows"}``.
    """
    from pyspark.sql import functions as F

    from .store import _stamp_json, staging_swap

    df = spark.table(table)
    files_before = df.select(F.input_file_name()).distinct().count()
    rows = df.count()
    conf_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    prev = spark.conf.get(conf_key, "true")
    spark.conf.set(conf_key, "false")
    try:
        staging_swap(
            spark, table, spark.table(table), bucket_by, num_buckets,
            _stamp_json(spark, table),
        )
    finally:
        spark.conf.set(conf_key, prev)
    files_after = (
        spark.table(table).select(F.input_file_name()).distinct().count()
    )
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows": rows,
    }
