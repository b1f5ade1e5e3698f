"""The one fold every persisted store uses, and its crash-safe swap.

Every incremental store (CMS / HLL / bottom-k / weighted sample / PCA
moments / word types / DSIR counts / KLL / histograms / rollups, and
the streaming fold states) and every model store (classifier, langid,
unigram) updates through ``fold_store``:

1. if the store exists and the fold MERGES, the stamp the store was
   built with must equal the caller's ``stamp`` — a fold under another
   configuration (bins that changed meaning, another bucket width, a
   different hash domain) raises ``ValueError("... refusing to fold
   ...")`` instead of corrupting every stored row;
2. ``merge(existing, batch)`` builds the new store (``merge=None``
   replaces it: the model stores, whose update path is retraining);
3. the result swaps in through ``staging_swap``;
4. the stamp is written as ONE catalog table property
   (``dataframes_spark.stamp``, JSON) on the staging table, so it moves
   with the rename — readers see old data with the old stamp or new
   data with the new stamp, never a mix. Empty stores carry it too.

Readers get the configuration from ``store_stamp``: a catalog lookup,
no Spark job, never a column of the store's rows.

``staging_swap`` owns the one fragile step: a fold that crashes INSIDE
the staging write (upstream evaluation error, executor loss) leaves an
uncataloged staging DIRECTORY behind. ``DROP TABLE IF EXISTS`` cannot
see it (it is not in the catalog) and ``saveAsTable`` then refuses the
location (``LOCATION_ALREADY_EXISTS``) — one crashed fold would brick
the store forever. ``staging_swap`` clears such an orphan through the
Hadoop FileSystem API (any scheme the session can reach) before
writing.
"""

from __future__ import annotations

import json
import re
from typing import Callable

from pyspark.sql import DataFrame

STAMP_KEY = "dataframes_spark.stamp"


def fold_store(
    spark,
    table: str,
    batch: DataFrame,
    merge: Callable[[DataFrame, DataFrame], DataFrame] | None = None,
    stamp=None,
    bucket_by=None,
    num_buckets: int = 32,
) -> None:
    """Fold ``batch`` into the persisted store ``table``.

    ``merge(existing, batch)`` combines the current store with the
    batch; an absent store starts as ``batch``. ``stamp`` (any
    JSON-serializable value, ``None`` for config-free stores) records
    what the store was built with; a merging fold into a store stamped
    differently raises. ``merge=None`` replaces the store (nothing of
    it survives, so there is nothing to check). ``bucket_by`` writes
    the store bucketed (see `staging_swap`)."""
    want = None if stamp is None else json.dumps(stamp, sort_keys=True)
    # an existence check, not a broad except around spark.table: a
    # transient JVM error must propagate, never read as "store absent"
    # (which would silently discard all folded history)
    if merge is not None and spark.catalog.tableExists(table):
        built = _stamp_json(spark, table)
        if built != want:
            raise ValueError(
                f"store {table!r} was built with {built}; refusing to fold "
                f"{want}"
            )
        batch = merge(spark.table(table), batch)
    staging_swap(spark, table, batch, bucket_by, num_buckets, want)


def store_stamp(spark, table: str):
    """The stamp ``table`` was folded with (decoded JSON). Raises
    ``ValueError`` when the store carries none."""
    raw = _stamp_json(spark, table)
    if raw is None:
        raise ValueError(f"store {table!r} carries no stamp")
    return json.loads(raw)


def staging_swap(
    spark,
    table: str,
    merged: DataFrame,
    bucket_by=None,
    num_buckets: int = 32,
    stamp_json: str | None = None,
) -> None:
    """Write ``merged`` to ``<table>__staging`` and atomically (at
    catalog granularity) swap it in as ``table``.

    ``merged`` may read from ``spark.table(table)`` — it is fully
    materialized into staging BEFORE the old table is dropped. Plain
    (non-qualified, default-database) table names only, like every
    store that uses this. With ``bucket_by`` the staging table is
    written BUCKETED (catalog bucket metadata survives the rename), for
    stores whose read-side joins must never reshuffle. A non-None
    ``stamp_json`` (an encoded stamp) is set as the staging table's
    stamp property before the rename, so it moves with the data."""
    staging = f"{table}__staging"
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    _clear_orphan_location(spark, staging)
    writer = merged.write.format("parquet")
    if bucket_by is not None:
        cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
        writer = writer.bucketBy(num_buckets, *cols)
    writer.saveAsTable(staging)
    if stamp_json is not None:
        lit = stamp_json.replace("\\", "\\\\").replace("'", "\\'")
        spark.sql(
            f"ALTER TABLE {staging} SET TBLPROPERTIES ('{STAMP_KEY}' = '{lit}')"
        )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")


def compact_swap_store(spark, table: str, num_files: int = 1) -> dict:
    """Rewrite a staging-swap store to ``num_files`` files.

    Swap stores (funnel stage state, transitions counts + last-event,
    the sketch/histogram/DSIR stores) are SELF-compacting in data —
    every fold rewrites the whole table — but each rewrite emits one
    file per write task, so a store folded with many shuffle partitions
    carries that many near-empty files forever. One coalesced rewrite
    (same staging-swap safety: readers see old or new, never partial)
    bounds scan setup for serving reads. Contents, stamp and bucket
    spec are untouched — report-invariance is pinned in tests. Returns
    ``{"files_before", "files_after", "rows"}``."""
    from pyspark.sql import functions as F

    df = spark.table(table)
    files_before = df.select(F.input_file_name()).distinct().count()
    rows = df.count()
    cols, n = _bucket_spec(spark, table) or (None, 32)
    staging_swap(
        spark, table, df.coalesce(max(1, num_files)), cols, n,
        _stamp_json(spark, table),
    )
    out = spark.table(table)
    files_after = out.select(F.input_file_name()).distinct().count()
    return {
        "files_before": files_before,
        "files_after": files_after,
        "rows": rows,
    }


def _bucket_spec(spark, table: str) -> tuple[list[str], int] | None:
    """``(bucket columns, number of buckets)`` of a bucketed catalog
    table, or None for an unbucketed one."""
    info = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    if "Num Buckets" not in info:
        return None
    cols = re.findall(r"`((?:[^`]|``)*)`", info["Bucket Columns"])
    return [c.replace("``", "`") for c in cols], int(info["Num Buckets"])


def drop_table_and_location(spark, table: str) -> None:
    """DROP TABLE IF EXISTS plus orphan-location cleanup: a fresh
    session's in-memory catalog does not know tables a PREVIOUS process
    left in the warehouse directory, so the DROP is a no-op and
    ``saveAsTable``/RENAME then refuse the location. Queries that
    rebuild a deterministically-named store each run start with this."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    _clear_orphan_location(spark, table)


def _stamp_json(spark, table: str) -> str | None:
    """The raw stamp property: ``SHOW TBLPROPERTIES`` is answered from
    the catalog, so the read runs no Spark job."""
    for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect():
        if r["key"] == STAMP_KEY:
            return r["value"]
    return None


def _clear_orphan_location(spark, staging: str) -> None:
    """Remove a staging DIRECTORY orphaned by a crashed fold (present
    on disk, absent from the catalog — the DROP above was a no-op)."""
    try:
        jvm = spark._jvm
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        path = jvm.org.apache.hadoop.fs.Path(warehouse, staging.lower())
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(path):
            fs.delete(path, True)
    except Exception:  # noqa: BLE001 — no JVM handle (Spark Connect):
        # fall through; saveAsTable will raise its own clear error if an
        # orphan actually blocks the location
        pass
