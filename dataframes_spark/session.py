"""SparkSession bootstrap.

Defaults are tuned so the same code is correct on ``local[32]`` (the test
harness) and on a large cluster: AQE handles runtime re-planning and skew,
shuffle partitions default to the local core count but should be overridden
(or left to AQE coalescing) on a real cluster, and Arrow is enabled so any
Pandas-UDF escape hatch moves data in columnar batches.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "dataframes_spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults.

    - AQE on: runtime partition coalescing + skew-join splitting means the
      same plan survives a 100x scale-up without re-tuning.
    - ``spark.sql.shuffle.partitions`` matches local parallelism here; on a
      cluster AQE coalescing makes the initial value mostly irrelevant.
    - UTC session timezone: the reference stores timestamps as raw epoch
      nanoseconds (reference: native_libs/src/Core/ArrowUtilities.h:27),
      i.e. timezone-naive; UTC gives the same arithmetic.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays TRUE (the default) deliberately: r12
        # measured `parallelismFirst=false` (the docs' size-respecting
        # production setting) across the full 191-query bench and it
        # LOST 20% (123.1s -> 147.6s) — this workload's shuffles are
        # compute-dense but byte-light (md5/ngram/explode lanes), so
        # coalescing them to one advisory-sized partition serializes
        # expression work that 32-way parallelism was hiding. On a real
        # cluster the advisory size should govern (bytes dominate);
        # locally parallelism dominates. See OPTIMIZATION_r12.md.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Janino compiles one class per distinct generated-code shape and
        # Spark keeps them in an LRU cache (a static conf, default 100
        # entries). One pass over every entry.queries() query compiles
        # ~2850 distinct classes; the 12 queries of the interactive
        # benchmark compile ~160. Queries repeat in a cycle, so a cache
        # smaller than the working set hits nothing: at 100 entries every
        # warm pass recompiled all of them (~6-8 ms each) and the JIT
        # compiled the fresh copies again. 6000 holds the full working
        # set twice over; a second full pass then compiles only the
        # ~110-170 shapes that differ on every call.
        .config("spark.sql.codegen.cache.maxEntries", "6000")
        # the JIT's code cache fills with compiled generated-code methods;
        # when it is full the JIT shuts off and random later queries run
        # interpreted at ~10x cost. Much of that pressure was fresh copies
        # of classes evicted from the codegen cache above; 512 MB with
        # flushing holds the full contract-suite working set.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        # DataFrame-debugging call-site capture (a Spark 4 error-message
        # enrichment aid) wraps EVERY DataFrame/Column API call with a
        # Python stack walk plus set/clear py4j roundtrips to
        # PySparkCurrentOrigin — measured 1.2-2x of pure plan-
        # construction time across the contract queries (KLL cascade
        # construction 0.96 -> 0.46 s with it off). Pure driver-side
        # metadata for error messages; results and plans are identical.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # the synthetic events table stores timestamp[ns]; Spark has no ns
        # timestamp type, so read as epoch-ns long and convert in the loader
        # (lossless here — sub-microsecond components are zero; SURVEY.md §7)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # catalog tables (bucketed layouts, io/bucketed.py) land here
        # instead of polluting the caller's cwd with spark-warehouse/
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _ensure_nanos_as_long(spark: SparkSession) -> bool:
    """Make TIMESTAMP(NANOS) parquet readable in ANY session, not just ones
    built by :func:`get_spark`.

    ``spark.sql.legacy.parquet.nanosAsLong`` is a runtime-settable SQL conf;
    an externally-constructed SparkSession (e.g. a test harness's) won't have
    it, and without it ``spark.read.parquet`` raises PARQUET_TYPE_ILLEGAL on
    INT64(TIMESTAMP(NANOS)). Returns True if the conf is (now) set.
    """
    try:
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    except Exception:
        return False


#: lazy-relation cache keyed by (session applicationId, absolute path):
#: ``spark.read.parquet`` re-lists the directory and re-reads footers
#: for schema inference on EVERY call — 120-170 ms per table here, paid
#: once per query per bench run (~25-40 s across a full 191-query
#: pass). The cache holds ONLY the unevaluated relation (schema + file
#: index — what a catalog/metastore holds); no table data and no
#: results are retained, and every action still scans the parquet
#: files. Assumes table files are immutable for the session's lifetime
#: (true for the bench/oracle harnesses; a regenerated directory needs
#: a new path or `_TABLE_CACHE.clear()`).
_TABLE_CACHE: dict = {}


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one synthetic table lazily (scans don't run until an action;
    column pruning and predicate pushdown reach the parquet reader).
    Relations are cached per (session, path) — see `_TABLE_CACHE`.

    ``events.ts`` is stored as timestamp[ns], surfaced by the nanosAsLong
    flag as an epoch-ns BIGINT — convert to a proper TimestampType (µs,
    lossless for this data). The flag is set at runtime so the loader is
    self-sufficient in sessions this package did not construct; if a frozen
    session rejects the conf, fall back to reading with an explicit schema
    that types ``ts`` as LONG.
    """
    key = (spark.sparkContext.applicationId, os.path.abspath(f"{sf_dir}/{name}.parquet"))
    got = _TABLE_CACHE.get(key)
    if got is not None:
        return got
    df = _load_table_uncached(spark, sf_dir, name)
    _TABLE_CACHE[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str):
    from pyspark.sql import functions as F

    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        _ensure_nanos_as_long(spark)
        try:
            df = spark.read.parquet(path)
            df.schema  # force analysis so an illegal-type error surfaces here
        except Exception as e:
            # Only the illegal-parquet-type error (TIMESTAMP(NANOS) read in
            # a session that rejected the nanosAsLong conf) gets the
            # schema-forced fallback; anything else — missing file, corrupt
            # footer, transient IO — must surface as itself, and a µs file
            # reaching the fallback would be mis-scaled 1000x by the
            # ``div 1000`` below.
            msg = str(e)
            if not ("PARQUET_TYPE_ILLEGAL" in msg or "Illegal Parquet type" in msg):
                raise
            # force the ns column to LONG via an explicit schema — parquet
            # INT64 physical type reads fine once the logical annotation is
            # overridden
            base = spark.read.schema(
                "event_id BIGINT, ts BIGINT, user_id BIGINT, "
                "event_type STRING, value DOUBLE, props STRING"
            )
            df = base.parquet(path)
        ts_type = dict(df.dtypes).get("ts", "")
        if ts_type == "bigint":
            # timestamp[ns] file surfaced as epoch-ns long. Integer division:
            # epoch-ns exceeds double's 2^53 exact-integer range, so a float
            # divide would round the microsecond digit
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if ts_type == "timestamp_ntz":
            # timestamp[us] files without isAdjustedToUTC read as
            # TIMESTAMP_NTZ. A bare cast to TimestampType interprets the
            # wall time in the SESSION timezone — in a non-UTC external
            # session that would shift µs-encoded events while ns-encoded
            # ones (timestamp_micros, TZ-independent) stay put. Route the
            # wall time through UTC explicitly so both encodings of the
            # same data produce identical instants in any session:
            # convert_timezone(UTC, session_tz, ntz) re-labels the wall
            # clock so the subsequent session-tz cast lands on the
            # instant 'ntz wall time read as UTC'.
            tz = spark.conf.get("spark.sql.session.timeZone")
            if tz in ("UTC", "Etc/UTC", "GMT", "+00:00"):
                # identity re-label: skip the per-row convert_timezone
                return df.withColumn("ts", F.col("ts").cast("timestamp"))
            return df.withColumn(
                "ts",
                F.convert_timezone(
                    F.lit("UTC"), F.lit(tz), F.col("ts")
                ).cast("timestamp"),
            )
        if ts_type != "timestamp":
            # any other surfaced dtype (e.g. string from a permissive
            # reader): best-effort session cast, one stable dtype downstream
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load every synthetic table from a scale-factor directory."""
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
