"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is an operator from SURVEY.md §2 (reference
parity) or a beyond-reference pipeline operator, implemented through the
``dataframes_spark`` package; ``oracle_sql()`` holds the DuckDB twin with
identical column names and identical rounding, so the driver's
row-count/schema/value-hash comparison is exact.

Floating-point policy: any aggregate whose value depends on summation
order (sum/avg/std/corr over doubles) is rounded to a fixed number of
decimals IN BOTH ENGINES, so hash comparison is deterministic; columns
that are copied or deterministically derived per-row are left exact.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataframes_spark.core import Table
from dataframes_spark.functions import stats as dstats
from dataframes_spark.functions import text as dtext
from dataframes_spark.functions import url as durl
from dataframes_spark.operators import aggregate as dagg
from dataframes_spark.operators import decontaminate as ddecon
from dataframes_spark.operators import dedup as ddedup
from dataframes_spark.operators import dsir as ddsir
from dataframes_spark.operators import graph as dgraph
from dataframes_spark.operators import kll as dkll
from dataframes_spark.operators import nulls as dnulls
from dataframes_spark.operators import pack as dpack
from dataframes_spark import quality as dquality
from dataframes_spark.operators import reshape as dreshape
from dataframes_spark.operators import sample as dsample
from dataframes_spark.operators import similarity as dsim
from dataframes_spark.operators import skew as dskew
from dataframes_spark.operators import sort as dsort
from dataframes_spark.operators import window as dwindow
from dataframes_spark.session import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_SCRATCH_DIRS: list[str] = []


def _scratch_dir(prefix: str) -> str:
    """Per-process scratch dir for roundtrip queries, removed at
    interpreter exit. The returned DataFrames are lazy — the driver
    materializes them AFTER the query function returns — so the dir
    cannot be deleted inside the query; without the atexit hook every
    harness invocation leaked a full table copy into /tmp."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    if not _SCRATCH_DIRS:
        atexit.register(
            lambda: [shutil.rmtree(p, ignore_errors=True) for p in _SCRATCH_DIRS]
        )
    _SCRATCH_DIRS.append(d)
    return d


def _events_with_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with deterministic injected nulls (the synthetic tables are
    null-free; both engines inject identically: value -> NULL when
    event_id % 7 == 0)."""
    ev = _t(spark, sf_dir, "events")
    return ev.withColumn(
        "value", F.when(F.col("event_id") % 7 == 0, None).otherwise(F.col("value"))
    )


_EVENTS_NULLS_SQL = (
    "SELECT event_id, ts, user_id, event_type, "
    "CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value, props FROM events"
)


# --------------------------------------------------------------------------
# reference-parity queries (SURVEY.md §2)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: scan -> filter -> group-aggregate -> sort (SURVEY §7 phase 1).
    Catalyst pushes the shipdate filter into the parquet scan; the
    aggregation is a partial+final hash aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def lquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQuery JSON predicate -> Catalyst filter (SURVEY §2.3)."""
    li = Table(_t(spark, sf_dir, "lineitem"))
    pred = {
        "boolean": "and",
        "arguments": [
            {"predicate": "gt", "arguments": [{"column": "l_quantity"}, 25]},
            {"predicate": "startsWith", "arguments": [{"column": "l_returnflag"}, "A"]},
        ],
    }
    return li.filter(pred).df.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )


def lquery_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQuery row-wise map incl. arithmetic + condition node (SURVEY §2.3)."""
    li = Table(_t(spark, sf_dir, "lineitem"))
    disc_price = {
        "operation": "times",
        "arguments": [
            {"column": "l_extendedprice"},
            {"operation": "minus", "arguments": [1, {"column": "l_discount"}]},
        ],
    }
    band = {
        "condition": {"predicate": "gt", "arguments": [{"column": "l_discount"}, 0.05]},
        "onTrue": "HIGH",
        "onFalse": "LOW",
    }
    out = li.each("disc_price", disc_price).each("disc_band", band).df
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("disc_price"), 4).alias("disc_price"),
        "disc_band",
    )


def lquery_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQuery plus/divide chain in both predicate and map position
    (SURVEY §2.3 arithmetic ops)."""
    li = Table(_t(spark, sf_dir, "lineitem"))
    pred = {
        "predicate": "gt",
        "arguments": [
            {
                "operation": "divide",
                "arguments": [
                    {"column": "l_extendedprice"},
                    {"operation": "plus", "arguments": [{"column": "l_quantity"}, 1]},
                ],
            },
            1000,
        ],
    }
    ratio = {
        "operation": "divide",
        "arguments": [
            {"column": "l_extendedprice"},
            {"operation": "plus", "arguments": [{"column": "l_quantity"}, 1]},
        ],
    }
    out = li.filter(pred).each("price_per_unit", ratio).df
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "price_per_unit",
    )


def lquery_ts_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQuery timestampNs literal node ({"timestampNs": i}, SURVEY §2.3
    grammar) — the reference's epoch-ns wire form, truncated to Spark's
    microseconds (documented delta, SURVEY §7)."""
    orders = Table(_t(spark, sf_dir, "orders"))
    # 1996-01-01 00:00:00 UTC in nanoseconds
    ns = 820454400 * 1_000_000_000
    pred = {
        "boolean": "and",
        "arguments": [
            {"predicate": "gt", "arguments": [{"column": "o_orderdate"}, {"timestampNs": ns}]},
            {"predicate": "lt", "arguments": [{"column": "o_totalprice"}, 5000]},
        ],
    }
    return orders.filter(pred).df.select("o_orderkey", "o_totalprice")


def aggregate_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregateBy with the reference output contract: <col>_<fn> names,
    all-double, length counts all rows (SURVEY §2.5)."""
    li = Table(_t(spark, sf_dir, "lineitem"))
    out = li.aggregateBy(
        "l_returnflag",
        [("l_quantity", ["min", "max", "mean", "sum", "length", "median", "std"])],
    ).df
    return out.select(
        "l_returnflag",
        "l_quantity_min",
        "l_quantity_max",
        F.round("l_quantity_mean", 6).alias("l_quantity_mean"),
        F.round("l_quantity_sum", 4).alias("l_quantity_sum"),
        "l_quantity_length",
        "l_quantity_median",
        F.round("l_quantity_std", 6).alias("l_quantity_std"),
    )


def count_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """countValues (SURVEY §2.5): value -> occurrence count."""
    return dagg.count_values(_t(spark, sf_dir, "lineitem"), "l_returnflag")


def column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-column statistics, single row (SURVEY §2.5)."""
    out = dstats.column_stats(_t(spark, sf_dir, "lineitem"), "l_extendedprice", 1.0 / 3.0)
    return out.select(
        "min",
        "max",
        F.round("mean", 4).alias("mean"),
        F.round("median", 4).alias("median"),
        F.round("std", 4).alias("std"),
        F.round("var", 2).alias("var"),
        F.round("sum", 2).alias("sum"),
        F.round("quantile", 4).alias("quantile"),
    )


def describe_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe: per-numeric-column summary rows (SURVEY §2.5)."""
    # exact=True pinned: this row is compared against an exact DuckDB
    # oracle, so the auto exact/approx switch must never downgrade it
    # (it would at any scale where Catalyst's size estimate > 256 MB)
    out = dstats.describe(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
        exact=True,
    )
    return out.select(
        "column",
        F.round("mean", 6).alias("mean"),
        F.round("std", 6).alias("std"),
        "min",
        F.round("q25", 4).alias("q25"),
        F.round("median", 4).alias("median"),
        F.round("q75", 4).alias("q75"),
        "max",
    )


def describe_na(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null profiling (SURVEY §2.5) over null-injected events."""
    ev = _events_with_nulls(spark, sf_dir)
    out = dstats.describe_na(ev, ["event_id", "value", "props"])
    return out.select("column", "null_count", F.round("null_ratio", 6).alias("null_ratio"))


def correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix, long form (SURVEY §2.5)."""
    out = dstats.correlations(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )
    return out.select("col_a", "col_b", F.round("corr", 6).alias("corr"))


def autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """autoCorr lag-1 (SURVEY §2.5)."""
    out = dstats.auto_corr(_t(spark, sf_dir, "events"), "value", "event_id", 1)
    return out.select(F.round("autocorr", 6).alias("autocorr"))


def rsi_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI aggregate over a signed measure (SURVEY §2.5 / Analysis.cpp:217)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "qdev", F.col("l_quantity") - F.lit(25.0)
    )
    out = dagg.aggregate_by(li, "l_returnflag", [("qdev", ["rsi"])])
    return out.select("l_returnflag", F.round("qdev_rsi", 6).alias("qdev_rsi"))


def first_last_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last aggregates with an explicit order (SURVEY §2.5 /
    Analysis.cpp:185-215) — min_by/max_by over valid rows, deterministic
    under any partitioning."""
    ev = _events_with_nulls(spark, sf_dir)
    out = dagg.aggregate_by(
        ev, "event_type", [("value", ["first", "last"])], order_by="event_id"
    )
    return out.select("event_type", "value_first", "value_last")


def sort_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-key sort w/ null placement + take (SURVEY §2.8, §2.2)."""
    li = _t(spark, sf_dir, "lineitem")
    out = dsort.sort_by(
        li,
        [
            ("l_returnflag", "asc", "nulls_first"),
            ("l_extendedprice", "desc", "nulls_last"),
        ],
        stable_tiebreaker="l_orderkey",
    ).limit(100)
    return out.select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")


def slice_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """slice begin count over explicit order (SURVEY §2.2)."""
    orders = _t(spark, sf_dir, "orders")
    return dreshape.slice_rows(orders, 100, 50, ["o_orderkey"]).select(
        "o_orderkey", "o_totalprice"
    )


def shift_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shift/lag over explicit order (SURVEY §2.6)."""
    ev = _t(spark, sf_dir, "events")
    out = dwindow.shift(ev, "value", 1, "event_id")
    return out.select("event_id", "value", "value_shift_1")


def rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollingInterval: trailing 1-hour window aggregates (SURVEY §2.6)."""
    ev = _t(spark, sf_dir, "events")
    out = dwindow.rolling_interval(
        ev, "ts", 3600 * 1_000_000, [("value", ["sum", "length"])]
    )
    # mean derived from the rounded sum and exact count, with the division
    # and final rounding in EXACT DECIMAL arithmetic: the raw window avg
    # of 2-decimal inputs can land exactly on a rounding boundary (e.g.
    # 7800.65/160 = 48.7540625, a true 6dp half-case at sf0.1), where the
    # double paths of different engines round differently (Spark HALF_UP
    # on the binary expansion vs DuckDB's scaled-multiply). DECIMAL(18,4)
    # division + HALF_UP round is bit-identical in both engines.
    return out.select(
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.round(
            F.round("value_sum", 4).cast("decimal(18,4)")
            / F.col("value_length").cast("decimal(10,0)"),  # double denom would
            6,                                              # demote back to float
        ).cast("double").alias("value_mean"),
        F.round("value_sum", 4).alias("value_sum"),
        "value_length",
    )


def shift_by_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """shift with a partition key — the scale-correct window shape (every
    un-partitioned window is a single-reducer bottleneck; SURVEY §2.6
    scale note). Partitioned by user_id, ordered by event_id."""
    ev = _t(spark, sf_dir, "events")
    out = dwindow.shift(ev, "value", 1, "event_id", partition_by=["user_id"])
    return out.select("event_id", "user_id", "value", "value_shift_1")


def rolling_1h_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rollingInterval with the reference's STRICT left edge (t-interval,
    t] — rows exactly interval-old fall out of the window
    (Analysis.cpp:794: key > t - interval)."""
    ev = _t(spark, sf_dir, "events")
    out = dwindow.rolling_interval(
        ev,
        "ts",
        3600 * 1_000_000,
        [("value", ["length", "min", "max"])],
        inclusive_left=False,
    )
    return out.select(
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        "value_length",
        "value_min",
        "value_max",
    )


def rolling_rsi_100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI over a trailing 100-row window — the reference's RSI aggregate
    (Analysis.cpp:217-239) in its classic windowed form; composed from
    two conditional window averages, all JVM-side."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "dev", F.col("value") - F.lit(50.0)
    )
    out = dwindow.rolling_rows(ev, "dev", 100, ["rsi"], "event_id")
    return out.select("event_id", F.round("dev_rsi", 6).alias("dev_rsi"))


def interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear null interpolation w/ edge fill (SURVEY §2.6, the hard one)."""
    ev = _events_with_nulls(spark, sf_dir)
    out = dnulls.interpolate(ev, ["value"], "event_id")
    return out.select("event_id", F.round("value", 6).alias("value"))


def fillna_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fillNa (SURVEY §2.7)."""
    ev = _events_with_nulls(spark, sf_dir)
    return dnulls.fill_na(ev, 0.0, ["value"]).select("event_id", "value")


def dropna_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropNa (SURVEY §2.7)."""
    ev = _events_with_nulls(spark, sf_dir)
    return dnulls.drop_na(ev, ["value"]).select("event_id", "value")


def ungroup_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ungroupSplittingOn: split + explode (SURVEY §2.10)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "tags", F.concat_ws(",", F.col("l_returnflag"), F.col("l_linestatus"))
    )
    out = dreshape.ungroup_splitting_on(
        li.select("l_orderkey", "l_linenumber", "tags"), "tags", ","
    )
    return out.select("l_orderkey", "l_linenumber", F.col("tags").alias("tag"))


def ungroup_list_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ungroup: explode an existing LIST column back to rows (SURVEY
    §2.10 / Processing.cpp:774-812, the C++-only variant) — here on
    lists built by the null-keeping group_collect."""
    ev = _t(spark, sf_dir, "events")
    lists = dagg.group_collect(ev, "event_type", ["value"], "event_id")
    return dreshape.ungroup(lists, "value_list").select(
        "event_type", F.col("value_list").alias("value")
    )


def concat_horizontal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizontal concat by row position (SURVEY §2.2) — nation ⊕ region-cycled."""
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    other = (
        _t(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").alias("k2"), F.col("n_regionkey").alias("r2"))
    )
    return dreshape.concat_horizontal(nation, other, ["n_nationkey"], ["k2"])


def lquery_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LQuery calendar/mod/abs/negate/matches ops (SURVEY §2.3: day month
    year, mod, abs, negate, anchored full-match regex)."""
    orders = Table(_t(spark, sf_dir, "orders"))
    pred = {
        "boolean": "and",
        "arguments": [
            {
                "predicate": "eq",
                "arguments": [
                    {"operation": "mod", "arguments": [{"column": "o_orderkey"}, 4]},
                    1,
                ],
            },
            {
                "predicate": "matches",
                "arguments": [{"column": "o_orderpriority"}, "[12]-.*"],
            },
        ],
    }
    out = (
        orders.filter(pred)
        .each("o_year", {"operation": "year", "arguments": [{"column": "o_orderdate"}]})
        .each("o_month", {"operation": "month", "arguments": [{"column": "o_orderdate"}]})
        .each("o_day", {"operation": "day", "arguments": [{"column": "o_orderdate"}]})
        .each(
            "neg_abs_price",
            {
                "operation": "negate",
                "arguments": [
                    {"operation": "abs", "arguments": [{"column": "o_totalprice"}]}
                ],
            },
        )
        .df
    )
    return out.select("o_orderkey", "o_year", "o_month", "o_day", "neg_abs_price")


def group_collect_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy list-collect with NULL-KEEPING lists (SURVEY §2.5 /
    reference Processing.cpp:611-692; plain collect_list would drop the
    injected nulls).

    The API (``dagg.group_collect``) returns real ARRAY columns; this
    CONTRACT query scalarizes the list to one pipe-joined string because
    the driver canonicalizes results through pandas ``sort_values``, which
    cannot sort raw list cells. Encoding: each element as an exact
    fixed-point integer (value*1e6 — the synthetic values carry <=6
    decimals), nulls as 'N', order preserved — so null-keeping and
    ordering semantics are still fully hash-checked."""
    ev = _events_with_nulls(spark, sf_dir)
    g = dagg.group_collect(ev, "event_type", ["value"], "event_id")
    enc = F.concat_ws(
        "|",
        F.transform(
            "value_list",
            lambda x: F.coalesce(
                F.round(x * 1000000).cast("long").cast("string"), F.lit("N")
            ),
        ),
    )
    return g.select("event_type", enc.alias("value_list_enc"))


def correlations_with_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """correlationsWith: each numeric column vs one target, sorted (SURVEY
    §2.5 / Analysis.cpp:469-488)."""
    out = dstats.correlations_with(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        ["l_quantity", "l_discount", "l_tax"],
    )
    return out.select("column", F.round("corr", 6).alias("corr"))


def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC roundtrip through write_auto/read_auto (Spark's second
    native columnar format — magic-byte sniffed like the reference's
    signature chain, IO.cpp:182-216), then aggregate. Types survive
    natively (no inference), so longs/doubles/strings come back exact;
    the oracle aggregates the source table directly, proving
    losslessness."""
    import os

    from dataframes_spark.io import readers as dio_r
    from dataframes_spark.io import writers as dio_w

    ords = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    path = os.path.join(_scratch_dir("spark_graft_orc_"), "orders.orc")
    dio_w.write_auto(ords, path)
    back = dio_r.read_auto(spark, path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
        F.min("o_orderkey").alias("first_order"),
        F.max("o_custkey").alias("last_cust"),
    )


def partitioned_prune_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned write + planning-time partition pruning: events
    written ``event_type=<v>/...`` via write_partitioned (pre-shuffled,
    so exactly ONE file per partition value — the small-files fix), read
    back filtered to two of the five types. The filter prunes whole
    directories before any file is opened (PartitionFilters on the scan
    — pinned in tests/test_plans.py); the oracle aggregates the source
    table under the same predicate, proving the partitioned layout is
    lossless AND the pruned read still sees every matching row."""
    import os

    from dataframes_spark.io import writers as dio_w

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = os.path.join(_scratch_dir("spark_graft_part_"), "events_by_type")
    dio_w.write_partitioned(ev, path, ["event_type"])
    back = spark.read.parquet(path)
    return (
        back.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
            F.min("event_id").alias("first_event"),
            F.max("user_id").alias("last_user"),
        )
    )


def csv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table.write -> Table.read CSV roundtrip (SURVEY §2.1: RFC-4180
    parser + type inference), then aggregate — proves the IO path is
    lossless for long/double/string columns."""
    import os

    from dataframes_spark.io import readers as dio_r
    from dataframes_spark.io import writers as dio_w

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    # per-process temp dir (a fixed shared path would race when two
    # harness runs at the same scale write/read the same location),
    # removed at interpreter exit — see _scratch_dir
    path = os.path.join(_scratch_dir("spark_graft_csv_"), "lineitem.csv")
    dio_w.write_auto(li, path)
    back = dio_r.read_csv(spark, path)
    # sum in exact fixed-point (the source data has <=2 decimals): double
    # summation is order-sensitive and the CSV re-read partitions
    # differently from the parquet scan, so round(sum(double)) can flip at
    # a rounding boundary between engines — integer sums cannot
    return (
        back.groupBy("l_returnflag")
        .agg(
            (F.sum(F.round(F.col("l_quantity") * 100).cast("long")) / 100.0).alias("sum_qty"),
            (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("sum_key"),
        )
    )


def zorder_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered write (io/writers.py write_zordered: quantile-
    banded Morton key, range-partitioned files) -> read back -> filtered
    aggregate — the content gate: the oracle runs the same
    filter+aggregate on the raw table, so any row lost, duplicated or
    altered by the layout pass breaks the hash. (A scale-free modulo
    filter rather than a range one — it selects the same rows at every
    SF; the range-predicate file-skipping the layout exists for is
    proven by footer-interval widths in tests/test_zorder.py.)"""
    import os

    from dataframes_spark.io import writers as dio_w

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag"
    )
    path = os.path.join(_scratch_dir("spark_graft_zorder_"), "lineitem_z")
    dio_w.write_zordered(li, path, ["l_orderkey", "l_partkey"], bits=6, n_files=8)
    back = spark.read.parquet(path)
    return (
        back.filter(
            (F.col("l_orderkey") % 10 < 3) & (F.col("l_partkey") % 7 < 2)
        )
        .groupBy("l_returnflag")
        .agg(
            (F.sum(F.round(F.col("l_quantity") * 100).cast("long")) / 100.0).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("sum_key"),
            F.sum("l_partkey").alias("sum_part"),
        )
    )


def media_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary payload column -> Arrow-batched
    mapInPandas decode (deterministic stand-in decoder) -> per-media
    dimensions. The oracle replicates the stand-in's sha256 arithmetic in
    SQL, so the whole mapInPandas path is hash-checked."""
    from dataframes_spark.operators import multimodal as dmm

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    dec = dmm.decode_image(media, fake=True)
    return dec.select("media_id", "width", "height", "n_pixels")


def ols_price_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares regression line + fit stats (SURVEY §2.12 — the
    reference's sklearn LinearRegression; MLlib variant in
    dataframes_spark.ml, the in-plan twin uses regr_* aggregates)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.expr("regr_slope(l_extendedprice, l_quantity)"), 4).alias("slope"),
        F.round(F.expr("regr_intercept(l_extendedprice, l_quantity)"), 4).alias(
            "intercept"
        ),
        F.round(F.expr("regr_r2(l_extendedprice, l_quantity)"), 6).alias("r2"),
        F.expr("regr_count(l_extendedprice, l_quantity)").alias("n"),
    )


def rolling_rows_100(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 100-row window aggregates (SURVEY §2.6 row-window twin)."""
    ev = _t(spark, sf_dir, "events")
    out = dwindow.rolling_rows(
        ev, "value", 100, ["sum", "length", "min", "max"], "event_id"
    )
    return out.select(
        "event_id",
        F.round("value_sum", 4).alias("value_sum"),
        "value_length",
        "value_min",
        "value_max",
    )


def rolling_range_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing numeric-key range window (SURVEY §2.6: the reference's
    INT64/DOUBLE interval keys, Analysis.cpp:775-801)."""
    ev = _t(spark, sf_dir, "events")
    out = dwindow.rolling_range(ev, "event_id", 999, [("value", ["sum", "length"])])
    return out.select(
        "event_id",
        F.round("value_sum", 4).alias("value_sum"),
        "value_length",
    )


def pandas_map_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column.map escape hatch (SURVEY §2.11): arbitrary Python fn as an
    Arrow-batched pandas UDF (the reference's element-at-a-time FFI map,
    src/Array.luna:42-47, minus the per-element overhead). IEEE sqrt/abs
    are correctly rounded, so the oracle matches bit-for-bit."""
    from dataframes_spark.functions import udf as dudf

    ev = _t(spark, sf_dir, "events")

    def root_abs(s):
        import numpy as np

        return np.sqrt(np.abs(s))

    out = dudf.map_column(ev, "value", root_abs, "double", "value_map")
    return out.select("event_id", F.round("value_map", 6).alias("value_map"))


def setop_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops: (O-custkeys UNION F-custkeys) EXCEPT P-custkeys (SURVEY
    §2.9 — absent in the reference, native in Spark)."""
    orders = _t(spark, sf_dir, "orders")

    def keys(status: str):
        return orders.filter(F.col("o_orderstatus") == status).select("o_custkey")

    return keys("O").union(keys("F")).distinct().subtract(keys("P").distinct())


# --------------------------------------------------------------------------
# beyond-reference: joins, set ops, pivot/rollup, window top-n (SURVEY §2.4/§2.9)
# --------------------------------------------------------------------------

def join_revenue_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join; dimension side broadcast."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def join_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way star join, small dims broadcast."""
    region = _t(spark, sf_dir, "region")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers with no orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def semi_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: parts shipped in quantity 50."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 50)
    return part.join(li, part.p_partkey == li.l_partkey, "left_semi").select(
        "p_partkey", "p_name"
    )


def setop_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operation: customers with both 'O' and 'F' status orders."""
    orders = _t(spark, sf_dir, "orders")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    return o.intersect(f)


def window_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-n: 3 highest-value orders per customer."""
    from pyspark.sql import Window as W

    orders = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


def pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: returnflag x linestatus quantity matrix."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 4))
    )
    return out.select("l_returnflag", F.col("O").alias("qty_O"), F.col("F").alias("qty_F"))


def rollup_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with subtotal and grand-total rows."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# beyond-reference: LLM-pipeline operators (dedup / similarity / text)
# --------------------------------------------------------------------------

def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: representative id + multiplicity per content."""
    docs = _t(spark, sf_dir, "documents")
    out = ddedup.duplicate_groups(docs, "text", "doc_id")
    return out.select("representative_id", "n_copies")


def jaccard_pairs_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact character-3-gram Jaccard similarity, pairs >= 0.8."""
    docs = _t(spark, sf_dir, "documents")
    out = ddedup.jaccard_pairs(docs, "text", "doc_id", shingle_k=3, min_jaccard=0.8)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def near_dup_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for near-dup detection: MinHash-LSH candidates + exact
    Jaccard verification of candidates only. 4-gram shingles: same true
    >=0.8 pair set as 3-grams on this corpus but ~30x fewer band
    collisions from background similarity. Oracle is the exact all-pairs
    SQL: the true pairs sit at j >= 0.88 where the 128-hash/16-band
    S-curve gives ~99.9% per-pair recall (verified empirically:
    identical result sets at sf0.01 and sf0.1), and every emitted pair
    is exactly verified, so the thresholded result set equals the exact
    computation."""
    docs = _t(spark, sf_dir, "documents")
    out = ddedup.near_dup_pairs(
        docs, "text", "doc_id", min_jaccard=0.8, shingle_k=4
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End state of corpus dedup: transitively-closed duplicate CLUSTERS
    from the LSH pair relation (operators/graph.py connected components,
    min-label + pointer jumping), each node labeled with its cluster's
    smallest doc_id. The oracle recomputes the same closure with a
    recursive CTE over the exact all-pairs jaccard relation."""
    docs = _t(spark, sf_dir, "documents")
    pairs = ddedup.near_dup_pairs(
        docs, "text", "doc_id", min_jaccard=0.8, shingle_k=4
    )
    out = dgraph.connected_components(pairs, "id_a", "id_b")
    return out.select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_rep"))


def dedup_best_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster dedup (operators/graph.py
    dedup_representatives_by): per near-dup cluster keep the LONGEST
    document (n_chars as the quality proxy; doc_id tiebreak), drop the
    rest, then aggregate survivors per source — any wrong winner flips
    a sum, so the hash pins the selection. Pair relation = the exact
    jaccard closure the near_dup_clusters oracle uses."""
    docs = _t(spark, sf_dir, "documents")
    pairs = ddedup.near_dup_pairs(
        docs, "text", "doc_id", min_jaccard=0.8, shingle_k=4
    )
    kept = dgraph.dedup_representatives_by(
        docs, pairs, "doc_id", "n_chars", keep="max"
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )


def repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document (functions/text.py):
    duplicate-word, duplicate-bigram, and top-word fractions — one
    shuffle-free scan of (doc_id, text)."""
    docs = _t(spark, sf_dir, "documents")
    return dtext.repetition_profile(docs, "text", "doc_id")


def mix_corpus_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted training mixture over one source-tagged table
    (operators/sample.py stratified_sample_md5): src0 at ~60%, src1 at
    ~30%, src2 at ~10%, via engine-reproducible md5 thresholds — a
    single filtered scan, no shuffle, same rows in any md5 engine."""
    docs = _t(spark, sf_dir, "documents")
    from dataframes_spark.operators.sample import stratified_sample_md5

    out = stratified_sample_md5(
        docs, "source", {"src0": "99", "src1": "4d", "src2": "1a"}, "doc_id"
    )
    return out.select("doc_id", "source", "lang", "n_chars")


def vocab_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-50 tokens by frequency (functions/text.py
    vocab_topk — explode -> partial+final hash agg -> top-k heap)."""
    docs = _t(spark, sf_dir, "documents")
    return dtext.vocab_topk(docs, "text", k=50)


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per source by tf-idf
    (functions/text.py tfidf_top_terms; action-free construction)."""
    docs = _t(spark, sf_dir, "documents")
    return dtext.tfidf_top_terms(docs, "text", "source", k=3)


def cms_heavy_tokens_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters (operators/sketch.py): tokens with
    estimated frequency >= 200 from a 3x64 sketch in the md5 lane. A
    deliberately NARROW width against the corpus vocabulary, so bucket
    collisions actually happen and the min-over-rows estimate does real
    work; the oracle rebuilds the identical sketch — every hash row,
    every collided cell, every min — in DuckDB, hash-verifying the whole
    estimation pipeline, not just its outputs' shape. The exact
    `groupBy.count` this replaces at corpus scale shuffles one row per
    distinct key; the sketch's exchange is bounded by depth*width cells
    per partition regardless of cardinality."""
    from dataframes_spark.operators import sketch as dsketch

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token")
    )
    out = dsketch.heavy_hitters(
        toks, "token", min_count=200, depth=3, width=64, lane_hash="md5"
    )
    return out.orderBy("token")


def hll_distinct_users_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count estimation (operators/sketch.py
    hll_build/hll_estimate), md5 lane, p=8: per-event-type distinct
    users (n=150 < 2.5m=640 — exercises the linear-counting branch)
    plus one `__all_event_ids` row over 10k distinct event ids (the raw
    harmonic-mean branch). The oracle rebuilds the identical sketch in
    DuckDB — the same 60-bit md5 hash, the same bit-smear rank, the
    same exact-BIGINT harmonic denominator — so BOTH estimate branches
    hash-verify end to end. The exact `countDistinct` this replaces at
    corpus scale shuffles one row per distinct key; the HLL exchange is
    bounded at 2^p register rows per group key regardless of
    cardinality, and the register frame merges by max (incremental,
    idempotent — see hll_store_update)."""
    from dataframes_spark.operators.sketch import hll_build, hll_estimate

    ev = _t(spark, sf_dir, "events")
    per_type = hll_estimate(
        hll_build(ev, "user_id", key_cols=("event_type",), p=8, lane_hash="md5"),
        key_cols=("event_type",),
        p=8,
    )
    all_ids = hll_estimate(
        hll_build(ev, "event_id", p=8, lane_hash="md5"), p=8
    ).select(F.lit("__all_event_ids").alias("event_type"), "est_ndv")
    return (
        per_type.unionByName(all_ids)
        .select("event_type", F.round("est_ndv", 6).alias("est_ndv"))
        .orderBy("event_type")
    )


def embedding_covariance_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance matrix of the embedding table (ml.py
    embedding_covariance): the SQL-oracle-able face of `pca_fit`. ONE
    mapInPandas scan emits constant-size moment partials (n + the
    dim + dim^2 sum/Gram array per Arrow batch — dense second moments
    under the same state-bounding idiom as the sketches); the reduce
    shuffles partial rows, never vectors, and the (i, j, cov) assembly
    is broadcast joins over dim^2-sized frames. The naive plan explodes
    N*dim^2 rows into a shuffle; this one's exchange is O(batches *
    dim^2) regardless of N. Upper triangle, population covariance,
    hash-verified against DuckDB covar_pop over exploded pairs."""
    from dataframes_spark.ml import embedding_covariance

    emb = _t(spark, sf_dir, "embeddings")
    cov = embedding_covariance(emb, "embedding", 64)
    # + 0.0 after the round: off-diagonal covariances can be ~0, and
    # WHICH zero (-0.0 vs 0.0) the round lands on is engine-specific
    # (ORACLE.md rule 7 — this was r8's actual hash-red: one -0.0 cell).
    return cov.select(
        "i", "j", (F.round("cov", 6) + F.lit(0.0)).alias("cov")
    ).orderBy("i", "j")


def pca_project_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection machinery with PINNED components (ml.py
    pca_project, the ivf_probe_pinned pattern): the eigh fit is
    inherently un-oracle-able (pca_label_summary stays rows-only below
    the window), but given fixed mean/component vectors — the embedding
    of vec_id 5 as the mean and vec_ids 1..4 as components, a
    deterministic data-derived choice both engines can make — the
    centering + per-component dot folds are exact JVM array arithmetic
    DuckDB replays term-for-term. Verifies the exact projection code
    path pca_label_summary runs, on literal inputs. + 0.0 after the
    round: projections of near-orthogonal vectors can be ~0 (ORACLE.md
    rule 7)."""
    from dataframes_spark.ml import pca_project

    emb = _t(spark, sf_dir, "embeddings")
    comp_rows = (
        emb.filter(F.col("vec_id").between(1, 4))
        .select("vec_id", "embedding")
        .collect()
    )
    comp_rows = sorted(comp_rows, key=lambda r: r.vec_id)
    mean_vec = emb.filter(F.col("vec_id") == 5).select("embedding").first()[0]
    model = {
        "mean": [float(x) for x in mean_vec],
        "components": [[float(x) for x in r.embedding] for r in comp_rows],
    }
    base = emb.filter((F.col("vec_id") > 8) & (F.col("vec_id") % 17 == 0))
    out = pca_project(base, "embedding", model)
    return out.select(
        "vec_id",
        "label",
        *[
            (F.round(f"pc{i}", 6) + F.lit(0.0)).alias(f"pc{i}")
            for i in range(1, 5)
        ],
    ).orderBy("vec_id")


def pca_label_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA fit + projection end-to-end (ml.py pca_fit / pca_project):
    fit k=4 on the embedding table (one distributed moment scan +
    driver eigh of the tiny 64x64 covariance — the same sanctioned
    closing step as OLS normal equations), then project map-only (JVM
    zip_with/aggregate dots against literal components, no Python in
    the plan) and summarize per label. The eigendecomposition is not
    SQL-expressible, so this row is rows-only by nature; its
    hash-verified twin is embedding_covariance_upper, which pins the
    exact matrix the eigh consumes (the ivf_topk_probe /
    ivf_probe_pinned pattern)."""
    from dataframes_spark.ml import pca_fit, pca_project

    emb = _t(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=4, dim=64)
    proj = pca_project(emb, "embedding", model)
    return (
        proj.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("pc1"), 4).alias("mean_pc1"),
            F.round(F.avg("pc2"), 4).alias("mean_pc2"),
            F.round(F.stddev("pc1"), 4).alias("sd_pc1"),
        )
        .orderBy("label")
    )


def drift_psi_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift report (quality.py drift_psi):
    l_extendedprice distribution of odd-orderkey lineitems vs the
    even-orderkey reference, 10 fixed bins over an explicit [900,
    105000] range (explicit bounds = reproducible across epochs).
    Each side folds to a 10-row partial aggregate in one scan — the
    exchange carries bins, never rows — and the Laplace-smoothed
    probabilities make every term finite and engine-deterministic, so
    the whole report (counts, probabilities, psi terms) hash-verifies
    against DuckDB replaying the identical arithmetic."""
    from dataframes_spark.quality import drift_psi

    li = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 == 1)
    out = drift_psi(ref, cur, "l_extendedprice", bins=10, lo=900.0, hi=105000.0)
    return out.select(
        "bin",
        "n_ref",
        "n_cur",
        F.round("p_ref", 8).alias("p_ref"),
        F.round("p_cur", 8).alias("p_cur"),
        F.round("psi_term", 10).alias("psi_term"),
    ).orderBy("bin")


def drift_multi_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column PSI drift in ONE scan per side (quality.py
    drift_psi_multi): quantity/price/discount distributions of
    odd-orderkey lineitems vs the even-orderkey reference, each row
    exploding to its three (col, bin) cells map-side so the wide gate
    costs the same two scans as a single-column one — the exchange
    carries 3x10 count rows, never data. Explicit per-column bounds
    (reproducible binning), Laplace smoothing 0.5; the whole per-
    (col, bin) report hash-verifies against DuckDB replaying the
    identical arithmetic per column."""
    from dataframes_spark.quality import drift_psi_multi

    li = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_orderkey") % 2 == 0)
    cur = li.filter(F.col("l_orderkey") % 2 == 1)
    out = drift_psi_multi(
        ref,
        cur,
        {
            "l_quantity": (1.0, 50.0),
            "l_extendedprice": (900.0, 105000.0),
            "l_discount": (0.0, 0.1),
        },
        bins=10,
    )
    return out.select(
        "col",
        "bin",
        "n_ref",
        "n_cur",
        F.round("p_ref", 8).alias("p_ref"),
        F.round("p_cur", 8).alias("p_cur"),
        F.round("psi_term", 10).alias("psi_term"),
    ).orderBy("col", "bin")


def drift_categorical_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical (value-bucket) PSI drift (quality.py
    drift_psi_categorical): event_type distribution of odd-event_id
    events vs the even-event_id reference — the drift gate for the
    columns an LLM pipeline actually watches (language, source,
    license), which numeric binning cannot express. Buckets are the
    reference's top-3 categories (deterministic derivation: count desc,
    value asc — DuckDB replays the ranking exactly) plus __other__;
    each side folds to a per-distinct-value partial aggregate in one
    scan (the exchange carries category counts, never rows) and the
    report joins ≤ 4-row broadcast frames. Laplace smoothing over the
    spine size keeps every term finite; + 0.0 normalizes a
    rounds-to-zero term (ORACLE.md rule 7). Whole report
    hash-verified."""
    from dataframes_spark.quality import drift_psi_categorical

    ev = _t(spark, sf_dir, "events")
    ref = ev.filter(F.col("event_id") % 2 == 0)
    cur = ev.filter(F.col("event_id") % 2 == 1)
    out = drift_psi_categorical(ref, cur, "event_type", top_k=3)
    return out.select(
        "category",
        "n_ref",
        "n_cur",
        (F.round("p_ref", 8) + F.lit(0.0)).alias("p_ref"),
        (F.round("p_cur", 8) + F.lit(0.0)).alias("p_cur"),
        (F.round("psi_term", 10) + F.lit(0.0)).alias("psi_term"),
    ).orderBy("category")


def hll_overlap_users_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience overlap between event types
    (operators/sketch.py hll_pairwise_overlap): ONE scan builds
    per-type HLL register frames (p=8, md5 lane), then every unordered
    type pair gets ndv_a / ndv_b / ndv_union (register-wise max) and
    the inclusion-exclusion overlap + jaccard — the cross-source
    contamination report. The exact plan per pair is an INTERSECT +
    countDistinct shuffling one row per shared value per pair; here the
    pairwise stage touches only sketch cells (pairs x 256 rows,
    independent of data size) and every estimate is exact-integer
    deterministic, so the oracle replays the whole report —
    registers, union registers, both estimate branches,
    inclusion-exclusion — cell-for-cell in DuckDB."""
    from dataframes_spark.operators.sketch import hll_build, hll_pairwise_overlap

    ev = _t(spark, sf_dir, "events")
    regs = hll_build(ev, "user_id", key_cols=("event_type",), p=8, lane_hash="md5")
    out = hll_pairwise_overlap(regs, "event_type", p=8)
    return out.select(
        "ga",
        "gb",
        F.round("ndv_a", 6).alias("ndv_a"),
        F.round("ndv_b", 6).alias("ndv_b"),
        F.round("ndv_union", 6).alias("ndv_union"),
        F.round("overlap", 6).alias("overlap"),
        F.round("jaccard", 6).alias("jaccard"),
    ).orderBy("ga", "gb")


def bm25_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (functions/text.py bm25_topk): top-12
    documents for the query "hash join vector". Document lengths are a
    map-only size(split(...)) — no corpus shuffle; the posting relation
    is filtered to the query's terms AT the explode so the only
    (doc, token) shuffle carries query-term postings, never the
    vocabulary; term document-frequencies and the corpus stats
    broadcast; the ranking is a TakeOrderedAndProject k-heap over the
    ROUNDED score with an id tiebreak (duplicate-content score ties
    stay deterministic across engines). The oracle recomputes idf, the
    saturation term, and the rounded ranking in DuckDB."""
    from dataframes_spark.functions.text import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, "text", "doc_id", "hash join vector", k=12)


def outlier_events_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier flagging (functions/stats.py
    robust_outliers): per-event-type robust z-scores at the
    Iglewicz-Hoaglin-style 2.5 cut, reported as per-type counts and
    extreme scores. Both exact percentiles (median, then MAD of the
    deviations) are unbounded window aggregates over ONE exchange on
    the group key — the robust fence that mean/std flagging lacks
    (breakdown point 50%: the outliers cannot drag the fence). The
    oracle recomputes median/MAD via quantile_cont (same (N-1)*q
    interpolation as Spark's percentile) and the same fence arithmetic."""
    from dataframes_spark.functions.stats import robust_outliers

    ev = _t(spark, sf_dir, "events")
    out = robust_outliers(ev, "value", threshold=2.5, by=["event_type"])
    return (
        out.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
            F.round(F.max("robust_z"), 6).alias("max_z"),
            F.round(F.min("robust_z"), 6).alias("min_z"),
        )
        .orderBy("event_type")
    )


def bottomk_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k sample sketch (operators/sketch.py bottomk_build):
    per-source bottom-3 documents under the fixed md5(id/salt)
    permutation — the deterministic uniform sample whose union-merge
    property backs the persisted sample store (bottomk_store_update:
    an always-current k-per-key sample of everything ever folded in,
    maintained in O(batch)). Rank-limit pushdown (WindowGroupLimit)
    cuts each partition to k candidates map-side before the exchange.
    The oracle reproduces the identical permutation and cut via md5 +
    ROW_NUMBER, hash-verifying sample membership, order, and payload."""
    from dataframes_spark.operators.sketch import bottomk_build

    docs = _t(spark, sf_dir, "documents")
    out = bottomk_build(
        docs, "doc_id", 3, key_cols=("source",),
        payload_cols=("n_chars",), salt="bk8",
    )
    return out.select(
        "source", F.col("rnk").cast("bigint").alias("rnk"),
        "bk_hash", "doc_id", "n_chars",
    ).orderBy("source", "rnk")


def weighted_merge_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample MERGE law (operators/sample.py
    weighted_sample_merge): the corpus arrives as two disjoint batches,
    each reduced to its per-source ES top-2; merging the two k-frames
    must equal the one-shot weighted sample over the whole corpus —
    the invariant that lets a persisted weighted sample store
    (weighted_store_update) stay a weight-proportional
    without-replacement sample of everything folded in, at O(batch)
    per epoch. The oracle is the ONE-SHOT SQL (same salt as
    weighted_sample_docs), so the driver hash-verifies the merge path
    against the unsplit computation."""
    from dataframes_spark.operators.sample import (
        weighted_sample_merge,
        weighted_sample_topk,
    )

    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    ka = weighted_sample_topk(a, "n_chars", "doc_id", k=2, stratum_col="source", salt="ws")
    kb = weighted_sample_topk(b, "n_chars", "doc_id", k=2, stratum_col="source", salt="ws")
    merged = weighted_sample_merge(
        ka, kb, key_col="doc_id", k=2, stratum_col="source"
    )
    # + 0.0 after the round: es_key = ln(u)/w is <= 0 and can round to
    # -0.0 vs 0.0 engine-specifically (ORACLE.md rule 7; surfaced by
    # the r9 -0.0-faithful harness at sf0.1)
    return merged.select(
        "doc_id",
        "source",
        "n_chars",
        (F.round("es_key", 6) + F.lit(0.0)).alias("es_key"),
    )


def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted sampling without replacement, top-2 per source
    (operators/sample.py weighted_sample_topk: Efraimidis-Spirakis with
    md5-derived deterministic uniforms — engine- and
    partitioning-independent selection)."""
    from dataframes_spark.operators.sample import weighted_sample_topk

    docs = _t(spark, sf_dir, "documents")
    out = weighted_sample_topk(
        docs, "n_chars", "doc_id", k=2, stratum_col="source", salt="ws"
    )
    # + 0.0: es_key <= 0 can round to -0.0 vs 0.0 (ORACLE.md rule 7)
    return out.select(
        "doc_id",
        "source",
        "n_chars",
        (F.round("es_key", 6) + F.lit(0.0)).alias("es_key"),
    )


def split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split report (operators/sample.py
    assign_split: md5 hash bands, engine- and growth-stable) — per-split
    document count and total characters."""
    from dataframes_spark.operators.sample import assign_split

    docs = _t(spark, sf_dir, "documents")
    out = assign_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def split_leak_safe_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split (operators/sample.py split_by_cluster): near-dup
    clusters (LSH pairs -> connected components) are split as units so no
    cluster straddles train/test. Per-document (doc_id, cluster_rep,
    split); the oracle replays the exact-jaccard closure with a recursive
    CTE and the md5 band arithmetic verbatim — a wrong representative or
    band flips a row, so the hash pins both the closure and the
    assignment."""
    docs = _t(spark, sf_dir, "documents")
    pairs = ddedup.near_dup_pairs(
        docs, "text", "doc_id", min_jaccard=0.8, shingle_k=4
    )
    out = dsample.split_by_cluster(
        docs, "doc_id", pairs, {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return out.select(
        "doc_id", F.col("rep").alias("cluster_rep"), "split"
    )


def upsert_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert (operators/merge.py): every doc_id % 10 == 0 row gets
    a lang correction, five brand-new rows insert under shifted keys —
    one full-outer join, whole-row replacement semantics."""
    from dataframes_spark.operators.merge import upsert

    docs = _t(spark, sf_dir, "documents")
    corrections = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "lang", F.lit("xx")
    )
    inserts = docs.filter(F.col("doc_id") < 5).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    out = upsert(docs, corrections.unionByName(inserts), "doc_id")
    return out.select("doc_id", "lang", "source", "n_chars")


def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-join (operators/fuzzy.py): distinct part names within
    edit distance 2 of each other. Length-band blocking makes it one
    hash join; the oracle is the naive quadratic form — identical
    results because the banding is lossless for edit distance."""
    from dataframes_spark.operators.fuzzy import fuzzy_join

    names = (
        _t(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name_a"))
        .distinct()
    )
    other = names.select(F.col("name_a").alias("name_b"))
    out = fuzzy_join(names, other, "name_a", "name_b", max_dist=2)
    return out.filter(F.col("name_a") < F.col("name_b")).select(
        "name_a", "name_b", F.col("dist").cast("bigint").alias("dist")
    )


def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text profile: tokens, ratios, quality, language."""
    docs = _t(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        # bigint per ORACLE.md rule 3: the canonical compare integer is
        # 64-bit (the oracle's length()/count() arithmetic is BIGINT).
        dtext.whitespace_tokens(c).cast("bigint").alias("n_tokens"),
        dtext.bpe_ish_tokens(c).cast("bigint").alias("n_bpe_tokens"),
        F.round(dtext.punct_ratio(c), 6).alias("punct_ratio"),
        F.round(dtext.stopword_ratio(c), 6).alias("stopword_ratio"),
        F.round(dtext.mean_word_length(c), 6).alias("mean_word_len"),
        F.round(dtext.quality_score(c), 6).alias("quality"),
        dtext.language_guess(c).alias("lang_guess"),
    )


def embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 against the vec_id=0 vector."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = dsim.brute_force_topk(
        emb.filter(F.col("vec_id") != 0), "embedding", "vec_id", q, k=10
    )
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean vector L2 norm per label."""
    emb = _t(spark, sf_dir, "embeddings")
    vd = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    norm = F.sqrt(F.aggregate(vd, F.lit(0.0), lambda a, v: a + v * v))
    return (
        emb.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(F.round(F.avg("nrm"), 6).alias("avg_norm"), F.count(F.lit(1)).alias("n"))
    )


def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (rows-only check: xxhash64 has
    no DuckDB equivalent). 8 rows per band puts the S-curve threshold
    near 0.8 — same recall design as near_dup_pairs' verify pipeline."""
    docs = _t(spark, sf_dir, "documents")
    return ddedup.minhash_lsh_pairs(docs, "text", "doc_id", num_hashes=64, bands=8)


def minhash_lsh_pairs_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-LSH candidate pairs in md5 verification mode
    (operators/dedup.py minhash_lsh_pairs lane_hash="md5"): lane hashes
    derive from md5(shingle) and the band bucket is the serialized band
    slice itself, so bucket grouping is exact value equality — the
    DuckDB twin reproduces the IDENTICAL candidate set and the banded
    candidate generator itself (not just its downstream exact-verified
    consumers) becomes a hash-verified row. 4 rows per band over a
    16-lane signature puts the S-curve threshold near 0.71."""
    docs = _t(spark, sf_dir, "documents")
    return ddedup.minhash_lsh_pairs(
        docs, "text", "doc_id", num_hashes=16, bands=4, lane_hash="md5"
    )


def near_dup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup candidates (operators/dedup.py
    near_dup_incremental) in md5 verification mode: the corpus's
    persisted LSH banding (docs with doc_id % 5 != 0 playing the
    history store) joined against an arriving batch (doc_id % 5 == 0).
    Returns (id_new, id_seen) — which new documents look like something
    already seen, plus earlier-in-batch collisions — without re-banding
    history. md5 lanes + exact value buckets make the candidate set
    engine-independent, so the DuckDB twin reproduces it exactly."""
    docs = _t(spark, sf_dir, "documents")
    store = ddedup.lsh_bucket_store(
        docs.filter(F.col("doc_id") % 5 != 0),
        "text",
        "doc_id",
        num_hashes=16,
        bands=4,
        lane_hash="md5",
    )
    cands, _ = ddedup.near_dup_incremental(
        docs.filter(F.col("doc_id") % 5 == 0),
        store,
        "text",
        "doc_id",
        num_hashes=16,
        bands=4,
        lane_hash="md5",
    )
    return cands


def shard_report_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8-way training-shard assignment
    (operators/sample.py assign_shards: top-60-bits-of-md5 mod n, a
    map-only expression) with per-shard counts/char volume/id range —
    the balance report a shard writer checks before materializing. md5
    arithmetic is engine-universal, so the assignment hash-verifies."""
    from dataframes_spark.operators.sample import assign_shards

    docs = _t(spark, sf_dir, "documents")
    return (
        assign_shards(docs, "doc_id", 8)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


def ivf_probe_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe with PINNED centroids (operators/similarity.py
    ivf_assign + ivf_topk): the KMeans fit is inherently un-oracle-able
    (ivf_topk_probe stays rows-only), but given fixed centroids —
    here the unit directions of vec_ids 1..8, a deterministic
    data-derived choice both engines can make — assignment, driver-side
    nprobe centroid ranking, and the in-cluster cosine top-k are exact
    relational algebra, so the whole probe machinery hash-verifies."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cent_rows = (
        emb.filter(F.col("vec_id").between(1, 8))
        .select("vec_id", "embedding")
        .collect()
    )
    cent_rows = sorted(cent_rows, key=lambda r: r.vec_id)
    centers = [[float(x) for x in r.embedding] for r in cent_rows]
    base = emb.filter(F.col("vec_id") > 8)
    assigned = dsim.ivf_assign(base, "embedding", centers)
    out = dsim.ivf_topk(assigned, centers, "embedding", "vec_id", q, k=10, nprobe=2)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def pq_probe_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with PINNED codebooks
    (operators/similarity.py pq_encode + pq_topk — the billion-scale
    IVF+PQ recipe's compression half): the k-means fit is inherently
    un-oracle-able, but given fixed codebooks — subspace j's centroids
    = the unit-normalized slice-j subvectors of vec_ids 1..8, a
    deterministic data-derived choice both engines can make — encoding
    (per-subspace argmin, lowest-index ties) and ADC scoring (m
    literal-lookup-table reads added in subspace order) are exact
    relational algebra, so the whole code path hash-verifies. m=4
    subspaces of 16 dims, k=8 codes; query = vec_id 0; top-10 by
    ascending ADC distance (on unit vectors squared L2 ranks exactly
    like cosine)."""
    from dataframes_spark.operators.similarity import pq_encode, pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    src = (
        emb.filter(F.col("vec_id").between(1, 8))
        .select("vec_id", "embedding")
        .collect()
    )
    src = sorted(src, key=lambda r: r.vec_id)
    import math as _math

    def unit(v):
        v = [float(x) for x in v]
        n = _math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    units = [unit(r.embedding) for r in src]
    m, d_sub = 4, 16
    codebooks = [
        [u[j * d_sub : (j + 1) * d_sub] for u in units] for j in range(m)
    ]
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    corpus = emb.filter(F.col("vec_id") > 8)
    enc = pq_encode(corpus, "embedding", codebooks)
    out = pq_topk(enc, "vec_id", codebooks, q, k=10)
    return out.select("vec_id", F.round("adc_dist", 6).alias("adc_dist"))


def ivf_probe_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against a CLUSTER-PARTITIONED on-disk index
    (operators/similarity.py ivf_write_partitioned + ivf_topk_partitioned):
    the same pinned-centroid recipe as ivf_probe_pinned, but the assigned
    corpus is materialized as hive-partitioned parquet on ``cluster`` and
    the probe reads it BACK from disk — the nprobe filter lands on the
    partition column, so only the probed cluster DIRECTORIES are listed
    and read (PartitionFilters on the scan, pinned in tests/test_plans.py).
    The oracle (identical to ivf_probe_pinned's) proves the partitioned
    layout is lossless and the pruned read ranks the same top-k — the
    missing physical link between the ANN family and partitioned storage."""
    import os

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    cent_rows = (
        emb.filter(F.col("vec_id").between(1, 8))
        .select("vec_id", "embedding")
        .collect()
    )
    cent_rows = sorted(cent_rows, key=lambda r: r.vec_id)
    centers = [[float(x) for x in r.embedding] for r in cent_rows]
    assigned = dsim.ivf_assign(emb.filter(F.col("vec_id") > 8), "embedding", centers)
    path = os.path.join(_scratch_dir("spark_graft_ivf_"), "ivf_store")
    dsim.ivf_write_partitioned(assigned, path)
    out = dsim.ivf_topk_partitioned(
        spark, path, centers, "embedding", "vec_id", q, k=10, nprobe=2
    )
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality dial (operators/similarity.py recall_report): recall@10
    of the hyperplane-LSH bucket path and the pinned-centroid IVF nprobe
    path against exact brute force, over 13 PINNED query ids
    (vec_id 3, 44, ..., 495). With pinned queries, pinned centers (the
    vectors of vec_ids 1..8, as in ivf_probe_pinned) and md5 plane
    hashing, every stage — exact ranking, bucket collision, centroid
    argmax, nprobe ranking, the recall ratio itself — is exact relational
    algebra, so the whole report hash-verifies against DuckDB. This is
    the dial a deployment reads before trusting num_planes/nprobe."""
    emb = _t(spark, sf_dir, "embeddings")
    # 8-row collect; ordered DRIVER-side — a distributed orderBy on 8
    # rows costs a range-partitioner sampling job per query construction
    cent_rows = sorted(
        emb.filter(F.col("vec_id").between(1, 8))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    centers = [[float(x) for x in r.embedding] for r in cent_rows]
    rep = dsim.recall_report(
        emb,
        "embedding",
        "vec_id",
        k=10,
        num_planes=4,
        centers=centers,
        nprobe=4,
        plane_hash="md5",
        query_ids=list(range(3, 500, 41)),
    )
    return rep.select(
        "method",
        F.round("recall_at_k", 6).alias("recall_at_k"),
        "n_queries",
        "k",
    )


def funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel (operators/funnel.py funnel): users reaching
    view -> click -> purchase in STRICT timestamp order, restricted to
    high-value events (value > 100) so the synthetic log's uniformity
    doesn't trivially complete every user — at sf0.01 the three steps
    retain 123/72/34 users. One shuffle of matching events keyed on
    user; the ordered scan is a JVM sort_array+aggregate fold inside
    the buffer (greedy earliest-match, provably exact for unwindowed
    funnels); the report is a k-row aggregate. The oracle is the
    textbook k-pass nested-min SQL — different algorithm, same answer."""
    from dataframes_spark.operators import funnel as dfunnel

    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 100)
    return dfunnel.funnel(ev, ["view", "click", "purchase"])


def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix (operators/funnel.py cohort_retention):
    day-grain cohorts (first active day, value > 150 activity) x offset
    in days -> active-user counts. ONE shuffle of (user, day) pairs —
    per-user activity is a bounded collect_set of period starts, the
    cohort is its array_min, offsets explode from the set; the event log
    never shuffles twice (no distinct+join re-partitioning). The oracle
    is the standard first-seen + distinct-activity join."""
    from dataframes_spark.operators import funnel as dfunnel

    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 150)
    out = dfunnel.cohort_retention(ev, period="day")
    return out.select(
        "cohort", F.col("offset").alias("offset_days"), "users"
    )


def funnel_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel (operators/funnel.py funnel_windowed): users
    completing view -> click -> purchase within 96 HOURS of the chain
    start (high-value events, value > 100) — the "converted within T"
    form. At sf0.01 the window bites hard: 123/34/4 vs the unwindowed
    row's 123/72/34. The fold keeps one max-chain-start per stage
    (scan order makes max-start a complete dominance order, so the
    greedy fold is exact); the oracle is the exists-quantified triple
    self-join — quadratic verification lane for a linear-state fold."""
    from dataframes_spark.operators import funnel as dfunnel

    ev = _t(spark, sf_dir, "events").filter(F.col("value") > 100)
    return dfunnel.funnel_windowed(
        ev, ["view", "click", "purchase"], window_seconds=96 * 3600
    )


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit fingerprints (rows-only check)."""
    docs = _t(spark, sf_dir, "documents")
    return ddedup.simhash(docs, "text", "doc_id")


def ivf_topk_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN scale path: spherical-kmeans clusters + nprobe-bounded
    search (rows-only: KMeans centroids are not SQL-expressible)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    rest = emb.filter(F.col("vec_id") != 0)
    assigned, centers = dsim.ivf_build(rest, "embedding", "vec_id", n_clusters=16)
    out = dsim.ivf_topk(assigned, centers, "embedding", "vec_id", q, k=10, nprobe=4)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def frame_sample_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (SURVEY north-star multimodal):
    target frame timestamps computed from metadata only — no payload
    bytes are read (parquet column pruning)."""
    from dataframes_spark.operators import multimodal as dmm

    media = dmm.make_fake_media(spark, 64)
    out = dmm.frame_sample_plan(media, every_ms=1000)
    # bigint per ORACLE.md rule 3 (the oracle's generate_series is BIGINT)
    return out.withColumn("frame_ts_ms", F.col("frame_ts_ms").cast("bigint"))


def lsh_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed approximate top-3 neighbors (rows-only)."""
    emb = _t(spark, sf_dir, "embeddings")
    return dsim.lsh_bucket_topk(emb, "embedding", "vec_id", k=3, num_planes=6)


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization (streaming/events.py twin): lag +
    running-sum session ids inside one per-user sort, then hash agg."""
    from dataframes_spark.streaming.events import sessionize_batch

    ev = _t(spark, sf_dir, "events")
    out = sessionize_batch(ev, "ts", "user_id", gap_s=1800)
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
        F.round("total_value", 4).alias("total_value"),
    )


def json_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured parsing: JSON path extraction from the events
    props column, then aggregate — JVM-side get_json_object, no UDF."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 6).alias("avg_k"),
        F.count(k).alias("n_k"),
    )


def winnow_fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed rolling-hash fingerprints (functions/text.py): MOSS-style
    passage fingerprints, engine-reproducible polynomial hash — the
    oracle runs the identical arithmetic in SQL."""
    from dataframes_spark.functions.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "text", "doc_id", k=5, window=4)


def shared_passages_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copied-passage pairs via winnowed fingerprints: self-join on the
    fingerprint value with a stop-fingerprint cap (df <= 100), so pairs
    materialize per shared fingerprint, never as a doc cross product.
    min_shared=20 sits between the corpus's background co-occurrence
    (~5-gram phrase collisions) and true copied passages."""
    from dataframes_spark.functions.text import shared_passages

    docs = _t(spark, sf_dir, "documents")
    return shared_passages(docs, "text", "doc_id", min_shared=20, max_df=0.2)


def time_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (operators/window.py):
    hourly and daily event aggregates per type in one unioned plan — each
    resolution a plain partial-aggregated hash agg over the source."""
    from dataframes_spark.operators.window import time_rollup

    ev = _t(spark, sf_dir, "events")
    out = time_rollup(
        ev,
        "ts",
        resolutions=["1 hour", "1 day"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ],
        group_by=["event_type"],
    )
    return out.select(
        "resolution",
        F.unix_micros("bucket_start").alias("bucket_us"),
        "event_type",
        "n",
        "sum_value",
    )


def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA over event values (streaming/events.py batch twin of
    the applyInPandasWithState operator; stream==batch pinned in
    tests/test_streaming.py). Oracle is a recursive CTE running the same
    fold."""
    from dataframes_spark.streaming.events import ewma_batch

    ev = _t(spark, sf_dir, "events")
    out = ewma_batch(ev, "ts", "user_id", "value", alpha=0.2)
    return out.select("event_id", "user_id", F.round("ewma", 6).alias("ewma"))


def interval_overlap_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided interval-overlap join (operators/interval.py
    interval_overlap_join — the multimodal-alignment shape): per user,
    purchase attention windows [ts, ts+1h) against click windows
    [ts, ts+30m), counted per purchase. Bucketized equi-join with
    arithmetic pair dedup; the oracle is the direct inequality join."""
    ev = _t(spark, sf_dir, "events")
    from dataframes_spark.operators.interval import interval_overlap_join

    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event"),
        "user_id",
        F.col("ts").alias("p_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("p_end"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event"),
        "user_id",
        F.col("ts").alias("c_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("c_end"),
    )
    joined = interval_overlap_join(
        p, c, "p_start", "p_end", "c_start", "c_end",
        bucket_width=3600e6, extra_on=["user_id"],
    )
    return joined.groupBy("p_event").agg(
        F.count(F.lit(1)).alias("n_overlaps")
    )


def range_join_purchase_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized range join (operators/interval.py): clicks landing in
    the day after each purchase by the same user — equi-join on
    (day-bucket, user) + residual bound filter, never a nested-loop
    cartesian."""
    from dataframes_spark.operators.interval import range_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("w_end"),
    )
    joined = range_join(
        clicks, purchases, "ts", "w_start", "w_end",
        bucket_width=86400e6, extra_on=["user_id"],
    )
    return joined.groupBy("p_event").agg(F.count(F.lit(1)).alias("n_clicks"))


def attribution_stream_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING event-time interval join (streaming/events.py
    attribution_join_stream) run to completion with availableNow and
    materialized through the memory sink — the stream side of the
    range-join family (batch twin: range_join_purchase_clicks). Both
    sides stream the events table; each click pairs with same-user
    purchases within 30 minutes AFTER it. The single-file source yields
    one micro-batch per side, so the initial watermark evicts nothing
    and the append-mode inner join emits every pair exactly once — the
    batch SQL oracle is exact. At scale the time-bound condition is what
    keeps join state O(recent traffic) instead of O(stream history)."""
    import uuid

    from dataframes_spark.streaming.events import (
        attribution_join_stream,
        stream_from_directory,
    )

    schema = _t(spark, sf_dir, "events").schema
    # the file-stream source requires a DIRECTORY; the testdata tables
    # are single files, so expose the file through a scratch dir symlink
    path = _scratch_dir("attr_stream_src_")
    os.symlink(f"{sf_dir}/events.parquet", f"{path}/events.parquet")
    clicks = (
        stream_from_directory(spark, path, schema)
        .filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", "ts")
    )
    purchases = (
        stream_from_directory(spark, path, schema)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"), "user_id", "ts")
    )
    joined = attribution_join_stream(
        clicks, purchases, "user_id", "ts", "ts", within="30 minutes"
    )
    name = f"attr_stream_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name).groupBy(F.col("l_click_id").alias("click_id")).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.min("r_purchase_id").alias("first_purchase"),
    )


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (dedup.py family): exact all-pairs
    form on the synthetic corpus (the LSH-bucketed variant is the scale
    path, pinned by unit test). Threshold set below the synthetic data's
    max pairwise cosine so the check has rows to verify."""
    emb = _t(spark, sf_dir, "embeddings")
    out = ddedup.embedding_near_dups(emb, "embedding", "vec_id", threshold=0.4)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def embedding_dedup_incremental_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC near-dup (operators/dedup.py
    embedding_dedup_incremental): vectors with vec_id % 5 != 0 play the
    persisted hyperplane-bucketed store, vec_id % 5 == 0 the arriving
    batch; md5 plane mode makes the bucketing engine-independent, so the
    oracle replays planes, buckets, candidate join and the
    dot-over-norms cosine verbatim."""
    emb = _t(spark, sf_dir, "embeddings")
    store = ddedup.embedding_store(
        emb.filter(F.col("vec_id") % 5 != 0),
        "embedding",
        "vec_id",
        num_planes=6,
        seed=42,
        plane_hash="md5",
    )
    dups, _ = ddedup.embedding_dedup_incremental(
        emb.filter(F.col("vec_id") % 5 == 0),
        store,
        "embedding",
        "vec_id",
        threshold=0.25,
        num_planes=6,
        seed=42,
        plane_hash="md5",
    )
    return dups.select(
        "id_new", "id_seen", F.round("cosine", 6).alias("cosine")
    )


def embedding_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end state: transitively-closed clusters over the
    embedding-cosine near-dup pair relation (dedup.embedding_near_dups ->
    graph.connected_components) — the embedding twin of
    near_dup_clusters' text-LSH closure, labeling each vector with its
    cluster's smallest vec_id. Oracle: exact all-pairs cosine relation +
    recursive-CTE closure."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = ddedup.embedding_near_dups(emb, "embedding", "vec_id", threshold=0.4)
    out = dgraph.connected_components(pairs, "id_a", "id_b")
    return out.select(
        F.col("id").alias("vec_id"), F.col("component").alias("cluster_rep")
    )


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): each click event picks up
    the latest purchase value at-or-before it for the same user — the
    union+window formulation, one shuffle, no range-join blowup."""
    from dataframes_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("p_event"),
        F.col("value").alias("p_value"),
    )
    out = asof_join(
        clicks,
        purchases,
        ts_col="ts",
        by="user_id",
        value_cols=["p_value"],
        right_order=["p_event"],
    )
    return out.select(
        "event_id", "user_id", F.round("p_value", 4).alias("p_value")
    )


def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count aggregation (exact; approx_count_distinct is the
    documented scale alternative when 2% error is acceptable)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def reproducible_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash sampling (operators/sample.py): md5-prefix threshold
    selects identical rows in any engine — reproducibility across runs,
    partitionings, and engines, unlike seed-based df.sample."""
    from dataframes_spark.operators.sample import md5_sample

    ev = _t(spark, sf_dir, "events")
    out = md5_sample(ev, "event_id", "1a")  # ~10.2%
    return out.select("event_id", "user_id", "event_type", "value")


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operators composed as a real training-data pipeline: exact
    dedup (hash-groupBy) -> quality gate -> per-language corpus stats.
    One pass over the corpus, two shuffles (dedup semi-join, final agg)."""
    docs = _t(spark, sf_dir, "documents")
    deduped = ddedup.exact_dedup(docs, "text", "doc_id")
    c = F.col("text")
    prof = deduped.select(
        "doc_id",
        dtext.language_guess(c).alias("lang"),
        dtext.quality_score(c).alias("q"),
        dtext.whitespace_tokens(c).alias("ntok"),
    )
    return (
        prof.filter(F.col("q") >= 0.5)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("ntok"), 6).alias("avg_tokens"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
        )
    )


def pack_documents_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing by budget-crossing cumulative size (one
    window pass; operators/pack.py) + the utilization report every
    packing job should emit."""
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select("doc_id", F.length("text").alias("n_chars"))
    packed = dpack.pack_by_cumsum(sized, "n_chars", 4096, "doc_id")
    return dpack.pack_stats(packed, "n_chars", 4096).select(
        "pack_id",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_size").cast("bigint").alias("total_size"),
        "fill",
    )


def pack_materialize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack assignment -> MATERIALIZED training rows
    (operators/pack.py materialize_packs): per-source cumsum packing,
    then one budget-bounded groupBy that concatenates each pack's
    documents in order. md5 of the packed text pins every byte of
    every window while keeping the hash compare small."""
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "source", "doc_id", "text", F.length("text").alias("sz")
    )
    packed = dpack.pack_by_cumsum(
        sized, "sz", 4096, "doc_id", partition_by="source"
    )
    out = dpack.materialize_packs(
        packed, "text", "doc_id", "doc_id", partition_by="source"
    )
    return out.select(
        "source",
        "pack_id",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_chars").cast("bigint").alias("n_chars_packed"),
        F.md5(F.col("text").cast("binary")).alias("pack_md5"),
    )


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking (500 chars, 50 overlap) — pure
    expression explode, no shuffle. md5 stands in for the chunk body so
    the hash compare stays small while still pinning every byte."""
    docs = _t(spark, sf_dir, "documents")
    ch = dpack.chunk_text(docs, "text", "doc_id", chunk_chars=500, overlap=50)
    return ch.select(
        F.col("id").alias("doc_id"),
        F.col("chunk_index").cast("bigint").alias("chunk_index"),
        F.length("chunk").cast("bigint").alias("chunk_chars"),
        F.md5(F.col("chunk").cast("binary")).alias("chunk_md5"),
    )


def pack_documents_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact first-fit sequential packing (operators/pack.py
    pack_greedy) over the corpus ordered by doc_id. The rule is
    inherently sequential, but — like ewma_user_value — it is still
    SQL-expressible as a recursive CTE, so the driver hash-checks the
    exact stateful kernel, not just its row count."""
    docs = _t(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars")
    )
    packed = dpack.pack_greedy(sized, "n_chars", 4096, "doc_id")
    return packed.select("doc_id", "n_chars", "pack_id")


def minhash_signatures_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures in the md5 lane-hash mode (operators/dedup.py
    minhash_signatures): lane hashes derive from md5(shingle), which any
    engine can reproduce — the DuckDB oracle runs the identical
    normalize -> shingle -> hash -> affine-lane -> min pipeline, turning
    the minhash family from rows-only into a hash-verified row. One row
    per (doc, lane) so no array column crosses the compare."""
    docs = _t(spark, sf_dir, "documents")
    sigs = ddedup.minhash_signatures(
        docs, "text", "doc_id", num_hashes=16, shingle_k=5, lane_hash="md5"
    )
    return sigs.select(
        "doc_id", F.posexplode("signature").alias("lane", "minhash")
    ).select(
        "doc_id", F.col("lane").cast("bigint").alias("lane"), "minhash"
    )


def decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination (operators/decontaminate.py): every 50th
    document stands in for the benchmark suite; the report flags each
    corpus document sharing >= 1 normalized word 8-gram with it and
    counts the distinct overlaps. Eval n-gram hashes broadcast; the
    corpus side never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    evals = docs.filter(F.col("doc_id") % 50 == 0)
    rep = ddecon.contamination_report(docs, evals, "text", "doc_id", n=8)
    return rep.select(
        F.col("id").alias("doc_id"), F.col("n_hits").cast("bigint").alias("n_hits")
    )


def lsh_buckets_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket assignment in md5 plane-hash mode
    (operators/similarity.py hyperplane_buckets): plane components derive
    from md5("seed:plane:dim"), so the DuckDB oracle reruns the identical
    projection and the bucketing of the ANN family gets a value-level
    driver check (xxhash64 planes stay the perf default). Precondition:
    embeddings are non-null and non-empty (true of the table by
    construction) — a degenerate vector has no unnest rows for the
    oracle to project, while Spark would still assign it a bucket."""
    emb = _t(spark, sf_dir, "embeddings")
    b = dsim.hyperplane_buckets(
        emb, "embedding", "vec_id", num_planes=8, plane_hash="md5"
    )
    return b.select("vec_id", F.col("bucket").cast("bigint").alias("bucket"))


def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (operators/skew.py
    aggregate_by_skew_safe) over the 5-key events table — exactly the
    hot/low-cardinality shape the operator exists for. The oracle is a
    plain GROUP BY: salting must be an execution detail, invisible in
    the results, so the driver hash-checks that the shard-and-merge
    moment arithmetic reproduces the direct aggregates."""
    ev = _t(spark, sf_dir, "events")
    out = dskew.aggregate_by_skew_safe(
        ev,
        "event_type",
        [("value", ["sum", "mean", "length", "min", "max", "std"])],
        salt_buckets=16,
        id_col="event_id",
    )
    return out.select(
        "event_type",
        F.round("value_sum", 2).alias("value_sum"),
        F.round("value_mean", 6).alias("value_mean"),
        "value_length",
        F.round("value_min", 6).alias("value_min"),
        F.round("value_max", 6).alias("value_max"),
        F.round("value_std", 6).alias("value_std"),
    )


def simhash_fingerprints_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash in md5 lane-hash mode (operators/dedup.py simhash):
    the DuckDB oracle reruns the identical per-bit vote and sign-pack
    arithmetic, closing the last hash-convertible rows-only family
    (xxhash64/64-bit stays the perf default)."""
    docs = _t(spark, sf_dir, "documents")
    fp = ddedup.simhash(
        docs, "text", "doc_id", shingle_k=4, num_bits=32, lane_hash="md5"
    )
    return fp.select("doc_id", "simhash")


def read_text_csv_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readText CSV-from-string (io/readers.py read_csv_text, reference
    src/IO.luna:91-92): RFC-4180 edges — quoted comma, doubled quote,
    embedded newline, empty cell -> null — parsed through Spark's own
    CSV parser + type inference, checked against a VALUES oracle."""
    from dataframes_spark.io.readers import read_csv_text

    text = (
        'k,v,s\n'
        'a,1,"x,y"\n'
        'b,2,"he said ""hi"""\n'
        'c,,"line1\nline2"\n'
    )
    df = read_csv_text(spark, text)
    return df.select("k", "v", "s")


def feather_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feather (Arrow IPC) write -> read roundtrip (io/writers.py /
    io/readers.py; reference Feather.cpp) on the nation table, then
    aggregate — the reference's native interchange format, driver-side
    by design (small-data convenience; parquet is the distributed
    path)."""
    import os

    from dataframes_spark.io import readers as dio_r
    from dataframes_spark.io import writers as dio_w

    nation = _t(spark, sf_dir, "nation")
    # per-process temp dir, removed at interpreter exit — see _scratch_dir
    path = os.path.join(_scratch_dir("spark_graft_feather_"), "nation.feather")
    dio_w.write_auto(nation, path)
    back = dio_r.read_auto(spark, path)
    return back.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_name"),
    )


def xlsx_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table.write -> Table.read XLSX roundtrip (SURVEY §2.1) through the
    self-contained stdlib SpreadsheetML implementation (io/xlsx.py — no
    openpyxl, closing the reference's xlnt optionality gap,
    src/IO.luna:94-123), then aggregate — proves the XLSX path is
    lossless for long/double/string columns."""
    import os

    from dataframes_spark.io import readers as dio_r
    from dataframes_spark.io import writers as dio_w

    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    path = os.path.join(_scratch_dir("spark_graft_xlsx_"), "supplier.xlsx")
    dio_w.write_auto(supp, path)
    back = dio_r.read_auto(spark, path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        # acctbal has exactly 2 decimals: exact fixed-point sum (same
        # rationale as csv_roundtrip_agg)
        (F.sum(F.round(F.col("s_acctbal") * 100).cast("long")) / 100.0).alias(
            "sum_bal"
        ),
        F.min("s_name").alias("first_name"),
    )


def quality_quartiles_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile bucketing (functions/stats.py qcut): documents split into
    length quartiles — the curriculum/quality-band primitive. Boundaries
    from ONE array-percentile aggregate broadcast as data; assignment is
    a map-only fold (never an ntile global sort). Per-band count and
    range are hash-checked."""
    docs = _t(spark, sf_dir, "documents")
    # exact=True pinned: hash-compared against an exact DuckDB oracle
    b = dstats.qcut(docs, "n_chars", 4, exact=True)
    return b.groupBy("n_chars_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


def cap_docs_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (operators/sample.py cap_per_group): at
    most 50 docs per source, chosen by md5 content-hash order — the
    per-domain cap every web-corpus pipeline applies (C4/RefinedWeb
    style). Deterministic across engines, so the post-cap per-source
    totals hash-verify."""
    from dataframes_spark.operators.sample import cap_per_group

    docs = _t(spark, sf_dir, "documents")
    capped = cap_per_group(docs, "source", 50, "doc_id", salt="cap")
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators/dedup.py
    exact_dedup_incremental): even-id documents stand in for the
    historical fingerprint store; the full table arrives as the new
    batch. Fresh = batch-deduped (min-id representative) contents absent
    from history — O(batch) per increment instead of O(corpus)."""
    docs = _t(spark, sf_dir, "documents")
    seen = ddedup.content_fingerprints(
        docs.filter(F.col("doc_id") % 2 == 0), "text"
    )
    fresh, _updated = ddedup.exact_dedup_incremental(docs, seen, "text", "doc_id")
    return fresh.agg(
        F.count(F.lit(1)).alias("n_fresh"),
        F.sum(F.length("text")).alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


def quality_report_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style data-quality suite (dataframes_spark/quality.py): five
    declarative checks over lineitem evaluated in ONE aggregation pass;
    the report frame (check, column, passed, observed, expected) is the
    pipeline gate artifact. The DuckDB twin recomputes every verdict
    from the same aggregates."""
    from dataframes_spark import quality as Q

    li = _t(spark, sf_dir, "lineitem")
    return Q.check_report(
        li,
        [
            Q.row_count(1),
            Q.not_null("l_quantity"),
            Q.unique("l_orderkey"),
            Q.in_range("l_discount", 0.0, 0.5),
            Q.values_in("l_returnflag", ["A", "N", "R"]),
        ],
    )


def jsonl_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL roundtrip through write_auto/read_auto (Spark-native
    distributed json source — THE interchange format for LLM corpora),
    then aggregate. Numbers survive as longs/doubles, strings with
    quotes/escapes survive verbatim."""
    import os

    from dataframes_spark.io import readers as dio_r
    from dataframes_spark.io import writers as dio_w

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    path = os.path.join(_scratch_dir("spark_graft_jsonl_"), "docs.jsonl")
    dio_w.write_auto(docs, path)
    back = dio_r.read_auto(spark, path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("first_doc"),
    )


def facade_column_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-facade column surgery end to end (core/table.py): columns ->
    addColumn at position -> rename -> remove -> filterColumns ->
    aggregateBy with the reference's `<col>_<fn>` naming — the facade
    conveniences that previously had only unit coverage, driven through
    a hash-checked aggregation."""
    t = Table(_t(spark, sf_dir, "lineitem"))
    t = (
        t.columns(
            ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_returnflag"]
        )
        .addColumn(
            2,
            "disc_price",
            F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
        )
        .rename("l_returnflag", "flag")
        .remove("l_discount")
        .filterColumns(lambda name, dtype: name in ("flag", "disc_price"))
        .aggregateBy("flag", [("disc_price", ["sum", "mean"])])
    )
    return t.df.select(
        "flag",
        F.round("disc_price_sum", 2).alias("disc_price_sum"),
        F.round("disc_price_mean", 6).alias("disc_price_mean"),
    )


def facade_from_columns_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fromColumns null-padding + createIndex + horizontal concat
    (core/table.py / operators/reshape.py): driver-checked against a
    VALUES literal oracle."""
    t = Table.fromColumns(spark, {"k": ["a", "b", "c"], "v": [1, 2]})
    idx = Table.createIndex(spark, "idx", 3)
    return idx.concat(t, ["idx"], ["k"]).df


def melt_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (operators/reshape.py melt): three lineitem
    measures melted in ONE Expand scan (the oracle unions three scans —
    same rows, 3x the reads), then summarized per variable."""
    li = _t(spark, sf_dir, "lineitem")
    m = dreshape.melt(
        li,
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount"],
    )
    return m.groupBy("variable").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (operators/asof.py asof_nearest):
    each click picks the purchase minimizing |Δts| for its user —
    backward + forward union-window passes re-joined on the left id,
    equidistant ties resolve backward, same-timestamp ties to the
    greatest event id."""
    from dataframes_spark.operators.asof import asof_nearest

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("p_event"),
        F.col("value").alias("p_value"),
    )
    out = asof_nearest(
        clicks,
        purchases,
        ts_col="ts",
        by="user_id",
        left_id="event_id",
        value_cols=["p_value"],
        right_order=["p_event"],
    )
    return out.select(
        "event_id", "user_id", F.round("p_value", 4).alias("p_value")
    )


def skew_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-key diagnosis (operators/skew.py skew_report): top order
    customers by row count with share and skew ratio — the decision
    input for salting/replication."""
    orders = _t(spark, sf_dir, "orders")
    return dskew.skew_report(orders, "o_custkey", top_n=10)


def standardize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score scaling (functions/stats.py standardize):
    l_extendedprice standardized within each l_returnflag group, then
    summarized per group (mean ~ 0, population std ~ 1)."""
    li = _t(spark, sf_dir, "lineitem")
    z = dstats.standardize(
        li.select("l_returnflag", "l_orderkey", "l_extendedprice"),
        ["l_extendedprice"],
        method="zscore",
        by=["l_returnflag"],
    )
    # `+ 0.0` after the round: the per-group mean of a z-scored column is
    # ~0 by construction, and IEEE `round` can land on -0.0 in one engine
    # and 0.0 in the other; adding +0.0 canonicalizes (-0.0 + 0.0 == 0.0,
    # identity for every other value). Mirrored in the DuckDB oracle.
    return z.groupBy("l_returnflag").agg(
        (F.round(F.avg("l_extendedprice"), 6) + F.lit(0.0)).alias("z_mean"),
        F.round(F.stddev_pop("l_extendedprice"), 6).alias("z_std"),
        (F.round(F.max("l_extendedprice"), 6) + F.lit(0.0)).alias("z_max"),
        F.count(F.lit(1)).alias("n"),
    )


def resample_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-spine hourly resample (operators/window.py resample): one
    row per (event_type, hour) from each type's first hour to its last,
    gap hours zero-filled — what the sparse time_rollup cannot express.
    Spine derives from the already-aggregated buckets, never a driver
    range probe."""
    ev = _t(spark, sf_dir, "events")
    out = dwindow.resample(
        ev,
        "ts",
        "1 hour",
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ],
        group_by=["event_type"],
        fill="zero",
    )
    return out.select(
        "event_type",
        F.unix_micros("bucket").alias("bucket_us"),
        "n",
        "sum_value",
    )


def winsorize_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile winsorization (functions/stats.py winsorize): clip
    l_extendedprice to its [5%, 95%] quantiles — bounds folded in as a
    1-row broadcast aggregate — then summarize the clipped column."""
    li = _t(spark, sf_dir, "lineitem")
    w = dstats.winsorize(li, "l_extendedprice", 0.05, 0.95)
    return w.agg(
        F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.count(F.lit(1)).alias("n"),
    )


def length_histogram_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed equal-width histogram (functions/stats.py histogram):
    document-length distribution in 20 bins — range folded in as a
    1-row broadcast aggregate, two aggregation passes total."""
    docs = _t(spark, sf_dir, "documents")
    return dstats.histogram(docs, "n_chars", bins=20)


def bloom_semi_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join (operators/bloom.py bloom_semi_join):
    orders of BUILDING-segment customers, pruned scan-side by a Bloom
    bitmap shipped as a broadcast 1-row relation (data, not a plan
    literal — see bloom.py on why the literal form is 20x slower)
    before the exact semi join — the shape for key sets too large to
    broadcast as a hash relation. Exact mode: result is identical to
    the plain semi join."""
    from dataframes_spark.operators import bloom as dbloom

    orders = _t(spark, sf_dir, "orders")
    cust = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    out = dbloom.bloom_semi_join(orders, cust, "o_custkey", "c_custkey")
    return out.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def cube_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all grouping-set combinations with subtotal/total rows —
    completes the rollup/pivot grouping-set family (rollup_qty)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


def _segmented_docs(spark: SparkSession, sf_dir: str, words_per_line: int = 8) -> DataFrame:
    """Documents re-segmented into ``words_per_line``-word newline-joined
    lines — the synthetic corpus has no newlines, so both the Spark query
    and its oracle derive identical line structure from word positions
    before exercising line-level dedup."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    n = words_per_line
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(
                F.sequence(
                    F.lit(1), F.ceil(F.size(words) / F.lit(n)).cast("int")
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(words, (i - F.lit(1)) * n + F.lit(1), F.lit(n))
                ),
            ),
        ).alias("text"),
    )


def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM quality score (functions/text.py
    unigram_logprob): per-document mean token log-probability under the
    corpus's own unigram distribution — the distributed shape of
    CCNet-style perplexity filtering."""
    docs = _t(spark, sf_dir, "documents")
    return dtext.unigram_logprob(docs, "text", "doc_id")


def bigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-bigram LM quality score (functions/text.py bigram_logprob):
    per-document mean log-probability under the corpus's own
    Laplace-smoothed bigram model — the context-aware upgrade of the
    unigram lane (CCNet-style KenLM filtering at any order has this
    distributed shape); the oracle replays counts, smoothing and chain
    rule term for term."""
    docs = _t(spark, sf_dir, "documents")
    return dtext.bigram_logprob(docs, "text", "doc_id")


def dsir_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/dsir.py, Xie et al. 2023):
    per-document log importance weight of every document under a hashed
    n-gram bucket model fit with target = the English sub-corpus and
    raw = the whole corpus. The oracle replays tokenization, md5
    bucketing, Laplace smoothing and the weight fold term for term.
    The target is a predicate over the corpus, so fit+weigh rides the
    one-scan `dsir_fit_weights` lane (identical counts/model/weights;
    the corpus is exploded once, not once per side)."""
    docs = _t(spark, sf_dir, "documents")
    return ddsir.dsir_fit_weights(
        docs, F.col("lang") == "en", "text", "doc_id", buckets=64
    )


def dsir_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR Gumbel top-k resample (operators/dsir.py dsir_sample): the 40
    documents drawn without replacement proportionally to their
    importance weight (target = English sub-corpus), via the
    deterministic md5 Gumbel key — fit, weigh and resample verified
    end-to-end against the DuckDB replay. The en target is a predicate
    over the corpus → the one-scan `target_flag` lane."""
    docs = _t(spark, sf_dir, "documents")
    return ddsir.dsir_sample(
        docs,
        None,
        "text",
        "doc_id",
        k=40,
        buckets=64,
        target_flag=F.col("lang") == "en",
    )


def dsir_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR incremental-fit law (operators/dsir.py bucket_counts /
    merge_counts / dsir_fit_from_counts): the corpus arrives as two
    disjoint batches, each reduced ONCE to its bucket-count sufficient
    statistic; the model fit from the per-bucket-added counts must equal
    the one-shot fit — the invariant that lets a persisted DSIR count
    store (dsir_store_update) refit over all history at O(batch) per
    epoch. The oracle is the ONE-SHOT SQL (dsir_weights_docs), so the
    driver hash-verifies the incremental path against the unsplit
    computation."""
    docs = _t(spark, sf_dir, "documents")
    a = docs.filter(F.col("doc_id") % 2 == 0)
    b = docs.filter(F.col("doc_id") % 2 == 1)
    # each batch is read and exploded ONCE: `bucket_counts_split`
    # carries the target predicate through the one explode and emits
    # both sides' sufficient statistics (raw c + target c_target) — at
    # corpus scale an arriving batch is never scanned twice to count
    # raw and target separately; a c_target=0 bucket row is equivalent
    # to an absent one under the smoothed fit's missing->0 coalesce
    ca = ddsir.bucket_counts_split(
        a, "text", "doc_id", F.col("lang") == "en", buckets=64
    )
    cb = ddsir.bucket_counts_split(
        b, "text", "doc_id", F.col("lang") == "en", buckets=64
    )
    raw = ddsir.merge_counts(
        ca.select("bucket", "c"), cb.select("bucket", "c")
    )
    tgt = ddsir.merge_counts(
        ca.select("bucket", F.col("c_target").alias("c")),
        cb.select("bucket", F.col("c_target").alias("c")),
    )
    # weights straight from the merged sufficient statistics: the B-row
    # model scaffold never enters the plan (bit-identical arithmetic —
    # see dsir_weights_from_counts)
    return ddsir.dsir_weights_from_counts(
        docs, tgt, raw, "text", "doc_id", buckets=64
    )


def oov_report_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV / vocabulary-coverage report (functions/text.py oov_report):
    every document rated against the top-200 vocabulary of the ENGLISH
    sub-corpus — token count, OOV count, OOV fraction; the tokenizer-fit
    / domain-shift diagnostic (non-English docs light up). One corpus
    scan+explode with a broadcast vocab join; the oracle replays the
    deterministic top-k vocabulary (freq desc, token asc) and the
    left-join fold, tokenless documents surviving with zeros."""
    docs = _t(spark, sf_dir, "documents")
    vocab = dtext.vocab_topk(docs.filter(F.col("lang") == "en"), "text", k=200)
    return dtext.oov_report(docs, "text", "doc_id", vocab.select("token"))


def dsir_model_report_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR model diagnostics (operators/dsir.py dsir_model_report): the
    one-row selection-pressure summary — KL(target||raw) over the
    smoothed bucket models, mean |log ratio|, extremes — of the same
    en-vs-all fit dsir_weights_docs verifies; the number that says
    whether resampling will actually move the corpus. Folds the B-row
    model only; the oracle replays fit + fold term for term."""
    docs = _t(spark, sf_dir, "documents")
    model = ddsir.dsir_fit(
        docs.filter(F.col("lang") == "en"), docs, "text", "doc_id", buckets=64
    )
    return ddsir.dsir_model_report(model)


def dsir_ess_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of the DSIR-weighted corpus
    (operators/dsir.py dsir_ess): ``(sum w)^2 / sum w^2`` over the
    max-shifted exponentiated log weights — the variance companion to
    the KL report (ess_frac near 0 = a few documents dominate the
    resample). Two 1-row folds over the doc-sized weights relation."""
    docs = _t(spark, sf_dir, "documents")
    w = ddsir.dsir_fit_weights(
        docs, F.col("lang") == "en", "text", "doc_id", buckets=64
    )
    return ddsir.dsir_ess(w)


def gopher_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher corpus-filtering rules (functions/text.py gopher_rules,
    Rae et al. 2021 appendix A1.1) over the re-segmented corpus: one
    map-only scan emitting per-document measurements, the seven 0/1 rule
    verdicts and the composite — every ratio and verdict replayed in
    DuckDB. Uses _segmented_docs so the line-level rules (bullets,
    ellipses) see real multi-line structure."""
    return dtext.gopher_rules(
        _segmented_docs(spark, sf_dir), "text", "doc_id", min_words=30
    )


def _c4_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with deterministic C4-visible structure, derived
    identically on both engines (the `_segmented_docs` pattern): 8-word
    lines with a terminal ``.`` appended to every ODD (1-based) line —
    so the terminal-punctuation rule discriminates — plus three
    doc_id-residue injections that exercise the page rules: ``% 11`` a
    "lorem ipsum" line, ``% 13`` a curly-brace line, ``% 17`` a
    javascript line."""
    seg = _segmented_docs(spark, sf_dir)
    lines = F.split(F.col("text"), r"\n")
    dotted = F.concat_ws(
        "\n",
        F.transform(
            lines,
            lambda x, i: F.concat(
                x, F.when(i % 2 == 0, F.lit(".")).otherwise(F.lit(""))
            ),
        ),
    )
    did = F.col("doc_id")
    injected = F.concat(
        dotted,
        F.when(did % 11 == 0, F.lit("\nlorem ipsum dolor sit amet today."))
        .otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit("\nsee the { code block right now."))
        .otherwise(F.lit("")),
        F.when(
            did % 17 == 0,
            F.lit("\nplease enable javascript to continue viewing this."),
        ).otherwise(F.lit("")),
    )
    return seg.select("doc_id", injected.alias("text"))


def c4_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning heuristics (functions/text.py c4_rules, Raffel et
    al. 2020 §2.2) over deterministically punctuated re-segmented docs:
    one map-only scan emitting per-document line counts, the kept-line
    fraction, the sentence count and the three page verdicts plus the
    composite — every measurement and verdict replayed in DuckDB."""
    return dtext.c4_rules(_c4_docs(spark, sf_dir), "text", "doc_id")


def ccnet_buckets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language perplexity tertiles (functions/text.py
    perplexity_buckets, Wenzek et al. 2020): corpus-unigram LM score per
    document (rounded 6dp BEFORE thresholding), exact per-language
    tertile thresholds (interpolated quantiles of identical rounded
    inputs are bit-identical across engines — verified), broadcast
    threshold join, map-only head/middle/tail label."""
    docs = _t(spark, sf_dir, "documents")
    return dtext.perplexity_buckets(docs, "text", "doc_id", "lang")


_BPE_K = 6


def bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge induction (functions/bpe.py, Sennrich et
    al. 2016): the first ``_BPE_K`` learned merges over the documents
    corpus — ONE corpus scan builds the word-type relation, then each
    round is a pair-count groupBy, a deterministic 1-row argmax (count
    desc, lexicographic tiebreak) and a map-only greedy-fold rewrite of
    the symbol arrays. Every round is replayed in DuckDB by a GENERATED
    unrolled-CTE oracle built from the same constant (`_bpe_oracle`,
    the `_kll_oracle` pattern), so the whole training loop
    hash-verifies: pair counts, argmax ties, and the left-to-right
    non-overlapping merge semantics."""
    from dataframes_spark.functions import bpe as dbpe

    docs = _t(spark, sf_dir, "documents")
    merges, _ = dbpe.bpe_learn(docs, "text", _BPE_K)
    return dbpe.merge_table(spark, merges)


def wordpiece_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece merge induction (functions/bpe.py bpe_learn with
    scoring='wordpiece' — Schuster & Nakajima 2012): the THIRD
    production tokenizer family, sharing BPE's whole machinery except
    the argmax metric, which becomes the likelihood-gain score
    ``n / (c_lhs * c_rhs)`` over the current type relation. The
    generated oracle replays every round with the same score
    expression (exact-integer division — bit-identical on both
    engines) and (lhs, rhs) tie order."""
    from dataframes_spark.functions import bpe as dbpe

    docs = _t(spark, sf_dir, "documents")
    merges, _ = dbpe.bpe_learn(docs, "text", _BPE_K, scoring="wordpiece")
    return dbpe.merge_table(spark, merges)


def bpe_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BPE (functions/bpe.py): the corpus split into three
    batches, each reduced to its word-type counts (BPE's sufficient
    statistic), folded with `merge_type_counts`, and trained with the
    same loop — the oracle is the ONE-SHOT `_bpe_oracle` SQL, so the
    hash equality IS the fold law (the dsir_incremental_docs pattern).
    Production persists the fold via `word_type_store_update` and
    refits with `bpe_learn_from_store` at vocabulary cost, never
    re-scanning history."""
    from functools import reduce

    from dataframes_spark.functions import bpe as dbpe

    docs = _t(spark, sf_dir, "documents")
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    counts = reduce(
        dbpe.merge_type_counts,
        [dbpe.word_type_counts(b, "text") for b in batches],
    )
    merges, _ = dbpe.bpe_learn_from_counts(counts, _BPE_K)
    return dbpe.merge_table(spark, merges)


def bpe_fertility_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility under the first ``_BPE_K`` learned merges:
    frequency-weighted subword tokens per word over the FINAL rewritten
    type relation — the corpus-wide encode check (`bpe_merges_docs`
    pins each round's argmax, which verifies rewrites only through the
    NEXT round's counts; this row pins the last rewrite directly, and
    `bpe_segment` mirrors it per unit test). One 1-row fold over the
    vocabulary-sized relation."""
    from dataframes_spark.functions import bpe as dbpe

    docs = _t(spark, sf_dir, "documents")
    _, words = dbpe.bpe_learn(docs, "text", _BPE_K)
    return words.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("freq").cast("bigint").alias("n_words"),
        F.sum(F.size("syms").cast("bigint") * F.col("freq"))
        .cast("bigint")
        .alias("n_tokens"),
        F.round(
            F.sum(F.size("syms").cast("bigint") * F.col("freq")).cast(
                "double"
            )
            / F.sum("freq").cast("double"),
            6,
        ).alias("fertility"),
    )


def byte_bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE merge induction (functions/bpe.py
    byte_bpe_learn — Radford et al. 2019, the GPT-2 family, the
    most-deployed production tokenizer): the SAME merge loop as
    `bpe_merges_docs` seeded with remapped UTF-8 bytes plus the
    leading space marker (`bytes_to_unicode`, injected into the
    generated oracle from the module constant). Every round replays
    in DuckDB — byte seeding, pair counts, argmax ties, greedy-fold
    merges."""
    from dataframes_spark.functions import bpe as dbpe

    docs = _t(spark, sf_dir, "documents")
    merges, _ = dbpe.byte_bpe_learn(docs, "text", _BPE_K)
    return dbpe.merge_table(spark, merges)


def byte_bpe_fertility_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-lane fertility at equal merge count — directly comparable
    against `bpe_fertility_docs` (same corpus, same ``_BPE_K``, same
    output shape): the tokens-per-word cost of the no-unknown-token
    guarantee, over the FINAL byte-seeded type relation (pins the
    last rewrite, which the merge argmax chain alone does not)."""
    from dataframes_spark.functions import bpe as dbpe

    docs = _t(spark, sf_dir, "documents")
    _, words = dbpe.byte_bpe_learn(docs, "text", _BPE_K)
    return words.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("freq").cast("bigint").alias("n_words"),
        F.sum(F.size("syms").cast("bigint") * F.col("freq"))
        .cast("bigint")
        .alias("n_tokens"),
        F.round(
            F.sum(F.size("syms").cast("bigint") * F.col("freq")).cast(
                "double"
            )
            / F.sum("freq").cast("double"),
            6,
        ).alias("fertility"),
    )


def _bpe_oracle(
    k: int = _BPE_K, scoring: str = "count", seeding: str = "char"
) -> str:
    """Generated DuckDB replay of `bpe_merges_docs`: one (pair-count,
    argmax, list_reduce-merge) CTE triple per round, built from the
    same ``_BPE_K`` the Spark query uses — the two lanes share the
    round count by construction. The list_reduce CASE is the exact
    twin of `bpe._merge_fold` (seed = first element on both sides).
    ``scoring="wordpiece"`` adds a symbol-count CTE per round and
    ranks by the likelihood-gain score ``n / (c_lhs * c_rhs)`` — one
    double division of exact integers, identical on both engines
    (`bpe.bpe_learn_from_counts`). ``seeding="byte"`` swaps the s0
    seeding to byte-level (UTF-8 bytes through the `bytes_to_unicode`
    remap injected from the module constant, leading space marker, no
    end marker — `bpe.byte_types_from_counts`); the merge rounds are
    seeding-agnostic."""
    merge_case = (
        "CASE WHEN acc = m.lhs AND x = m.rhs THEN m.lhs || m.rhs "
        "WHEN ends_with(acc, ' ' || m.lhs) AND x = m.rhs "
        "THEN left(acc, len(acc) - len(m.lhs)) || m.lhs || m.rhs "
        "ELSE acc || ' ' || x END"
    )
    if seeding == "byte":
        from dataframes_spark.functions.bpe import BYTE_SPACE, bytes_to_unicode

        table = bytes_to_unicode()
        lst = ", ".join(
            "'" + table[b].replace("'", "''") + "'" for b in range(256)
        )
        s0 = f"""s0 AS (
                SELECT freq,
                       list_concat(['{BYTE_SPACE}'], list_transform(
                           generate_series(1, len(hx) // 2),
                           i -> ([{lst}])[
                                 (strpos('0123456789abcdef',
                                         substr(hx, i * 2 - 1, 1)) - 1) * 16
                               + (strpos('0123456789abcdef',
                                         substr(hx, i * 2, 1)) - 1) + 1]))
                           AS syms
                FROM (SELECT freq, lower(hex(encode(word))) AS hx FROM w0)
            )"""
    else:
        s0 = """s0 AS (
                SELECT freq,
                       list_concat(regexp_extract_all(word, '.'),
                                   ['</w>']) AS syms
                FROM w0
            )"""
    parts = [
        f"""
            WITH w0 AS (
                SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
                    SELECT unnest(regexp_split_to_array(
                        lower(trim(coalesce(text, ''))), '\\s+')) AS word
                    FROM documents)
                WHERE word <> '' GROUP BY word
            ), {s0}"""
    ]
    for i in range(1, k + 1):
        if scoring == "wordpiece":
            argmax = f""", c{i} AS (
                SELECT sym, CAST(sum(freq) AS BIGINT) AS c
                FROM (SELECT freq, unnest(syms) AS sym FROM s{i - 1})
                GROUP BY sym
            ), m{i} AS (
                SELECT p.lhs, p.rhs, p.n FROM p{i} p
                JOIN c{i} cl ON cl.sym = p.lhs
                JOIN c{i} cr ON cr.sym = p.rhs
                ORDER BY p.n / (CAST(cl.c AS DOUBLE) * CAST(cr.c AS DOUBLE))
                             DESC,
                         p.lhs ASC, p.rhs ASC
                LIMIT 1
            )"""
        else:
            argmax = f""", m{i} AS (
                SELECT lhs, rhs, n FROM p{i}
                ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1
            )"""
        parts.append(
            f""", p{i} AS (
                SELECT syms[g] AS lhs, syms[g + 1] AS rhs,
                       CAST(sum(freq) AS BIGINT) AS n
                FROM (SELECT freq, syms,
                             unnest(generate_series(1, len(syms) - 1)) AS g
                      FROM s{i - 1})
                GROUP BY 1, 2
            ){argmax}, s{i} AS (
                SELECT s.freq,
                       string_split(list_reduce(s.syms,
                           (acc, x) -> {merge_case}), ' ') AS syms
                FROM s{i - 1} s CROSS JOIN m{i} m
            )"""
        )
    selects = "\n            UNION ALL ".join(
        f"SELECT {i} AS step, lhs, rhs, lhs || rhs AS merged, n FROM m{i}"
        for i in range(1, k + 1)
    )
    return "".join(parts) + "\n            " + selects


def _bpe_fertility_oracle(k: int = _BPE_K, seeding: str = "char") -> str:
    """Generated DuckDB replay of `bpe_fertility_docs`: the same CTE
    chain as `_bpe_oracle`, finalized with the 1-row fertility fold
    over the FINAL type relation s{k} (integer sums cast BIGINT per
    ORACLE.md rule 8; the division runs on exact integer-valued
    doubles, so 6dp rounding is bit-identical)."""
    body = _bpe_oracle(k, seeding=seeding)
    cut = body.rindex("            SELECT 1 AS step")
    return body[:cut] + f"""            SELECT CAST(count(*) AS BIGINT) AS n_types,
                   CAST(sum(freq) AS BIGINT) AS n_words,
                   CAST(sum(freq * len(syms)) AS BIGINT) AS n_tokens,
                   round(CAST(sum(freq * len(syms)) AS DOUBLE)
                         / CAST(sum(freq) AS DOUBLE), 6) AS fertility
            FROM s{k}
"""


def percent_rank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed percent_rank (operators/global_order.py
    percent_ranks): the rank-transform primitive with exact SQL tie
    semantics, no single-reducer window — distinct-value counts, an
    exclusive `cumsum_global` over the value relation, a null-safe
    rank join back, and one broadcast total. Ranks are exact integers,
    the division single-row double arithmetic, so the whole transform
    replays in DuckDB's percent_rank() bit for bit (nulls excluded
    here; Spark-side they rank as the first tie group)."""
    from dataframes_spark.operators.global_order import percent_ranks

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return percent_ranks(
        ev.select("event_id", "value"), "value"
    ).select("event_id", "value", "percent_rank")


def mixture_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-scheduled mixture interleaving (operators/sample.py
    mixture_order): per-language epoch-1 order (epoch-keyed md5),
    grp_pos via the whale-group-safe `grouped_positions` lane, stride
    key = grp_pos / weight (exact double division, no rounding needed),
    global ord in CLOSED FORM from the broadcast group sizes (exact
    FP-checked stride-key inversion — r12 retired the second
    positional lane) — every position replayed in DuckDB with plain
    windows (the closed form reproduces the same total order)."""
    from dataframes_spark.operators.sample import mixture_order

    docs = _t(spark, sf_dir, "documents")
    out = mixture_order(
        docs,
        "lang",
        {"en": 4.0, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 1.0},
        "doc_id",
        epoch=1,
    )
    return out.select("doc_id", "lang", "grp_pos", "stride_key", "ord")


def pipeline_curation_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-10 capstone, extended each round with the next-earlier
    pipeline stage; round 12 prepends the TRUE stage 0 every published
    recipe starts from — HTML→text extraction: synthesize the crawl
    pages, extract (functions/html.py), and gate pages (NULL html
    passes — unknown provenance; otherwise at least one block must
    survive the boilerplate verdicts). Then URL-level dedup
    (canonicalize the survivors' crawl URLs, keep the min-id survivor
    per canonical URL, NULL-provenance rows pass), C4 page verdicts
    (over the deterministic `_c4_docs` structure), CCNet perplexity
    tertiles fitted on the survivors (drop the tail), exact CONTENT
    dedup (min-id representative per content), and the per-epoch
    training shuffle — summarized per (lang, shard) with the max shard
    position verifying the shuffle's window. Every stage is the REAL
    operator and every stage's SQL twin composes in the oracle, so the
    whole pipeline hash-verifies; the corpus text crosses exactly one
    shuffle (the content-dedup key exchange) before the shard
    partitioning — the HTML gate is map-only + one slim id semi-join,
    and the URL stage exchanges only its (canonical, id) projection."""
    from dataframes_spark.functions import html as dhtml
    from dataframes_spark.operators.sample import epoch_shuffle

    # the html gate runs INSIDE the scan (page_keep as a filter column
    # over the synthesized page — html derives from the same row), so
    # stage 0 adds zero joins and zero id-keyed exchanges: the corpus
    # never shuffles for the gate
    raw = (
        _t(spark, sf_dir, "documents")
        .withColumn(
            "__w",
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
                lambda w: w != F.lit(""),
            ),
        )
        .withColumn(
            "__html", _crawl_html_expr(F.col("doc_id"), F.col("__w"))
        )
        .filter(dhtml.page_keep(F.col("__html")))
        .drop("__w", "__html")
        .withColumn("url", _crawl_url())
    )
    # the gated corpus feeds MANY consumers (both sides of the URL
    # dedup join, the LM fit, content dedup, the kept join-back);
    # persisted EAGERLY so the synthesis+extraction chain runs once,
    # not once per branch (lazy persist would race concurrent branches
    # of one job — the unigram-trainer snapshot lesson; the eager
    # near_dup_pairs is the precedent). Lifetime rides the returned
    # frame, released on GC. At 100 TB a real pipeline materializes
    # this stage boundary to storage; the persist is the local analog.
    import weakref

    from pyspark import StorageLevel

    raw = raw.persist(StorageLevel.MEMORY_AND_DISK)
    raw.count()
    # the URL-deduped corpus is ITSELF a fan-out point: the LM scoring
    # inside perplexity_buckets references it twice (token explode +
    # the lang join-back) and content dedup twice more (slim keys +
    # join-back) — unpersisted, each reference replays the dedup
    # union+semi-join. Same stage-boundary argument as `raw` above;
    # measured 7.5s → ~4.4s for the whole capstone at sf0.1
    docs = durl.url_dedup(raw, "url", "doc_id").drop("url")
    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    docs.count()
    c4 = dtext.c4_rules(_c4_docs(spark, sf_dir), "text", "doc_id").select(
        "doc_id", "pass_all"
    )
    buckets = dtext.perplexity_buckets(
        docs, "text", "doc_id", "lang"
    ).select("doc_id", "bucket")
    survivors = ddedup.exact_dedup(docs, "text", "doc_id")
    kept = (
        survivors.join(c4, "doc_id")
        .join(buckets, "doc_id")
        .filter((F.col("pass_all") == 1) & (F.col("bucket") != "tail"))
    )
    sharded = epoch_shuffle(kept, "doc_id", epoch=1, n_shards=4)
    out = sharded.groupBy("lang", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.max("pos").alias("max_pos"),
    )
    # the finalizers' arg references keep the persisted stages alive
    # exactly as long as the returned frame; released (blocking=False)
    # on GC
    weakref.finalize(out, _safe_unpersist, raw)
    weakref.finalize(out, _safe_unpersist, docs)
    return out


def _safe_unpersist(cached: DataFrame) -> None:
    """GC-time release of a persisted stage: cleanup must never stall
    or fail caller code (at interpreter shutdown the JVM may be gone)."""
    try:  # pragma: no cover - exercised only at GC time
        cached.unpersist(blocking=False)
    except Exception:
        pass


def epoch_shuffle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch training shuffle (operators/sample.py
    epoch_shuffle): shard from the top 60 bits of the epoch-keyed md5,
    position from a per-shard row_number over (hash, id) — a different
    total order per epoch, bit-identical on rerun and in DuckDB. The
    only exchange is the shard hash-partitioning."""
    docs = _t(spark, sf_dir, "documents")
    from dataframes_spark.operators.sample import epoch_shuffle

    return epoch_shuffle(docs, "doc_id", epoch=3, n_shards=8).select(
        "doc_id", "shard", "pos"
    )


def _crawl_url() -> "F.Column":
    """Deterministic per-document crawl URL with canonicalization-
    collapsible variants (case/port/trailing-slash/tracking/fragment
    spellings of the same page, plus a kept ``id=`` parameter lane and
    a NULL-provenance lane) — derived identically in the oracle SQL,
    so the URL operators are exercised on inputs whose collisions are
    known by construction."""
    did = F.col("doc_id")
    g = (did % 31).cast("string")
    host = F.concat(
        F.lit("crawl"), (did % 3).cast("string"), F.lit(".example.com")
    )
    base = F.concat(F.lit("http://"), host, F.lit("/docs/"), g)
    v = did % 5
    return (
        F.when(did % 41 == 0, F.lit(None).cast("string"))
        .when(v == 0, base)
        .when(
            v == 1,
            F.concat(F.lit("HTTP://"), F.upper(host), F.lit("/docs/"), g),
        )
        .when(
            v == 2,
            F.concat(
                F.lit("http://"), host, F.lit(":80/docs/"), g, F.lit("/")
            ),
        )
        .when(
            v == 3,
            F.concat(base, F.lit("?utm_source=crawler&utm_medium=cc")),
        )
        .otherwise(
            F.concat(
                base,
                F.lit("?id="),
                (did % 7).cast("string"),
                F.lit("&fbclid=x#f"),
            )
        )
    )


#: the SQL twin of `_crawl_url` — a CTE body producing (doc_id, url)
_URL_DERIVE_SQL = """
                SELECT doc_id,
                       CASE WHEN doc_id % 41 = 0 THEN NULL
                            WHEN doc_id % 5 = 0 THEN
                              'http://crawl' || (doc_id % 3) ||
                              '.example.com/docs/' || (doc_id % 31)
                            WHEN doc_id % 5 = 1 THEN
                              'HTTP://' || upper('crawl' || (doc_id % 3) ||
                              '.example.com') || '/docs/' || (doc_id % 31)
                            WHEN doc_id % 5 = 2 THEN
                              'http://crawl' || (doc_id % 3) ||
                              '.example.com:80/docs/' || (doc_id % 31) || '/'
                            WHEN doc_id % 5 = 3 THEN
                              'http://crawl' || (doc_id % 3) ||
                              '.example.com/docs/' || (doc_id % 31) ||
                              '?utm_source=crawler&utm_medium=cc'
                            ELSE
                              'http://crawl' || (doc_id % 3) ||
                              '.example.com/docs/' || (doc_id % 31) ||
                              '?id=' || (doc_id % 7) || '&fbclid=x#f'
                       END AS url
                FROM documents
"""


def _url_canon_sql(urls_rel: str) -> str:
    """DuckDB replay of `functions/url.py canonical_url` (default
    flags) over a relation ``urls_rel(doc_id, url)`` — emits CTE bodies
    ``__uparts``/``__ucomps``/``__ucanon`` with ``__ucanon(doc_id, url,
    c)``; the component regexes come from the SAME module constants the
    Spark lane compiles (the generated-oracle pattern)."""
    from dataframes_spark.functions.url import (
        TRACKING_PARAM_RE,
        _AUTH_RE,
        _URL_RE,
    )

    return f"""
            __uparts AS (
                SELECT doc_id, url,
                       lower(regexp_extract(trim(url), '{_URL_RE}', 1)) AS scheme,
                       regexp_extract(trim(url), '{_URL_RE}', 2) AS auth,
                       regexp_extract(trim(url), '{_URL_RE}', 3) AS path,
                       regexp_extract(trim(url), '{_URL_RE}', 4) AS query
                FROM {urls_rel}
            ), __ucomps AS (
                SELECT doc_id, url, scheme, auth,
                       regexp_extract(auth, '{_AUTH_RE}', 1) AS userinfo,
                       lower(regexp_extract(auth, '{_AUTH_RE}', 2)) AS host,
                       regexp_extract(auth, '{_AUTH_RE}', 3) AS port,
                       regexp_replace(path, '/+$', '') AS path_norm,
                       coalesce(array_to_string(list_filter(
                           string_split(query, '&'),
                           p -> p <> '' AND NOT regexp_matches(
                               regexp_extract(p, '^([^=]*)', 1),
                               '{TRACKING_PARAM_RE}')), '&'), '') AS qs
                FROM __uparts
            ), __ucanon AS (
                SELECT doc_id, url,
                       CASE WHEN url IS NULL THEN NULL ELSE
                         (CASE WHEN scheme = '' THEN ''
                               ELSE scheme || '://' END)
                         -- unparseable authority (IPv6 literal,
                         -- double-@): verbatim carry-through, the
                         -- Spark lane's non-match rule
                         || (CASE WHEN NOT regexp_matches(
                                       auth, '{_AUTH_RE}') THEN auth
                             ELSE
                               (CASE WHEN userinfo = '' THEN ''
                                     ELSE userinfo || '@' END)
                               || host
                               || (CASE WHEN port = ''
                                        OR (scheme = 'http'
                                            AND port = '80')
                                        OR (scheme = 'https'
                                            AND port = '443')
                                       THEN '' ELSE ':' || port END)
                             END)
                         || path_norm
                         || (CASE WHEN qs = '' THEN ''
                                  ELSE '?' || qs END)
                       END AS c
                FROM __ucomps
            )"""


#: unigram_lm_docs config: schedule and lattice constants shared by the
#: Spark lane and the generated oracle (the _KLL_CFG contract). Three
#: ops keep the row's cost proportionate (each op is an eager
#: checkpointed stage — a longer schedule replays the same class of
#: work; the 5-op form is exercised in tests/test_unigram.py).
_UG_SCHEDULE: list = ["em", ("prune", 24), "em"]
_UG_SEED = 60
_UG_MAXP = 4
_UG_MAXW = 48


def unigram_lm_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (functions/unigram.py, Kudo 2018
    hard-EM variant): seed substrings → Viterbi E-steps → add-one
    6dp-quantized M-steps → rank prunes, run as an EXPLICIT schedule so
    the ENTIRE training loop replays in DuckDB — the generated
    recursive-CTE oracle rebuilds every stage's piece table (the
    bpe_merges_docs precedent; every argmax carries an explicit total
    tie order, and the 6dp log-prob quantization makes DP scores
    bit-identical across engines)."""
    from dataframes_spark.functions import unigram as dug
    from dataframes_spark.functions.bpe import word_type_counts

    docs = _t(spark, sf_dir, "documents")
    pieces = dug.unigram_train_scheduled(
        word_type_counts(docs, "text"),
        _UG_SCHEDULE,
        seed_size=_UG_SEED,
        max_piece_len=_UG_MAXP,
        max_word_len=_UG_MAXW,
    )
    return pieces.select("piece", "cnt", "lp")


def unigram_fertility_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus fertility of the trained unigram model (functions/
    unigram.py fertility_report) — the bpe_fertility_docs twin for the
    OTHER tokenizer family: frequency-weighted tokens per word over
    the final Viterbi segmentation of the type relation. The oracle
    re-derives the final piece table (the unigram_lm_docs CTE chain)
    and replays one more E-step over it."""
    from dataframes_spark.functions import unigram as dug
    from dataframes_spark.functions.bpe import word_type_counts

    docs = _t(spark, sf_dir, "documents")
    counts = word_type_counts(docs, "text").filter(
        F.length("word") <= _UG_MAXW
    )
    pieces = dug.unigram_train_scheduled(
        counts,
        _UG_SCHEDULE,
        seed_size=_UG_SEED,
        max_piece_len=_UG_MAXP,
        max_word_len=_UG_MAXW,
    )
    seg = dug.viterbi_types(counts, pieces, _UG_MAXP)
    return dug.fertility_report(seg)


def _unigram_oracle_sql(final_select: str, extra_estep: bool = False) -> str:
    """Generate the DuckDB replay of `unigram_train_scheduled` under
    the shared `_UG_*` config: word types (max_word_len filter),
    substring positions, ranked seed, then per schedule stage a
    recursive-CTE Viterbi DP (argmax ties: score desc, smallest
    start), coverage-kept counts, the stage's keep rule, and the
    add-one 6dp M-step. ``final_select`` consumes ``pK`` (the final
    piece table) and, for the fertility twin, ``types``/``subpos``."""
    from dataframes_spark.functions.unigram import UNK_LP

    maxp, seed, maxw = _UG_MAXP, _UG_SEED, _UG_MAXW
    parts = [
        f"""
            WITH RECURSIVE types AS MATERIALIZED (
                SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
                    SELECT unnest(list_filter(regexp_split_to_array(
                        lower(trim(coalesce(text, ''))), '\\s+'),
                        x -> x <> '')) AS word
                    FROM documents) t
                WHERE len(word) <= {maxw}
                GROUP BY word
            ), subpos AS MATERIALIZED (
                SELECT word, freq, s, s + l - 1 AS e,
                       substr(word, CAST(s AS INT), CAST(l AS INT)) AS sub
                FROM (
                    SELECT word, freq, s,
                           unnest(range(1, least({maxp},
                               len(word) - s + 1) + 1)) AS l
                    FROM (SELECT word, freq,
                                 unnest(range(1, len(word) + 1)) AS s
                          FROM types) a) b
            ), subcnt AS MATERIALIZED (
                SELECT sub AS piece, CAST(sum(freq) AS BIGINT) AS cnt
                FROM subpos GROUP BY sub
            ), seedk AS MATERIALIZED (
                SELECT piece, cnt FROM (
                    SELECT piece, cnt, row_number() OVER (
                        ORDER BY cnt DESC, piece ASC) AS rk
                    FROM subcnt)
                WHERE rk <= {seed} OR len(piece) = 1
            ), p0 AS MATERIALIZED (
                SELECT piece, cnt,
                       round(ln((cnt + 1) / CAST(t.t + t.v AS DOUBLE)), 6)
                           AS lp
                FROM seedk,
                     (SELECT sum(cnt) AS t, count(*) AS v FROM seedk) t
            )"""
    ]
    def _dp_block(k: int, prev: str) -> str:
        return f"""
            , m{k} AS MATERIALIZED (
                SELECT sp.word, sp.e,
                       list(struct_pack(s := sp.s, lp := p.lp)
                            ORDER BY sp.s) AS cl
                FROM subpos sp JOIN {prev} p ON sp.sub = p.piece
                GROUP BY sp.word, sp.e
            ), r{k} AS (
                SELECT word, freq, 0 AS j,
                       [struct_pack(sc := CAST(0.0 AS DOUBLE), bp := '')] AS acc
                FROM types
                UNION ALL
                -- argmax via list_sort on (negated score, start):
                -- ascending struct order == (score DESC, s ASC), the
                -- DP tie rule; a single correlated lambda builds full
                -- candidate entries (a list_reduce nested two lambdas
                -- deep mis-bound the outer row's columns inside the
                -- recursion — DuckDB correlation depth limit)
                SELECT t.word, t.freq, t.j + 1,
                       list_append(t.acc,
                           CASE WHEN m.cl IS NULL THEN
                               struct_pack(
                                   sc := t.acc[t.j + 1].sc + CAST({UNK_LP} AS DOUBLE),
                                   bp := t.acc[t.j + 1].bp || ' ' ||
                                         substr(t.word, t.j + 1, 1))
                           ELSE
                               struct_pack(
                                   sc := list_sort(list_transform(m.cl,
                                       c -> struct_pack(
                                           nsc := -(t.acc[c.s].sc + c.lp),
                                           s := c.s,
                                           sc := t.acc[c.s].sc + c.lp,
                                           bp := t.acc[c.s].bp || ' ' ||
                                               substr(t.word,
                                                   CAST(c.s AS INT),
                                                   CAST(t.j + 1 - c.s + 1
                                                       AS INT)))))[1].sc,
                                   bp := list_sort(list_transform(m.cl,
                                       c -> struct_pack(
                                           nsc := -(t.acc[c.s].sc + c.lp),
                                           s := c.s,
                                           sc := t.acc[c.s].sc + c.lp,
                                           bp := t.acc[c.s].bp || ' ' ||
                                               substr(t.word,
                                                   CAST(c.s AS INT),
                                                   CAST(t.j + 1 - c.s + 1
                                                       AS INT)))))[1].bp)
                           END)
                FROM r{k} t LEFT JOIN m{k} m
                  ON m.word = t.word AND m.e = t.j + 1
                WHERE t.j < len(t.word)
            ), dp{k} AS MATERIALIZED (
                SELECT word, freq, acc[len(word) + 1].bp AS bp
                FROM r{k} WHERE j = len(word)
            )"""

    for k, op in enumerate(_UG_SCHEDULE, start=1):
        prev = f"p{k - 1}"
        parts.append(_dp_block(k, prev))
        parts.append(f"""
            , vc{k} AS MATERIALIZED (
                SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                    SELECT freq,
                           unnest(string_split(trim(bp), ' ')) AS piece
                    FROM dp{k}) u
                GROUP BY piece
            ), cov{k} AS MATERIALIZED (
                SELECT piece, cnt FROM vc{k}
                UNION ALL
                SELECT p.piece, CAST(0 AS BIGINT) FROM {prev} p
                WHERE len(p.piece) = 1
                  AND p.piece NOT IN (SELECT piece FROM vc{k})
            )""")
        if op == "em":
            parts.append(f"""
            , keep{k} AS MATERIALIZED (
                SELECT piece, cnt FROM cov{k}
                WHERE cnt > 0 OR len(piece) = 1
            )""")
        else:
            n = op[1]
            parts.append(f"""
            , keep{k} AS MATERIALIZED (
                SELECT piece, cnt FROM (
                    SELECT piece, cnt, row_number() OVER (
                        ORDER BY cnt DESC, piece ASC) AS rk
                    FROM cov{k})
                WHERE rk <= {n} OR len(piece) = 1
            )""")
        parts.append(f"""
            , p{k} AS MATERIALIZED (
                SELECT piece, cnt,
                       round(ln((cnt + 1) / CAST(t.t + t.v AS DOUBLE)), 6)
                           AS lp
                FROM keep{k},
                     (SELECT sum(cnt) AS t, count(*) AS v FROM keep{k}) t
            )""")
    n_stages = len(_UG_SCHEDULE)
    if extra_estep:
        parts.append(_dp_block(n_stages + 1, f"p{n_stages}"))
    return "".join(parts) + final_select.replace(
        "__PFINAL__", f"p{n_stages}"
    ).replace("__DPFINAL__", f"dp{n_stages + 1}")


#: pinned langid model (langid_classifier_docs): 4 classes, dim 128,
#: md5 lane; weights ((bucket*P + O) % 33 - 16)/16 and biases
#: (idx - 1.5)/16 are EXACT multiples of 1/16, so every score is exact
#: binary arithmetic — order-independent sums, bit-identical across
#: engines, no argmax tie hazard (the EWMA exact-arithmetic pin).
_LANGID_DIM = 128
_LANGID_LANGS = [("de", 7, 3, 0), ("en", 37, 11, 1), ("es", 59, 17, 2),
                 ("fr", 83, 23, 3)]


def langid_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-langid scoring lane (functions/langid.py langid_score —
    the fastText/CLD3 multiclass hashed char-n-gram shape, Joulin et
    al. 2016) with PINNED md5-lane weights: char 2-3-gram hashed
    counts, per-class mean-pooled dot + bias, struct-max argmax (ties
    to the larger code), replayed term for term in DuckDB — the
    quality_classifier_docs pattern generalized to multinomial. The
    TRAINING half (MLlib multinomial L-BFGS) is model-dependent and
    pinned by the perfect-separation and store-roundtrip tests instead
    (tests/test_langid.py). This is the md5 VERIFICATION lane (bench
    excludes it, like every md5 twin — benching it would measure hex
    parsing); `langid_scores_docs` is the benched xxhash64 production
    lane."""
    from dataframes_spark.functions import langid as dlangid

    docs = _t(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [
            (lang, bkt, ((bkt * p + o) % 33 - 16) / 16.0)
            for lang, p, o, _i in _LANGID_LANGS
            for bkt in range(_LANGID_DIM)
        ],
        "lang string, bucket int, weight double",
    )
    biases = {lang: (i - 1.5) / 16.0 for lang, _p, _o, i in _LANGID_LANGS}
    out = dlangid.langid_score(
        docs, weights, biases, "text", "doc_id",
        dim=_LANGID_DIM, lane_hash="md5",
    )
    return out.select(
        "doc_id", "lang_pred", F.round("lang_score", 6).alias("lang_score")
    )


def langid_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION langid scoring lane — identical plan to
    `langid_classifier_docs` on the xxhash64 default (rows-only by
    nature, the minhash_lsh_candidates precedent: xxhash64 has no
    DuckDB twin; the md5 twin above hash-verifies the full
    arithmetic). This is the row the bench measures."""
    from dataframes_spark.functions import langid as dlangid

    docs = _t(spark, sf_dir, "documents")
    weights = spark.createDataFrame(
        [
            (lang, bkt, ((bkt * p + o) % 33 - 16) / 16.0)
            for lang, p, o, _i in _LANGID_LANGS
            for bkt in range(_LANGID_DIM)
        ],
        "lang string, bucket int, weight double",
    )
    biases = {lang: (i - 1.5) / 16.0 for lang, _p, _o, i in _LANGID_LANGS}
    out = dlangid.langid_score(
        docs, weights, biases, "text", "doc_id", dim=_LANGID_DIM
    )
    return out.select(
        "doc_id", "lang_pred", F.round("lang_score", 6).alias("lang_score")
    )


def url_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup report (functions/url.py url_dedup_report) —
    C4's stage-0 pass (Raffel et al. 2020 §2.2 dedups by URL before
    any content rule): scheme/host lowering, default-port and
    fragment drop, tracking-parameter strip and trailing-slash rule
    collapse the derived spelling variants, then one slim
    map-side-combining groupBy keeps the min-id survivor per canonical
    URL. The oracle replays the component regexes and the query-string
    filter term for term, so canonicalization ITSELF is
    hash-verified."""
    docs = _t(spark, sf_dir, "documents").withColumn("url", _crawl_url())
    return durl.url_dedup_report(docs, "url", "doc_id")


def url_dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental URL dedup (functions/url.py url_dedup_incremental):
    even-id documents stand in for the historical canonical-URL
    fingerprint store (the dedup_incremental_docs pattern); the full
    table arrives as the new batch. Fresh = batch-deduped (min-id per
    canonical URL) rows whose URL is absent from history; NULL-URL
    rows always pass and never enter the store. Returns every fresh
    row's (doc_id, canonical url) so the anti join, the in-batch rule
    AND the canonicalization all ride the hash."""
    docs = _t(spark, sf_dir, "documents").withColumn("url", _crawl_url())
    seen = durl.url_fingerprints(docs.filter(F.col("doc_id") % 2 == 0), "url")
    fresh, _updated = durl.url_dedup_incremental(docs, seen, "url", "doc_id")
    return fresh.select(
        "doc_id", durl.canonical_url(F.col("url")).alias("url")
    )


def pipeline_tokenize_pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 capstone: the training-data ENDGAME composed —
    tokenizer training (the unigram_lm_docs chain), per-document TOKEN
    counts under the trained model (functions/unigram.py token_counts:
    vocabulary-sized DP, broadcast (word, ntok) map, one doc-keyed
    reduction), then TOKEN-budgeted context-window packing on the
    distributed cumsum lane (operators/pack.py pack_by_cumsum) with
    the utilization report. Character-budget packing
    (pack_documents_cumsum) is the stand-in this row retires: loaders
    budget tokens, not characters. Every stage's SQL twin composes in
    ONE oracle (trainer CTEs + extra E-step + token join + the pack
    window)."""
    from dataframes_spark.functions import unigram as dug
    from dataframes_spark.functions.bpe import word_type_counts

    docs = _t(spark, sf_dir, "documents")
    pieces = dug.unigram_train_scheduled(
        word_type_counts(docs, "text"),
        _UG_SCHEDULE,
        seed_size=_UG_SEED,
        max_piece_len=_UG_MAXP,
        max_word_len=_UG_MAXW,
    )
    toks = dug.token_counts(
        docs, "text", "doc_id", pieces, _UG_MAXP, _UG_MAXW
    )
    packed = dpack.pack_by_cumsum(toks, "n_tokens", 512, "doc_id")
    return dpack.pack_stats(packed, "n_tokens", 512).select(
        "pack_id",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_size").cast("bigint").alias("total_tokens"),
        "fill",
    )


def _durl_url_re() -> str:
    from dataframes_spark.functions.url import _URL_RE

    return _URL_RE


def _durl_auth_re() -> str:
    from dataframes_spark.functions.url import _AUTH_RE

    return _AUTH_RE


#: SQL twin of `_crawl_pages` — a CTE chain (no leading WITH) producing
#: ``hpages(doc_id, html)``: 12-word paragraphs with the same variant
#: suffixes, the same boilerplate shell, link-farm (%19) and NULL (%23)
#: lanes. Slice bounds are the seg-CTE precedent (1-based inclusive ==
#: Spark's F.slice(start, length) with clamping).
_HTML_DERIVE_SQL = """hw AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                                   w -> w <> '') AS w0
                FROM documents
            ), hp AS (
                SELECT doc_id, w0,
                       CASE WHEN len(w0) >= 1 THEN
                         array_to_string(list_transform(
                           generate_series(1, CAST(ceil(len(w0) / 12.0) AS BIGINT)),
                           i -> '<p>' || array_to_string(w0[(i - 1) * 12 + 1 : i * 12], ' ')
                                || CASE WHEN i % 3 = 0 THEN ' &amp; more.' ELSE '' END
                                || CASE WHEN i % 4 = 0 THEN ' <em>fine print</em>' ELSE '' END
                                || CASE WHEN i % 5 = 0 THEN ' <a href="/ref">ref link</a>' ELSE '' END
                                || '</p>'), '')
                       ELSE '' END AS paras
                FROM hw
            ), hpages AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 23 = 0 THEN NULL ELSE
                         '<html><head><title>Doc ' || doc_id ||
                         '</title><style>p{margin:0}</style></head><body>' ||
                         '<!-- synthetic crawl page -->' ||
                         CASE WHEN doc_id % 29 = 0 THEN
                           '<a href="/hub"><div>Primary Navigation Hub Links</div></a>'
                         ELSE
                           '<div class="nav"><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></div>'
                         END ||
                         CASE WHEN doc_id % 19 = 0 THEN
                           '<ul>' || array_to_string(list_transform(w0[1:8],
                               w -> '<li><a href="/t">' || w || '</a></li>'), '') || '</ul>'
                         ELSE paras END ||
                         '<script>var x = {a: 1};</script>' ||
                         '<div class="footer">Copyright &amp; 2026 <a href="/tos">terms of use</a> <a href="/privacy">privacy policy</a></div>' ||
                         '</body></html>'
                       END AS html
                FROM hp
            )"""


def _html_extract_sql(src: str) -> str:
    """CTE chain (no leading WITH, leading comma) replaying
    functions/html.py `html_extract` over ``src(doc_id, html)`` at the
    default gates (min_words=3, max_link_density=0.4, stop gate off):
    strip chain → anchor markers → block split → entity decode →
    per-block measurement structs → the keep filter. Final CTE is
    ``hstats(doc_id, b, k)`` (all blocks / kept blocks). The block-tag
    set and stopword list inject from the module constants, so the
    oracle can never drift from the operator."""
    from dataframes_spark.functions.html import BLOCK_TAGS, STOPWORDS

    stop = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
            , hx1 AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                           coalesce(html, ''),
                           '(?is)<!--.*?-->', ' ', 'g'),
                           '(?is)<head\\b[^>]*>.*?</head>', ' ', 'g'),
                           '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
                           '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g') AS s
                FROM {src}
            ), hx2 AS (
                SELECT doc_id,
                       regexp_replace(
                           regexp_replace(s, '(?is)<a\\b[^>]*>(.*?)</a>',
                                          chr(1) || '\\1' || chr(2), 'g'),
                           '(?i)</?(?:{BLOCK_TAGS})\\b[^>]*>', chr(10), 'g') AS s
                FROM hx1
            ), hx3 AS (
                SELECT doc_id,
                       replace(replace(replace(replace(replace(replace(
                           regexp_replace(s, '<[^>]*>', ' ', 'g'),
                           '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                           '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS s
                FROM hx2
            ), hxl AS MATERIALIZED (
                SELECT doc_id, string_split(s, chr(10)) AS bl FROM hx3
            ), hxq AS MATERIALIZED (
                SELECT doc_id, unnest(generate_series(1, len(bl))) AS idx,
                       bl
                FROM hxl
            ), hxb1 AS MATERIALIZED (
                SELECT doc_id, idx, bl[idx] AS blk FROM hxq
            ), hcar(doc_id, idx, lc, open_out) AS (
                -- anchor-state carry across block boundaries (the
                -- functions/html.py _block_stats fold): a block
                -- entered with an open anchor re-opens it, spans
                -- count to their closing sentinel or block end, and
                -- the open state recurses to the next block
                SELECT doc_id, idx,
                       CAST(coalesce(list_sum(list_transform(regexp_extract_all(blk, chr(1) || '([^' || chr(1) || chr(2) || ']*)', 1), z -> len(z))), 0) AS INT),
                       CASE WHEN contains(blk, chr(1)) AND NOT contains((string_split(blk, chr(1)))[-1], chr(2)) THEN 1 ELSE 0 END
                FROM hxb1 WHERE idx = 1
                UNION ALL
                SELECT b.doc_id, b.idx,
                       CAST(coalesce(list_sum(list_transform(regexp_extract_all((CASE WHEN r.open_out = 1 THEN chr(1) || b.blk ELSE b.blk END), chr(1) || '([^' || chr(1) || chr(2) || ']*)', 1), z -> len(z))), 0) AS INT),
                       CASE WHEN contains((CASE WHEN r.open_out = 1 THEN chr(1) || b.blk ELSE b.blk END), chr(1)) AND NOT contains((string_split((CASE WHEN r.open_out = 1 THEN chr(1) || b.blk ELSE b.blk END), chr(1)))[-1], chr(2)) THEN 1 ELSE 0 END
                FROM hcar r
                JOIN hxb1 b ON b.doc_id = r.doc_id AND b.idx = r.idx + 1
            ), hxb AS (
                SELECT q.doc_id,
                       list_filter(
                           list(struct_pack(
                               vis := trim(regexp_replace(
                                   replace(replace(q.blk, chr(1), ''),
                                           chr(2), ''),
                                   '\\s+', ' ', 'g')),
                               lc := c.lc) ORDER BY q.idx),
                           st -> len(st.vis) > 0) AS b
                FROM hxb1 q JOIN hcar c USING (doc_id, idx)
                GROUP BY q.doc_id
            ), hxm AS (
                SELECT doc_id,
                       list_transform(b, st -> struct_pack(
                           vis := st.vis,
                           n_chars := len(st.vis),
                           lc := st.lc,
                           n_words := len(string_split(st.vis, ' ')),
                           n_stop := len(list_filter(string_split(st.vis, ' '),
                               w -> list_contains([{stop}], lower(w)))))) AS b
                FROM hxb
            ), hstats AS (
                SELECT doc_id, b,
                       list_filter(b, st -> st.n_words >= 3
                           AND CAST(st.lc AS DOUBLE) / greatest(st.n_chars, 1)
                               <= 0.4) AS k
                FROM hxm
            )"""


#: pipeline_curation_docs' stage-0 CTE chain, round 12: synthesize the
#: crawl pages, run HTML→text extraction, gate pages (h0: NULL html
#: passes — unknown provenance, the URL-dedup NULL contract — else at
#: least one block must survive), THEN derive URLs for the survivors,
#: canonicalize (`_url_canon_sql`), keep min-id per canonical URL plus
#: every NULL-provenance row (u0), and restrict the corpus to the
#: surviving ids (d0).
_CURATION_STAGE0_PREFIX = (
    "WITH RECURSIVE "
    + _HTML_DERIVE_SQL
    + _html_extract_sql("hpages")
    + f"""
            , h0 AS (
                SELECT s.doc_id FROM hstats s JOIN hpages p USING (doc_id)
                WHERE p.html IS NULL OR len(s.k) >= 1
            ), urls_all AS ({_URL_DERIVE_SQL}
            ), urls AS (
                SELECT u.* FROM urls_all u JOIN h0 USING (doc_id)
            ),
            {_url_canon_sql("urls")}
            , u0 AS (
                SELECT doc_id FROM __ucanon WHERE url IS NULL
                UNION ALL
                SELECT min(doc_id) AS doc_id FROM __ucanon
                WHERE url IS NOT NULL GROUP BY c
            ), d0 AS (
                SELECT d.* FROM documents d JOIN u0 USING (doc_id)
            ),
"""
)


#: SQL twin of `_pinned_phash` — a CTE body producing ``ppf(id, fp)``.
_PHASH_PINNED_SQL = """pph AS (
                SELECT doc_id,
                       ((((doc_id >> 2) % 2147483648) * 1103515245 + 12345)
                           % 2147483648) AS h1,
                       ((((doc_id >> 2) % 2147483648) * 48271 + 7)
                           % 2147483648) AS h2
                FROM documents
            ), ppf AS (
                SELECT doc_id AS id,
                       list_transform(generate_series(0, 7), i ->
                           CAST(CASE WHEN i = doc_id % 8
                                THEN xor(
                                    CASE WHEN i < 4
                                         THEN (h1 >> (i * 8)) % 256
                                         ELSE (h2 >> ((i - 4) * 8)) % 256
                                    END,
                                    CASE doc_id % 3 WHEN 0 THEN 0
                                         WHEN 1 THEN 1 ELSE 2 END)
                                ELSE CASE WHEN i < 4
                                          THEN (h1 >> (i * 8)) % 256
                                          ELSE (h2 >> ((i - 4) * 8)) % 256
                                     END
                           END AS INT)) AS fp
                FROM pph
            )"""


def _crawl_html_expr(did: "F.Column", words: "F.Column") -> "F.Column":
    """Deterministic synthetic crawl-page HTML around a document's
    words (12-word ``<p>`` paragraphs with entity / inline-tag /
    inline-anchor variants), wrapped in the boilerplate every real
    page carries: head (title+style), a comment, a link-only nav bar
    (every 29th document: a BLOCK-ANCHOR nav — an anchor containing a
    block-level tag, exercising the extractor's cross-block anchor
    carry), a script block and a link-heavy footer. Variant lanes: every 19th
    document's content is a LINK FARM (``<li><a>`` items — zero blocks
    survive extraction), every 23rd document has NULL html (unknown
    provenance). Derived identically in the oracle SQL
    (`_HTML_DERIVE_SQL`), so extraction runs on pages whose verdicts
    are known by construction. ``words`` must be a MATERIALIZED column
    attribute (higher-order lambdas re-evaluate their captured
    expressions per element — the `char_ngrams` PERF WARNING)."""
    npar = F.ceil(F.size(words) / F.lit(12.0)).cast("int")
    para = lambda i: F.concat(
        F.lit("<p>"),
        F.array_join(F.slice(words, (i - 1) * 12 + 1, F.lit(12)), " "),
        F.when(i % 3 == 0, F.lit(" &amp; more.")).otherwise(F.lit("")),
        F.when(i % 4 == 0, F.lit(" <em>fine print</em>")).otherwise(F.lit("")),
        F.when(i % 5 == 0, F.lit(' <a href="/ref">ref link</a>')).otherwise(
            F.lit("")
        ),
        F.lit("</p>"),
    )
    paras = F.when(
        npar >= 1,
        F.array_join(F.transform(F.sequence(F.lit(1), npar), para), ""),
    ).otherwise(F.lit(""))
    farm = F.concat(
        F.lit("<ul>"),
        F.array_join(
            F.transform(
                F.slice(words, 1, 8),
                lambda w: F.concat(
                    F.lit('<li><a href="/t">'), w, F.lit("</a></li>")
                ),
            ),
            "",
        ),
        F.lit("</ul>"),
    )
    content = F.when(did % 19 == 0, farm).otherwise(paras)
    return F.when(did % 23 == 0, F.lit(None).cast("string")).otherwise(
        F.concat(
            F.lit("<html><head><title>Doc "),
            did.cast("string"),
            F.lit("</title><style>p{margin:0}</style></head><body>"),
            F.lit("<!-- synthetic crawl page -->"),
            F.when(
                did % 29 == 0,
                # block-anchor nav: the anchor's content contains a
                # block-level tag, so its sentinels split across blocks
                # — exercises the extractor's anchor-state carry
                F.lit(
                    '<a href="/hub"><div>Primary Navigation Hub'
                    " Links</div></a>"
                ),
            ).otherwise(
                F.lit(
                    '<div class="nav"><a href="/">Home</a>'
                    ' <a href="/about">About</a>'
                    ' <a href="/contact">Contact</a></div>'
                )
            ),
            content,
            F.lit("<script>var x = {a: 1};</script>"),
            F.lit(
                '<div class="footer">Copyright &amp; 2026'
                ' <a href="/tos">terms of use</a>'
                ' <a href="/privacy">privacy policy</a></div>'
            ),
            F.lit("</body></html>"),
        )
    )


def _crawl_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, html) — the synthetic crawl corpus. The word array
    materializes as an attribute BEFORE the paragraph transform (see
    `_crawl_html_expr`)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.filter(
            F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
            lambda w: w != F.lit(""),
        ).alias("__w"),
    ).select(
        "doc_id", _crawl_html_expr(F.col("doc_id"), F.col("__w")).alias("html")
    )


def html_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text boilerplate extraction (functions/html.py
    html_extract, jusText/trafilatura lineage — the stage every
    published pipeline runs before the stages this repo already
    verifies): block segmentation at block-tag boundaries, per-block
    link-density / word-count measurements, entity decoding, and the
    reassembled text. The oracle replays the ENTIRE rewrite chain —
    both regex dialects agree on every construct used (no
    backreferences; RE2 has none) — so the extracted text itself
    rides the hash, not just the counts."""
    from dataframes_spark.functions import html as dhtml

    return dhtml.html_extract(_crawl_pages(spark, sf_dir), "html", "doc_id")


def image_hashes_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprints, fake-decode lane end-to-end
    (operators/multimodal.py image_hashes): binary payload → Arrow-
    batched mapInPandas → 8-byte fingerprint. The oracle replicates
    the stand-in's sha256 byte arithmetic (digest bytes 8..16) in SQL
    — the media_decode_stats precedent — so the whole mapInPandas
    fingerprint path is hash-checked.

    The API returns ``fp`` as a real ARRAY of 8 byte-values; this
    CONTRACT query scalarizes it to one pipe-joined string (the
    `group_collect_lists` convention) because the driver canonicalizes
    results through pandas ``sort_values``, which cannot sort raw list
    cells — every byte, its order, and NULL-payload symmetry still
    ride the hash."""
    from dataframes_spark.operators import multimodal as dmm

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    out = dmm.image_hashes(media, fake=True)
    # concat_ws over a NULL array yields '' — keep NULL fp NULL.
    return out.select(
        "media_id",
        F.when(F.col("fp").isNull(), F.lit(None).cast("string"))
        .otherwise(
            F.concat_ws("|", F.transform("fp", lambda b: b.cast("string")))
        )
        .alias("fp"),
    )


def _pinned_phash() -> "F.Column":
    """Deterministic per-document fingerprint with collision structure
    known by construction (the `_crawl_url` pattern): each BOUNDED
    group of four consecutive ids (``doc_id // 4``) shares a base byte
    pattern — two affine LCG words mod 2^31 sliced into 8 bytes, so
    distinct groups get distinct, far-apart bases (odd multipliers are
    injective mod 2^31) — and members differ only by at most one flipped bit
    in one byte, so within-group Hamming distances are <= 2 and the
    banded generator + distance verify get real work at EVERY scale.
    Group size is fixed at 4, so candidate pairs stay LINEAR in the
    corpus (the first cut of this lane used ``doc_id % 199`` groups,
    whose membership grew with the corpus — the sf1 spot-bench caught
    the quadratic pair blowup at 20x)."""
    did = F.col("doc_id")
    mask = (
        F.when(did % 3 == 0, F.lit(0))
        .when(did % 3 == 1, F.lit(1))
        .otherwise(F.lit(2))
    )
    gm = F.shiftright(did, 2) % 2147483648
    h1 = (gm * 1103515245 + 12345) % 2147483648
    h2 = (gm * 48271 + 7) % 2147483648

    def byte(i):
        if i < 4:
            return F.shiftright(h1, i * 8) % 256
        return F.shiftright(h2, (i - 4) * 8) % 256

    return F.array(
        *[
            F.when(F.lit(i) == (did % 8).cast("int"), byte(i).bitwiseXOR(mask))
            .otherwise(byte(i))
            .cast("int")
            for i in range(8)
        ]
    )


def phash_pairs_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-banded perceptual near-dup pairs (operators/
    multimodal.py phash_bands + phash_pairs over the shared
    `_bucket_pair_expand` machinery): 2-byte-band candidate
    generation — 4 bands of 65536 buckets, pigeonhole-complete for
    distance <= 3 (see phash_bands' band-width dial) — then exact
    per-byte XOR-popcount verification at max_distance 2, over pinned
    fingerprints with known collisions. Cross-group accidental byte collisions become
    candidates and FAIL the verify, so the filter itself is
    exercised; the oracle replays generation, banding, pair expansion
    and the distance sum term for term."""
    from dataframes_spark.operators import multimodal as dmm

    docs = _t(spark, sf_dir, "documents")
    fps = docs.select(
        F.col("doc_id").alias("media_id"), _pinned_phash().alias("fp")
    )
    out = dmm.phash_pairs(fps, max_distance=2)
    return out.select("id_a", "id_b", F.col("distance").cast("int").alias("distance"))


def phash_dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental perceptual near-dup detection (operators/
    multimodal.py phash_incremental): even-id documents' bands stand
    in for the persisted fingerprint store (the
    dedup_incremental_docs pattern), odd-id documents arrive as the
    batch. Candidates are VERIFIED inline — the store rows carry the
    8-byte fingerprint, so no corpus fetch-back exists in the plan —
    and both lanes ride the hash: batch-vs-store (band-bucket
    equi-join) and in-batch (smaller id = the seen side)."""
    from dataframes_spark.operators import multimodal as dmm

    docs = _t(spark, sf_dir, "documents")
    fps = docs.select(
        F.col("doc_id").alias("media_id"), _pinned_phash().alias("fp")
    )
    store = dmm.phash_bands(fps.filter(F.col("media_id") % 2 == 0))
    batch = fps.filter(F.col("media_id") % 2 == 1)
    cand, _updated = dmm.phash_incremental(batch, store, max_distance=2)
    return cand.select(
        "id_new", "id_seen", F.col("distance").cast("int").alias("distance")
    )


def image_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-dedup capstone (operators/multimodal.py
    image_dedup_report): pinned-collision fingerprints → banded
    verified pairs → connected components (recursive-CTE closure in
    the oracle, the near_dup_clusters pattern) → quality-aware keep
    (pixel count from the fake-decode lane, ties min id). Every stage
    rides the hash: banding, pair expansion, Hamming verify, closure
    labels, decode arithmetic, keep rank."""
    from dataframes_spark.operators import multimodal as dmm

    docs = _t(spark, sf_dir, "documents")
    fps = docs.select(
        F.col("doc_id").alias("media_id"), _pinned_phash().alias("fp")
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )
    dec = dmm.decode_image(media, fake=True).select("media_id", "n_pixels")
    return dmm.image_dedup_report(fps, dec, max_distance=2)


def url_host_report_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-composition host report (functions/url.py host_report):
    top hosts by document count with 6dp share over the derived crawl
    URLs — one slim groupBy + broadcast total + TakeOrdered heap
    (count desc, host asc: deterministic under ties). The oracle
    replays the authority regex, the count and the share division."""
    docs = _t(spark, sf_dir, "documents").withColumn("url", _crawl_url())
    return durl.host_report(docs, "url", top_n=10)


def semdedup_pinned_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup (operators/dedup.py semdedup, Abbas et al. 2023) with
    PINNED centroids — the embeddings of vec_ids 1..4, the
    ivf_probe_pinned recipe — over the rest of the corpus: nearest-
    centroid assignment, within-cluster cosine pairs, and the paper's
    keep-the-farthest-from-centroid rule, every verdict replayed in
    DuckDB."""
    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter(F.col("vec_id").between(1, 4))
        .select("vec_id", "embedding")
        .collect()
    )
    cent_rows = sorted(cent_rows, key=lambda r: r.vec_id)
    centers = [[float(x) for x in r.embedding] for r in cent_rows]
    return ddedup.semdedup(
        emb.filter(F.col("vec_id") > 4),
        "embedding",
        "vec_id",
        centers,
        threshold=0.3,
    )


def event_transitions_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix (operators/funnel.py
    event_transitions): per-user successor pairs via ONE user-partitioned
    lag window, counts + row-normalized probabilities; the |types|^2
    report relation folds its totals back with a broadcast join."""
    from dataframes_spark.operators import funnel as dfunnel

    ev = _t(spark, sf_dir, "events")
    return dfunnel.event_transitions(
        ev, "user_id", "ts", "event_type", tiebreak_col="event_id"
    )


def top_paths_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 five-step user journeys (operators/funnel.py top_paths):
    rank window with a map-side WindowGroupLimit cut, per-user fold on
    the SAME hash partitioning (no second exchange), TakeOrdered heap
    for the final top-k."""
    from dataframes_spark.operators import funnel as dfunnel

    ev = _t(spark, sf_dir, "events")
    return dfunnel.top_paths(
        ev, "user_id", "ts", "event_type", steps=5, k=20,
        tiebreak_col="event_id",
    )


def hist_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles (quality.histogram_counts +
    hist_quantiles): estimates from the 50-bin clamped histogram of
    events.value — the sketch-family quantile (bins-row mergeable state,
    exact to one bin width), binning and interpolation replayed in
    DuckDB."""
    ev = _t(spark, sf_dir, "events")
    h = dquality.histogram_counts(ev, "value", 50, 0.0, 500.0)
    return dquality.hist_quantiles(h, [0.25, 0.5, 0.9, 0.99], 50, 0.0, 500.0)


#: KLL driver-row configuration — shared by the query and its generated
#: oracle so the two lanes can never drift.
#: passes=7 covers k*2^7 = 16k rows per shard — exactly the sf0.1 need
#: (100k events / 8 shards = 12.5k); a larger input would keep low
#: levels slightly overfull — still a VALID sketch: weights stay exact
#: and fewer compactions only LOWER rank error; the row is a
#: verification lane, production uses kll_build's auto-sized default
#: schedule. merge_passes=5 drains the 8-shard union
#: (ceil(log2(8)) + cascade). auto_passes=False: this cfg is already
#: tight, so the auto lane's count/verify actions would only add jobs.
_KLL_CFG = {
    "k": 128, "shards": 8, "passes": 7, "merge_passes": 5,
    "auto_passes": False,
}
_KLL_QS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def kll_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL-style mergeable rank-quantile sketch (operators/kll.py,
    Karnin-Lang-Liberty 2016 compaction with md5-derandomized coins):
    the full sketch of events.value — md5 sharding, every per-level
    pairing, every coin, the shard merge — is rebuilt in DuckDB from a
    generated unrolled-CTE replay, so the quantile estimates
    hash-verify term for term (the cms_heavy_tokens_md5 pattern). The
    sketch needs NO (lo, hi) domain bounds, unlike the histogram
    sketch's hist_quantiles_events twin."""
    ev = _t(spark, sf_dir, "events")
    sk = dkll.kll_build(ev, "value", "event_id", **_KLL_CFG)
    return dkll.kll_quantiles(sk, _KLL_QS)


def _kll_oracle_sql(
    table: str,
    id_col: str,
    value_col: str,
    where: str,
    cfg: dict,
    qs: tuple,
    key: str | None = None,
) -> str:
    """Generate the DuckDB replay of a KLL quantile query (global or
    keyed): one CTE per compaction pass (the md5 coin and the pairing
    rule inline), then the cumulative-weight quantile cut per group.
    Built from the same cfg constant the Spark lane uses — the two
    lanes share parameters by construction (ORACLE.md generated-oracle
    pattern)."""
    k, shards = cfg["k"], cfg["shards"]
    passes, merge_passes = cfg["passes"], cfg["merge_passes"]
    kc = f"{key}, " if key else ""
    ksel = f"{key}, " if key else ""

    def pass_cte(name: str, prev: str, pidx: str, parts: str, keep_shard: bool) -> str:
        shard_col = ", shard" if keep_shard else ""
        return f"""{name} AS (
                SELECT {ksel}CASE WHEN n > {k} AND rn <= n - (n % 2)
                            THEN level + 1 ELSE level END AS level,
                       value, tb{shard_col}
                FROM (SELECT *,
                             row_number() OVER (PARTITION BY {parts}
                                 ORDER BY value, tb) AS rn,
                             count(*) OVER (PARTITION BY {parts}) AS n,
                             CAST(('0x' || substr(md5('kll::{pidx}:'
                                 || CAST(level AS VARCHAR)), 1, 15))::BIGINT
                                 % 2 AS INTEGER) AS off
                      FROM {prev})
                WHERE n <= {k} OR rn > n - (n % 2) OR rn % 2 = off
            )"""

    ctes = [
        f"""s0 AS (
                SELECT {ksel}CAST(('0x' || substr(md5(CAST({id_col} AS VARCHAR)
                           || '/kll-s'), 1, 15))::BIGINT % {shards}
                           AS INTEGER) AS shard,
                       0 AS level,
                       CAST({value_col} AS DOUBLE) AS value,
                       md5(CAST({id_col} AS VARCHAR) || '/kll-t') AS tb
                FROM {table} WHERE {where}
            )"""
    ]
    prev = "s0"
    for p in range(1, passes + 1):
        ctes.append(
            pass_cte(f"s{p}", prev, str(p), f"{kc}shard, level", True)
        )
        prev = f"s{p}"
    for i, p in enumerate(range(passes + 1, passes + merge_passes + 1)):
        ctes.append(pass_cte(f"g{i + 1}", prev, str(p), f"{kc}level", False))
        prev = f"g{i + 1}"
    qs_vals = ", ".join(f"({q})" for q in qs)
    kgroup = f"PARTITION BY {key} " if key else ""
    tot_group = f"GROUP BY {key}" if key else ""
    # null-safe: a NULL group key is a real group on the Spark lane
    join_key = f"c.{key} IS NOT DISTINCT FROM tot.{key} AND " if key else ""
    out_keys = f"c.{key} AS {key}, " if key else ""
    grp = f"c.{key}, q" if key else "q"
    return f"""
            -- operators/kll.py replayed term for term: md5 sharding,
            -- {passes} per-shard compaction passes + {merge_passes}
            -- merge passes (coin = md5 bit of (pass, level), pairs in
            -- (value, tb) order, odd leftover stays), then the
            -- cumulative-weight quantile cut over the final sketch.
            WITH {', '.join(ctes)},
            fin AS (SELECT {ksel}level, value, tb FROM {prev}),
            tot AS (SELECT {ksel}CAST(sum(1::BIGINT << level) AS DOUBLE)
                           AS tot
                    FROM fin {tot_group}),
            c AS (SELECT {ksel}value,
                         sum(1::BIGINT << level) OVER ({kgroup}
                             ORDER BY value, tb
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum
                  FROM fin),
            qs AS (SELECT CAST(q AS DOUBLE) AS q
                   FROM (VALUES {qs_vals}) t(q))
            SELECT {out_keys}q, round(min(value), 6) AS value
            FROM qs, c, tot
            WHERE {join_key}CAST(c.cum AS DOUBLE) >= qs.q * tot.tot
            GROUP BY {grp}
        """


def _kll_oracle() -> str:
    return _kll_oracle_sql(
        "events", "event_id", "value", "value IS NOT NULL", _KLL_CFG, _KLL_QS
    )


def lang_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level language-mixing report (functions/text.py
    lang_mix_report) over the re-segmented corpus: doc-level guess plus
    per-line guesses folded to a mixing fraction — the CCNet-style
    second pass that doc-level language ID cannot replace; every guess
    and fraction replayed in DuckDB."""
    return dtext.lang_mix_report(
        _segmented_docs(spark, sf_dir), "text", "doc_id", sep="\n"
    )


def snapshot_diff_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebuild diff (operators/diff.py diff_summary): snapshot B
    is a deterministic mutation of the documents table (drop doc_id%7,
    retext %5, relabel %3, add %11 under shifted ids); the report —
    row-status counts plus per-column changed counts — folds from ONE
    null-safe full outer join, replayed in DuckDB."""
    a = _t(spark, sf_dir, "documents")
    mod = (
        a.filter(F.col("doc_id") % 7 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")),
        )
        .withColumn(
            "lang",
            F.when(F.col("doc_id") % 3 == 0, F.lit("xx")).otherwise(
                F.col("lang")
            ),
        )
    )
    added = a.filter(F.col("doc_id") % 11 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    b = mod.unionByName(added)
    from dataframes_spark.operators import diff as ddiff

    return ddiff.diff_summary(a, b, ["doc_id"])


def zipf_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit (functions/text.py zipf_report): slope /
    intercept / r2 of ln(freq) on ln(rank) over the top-100 tokens —
    natural language fits slope ~ -1; this corpus's flat synthetic
    vocabulary scores far from it, which is exactly what the alarm is
    for. Top-k is a TakeOrdered heap; the regression folds k rows."""
    docs = _t(spark, sf_dir, "documents")
    return dtext.zipf_report(docs, "text", k=100)


def mix_temperature_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing report (operators/sample.py temperature_rates /
    mix_by_temperature, tau=0.5): per-language target share, realized
    keep rate (pure downsampling: the binding group keeps everything)
    and the md5-deterministic kept count — share math AND row selection
    replayed in DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    rates = dsample.temperature_rates(docs, "lang", tau=0.5)
    kept = (
        dsample.mix_by_temperature(docs, "lang", "doc_id", tau=0.5, salt="temp")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return rates.join(kept, "lang", "left").select(
        "lang",
        "n_total",
        F.round("q", 6).alias("q"),
        F.round("rate", 6).alias("rate"),
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
    )


def mix_manifest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-assembly manifest (operators/sample.py mix_manifest): given
    explicit per-language target weights and a 1M-token budget, the
    planning table — available docs/tokens, normalized weight, target
    tokens, epochs (upsampling factor) and the downsampling rate."""
    docs = _t(spark, sf_dir, "documents")
    return dsample.mix_manifest(
        docs,
        "lang",
        "text",
        {"en": 5, "de": 3, "fr": 1, "es": 1, "zh": 2},
        1_000_000,
    )


def repeated_lines_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level exact substring dedup, report form (operators/dedup.py
    repeated_lines): lines occurring in >=2 distinct documents — the
    CCNet/RefinedWeb boilerplate-detection pass."""
    return ddedup.repeated_lines(
        _segmented_docs(spark, sf_dir), "text", "doc_id", sep="\n", min_docs=2
    )


def strip_repeated_lines_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level exact substring dedup, rewrite form (operators/dedup.py
    strip_repeated_lines): every document with cross-document boilerplate
    lines removed, line order preserved, all-boilerplate documents kept
    with empty text."""
    return ddedup.strip_repeated_lines(
        _segmented_docs(spark, sf_dir), "text", "doc_id", sep="\n", min_docs=2
    )


def dup_spans_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental duplicated-span dedup (operators/dedup.py
    duplicate_spans_incremental): documents with doc_id % 5 != 0 play the
    persisted window-hash history (span_window_hashes), doc_id % 5 == 0
    the arriving batch; the result is the batch's spans whose windows
    duplicate history or >=2 batch documents — without re-hashing
    history. The oracle rebuilds both window relations and the merge
    verbatim."""
    docs = _t(spark, sf_dir, "documents")
    store = ddedup.span_window_hashes(
        docs.filter(F.col("doc_id") % 5 != 0), "text", "doc_id", n=8
    )
    spans, _ = ddedup.duplicate_spans_incremental(
        docs.filter(F.col("doc_id") % 5 == 0), store, "text", "doc_id", n=8
    )
    return spans


def cluster_store_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental connected components (operators/graph.py
    cluster_store_update): the exact-jaccard near-dup pair relation
    arrives as two batches folded into a persisted id-bucketed cluster
    store — contraction to representatives, batch-sized rep-graph
    closure, broadcast relabel; history never re-clusters. The oracle is
    the ONE-SHOT recursive-CTE transitive closure over ALL pairs, so the
    driver hash-verifies the fold law itself (batch folds == one-shot
    `connected_components` over the union)."""
    from dataframes_spark.io.store import drop_table_and_location

    t = "cluster_store_docs_q"
    drop_table_and_location(spark, t)
    # a 1/3 document subset keeps the pair stage (the same exact-jaccard
    # relation split_leak_safe_docs verifies at full width) from
    # dominating what this row exists to verify: the store fold law
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    pairs = ddedup.near_dup_pairs(
        docs, "text", "doc_id", min_jaccard=0.8, shingle_k=4
    )
    dgraph.cluster_store_update(spark, t, pairs.filter(F.col("id_a") % 2 == 0))
    dgraph.cluster_store_update(spark, t, pairs.filter(F.col("id_a") % 2 == 1))
    return spark.table(t).select("id", "component")


def rollup_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate (operators/rollup.py): the
    events stream folded as two batches into a persisted mergeable
    time-bucket store (count/sum/min/max per hour x event_type), then
    SERVED from the store — the oracle is the one-shot GROUP BY over
    all events, so the driver hash-verifies the rollup fold law itself
    (the TimescaleDB/Druid continuous-aggregate pattern;
    beyond-reference — the reference aggregates one-shot only,
    src/Table.luna aggregateBy). Bucketing is exact bigint epoch-µs
    floor arithmetic on both sides; sums of the 2-decimal values round
    at 4dp (exact — the true decimal terminates at 2dp)."""
    from dataframes_spark.io.store import drop_table_and_location
    from dataframes_spark.operators import rollup as drollup

    t = "rollup_hourly_events_q"
    drop_table_and_location(spark, t)
    ev = _t(spark, sf_dir, "events")
    for i in range(2):
        drollup.rollup_store_update(
            spark,
            t,
            ev.filter(F.col("event_id") % 2 == i),
            "ts",
            "value",
            "1 hour",
            by=["event_type"],
        )
    served = drollup.rollup_serve(spark, t)
    return served.select(
        "bucket_ts",
        "event_type",
        F.col("count").cast("bigint").alias("n_values"),
        F.round("sum", 4).alias("sum_value"),
        F.col("min").alias("min_value"),
        F.col("max").alias("max_value"),
    )


def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed batch EWMA (operators/ewma.py): per-user
    exponentially-weighted value average over (ts, event_id) order —
    pandas ``ewm(adjust=False)`` semantics (y1=x1) with NO per-user
    buffering (per-bucket affine summaries + a JVM carry fold), so a
    whale user never sits in one task. EWMA is order-dependent per ROW,
    so no rounding digit can bridge two engines' summation orders over
    10k rows (a 6dp tie appears immediately); instead the row pins
    EXACT arithmetic — alpha=1/2 (every weight a power of two),
    integer-rounded values (<=9 bits) and chains capped at 40 steps, so
    every intermediate is exactly representable (<=50 significand bits)
    and recursion == closed form == DuckDB's pow-sum BIT FOR BIT, no
    rounding anywhere (the pq_probe_pinned exact-relational pattern).
    General alphas are pinned against pandas/streaming in
    tests/test_ewma.py."""
    from dataframes_spark.operators.ewma import ewma as dewma
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    capped = (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 40)
        .select(
            "user_id",
            "event_id",
            "ts",
            F.round("value", 0).alias("xv"),
        )
    )
    out = dewma(capped, "xv", 0.5, ["ts", "event_id"], by=["user_id"])
    return out.select("event_id", F.col("ewma").alias("ewma_value"))


def rank_family_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed rank family (operators/global_order.py rank_stats +
    ntiles): rank / dense_rank / cume_dist with exact SQL tie semantics
    plus ntile(7) over a unique ordering, plus the GROUPED lane —
    cume_dist within event_type (per-group quantile normalization via
    cumsum_grouped, groups share order buckets so a whale group never
    serializes) — all five replayed against DuckDB's window functions
    bit for bit (ranks and tiles are exact integers; the cume_dists are
    ONE division of exact integers each), with no data-bearing
    SinglePartition anywhere (the percent_rank_events pattern,
    completing the family)."""
    from dataframes_spark.operators.global_order import ntiles, rank_stats

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_id", "event_type", "value")
    )
    rs = rank_stats(ev, "value")
    nt = ntiles(ev, 7, ["value", "event_id"]).select("event_id", "ntile")
    grs = rank_stats(
        ev, "value", part_by=["event_type"],
        rank_col=None, dense_rank_col=None, cume_dist_col="cd_by_type",
    ).select("event_id", "cd_by_type")
    return rs.join(nt, "event_id").join(grs, "event_id").select(
        "event_id",
        F.col("rank").alias("value_rank"),
        F.col("dense_rank").alias("value_dense_rank"),
        F.col("cume_dist").alias("value_cume_dist"),
        F.col("ntile").alias("value_ntile7"),
        F.col("cd_by_type").alias("value_cume_dist_by_type"),
    )


def decontaminate_semantic_vecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC decontamination (operators/decontaminate.py
    semantic_contamination_report): corpus embeddings screened against
    a broadcast eval set by exact cosine — every flagged doc with its
    closest eval item (ties to the larger eval id, deterministic). The
    eval set here is a 1-in-20 slice of the corpus itself (verbatim
    leakage — each member self-matches at cosine 1.0) plus whatever
    paraphrase-level neighbours clear the 0.25 threshold; the oracle
    replays dot/norm/argmax term for term (the
    embedding_dedup_incremental_vecs cosine idiom)."""
    from dataframes_spark.operators.decontaminate import (
        semantic_contamination_report,
    )

    vecs = _t(spark, sf_dir, "embeddings")
    evals = vecs.filter(F.col("vec_id") % 20 == 0)
    rep = semantic_contamination_report(
        vecs, evals, "embedding", "vec_id", threshold=0.25
    )
    return rep.select("id", "eval_id", F.round("cosine", 6).alias("cosine"))


def quality_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastText-style hashed quality classifier, scoring half
    (functions/classifier.py score_quality): mean-pooled hashed-word
    dot product + sigmoid per document, weights broadcast, corpus
    never shuffled beyond its (doc, bucket) reduction — the GPT-3
    WebText-screen shape (Brown et al. 2020 App. A). Pinned literal
    weights over the md5 lane make scoring exact relational algebra
    replayable in DuckDB (the pq_probe_pinned pattern); the TRAINING
    half (MLlib L-BFGS on reference-vs-crawl labels) is model-dependent
    and pinned by unit separation tests instead
    (tests/test_classifier.py)."""
    from dataframes_spark.functions import classifier as dclf

    docs = _t(spark, sf_dir, "documents")
    dim = 64
    weights = spark.createDataFrame(
        [(b, (b * 37 % 21 - 10) / 10.0) for b in range(dim)],
        "bucket int, weight double",
    )
    out = dclf.score_quality(
        docs, weights, 0.25, "text", "doc_id", dim=dim, lane_hash="md5"
    )
    return out.select(
        "doc_id", F.round("quality_prob", 6).alias("quality_prob")
    )


def classifier_eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation tooling (ml.py binary_metrics + auc_roc):
    thresholded confusion counts / precision / recall / f1 and the
    rank-sum ROC-AUC (average-rank tie correction, computed over the
    distinct-score relation via the distributed cumsum lane — never a
    global sort), against the lang='en' pseudo-label with the pinned
    quality-classifier scores as the ranking. Scores are the 6dp-rounded
    probabilities `quality_classifier_docs` proves engine-identical, so
    every count, ratio and the AUC are exact integer-and-half
    arithmetic — bit-identical, no output rounding."""
    from dataframes_spark.functions import classifier as dclf
    from dataframes_spark.ml import auc_roc, binary_metrics

    docs = _t(spark, sf_dir, "documents")
    dim = 64
    weights = spark.createDataFrame(
        [(b, (b * 37 % 21 - 10) / 10.0) for b in range(dim)],
        "bucket int, weight double",
    )
    scored = dclf.score_quality(
        docs, weights, 0.25, "text", "doc_id", dim=dim, lane_hash="md5"
    ).select(
        "doc_id", F.round("quality_prob", 6).alias("score")
    )
    labeled = scored.join(
        docs.select("doc_id", (F.col("lang") == "en").cast("int").alias("y")),
        "doc_id",
    )
    # the labeled relation feeds BOTH the metrics and the AUC branch:
    # persist the text-free (doc_id, score, y) rows at the fork so the
    # scoring pipeline runs once (the perplexity_buckets pattern)
    from pyspark import StorageLevel

    labeled = labeled.persist(StorageLevel.MEMORY_AND_DISK)
    metrics = binary_metrics(labeled, "score", "y", (0.55, 0.6, 0.65))
    auc = auc_roc(labeled, "score", "y")
    return metrics.crossJoin(F.broadcast(auc)).select(
        "threshold", "tp", "fp", "fn", "tn",
        "precision", "recall", "f1", "auc", "n_pos", "n_neg",
    )


def rollup_distinct_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-DISTINCT continuous aggregate (operators/rollup.py
    rollup_distinct_*): distinct users per hour served from a persisted
    keyed-HLL register store folded over two batches — the aggregate a
    numeric rollup cannot carry (distinct counts don't sum; registers
    max-merge, IDEMPOTENTLY — re-delivery-safe). md5 lane p=8: the full
    sketch (hash, register split, rank, exact-BIGINT harmonic
    denominator, linear-counting branch) replays in DuckDB per bucket
    (the hll_distinct_users_md5 idiom keyed by the exact epoch-floor
    bucket); the oracle is the ONE-SHOT sketch over all events, so the
    hash verifies the max-merge fold law too."""
    from dataframes_spark.io.store import drop_table_and_location
    from dataframes_spark.operators import rollup as drollup

    t = "rollup_distinct_hourly_q"
    drop_table_and_location(spark, t)
    ev = _t(spark, sf_dir, "events")
    for i in range(2):
        drollup.rollup_distinct_store_update(
            spark,
            t,
            ev.filter(F.col("event_id") % 2 == i),
            "ts",
            "user_id",
            "1 hour",
            p=8,
            lane_hash="md5",
        )
    est = drollup.rollup_distinct_serve_store(spark, t)
    return est.select(
        "bucket_ts", F.round("est_ndv", 6).alias("est_users")
    )


def decayed_sum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed running sum (operators/ewma.py decayed_sum):
    per-user trending score over irregular event times — pure JVM
    (fixed 16-half-life time buckets bound the exponents; RANGE-frame
    prefix + gap-aware carry fold), tie-inclusive time semantics so no
    tiebreak column is needed. The oracle is the closed-form
    exp-weighted self-join; 6dp rounding bridges the factored vs direct
    exponent FP paths (values are irrational — no decimal ties)."""
    from dataframes_spark.operators.ewma import decayed_sum

    ev = _t(spark, sf_dir, "events")
    out = decayed_sum(ev, "ts", "value", "2 hours", by=["user_id"])
    return out.select(
        "event_id", F.round("decayed_sum", 6).alias("decayed_value")
    )


#: tight for sf0.1 documents (5k rows / dominant lang ~couple k / 4
#: shards → k*2^5 = 2k per (lang, shard) covers it); see _KLL_CFG for
#: the overfull-is-still-valid and auto_passes rationale.
_KLL_LANG_CFG = {
    "k": 64, "shards": 4, "passes": 5, "merge_passes": 4,
    "auto_passes": False,
}
_KLL_LANG_QS = (0.5, 0.9)


def kll_by_lang_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP KLL rank quantiles (operators/kll.py key_cols): median
    and p90 document length per language from one keyed sketch build —
    compaction windows partition by (lang, shard, level), so groups
    never serialize and a whale language still spreads over its shards.
    Keyed build == per-key independent builds EXACTLY (coins and
    pairing never cross keys — unit-pinned), and the oracle replays the
    whole keyed sketch term for term (the generated-oracle pattern,
    _kll_oracle_sql with key='lang')."""
    docs = _t(spark, sf_dir, "documents")
    sk = dkll.kll_build(
        docs, "n_chars", "doc_id", key_cols=["lang"], **_KLL_LANG_CFG
    )
    return dkll.kll_quantiles(
        sk, list(_KLL_LANG_QS), key_cols=["lang"]
    ).select("lang", "q", "value")


def rollup_multi_weekly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-COLUMN continuous aggregate (operators/rollup.py rollup_multi):
    weekly per-column order rollups (o_totalprice + o_custkey) served
    from ONE persisted store folded over two batches — each input row
    fans out to k cells map-side, one scan per fold, and the column
    rides the merge key. Oracle = the one-shot per-column GROUP BYs
    UNION ALL'd, so the hash verifies both the k-way fan-out and the
    fold law (the rollup_hourly_events contract, column-keyed)."""
    from dataframes_spark.io.store import drop_table_and_location
    from dataframes_spark.operators import rollup as drollup

    t = "rollup_multi_weekly_q"
    drop_table_and_location(spark, t)
    # o_orderdate is TIMESTAMP_NTZ on disk; the session TZ is UTC, so
    # the cast resolves to the same wall-clock instant DuckDB reads
    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_orderdate", F.col("o_orderdate").cast("timestamp")
    )
    for i in range(2):
        drollup.rollup_multi_store_update(
            spark,
            t,
            orders.filter(F.col("o_orderkey") % 2 == i),
            "o_orderdate",
            ["o_totalprice", "o_custkey"],
            "1 week",
        )
    served = drollup.rollup_multi_serve(spark, t)
    return served.select(
        "bucket_ts",
        "col",
        F.col("count").cast("bigint").alias("n_values"),
        F.round("sum", 4).alias("sum_value"),
        F.col("min").alias("min_value"),
        F.col("max").alias("max_value"),
    )


def pipeline_observability_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event-observability capstone: the round's continuous-
    aggregate family composed end-to-end over one table — hourly
    volume + value rollup (`rollup.rollup`), md5-HLL distinct users
    per hour (`rollup.rollup_distinct`) and the 6-hour-half-life trend
    of hourly volume (`ewma.decayed_sum` over the bucket relation) —
    one row per hour, every stage's SQL twin composed in ONE oracle
    (the pipeline_curation_docs pattern for the analytics-serving
    side)."""
    from dataframes_spark.operators import rollup as drollup
    from dataframes_spark.operators.ewma import decayed_sum

    ev = _t(spark, sf_dir, "events")
    vol = drollup.rollup_finalize(
        drollup.rollup(ev, "ts", "value", "1 hour"),
        stats=("n_rows", "sum"),
    ).select(
        "bucket_ts",
        F.col("n_rows").alias("n_events"),
        F.round("sum", 4).alias("sum_value"),
    )
    users = drollup.rollup_distinct_serve(
        drollup.rollup_distinct(ev, "ts", "user_id", "1 hour", p=8,
                                lane_hash="md5"),
        p=8,
    ).select("bucket_ts", F.round("est_ndv", 6).alias("est_users"))
    trend = decayed_sum(
        vol.select("bucket_ts", "n_events"),
        "bucket_ts",
        "n_events",
        "6 hours",
        out_col="__tr",
    ).select("bucket_ts", F.round("__tr", 6).alias("volume_trend"))
    return (
        vol.join(users, "bucket_ts").join(trend, "bucket_ts")
        .select("bucket_ts", "n_events", "sum_value", "est_users",
                "volume_trend")
    )


def corpus_report_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card (quality.py corpus_report): per-source volume,
    token mass, exact-duplicate exposure (corpus-wide md5, null-equal)
    and dominant language with its share — the summary a pipeline
    publishes alongside the data."""
    docs = _t(spark, sf_dir, "documents")
    return dquality.corpus_report(docs, "text", "source", label_col="lang")


def dup_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level duplicated-span report (operators/dedup.py
    duplicate_spans): maximal runs of >=8 whitespace tokens shared
    verbatim (case-folded) across >=2 documents — the window-hash scale
    form of ExactSubstr training-data dedup (Lee et al. 2022)."""
    docs = _t(spark, sf_dir, "documents")
    return ddedup.duplicate_spans(docs, "text", "doc_id", n=8, min_docs=2)


def strip_dup_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level duplicated-span rewrite (operators/dedup.py
    strip_duplicate_spans): every document with its cross-document
    duplicated token spans cut out, surviving tokens rejoined."""
    docs = _t(spark, sf_dir, "documents")
    return ddedup.strip_duplicate_spans(
        docs, "text", "doc_id", n=8, min_docs=2
    ).select("doc_id", "text")


# --------------------------------------------------------------------------
# contract functions
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering is deliberate: the driver's correctness gate samples the
    # FIRST 50 entries, so every query new in round 5 sits inside that
    # window. Composition (second half of round 5): 15 first-batch rows
    # (md5-mode ANN verification, salted agg, interval/fuzzy/upsert
    # joins, clustering, repetition, mixtures, sampling, splits, vocab,
    # tf-idf, packing) + 11 second-batch rows (line-level dedup report
    # and strip, cube, unigram LM score, bloom semi join, histogram,
    # dense-spine resample, winsorize, nearest as-of, skew report,
    # grouped z-score) + the long-standing never-rotated core. Round 6:
    # ZERO rows-only queries remain in-window — minhash_lsh_pairs_md5
    # and ivf_probe_pinned (both hash-verified) replace
    # minhash_lsh_candidates and ivf_topk_probe, which rotate below;
    # simhash_fingerprints and lsh_similarity_topk already sit below the
    # window in favor of their md5 twins. Every rotated-out row is multiply
    # driver-green (r1-r4) and stays covered by tools/check_oracle.py
    # (full 97-query sweeps at sf0.01 AND sf0.1 this round: 0 failed)
    # and the unit suite. Round 7: every query that shipped in rounds 6-7
    # without ever receiving a driver row enters the window (see the
    # rotation-sweep comment below) — driver coverage now reaches the
    # whole inventory at least once. Keep this discipline: any NEW query
    # must enter within the first 50 in the round it ships.
    return {
        # -- round 8: (a) the partition-free global-order operators
        #    (shift/interpolate/rollingInterval) moved to the distributed
        #    range-bucketed lane (operators/global_order.py) — a NEW code
        #    path under long-green names, so shift_lag, interpolate_linear
        #    and rolling_1h re-enter the window for driver re-verification;
        #    (b) ivf_probe_partitioned proves the cluster-partitioned
        #    on-disk IVF index (PartitionFilters pruning, same oracle as
        #    ivf_probe_pinned); (c) ann_recall_report hash-verifies the
        #    recall@k quality dial (pinned queries + centers + md5 planes).
        #    To hold the window at 50, five TRIPLY-green (r5-r7) rows
        #    rotate below, families still in-window: vocab_topk_docs +
        #    tfidf_top_terms + weighted_sample_docs (text/sampling stay
        #    via unigram_logprob_docs, repetition_docs, mix_corpus_sources,
        #    cap_docs_per_source, split_documents), upsert_documents +
        #    fuzzy_part_names (join family stays via interval_overlap_
        #    purchases + asof_nearest_purchase + attribution_stream_clicks).
        # -- round 8 (continuation): event-analytics operators — the
        #    ordered-step funnel (one groupBy fold, no k-way self-join)
        #    and the cohort retention matrix (one (user,period) shuffle).
        #    Both hash-verify against the textbook nested-min / first-
        #    seen-join SQL. To hold the window at 50, two TRIPLY-green
        #    (r5-r7) rows rotate below: unigram_logprob_docs (text
        #    family stays via repetition_docs + quality_quartiles_docs)
        #    and length_histogram_docs (distribution family stays via
        #    quality_quartiles_docs + winsorize_prices).
        # -- round 8 (continuation): z-order clustered writes — the
        #    multi-column locality layout (quantile-banded Morton key,
        #    range-partitioned files; footer-interval proof in
        #    tests/test_zorder.py). Content-identity hash-verified here.
        #    csv_roundtrip_agg's slot effectively returns: it rotated
        #    below in r7 and the IO-write family stays multiply covered
        #    (xlsx/feather/orc/jsonl + this row).
        # -- round 10: (a) the three operators that shipped r9 unit-only
        #    get their first driver rows — oov_report_docs (broadcast
        #    vocab join + fold), dsir_model_report_docs (KL selection
        #    pressure) and dsir_ess_docs (Kish effective sample size);
        #    (b) the last three single-reducer queries moved to the
        #    DISTRIBUTED row-position lane (global_order.global_positions
        #    / cumsum_global — SANCTIONED_WARNINGS in tests/test_plans.py
        #    is now EMPTY), a NEW code path under long-green names, so
        #    pack_documents_cumsum, concat_horizontal and
        #    facade_from_columns_index re-enter the window for driver
        #    re-verification (the r8 shift/interpolate precedent). To
        #    hold the window at 50, six multiply-green rows rotate
        #    below, families still in-window: ivf_probe_pinned (r7-r9;
        #    ANN stays via ivf_probe_partitioned + ann_recall_report +
        #    pq_probe_pinned), facade_column_surgery (r7-r9; facade
        #    stays via facade_from_columns_index), pack_materialize_docs
        #    (r7-r9; packing stays via pack_documents_cumsum +
        #    chunk_documents below plus the materialize unit pins),
        #    bottomk_sample_docs + hll_overlap_users_md5 (r8-r9;
        #    sampling stays via weighted_merge_docs + mix rows, sketches
        #    via cms_heavy_tokens_md5 + hll_distinct_users_md5) and
        #    outlier_events_value (r8-r9; robust-stats family stays via
        #    drift_psi_prices + corpus_report_docs).
        # windowed funnel ("converted within T"): exact linear-state
        # fold vs the quadratic exists-join oracle. melt_lineitem
        # (green r5-r7) rotates below; single-scan reshape stays
        # in-window via chunk_documents + the pack rows.
        # -- round 10 (second batch): distributed batch EWMA — the
        #    streaming per-key EWMA's batch twin on the global-order
        #    lane (per-bucket affine summaries + JVM carry fold, no
        #    per-user buffering), hash-verified against the closed-form
        #    weighted-sum self-join. To hold the window at 50,
        #    cohort_retention_daily (driver-green r8-r9, batch retention
        #    code unchanged this round) rotates below; the
        #    event-analytics family stays in-window via funnel_events +
        #    funnel_events_windowed + event_transitions_users +
        #    top_paths_events.
        "ewma_user_values": ewma_user_values,
        # -- round 10 (second batch): the half-life decayed sum — the
        #    trending/freshness primitive over irregular event times,
        #    pure JVM (fixed time buckets + gap-aware carry fold),
        #    closed-form exp self-join oracle. To hold the window at
        #    50, hist_quantiles_events (driver-green r9, code
        #    unchanged) rotates below; the quantile-sketch family
        #    stays in-window via kll_quantiles_events (the mergeable
        #    rank sketch that supersedes fixed-bin quantiles), and the
        #    fixed-bin lane stays in the full local sweep + units.
        "decayed_sum_events": decayed_sum_events,
        # -- round 10 (second batch): keyed KLL — per-language rank
        #    quantiles from one sketch build (the keyed face of
        #    kll_quantiles_events; keyed == per-key builds pinned),
        #    oracle generated with key='lang'. To hold the window at
        #    50, zipf_docs (driver-green r9, code unchanged) rotates
        #    below; the text/corpus-health family stays in-window via
        #    gopher_rules_docs, bigram_logprob_docs, lang_mix_docs,
        #    oov_report_docs, c4_rules_docs, ccnet_buckets_docs and
        #    quality_classifier_docs.
        "kll_by_lang_docs": kll_by_lang_docs,
        # -- round 10 (new operators, continuation): four corpus-curation
        #    operators from the published playbooks, each hash-verified:
        #    c4_rules_docs — the C4 cleaning heuristics (Raffel et al.
        #    2020 §2.2: terminal-punctuation/min-words/javascript line
        #    filters, sentence/lorem/brace page verdicts) over
        #    deterministically punctuated re-segmented docs (the
        #    gopher_rules_docs structure pattern); ccnet_buckets_docs —
        #    CCNet per-language perplexity tertiles (Wenzek et al. 2020)
        #    with exact thresholds over 6dp-rounded LM scores
        #    (interpolated quantiles of identical inputs are
        #    bit-identical — verified); epoch_shuffle_docs — the
        #    deterministic per-epoch training shuffle (md5-keyed shard +
        #    per-shard position); semdedup_pinned_vecs — SemDedup (Abbas
        #    et al. 2023) with pinned centroids (the ivf_probe_pinned
        #    recipe). To hold the window at 50, four DOUBLY-green
        #    (r8-r9) rows rotate below: cms_heavy_tokens_md5 +
        #    hll_distinct_users_md5 (sketch family stays in-window via
        #    kll_quantiles_events + hist_quantiles_events),
        #    bm25_docs (text/retrieval family stays via gopher_rules_docs,
        #    zipf_docs, bigram_logprob_docs, lang_mix_docs,
        #    oov_report_docs) and drift_psi_prices (drift family stays
        #    via drift_categorical_events + drift_multi_lineitem).
        "c4_rules_docs": c4_rules_docs,
        "ccnet_buckets_docs": ccnet_buckets_docs,
        "epoch_shuffle_docs": epoch_shuffle_docs,
        "semdedup_pinned_vecs": semdedup_pinned_vecs,
        # -- round 10 (continuation): distributed BPE merge induction
        #    (Sennrich et al. 2016) — the tokenizer-training loop
        #    itself, hash-verified round for round by a GENERATED
        #    unrolled-CTE oracle (pair counts, deterministic argmax,
        #    greedy-fold merge semantics). weighted_merge_docs (doubly
        #    green r8-r9) rotates below; the sampling family stays
        #    in-window via mix_temperature_docs + mix_manifest_docs +
        #    dsir_sample_docs + epoch_shuffle_docs.
        "bpe_merges_docs": bpe_merges_docs,
        # -- round 8 (continuation): PCA over embeddings — the
        #    covariance face hash-verifies (one constant-state moment
        #    scan vs DuckDB covar_pop). quality_quartiles_docs and
        #    xlsx_roundtrip_agg (both green r6-r7) rotate below; the
        #    quantile family stays in-window via describe-style rows
        #    downstream and the IO family via feather/orc/read_text rows.
        # -- round 9: pca_label_summary (rows-only: the eigh is not
        #    SQL-expressible) broke the zero-rows-only-in-window rule in
        #    r8; it rotates below and its slot goes to
        #    pca_project_pinned, which hash-verifies the SAME projection
        #    code path against pinned literal components (the
        #    ivf_probe_pinned pattern).
        # -- round 10 (second batch): the rest of the distributed rank
        #    family — rank/dense_rank/cume_dist (tie-exact, key-relation
        #    cumsum) + ntile (position-exact integer tiling), one row
        #    replaying all four against DuckDB's windows bit for bit.
        #    To hold the window at 50, embedding_covariance_upper
        #    (driver-green r8-r9, code unchanged this round) rotates
        #    below; the PCA/moments family stays in-window via
        #    pca_project_pinned, and the covariance lane stays in the
        #    full local sweep + unit pins.
        "rank_family_events": rank_family_events,
        # (pca_project_pinned rotated below in round 12 after going
        # green r9-r11 — see the html_extract_docs comment.)
        # -- round 9 (new): categorical (value-bucket) PSI drift — the
        #    top-k + __other__ gate for language/source/license columns
        #    numeric binning can't express; derivation, bucketing,
        #    smoothing and terms all replayed in DuckDB.
        #    minhash_signatures_md5 (green r5-r8) rotates below; the md5
        #    fingerprint family stays in-window via
        #    simhash_fingerprints_md5 + minhash_lsh_pairs_md5 (which
        #    verifies the same minhash lanes end-to-end).
        # ("drift_categorical_events" rotated below in round 12 — see the
        # round-12 window-top comments.)
        # -- round 8 (continuation): the k-column drift gate in one
        #    scan per side. ols_price_qty (green r1-r7, the most
        #    multiply-green remaining row) rotates below; the
        #    regression/ML family stays in-window via
        #    embedding_covariance_upper + pca_label_summary +
        #    ivf_probe_pinned. (drift_multi_lineitem itself rotated
        #    below in round 10 after going green r8-r9; drift stays via
        #    drift_psi_prices + drift_categorical_events.)
        # -- round 10 (new): INCREMENTAL connected components — the
        #    persisted cluster store that lets the dedup→cluster→split
        #    chain fold epoch edges without re-clustering history; the
        #    oracle is the one-shot closure over the union, so the hash
        #    verifies the fold law itself.
        "cluster_store_incremental_docs": cluster_store_incremental_docs,
        # -- round 10 (second batch): the hypertable-style continuous
        #    aggregate — a persisted mergeable time-bucket rollup store
        #    folded over two batches and SERVED from the store; the
        #    oracle is the one-shot GROUP BY, so the driver verifies the
        #    fold law (the dsir_incremental_docs pattern). To hold the
        #    window at 50, ivf_probe_partitioned (driver-green r8-r9,
        #    code unchanged this round) rotates below; the ANN family
        #    stays in-window via pq_probe_pinned + semdedup_pinned_vecs,
        #    and the partitioned-IVF lane stays in the full local sweep
        #    + its PartitionFilters plan pin.
        "rollup_hourly_events": rollup_hourly_events,
        # -- round 10 (second batch): the count-DISTINCT face of the
        #    continuous aggregate — keyed-HLL registers per time bucket,
        #    idempotent max-merge store, full md5 sketch replay. To hold
        #    the window at 50, rolling_1h (driver-green r8-r9 on the
        #    current lane, untouched this round) rotates below; interval
        #    rolling stays covered by the full local sweep + unit +
        #    plan pins, and the global-order family keeps
        #    ewma_user_values + rank_family_events + percent_rank_events
        #    + the row-position re-entries in-window.
        "rollup_distinct_hourly_events": rollup_distinct_hourly_events,
        # -- round 10 (second batch): the k-column face of the
        #    continuous aggregate — one scan fans each row to k cells,
        #    the column rides the merge key; fold law + fan-out both
        #    hash-verified. To hold the window at 50, top_paths_events
        #    (driver-green r9, code unchanged) rotates below; the
        #    event-analytics family stays in-window via funnel_events,
        #    funnel_events_windowed, event_transitions_users,
        #    decayed_sum_events and ewma_user_values.
        "rollup_multi_weekly_orders": rollup_multi_weekly_orders,
        # -- round 10 (second batch): the observability capstone — the
        #    continuous-aggregate family (rollup + keyed md5-HLL +
        #    half-life trend) composed end-to-end, all three stages'
        #    SQL twins in ONE oracle (the pipeline_curation_docs
        #    pattern). To hold the window at 50, snapshot_diff_docs
        #    (driver-green r9, code unchanged) rotates below; the
        #    diff/accounting family stays property-tested
        #    (tests/test_diff_property.py) and in the full local sweep.
        "pipeline_observability_events": pipeline_observability_events,
        # -- round 9 (new): product quantization — the IVF+PQ recipe's
        #    compression half (dim floats -> m codes; ADC scoring reads
        #    only codes + a literal lookup table). Pinned codebooks make
        #    encode+score exact relational algebra (the ivf_probe_pinned
        #    pattern). lsh_buckets_md5 (green r5-r8) rotates below; the
        #    ANN family keeps three in-window rows (ivf_probe_pinned,
        #    ivf_probe_partitioned, ann_recall_report).
        # -- round 9 (new, second batch): token-level duplicated-span
        #    dedup — the ExactSubstr pass of Lee et al. 2022 in its
        #    window-hash form (report + rewrite, both hash-verified
        #    against a term-for-term DuckDB replay). To keep the window
        #    at 50, jsonl_roundtrip_agg and orc_roundtrip_agg (both
        #    driver-green r8) rotate below; the distributed-source
        #    family stays in-window via read_text_csv_agg and
        #    zorder_roundtrip_agg.
        # ("strip_dup_spans_docs" rotated below in round 12 — see the
        # round-12 window-top comments.)
        # -- round 9 (new, second batch): the incremental window-hash
        #    store twin of the span pass (history never re-hashes; the
        #    wh-bucketed store joins as-scanned, plan-pinned).
        #    strip_repeated_lines_docs (driver-green r5-r8) rotates
        #    below; the line-dedup family stays in-window via
        #    repeated_lines_docs, and the rewrite lane via
        #    strip_dup_spans_docs.
        # -- round 9 (new, second batch): corpus-bigram LM scoring —
        #    the context-aware upgrade of the unigram quality filter.
        #    chunk_documents (driver-green r5-r8) rotates below; the
        #    packing family stays in-window via pack_materialize_docs.
        # -- round 9 (new, second batch): the incremental family's
        #    SEMANTIC modality — embedding near-dups against the
        #    persisted hyperplane-bucketed store (md5 planes, replayed
        #    end-to-end in DuckDB). near_dup_incremental_docs
        #    (driver-green r7-r8) rotates below; the incremental family
        #    stays in-window via this row and dup_spans_incremental_docs.
        # ("embedding_dedup_incremental_vecs" rotated below in round 12 — see the
        # round-12 window-top comments.)
        # -- round 9 (new, second batch): the corpus data card — the
        #    per-source summary a pipeline publishes (volume, tokens,
        #    corpus-wide exact-dup exposure, dominant language).
        #    standardize_prices (driver-green r8) rotates below.
        # ("corpus_report_docs" rotated below in round 12 — see the
        # round-12 window-top comments.)
        # -- round 9 (new, second batch): leakage-safe splitting — the
        #    near-dup closure assigned to train/val/test as units
        #    (split_by_cluster). dedup_incremental_docs (driver-green
        #    r7 AND r8) rotates below; the incremental-dedup family
        #    stays in-window via near_dup_incremental_docs.
        # ("split_leak_safe_docs" rotated below in round 12 — see the
        # round-12 window-top comments.)
        # -- round 9 (continuation): DSIR importance resampling (Xie et
        #    al. 2023) — hashed n-gram bucket model (md5 lane), per-doc
        #    log importance weights, and the deterministic Gumbel top-k
        #    resample; fit/weigh/resample each replayed term-for-term in
        #    DuckDB. To hold the window at 50, split_documents (driver-
        #    green r5-r8; split family stays via split_leak_safe_docs +
        #    shard_report_docs) and read_text_csv_agg (driver-green
        #    r7-r8; IO family stays via zorder_roundtrip_agg, csv/xlsx/
        #    orc/jsonl roundtrips all multiply green below) rotate below.
        # -- round 9 (continuation): the DSIR incremental-fit law —
        #    bucket counts are the model's sufficient statistic, so the
        #    fold over disjoint batches must reproduce the one-shot fit
        #    (oracle = the unsplit SQL). pipeline_clean_corpus (driver-
        #    green r5-r8) rotates below; every operator it composes
        #    stays individually in-window via the dedup/quality/sampling
        #    rows.
        "dsir_incremental_docs": dsir_incremental_docs,
        # -- round 9 (continuation): the Gopher filtering rules (Rae et
        #    al. 2021) — per-document measurements + seven 0/1 verdicts
        #    + composite, one map-only scan, replayed in DuckDB over the
        #    same re-segmented corpus. simhash_fingerprints_md5
        #    (driver-green r6-r8) rotates below; the fingerprint/dedup
        #    family stays via minhash_lsh_pairs_md5 + the span-dedup and
        #    near-dup rows.
        # -- round 9 (continuation): path analytics completing the event
        #    family (funnel/cohort/sessionize) — the first-order Markov
        #    transition matrix and the top-k first-5-step journeys, both
        #    one user-keyed exchange. To hold the window at 50, cube_qty
        #    (driver-green r5-r8; grouping-set family stays multiply
        #    green below via rollup_qty + pivot_returnflag) and
        #    embedding_near_dup_clusters (driver-green r7-r8; semantic
        #    family stays via embedding_dedup_incremental_vecs +
        #    pq/ivf rows) rotate below.
        # (top_paths_events rotated below in the round-10 second batch
        # after going green r9; path analytics stays in-window via
        # event_transitions_users + the funnel rows.)
        # -- round 9 (continuation): corpus-mixing planning — the
        #    temperature (n^tau) reshaping with its md5-deterministic
        #    materialization, and the explicit-weights token-budget
        #    manifest (epochs / sample_rate). To hold the window at 50,
        #    repeated_lines_docs (driver-green r5-r8; the line/span
        #    boilerplate family stays via dup_spans_docs +
        #    strip_dup_spans_docs) and shard_report_docs (driver-green
        #    r7-r8; sampling family stays via weighted_merge_docs +
        #    bottomk_sample_docs + the dsir and mix rows) rotate below.
        # -- round 9 (continuation): the Zipf corpus-health fit — the
        #    one-number "does this batch still look like language?"
        #    alarm. dedup_best_quality_docs (driver-green r5-r8) rotates
        #    below; the dedup/cluster family stays via the span, minhash
        #    and incremental rows. (zipf_docs itself rotated below in
        #    the round-10 second batch after going green r9; corpus
        #    health stays via corpus_report_docs + lang_mix_docs.)
        # -- round 9 (continuation): histogram-sketch quantiles — the
        #    mergeable constant-size quantile estimate completing the
        #    sketch family (CMS counts, HLL cardinality, bottom-k
        #    sampling, histogram quantiles). quality_report_lineitem
        #    (driver-green r7-r8) rotates below; the quality family
        #    stays via the drift rows + corpus_report_docs.
        #    (hist_quantiles_events itself rotated below in the round-10
        #    second batch after going green r9; the quantile-sketch
        #    family stays via kll_quantiles_events.)
        # -- round 10 (new): KLL-style mergeable RANK-quantile sketch —
        #    quantiles with NO (lo, hi) domain requirement, the gap the
        #    histogram sketch left open; md5-derandomized coins make the
        #    whole compaction DuckDB-replayable (generated unrolled-CTE
        #    oracle), so the estimates hash-verify. ann_recall_report
        #    (green r8-r9) rotates below; ANN stays in-window via
        #    ivf_probe_partitioned + pq_probe_pinned.
        "kll_quantiles_events": kll_quantiles_events,
        # -- round 9 (continuation): the corpus rebuild diff — row-status
        #    and per-column change counts from one null-safe full outer
        #    join. partitioned_prune_events (driver-green r4-r8) rotates
        #    below; partition-pruning proof stays in-window via
        #    zorder_roundtrip_agg + ivf_probe_partitioned.
        #    (snapshot_diff_docs itself rotated below in the round-10
        #    second batch after going green r9; the diff family stays
        #    property-tested and locally swept.)
        # -- round 9 (continuation): line-level language mixing — the
        #    langid second pass over segmented lines. To hold the window
        #    at 50, minhash_lsh_pairs_md5 (driver-green r6-r8) rotates
        #    below; the dedup family stays in-window via the span-dedup
        #    rows + embedding_dedup_incremental_vecs, and the md5 lanes
        #    stay locally hash-checked below the window.
        "lang_mix_docs": lang_mix_docs,
        # -- round 10 (second batch): the hashed quality classifier's
        #    scoring lane — pinned md5-bucket weights, mean-pooled dot +
        #    sigmoid replayed in DuckDB term for term. To hold the
        #    window at 50, shift_lag (driver-green r8-r9 on the current
        #    tail-carry lane, untouched this round) rotates below; the
        #    global-order family stays in-window via rolling_1h +
        #    interpolate_linear + ewma_user_values + rank_family_events
        #    + percent_rank_events.
        "quality_classifier_docs": quality_classifier_docs,
        # -- round 10 (second batch): evaluation tooling — thresholded
        #    binary metrics + rank-sum ROC-AUC (average-rank ties, the
        #    distributed cumsum lane) over the pinned classifier scores;
        #    exact integer-and-half arithmetic, bit-identical with no
        #    rounding. To hold the window at 50, interpolate_linear
        #    (driver-green r8-r9 on the current DESC-frame lane,
        #    untouched this round) rotates below; the global-order
        #    family keeps rolling_1h + ewma_user_values +
        #    rank_family_events + percent_rank_events in-window.
        "classifier_eval_docs": classifier_eval_docs,
        # -- round 6: the last two in-window rows-only queries are
        #    replaced by hash-VERIFIED twins. minhash_lsh_pairs_md5
        #    verifies the banded candidate generator itself (md5 lanes +
        #    exact value buckets); ivf_probe_pinned verifies the whole
        #    IVF probe stage given pinned centroids. The xxhash64/KMeans
        #    originals (minhash_lsh_candidates, ivf_topk_probe) rotate
        #    below the window — still rows-only by nature, still run.
        #    (ivf_probe_pinned itself rotated below in round 10 after
        #    going green r6-r9; ANN stays via ivf_probe_partitioned +
        #    ann_recall_report + pq_probe_pinned.)
        # -- round 10 (continuation): incremental BPE — the word-type
        #    count fold IS the sufficient statistic; the oracle is the
        #    UNSPLIT one-shot SQL, so the hash equality proves the fold
        #    law (the dsir_incremental_docs pattern).
        #    decontaminate_docs (the most multiply-green remaining
        #    in-window row, r5-r9) rotates below; decontamination stays
        #    verified by the full local sweep + the streaming
        #    decontaminate gate's stream==batch pins.
        "bpe_incremental_docs": bpe_incremental_docs,
        # -- round 10 (continuation): the corpus-wide encode check for
        #    the BPE family — fertility over the FINAL rewritten type
        #    relation, the one rewrite the argmax chain doesn't pin.
        #    salted_agg_events (multiply green r5-r9) rotates below;
        #    the aggregate family stays in-window via
        #    q1_pricing_summary (and the skew tooling keeps its unit +
        #    full-sweep coverage).
        "bpe_fertility_docs": bpe_fertility_docs,
        # -- round 10 (capstone): the curation playbook end-to-end —
        #    C4 verdicts + CCNet tail drop + exact dedup + epoch-1
        #    shuffle, folded per (lang, shard); all four stages' SQL
        #    twins compose in ONE oracle. bloom_semi_orders (multiply
        #    green r5-r9) rotates below; the bloom pushdown stays
        #    pinned by tests/test_bloom.py and the full local sweep.
        "pipeline_curation_docs": pipeline_curation_docs,
        # -- round 11 (new): URL-level dedup — C4's stage-0 pass, the
        #    gap the r10 verdict ranked #2: RFC 3986 canonicalization
        #    (scheme/host case, default ports, tracking params,
        #    fragments, trailing slashes) as pure JVM regex/array
        #    expressions, hash-verified term for term, plus the min-id
        #    keep rule on the slim (canonical, id) projection and the
        #    incremental fingerprint-store twin (url-bucketed store
        #    joins with no history reshuffle, plan-pinned in
        #    tests/test_url.py). To hold the window at 50, two
        #    driver-green r9-r10 code-unchanged rows rotate below:
        #    dsir_ess_docs (DSIR family stays in-window via
        #    dsir_weights_docs + dsir_sample_docs + dsir_incremental_
        #    docs + dsir_model_report_docs) and concat_horizontal (the
        #    distributed position lane stays in-window via
        #    facade_from_columns_index + pack_documents_cumsum +
        #    mixture_order_docs).
        "url_dedup_docs": url_dedup_docs,
        "url_dedup_incremental_docs": url_dedup_incremental_docs,
        # host_report completes the URL family's driver coverage (the
        # crawl-composition data card). To hold the window at 50,
        # event_transitions_users (driver-green r9-r10, code unchanged)
        # rotates below; event analytics stays in-window via
        # decayed_sum_events + ewma_user_values + rank_family_events.
        "url_host_report_docs": url_host_report_docs,
        # -- round 11 (new): the trained-langid scoring lane — the r10
        #    verdict's #1 ask (langid is CCNet stage 1; the stopword
        #    argmax was the weakest load-bearing component): multiclass
        #    hashed char-n-gram linear scoring with pinned md5-lane
        #    weights in exact 1/16 arithmetic, argmax replayed in
        #    DuckDB bit for bit; training (MLlib multinomial) pinned by
        #    tests/test_langid.py's perfect-separation + store
        #    roundtrip. To hold the window at 50, oov_report_docs
        #    (driver-green r10, code unchanged) rotates below; the
        #    text-health family stays in-window via gopher_rules_docs,
        #    bigram_logprob_docs, lang_mix_docs, c4_rules_docs,
        #    ccnet_buckets_docs and corpus_report_docs.
        "langid_classifier_docs": langid_classifier_docs,
        # -- round 11 (new): unigram-LM tokenizer training (Kudo 2018
        #    hard-EM) — the second production tokenizer family next to
        #    BPE, over the SAME word-type sufficient statistic; the
        #    ENTIRE training loop (ranked substring seed, recursive
        #    Viterbi E-steps with explicit tie orders, add-one
        #    6dp-quantized M-steps, rank prunes) replays in a generated
        #    recursive-CTE DuckDB oracle (the bpe_merges_docs
        #    precedent), plus the fertility twin over one further
        #    E-step. To hold the window at 50, two driver-green r10
        #    code-unchanged rows rotate below: dsir_model_report_docs
        #    (DSIR stays in-window via dsir_weights_docs +
        #    dsir_sample_docs + dsir_incremental_docs) and
        #    pack_documents_cumsum (the position lane stays via
        #    facade_from_columns_index + mixture_order_docs +
        #    percent_rank_events).
        "unigram_lm_docs": unigram_lm_docs,
        "unigram_fertility_docs": unigram_fertility_docs,
        # -- round 11 (capstone): tokenize-and-pack — tokenizer training
        #    + token counts + token-budgeted packing composed in ONE
        #    oracle (the pipeline_curation_docs pattern; the loader-side
        #    endgame the char-budget pack rows stood in for). To hold
        #    the window at 50, mix_manifest_docs (driver-green r9-r10,
        #    code unchanged) rotates below; the mixing family stays
        #    in-window via mixture_order_docs.
        "pipeline_tokenize_pack_docs": pipeline_tokenize_pack_docs,
        # -- round 11 (continuation): WordPiece merge induction — the
        #    third tokenizer family (likelihood-gain argmax over the
        #    shared BPE machinery), every round replayed by the
        #    parameterized generated oracle. To hold the window at 50,
        #    gopher_rules_docs (driver-green r9-r10, code unchanged)
        #    rotates below; the text-health family stays in-window via
        #    c4_rules_docs, ccnet_buckets_docs, lang_mix_docs and
        #    corpus_report_docs.
        "wordpiece_merges_docs": wordpiece_merges_docs,
        # -- round 12 (new): HTML→text boilerplate extraction — the r11
        #    verdict's #1 ask, the one published-pipeline stage that
        #    precedes everything already hash-verified (C4/CCNet/
        #    RefinedWeb consume EXTRACTED text): jusText-lineage block
        #    segmentation + link-density/word-count block verdicts +
        #    entity decode, map-only JVM higher-order work over
        #    deterministic synthetic crawl pages, the ENTIRE rewrite
        #    chain replayed in DuckDB (both regex dialects agree on
        #    every construct used; backreferences deliberately avoided —
        #    RE2 has none). To hold the window at 50, pca_project_pinned
        #    (driver-green r9-r11, code unchanged) rotates below; the
        #    PCA/moments family stays unit-pinned + in the full local
        #    sweep, and the pinned-literal verification pattern stays
        #    in-window via semdedup_pinned_vecs.
        "html_extract_docs": html_extract_docs,
        # -- round 12 (new): perceptual image fingerprints + Hamming-
        #    banded near-dup — the r11 verdict's #2 ask (LAION-style
        #    model-free image dedup): image_hashes_docs hash-verifies
        #    the Arrow-batched mapInPandas fingerprint lane (sha256
        #    stand-in bytes, the media_decode_stats precedent);
        #    phash_pairs_pinned hash-verifies 2-byte-band candidate
        #    generation (the production width: recall to d<=3) + exact
        #    XOR-popcount verification over fingerprints with known
        #    collisions; phash_dedup_incremental_docs hash-verifies
        #    the store contract (band-bucket equi-join, inline
        #    verification — the store carries the 8-byte fingerprint,
        #    so no corpus fetch-back exists). To hold the window at
        #    50, three multiply-green code-unchanged rows rotate
        #    below: drift_categorical_events (driver-green r9-r11;
        #    the drift family stays locally swept + unit-covered and
        #    pipeline_observability_events keeps the trend lane
        #    in-window), strip_dup_spans_docs (r9-r11; span dedup
        #    stays in the full sweep, the rewrite lane via the line
        #    rows below) and embedding_dedup_incremental_vecs
        #    (r9-r11; the incremental family stays in-window via
        #    cluster_store_incremental_docs + the two phash
        #    incremental rows entering, and the semantic lane via
        #    semdedup_pinned_vecs).
        "image_hashes_docs": image_hashes_docs,
        "phash_pairs_pinned": phash_pairs_pinned,
        "phash_dedup_incremental_docs": phash_dedup_incremental_docs,
        # -- round 12 (continuation): the image-dedup capstone — pairs →
        #    connected-component closure → quality-aware keep (pixel
        #    count from the fake-decode lane, ties min id), every stage
        #    in ONE oracle (recursive-CTE closure, the
        #    near_dup_clusters pattern). To hold the window at 50,
        #    dsir_sample_docs (driver-green r9-r11, code unchanged)
        #    rotates below; the DSIR family stays in-window via
        #    dsir_incremental_docs.
        "image_dedup_docs": image_dedup_docs,
        # -- round 12 (new): byte-level BPE — the r11 verdict's #3 ask,
        #    the GPT-2 family completing the tokenizer-trainer set
        #    (BPE/WordPiece/unigram-LM all ran on char-seeded word
        #    types; the deployed production variant seeds with
        #    remapped UTF-8 bytes + the leading space marker, no
        #    unknown token possible). Same merge loop, same generated
        #    oracle with the byte s0 injected from the module's
        #    bytes_to_unicode constant; the fertility twin pins the
        #    final rewrite and compares against bpe_fertility_docs at
        #    equal merge count. To hold the window at 50, two
        #    multiply-green code-unchanged rows rotate below:
        #    corpus_report_docs (driver-green r9-r11; the data-card
        #    family stays locally swept and the quality lane stays
        #    in-window via quality_classifier_docs +
        #    classifier_eval_docs) and split_leak_safe_docs
        #    (driver-green r9-r11; leakage-safe splitting stays
        #    unit-covered + locally swept, and the cluster lane stays
        #    in-window via cluster_store_incremental_docs).
        "byte_bpe_merges_docs": byte_bpe_merges_docs,
        "byte_bpe_fertility_docs": byte_bpe_fertility_docs,
        # -- round 12 (rotation-freshness sweep, the r11 verdict's item
        #    7): the TWELVE stalest code-unchanged hash rows (last
        #    driver-green r3: autocorr, correlations_with_price,
        #    describe_na, lquery_map, lquery_ts_literal,
        #    rolling_range_numeric, rolling_rsi_100; last driver-green
        #    r4: aggregate_contract, anti_join_customers,
        #    asof_last_purchase, column_stats, count_values) re-enter
        #    the window for driver re-verification; the twelve
        #    freshest multiply-green code-unchanged donors rotate
        #    below — the whole r11 freshness block (media_decode_stats,
        #    the three lquery rows, rolling_1h_strict, rolling_rows_100,
        #    shift_by_user, correlations, describe_table, sort_slice —
        #    all r1-r4 AND r11 green) plus mixture_order_docs and
        #    percent_rank_events (r10-r11 green; the position lane
        #    stays in-window via html/url/capstone rows' cumsum
        #    consumers and the full sweep).
        "autocorr": autocorr,
        "correlations_with_price": correlations_with_price,
        "describe_na": describe_na,
        "lquery_map": lquery_map,
        "lquery_ts_literal": lquery_ts_literal,
        "rolling_range_numeric": rolling_range_numeric,
        "rolling_rsi_100": rolling_rsi_100,
        "aggregate_contract": aggregate_contract,
        "anti_join_customers": anti_join_customers,
        "asof_last_purchase": asof_last_purchase,
        "column_stats": column_stats,
        "count_values": count_values,
        # -- round 11 (rotation-freshness sweep, the r10 verdict's item
        #    8): the TEN stalest code-unchanged rows (last driver-green
        #    r3-r4: the LQuery expression family, interval/row rolling,
        #    grouped shift, correlations/describe, multi-key sort, and
        #    the multimodal decode-stats lane) re-enter the window for
        #    driver re-verification; ten multiply-green code-unchanged
        #    donors rotate below, families still in-window:
        #    frame_sample_timestamps (7x; multimodal stays via
        #    media_decode_stats re-entering), funnel_events +
        #    funnel_events_windowed (3x; event analytics stays via
        #    event_transitions_users + decayed_sum_events +
        #    ewma_user_values), facade_from_columns_index (3x; position
        #    lane stays via mixture_order_docs + percent_rank_events),
        #    dsir_weights_docs (2x; DSIR stays via dsir_sample_docs +
        #    dsir_incremental_docs), dup_spans_docs +
        #    dup_spans_incremental_docs (2x; span dedup stays via
        #    strip_dup_spans_docs), pq_probe_pinned (2x; ANN stays via
        #    semdedup_pinned_vecs), bigram_logprob_docs (2x; LM family
        #    stays via lang_mix_docs + gopher_rules_docs +
        #    ccnet_buckets_docs), mix_temperature_docs (2x; mixing
        #    stays via mix_manifest_docs + mixture_order_docs).
        # -- round 10 (continuation): stride-scheduled mixture
        #    interleaving — the loader ORDER mix_manifest plans; rides
        #    TWO distributed position lanes (the new grouped_positions
        #    for whale mixture components + global_positions).
        #    asof_nearest_purchase (multiply green r5-r9) rotates
        #    below; the as-of family stays covered by asof_last_purchase
        #    + interval rows in the full sweep and tests/test_asof_*.
        # -- round 10 (continuation): distributed percent_rank — the
        #    rank-transform/quantile-normalization primitive with
        #    exact tie semantics, riding cumsum_global over the
        #    distinct-value relation. zorder_roundtrip_agg (multiply
        #    green r5-r9, io/writers untouched this round) rotates
        #    below; the clustered-write layout stays pinned by
        #    tests/test_zorder.py's footer-interval proofs + the full
        #    sweep.
        # -- round-5 second batch: line-level exact substring dedup
        #    (repeated_lines_docs report + strip_repeated_lines_docs
        #    rewrite, the CCNet/RefinedWeb boilerplate pass) and cube_qty
        #    (grouping-set family now has rollup AND cube; rollup_qty,
        #    join_revenue_topn, dedup_exact_docs — all multiply green —
        #    rotate out, families still in-window via cube_qty, the
        #    upsert/fuzzy/interval joins, and the md5 + line dedup rows)
        # bloom_semi_orders rotated below in round 10 (multiply green
        # r5-r9) to admit the pipeline_curation_docs capstone.
        # winsorize_prices (quantile clipping); window_topn_orders and
        # near_dup_jaccard_lsh (both green r1-r4) rotate out — the window
        # family stays via the resample spine + rolling history, dedup
        # keeps six in-window rows. (resample_events_hourly rotated
        # below in r8 after going green r5-r7 — see the HLL comment.)
        # asof_nearest_purchase (nearest-direction as-of, composes the
        # backward+forward passes), skew_report_orders (heavy-key
        # diagnosis), standardize_prices (grouped z-score). Rotated out
        # to make room: simhash_fingerprints + lsh_similarity_topk (both
        # rows-only; their hash-VERIFIED md5 twins simhash_fingerprints_md5
        # and lsh_buckets_md5 stay in-window, so window hash coverage
        # strictly improves) and asof_last_purchase (green r04; family
        # exercised by the nearest composition). asof_nearest_purchase
        # itself rotated below in round 10 (multiply green r5-r9) to
        # admit mixture_order_docs.
        # facade_column_surgery + facade_from_columns_index: first driver
        # rows for the facade conveniences (addColumn/rename/remove/
        # filterColumns/fromColumns/createIndex/concat); embedding_norms
        # and distinct_users_per_type (green r1-r4 / r2-r4) rotate out,
        # embeddings stay via embedding_near_dup_pairs, plain aggs via
        # q1 + cube. (facade_column_surgery rotated below in round 10
        # after going green r7-r9; the facade stays in-window via
        # facade_from_columns_index on the NEW distributed position lane.)
        # read_text_csv_agg (readText RFC-4180 edges) + feather_roundtrip
        # (the reference's interchange format): last unit-only IO
        # surfaces gain driver rows; reproducible_sample and
        # ewma_user_value (green r1-r4 / r04) rotate out — sampling
        # stays via weighted_sample/split/mix, streaming via sessionize.
        # (read_text_csv_agg itself rotated below in round 9 for the
        # DSIR family after going driver-green r7-r8.)
        # round 7 (continuation): incremental near-dup candidates vs a
        # persisted LSH bucket store (the fuzzy twin of
        # dedup_incremental_docs — arriving batch, history never
        # re-banded; md5 lane, so the candidate set hash-verifies) and
        # the deterministic md5-mod shard assignment report. To hold the
        # window at 50, pack_documents_greedy and facade_from_columns_index
        # (both green r5-r6) rotate out — packing stays in-window via
        # pack_documents_cumsum + chunk_documents, the facade via
        # facade_column_surgery.
        # round 7 (continuation): pack materialization — the packed
        # windows themselves, every byte pinned via md5. SUBSUMES the
        # cumsum assignment it composes, so pack_documents_cumsum
        # (green r5-r6) rotated below then RE-ENTERED in round 10 on the
        # distributed cumsum lane; pack_materialize_docs itself rotates
        # below in round 10 after going green r7-r9.
        # round 7 (continuation): quality-aware cluster dedup — keep the
        # longest doc per near-dup cluster. SUBSUMES the connected-
        # components closure it ranks within (same exact-jaccard pair
        # relation and recursive-CTE oracle), so near_dup_clusters
        # (green r5-r6) rotates below; the graph family stays in-window
        # via this row.
        # round 7 (rotation sweep): the five queries that shipped in
        # rounds 6-7 but had never had a driver row enter the window —
        # driver coverage should reach every query at least once. To
        # hold the window at 50, five TRIPLY-green (r4-r6) rows rotate
        # below, each with its family still in-window:
        #   sessionize_events -> streaming stays via
        #     attribution_stream_clicks (a stream that actually runs);
        #   embedding_near_dup_pairs -> embeddings stay via
        #     embedding_near_dup_clusters, which COMPOSES the pair stage;
        #   range_join_purchase_clicks -> range joins stay via
        #     interval_overlap_purchases + the stream twin above;
        #   time_rollup_events -> time bucketing stays via
        #     resample_events_hourly;
        #   json_props_rollup -> JSON parsing stays via
        #     jsonl_roundtrip_agg (the distributed json source lane).
        # round 7 (new): hive-partitioned write + planning-time partition
        # pruning — the 100 TB layout primitive (write_partitioned solves
        # the P*K small-files explosion; the read prunes directories via
        # PartitionFilters). winnow_fingerprints_docs (green r4-r6, the
        # last remaining triply-green row) rotates below; the
        # fingerprinting family stays in-window via
        # minhash_signatures_md5 + simhash_fingerprints_md5, and winnow
        # itself stays in the full local sweep + unit suite.
        # -- round 10 (second batch): semantic decontamination — the
        #    embedding-cosine screen the n-gram rule can't express
        #    (paraphrased leakage), eval side broadcast so the corpus
        #    never shuffles; dot/norm/argmax replayed in DuckDB. To hold
        #    the window at 50, q1_pricing_summary (driver-green r1-r9,
        #    the most multiply-green row in the registry; also still the
        #    entry() flagship the driver smoke-checks every round)
        #    rotates below; the aggregation family stays in-window via
        #    rollup_hourly_events + the funnel rows.
        "decontaminate_semantic_vecs": decontaminate_semantic_vecs,
        # -- rotated out of the window: multiply green (r01-r05),
        #    still covered locally by tools/check_oracle.py and tests/
        # round-10 rotations (see the window-top comment for families):
        # round-11 rotations (families in-window per the window-top
        # comment): dsir_ess_docs + concat_horizontal admitted the URL
        # dedup family.
        # round-12 rotations (families in-window per the window-top
        # comment): pca_project_pinned admitted html_extract_docs;
        # drift_categorical_events + strip_dup_spans_docs +
        # embedding_dedup_incremental_vecs admitted the phash family;
        # corpus_report_docs + split_leak_safe_docs admitted the
        # byte-level BPE lane.
        "media_decode_stats": media_decode_stats,
        "lquery_filter": lquery_filter,
        "lquery_arith": lquery_arith,
        "lquery_datetime": lquery_datetime,
        "rolling_1h_strict": rolling_1h_strict,
        "rolling_rows_100": rolling_rows_100,
        "shift_by_user": shift_by_user,
        "correlations": correlations,
        "describe_table": describe_table,
        "sort_slice": sort_slice,
        "mixture_order_docs": mixture_order_docs,
        "percent_rank_events": percent_rank_events,
        "dsir_sample_docs": dsir_sample_docs,
        "pca_project_pinned": pca_project_pinned,
        "drift_categorical_events": drift_categorical_events,
        "strip_dup_spans_docs": strip_dup_spans_docs,
        "embedding_dedup_incremental_vecs": embedding_dedup_incremental_vecs,
        "corpus_report_docs": corpus_report_docs,
        "split_leak_safe_docs": split_leak_safe_docs,
        "dsir_ess_docs": dsir_ess_docs,
        "oov_report_docs": oov_report_docs,
        "dsir_model_report_docs": dsir_model_report_docs,
        "event_transitions_users": event_transitions_users,
        "mix_manifest_docs": mix_manifest_docs,
        "gopher_rules_docs": gopher_rules_docs,
        "frame_sample_timestamps": frame_sample_timestamps,
        "funnel_events": funnel_events,
        "funnel_events_windowed": funnel_events_windowed,
        "facade_from_columns_index": facade_from_columns_index,
        "dsir_weights_docs": dsir_weights_docs,
        "dup_spans_docs": dup_spans_docs,
        "dup_spans_incremental_docs": dup_spans_incremental_docs,
        "pq_probe_pinned": pq_probe_pinned,
        "bigram_logprob_docs": bigram_logprob_docs,
        "mix_temperature_docs": mix_temperature_docs,
        "pack_documents_cumsum": pack_documents_cumsum,
        "concat_horizontal": concat_horizontal,
        "ivf_probe_partitioned": ivf_probe_partitioned,
        "cohort_retention_daily": cohort_retention_daily,
        "embedding_covariance_upper": embedding_covariance_upper,
        "q1_pricing_summary": q1_pricing_summary,
        "shift_lag": shift_lag,
        "interpolate_linear": interpolate_linear,
        "rolling_1h": rolling_1h,
        "hist_quantiles_events": hist_quantiles_events,
        "zipf_docs": zipf_docs,
        "top_paths_events": top_paths_events,
        "snapshot_diff_docs": snapshot_diff_docs,
        "cms_heavy_tokens_md5": cms_heavy_tokens_md5,
        "hll_distinct_users_md5": hll_distinct_users_md5,
        "bm25_docs": bm25_docs,
        "drift_psi_prices": drift_psi_prices,
        "weighted_merge_docs": weighted_merge_docs,
        "decontaminate_docs": decontaminate_docs,
        "salted_agg_events": salted_agg_events,
        "bloom_semi_orders": bloom_semi_orders,
        "asof_nearest_purchase": asof_nearest_purchase,
        "zorder_roundtrip_agg": zorder_roundtrip_agg,
        "ann_recall_report": ann_recall_report,
        "drift_multi_lineitem": drift_multi_lineitem,
        "ivf_probe_pinned": ivf_probe_pinned,
        "facade_column_surgery": facade_column_surgery,
        "pack_materialize_docs": pack_materialize_docs,
        "bottomk_sample_docs": bottomk_sample_docs,
        "hll_overlap_users_md5": hll_overlap_users_md5,
        "outlier_events_value": outlier_events_value,
        # jsonl/orc roundtrips, dedup_incremental_docs,
        # strip_repeated_lines_docs and chunk_documents rotated below in
        # round 9 (all driver-green r8) to admit the duplicated-span
        # dedup family, the leakage-safe split and the bigram LM.
        "chunk_documents": chunk_documents,
        "strip_repeated_lines_docs": strip_repeated_lines_docs,
        "split_documents": split_documents,
        "read_text_csv_agg": read_text_csv_agg,
        "simhash_fingerprints_md5": simhash_fingerprints_md5,
        "pipeline_clean_corpus": pipeline_clean_corpus,
        "repeated_lines_docs": repeated_lines_docs,
        "shard_report_docs": shard_report_docs,
        "dedup_best_quality_docs": dedup_best_quality_docs,
        "quality_report_lineitem": quality_report_lineitem,
        "partitioned_prune_events": partitioned_prune_events,
        "minhash_lsh_pairs_md5": minhash_lsh_pairs_md5,
        "embedding_near_dup_clusters": embedding_near_dup_clusters,
        "cube_qty": cube_qty,
        "near_dup_incremental_docs": near_dup_incremental_docs,
        "standardize_prices": standardize_prices,
        "jsonl_roundtrip_agg": jsonl_roundtrip_agg,
        "orc_roundtrip_agg": orc_roundtrip_agg,
        "dedup_incremental_docs": dedup_incremental_docs,
        "ols_price_qty": ols_price_qty,
        # xxhash64 production twin of langid_classifier_docs (rows-only
        # by nature; the md5 twin in-window hash-verifies the arithmetic)
        "langid_scores_docs": langid_scores_docs,
        "resample_events_hourly": resample_events_hourly,
        "mix_corpus_sources": mix_corpus_sources,
        "feather_roundtrip_agg": feather_roundtrip_agg,
        "repetition_docs": repetition_docs,
        "interval_overlap_purchases": interval_overlap_purchases,
        "cap_docs_per_source": cap_docs_per_source,
        "xlsx_roundtrip_agg": xlsx_roundtrip_agg,
        "quality_quartiles_docs": quality_quartiles_docs,
        # attribution_stream_clicks rotated below in round 8 after its
        # green r7 driver row (it RAN the stream end-to-end); the
        # streaming surface stays pinned by the stream==batch tests and
        # the full local sweeps still run it.
        "attribution_stream_clicks": attribution_stream_clicks,
        "vocab_topk_docs": vocab_topk_docs,
        "tfidf_top_terms": tfidf_top_terms,
        "weighted_sample_docs": weighted_sample_docs,
        "upsert_documents": upsert_documents,
        "fuzzy_part_names": fuzzy_part_names,
        "csv_roundtrip_agg": csv_roundtrip_agg,
        "pack_documents_greedy": pack_documents_greedy,
        "near_dup_clusters": near_dup_clusters,
        "pandas_map_column": pandas_map_column,
        "setop_custkeys": setop_custkeys,
        "shared_passages_docs": shared_passages_docs,
        "minhash_lsh_candidates": minhash_lsh_candidates,
        "ivf_topk_probe": ivf_topk_probe,
        "window_topn_orders": window_topn_orders,
        "near_dup_jaccard_lsh": near_dup_jaccard_lsh,
        "simhash_fingerprints": simhash_fingerprints,
        "lsh_similarity_topk": lsh_similarity_topk,
        "embedding_norms": embedding_norms,
        "distinct_users_per_type": distinct_users_per_type,
        "reproducible_sample": reproducible_sample,
        "ewma_user_value": ewma_user_value,
        "rollup_qty": rollup_qty,
        "join_revenue_topn": join_revenue_topn,
        "dedup_exact_docs": dedup_exact_docs,
        "ungroup_explode": ungroup_explode,
        "join_region_revenue": join_region_revenue,
        "first_last_by_type": first_last_by_type,
        "semi_join_parts": semi_join_parts,
        "doc_profile": doc_profile,
        "embedding_topk": embedding_topk,
        "pivot_returnflag": pivot_returnflag,
        "jaccard_pairs_3gram": jaccard_pairs_3gram,
        "slice_offset": slice_offset,
        "ungroup_list_column": ungroup_list_column,
        "setop_union_except": setop_union_except,
        "dropna_rows": dropna_rows,
        "fillna_zero": fillna_zero,
        "group_collect_lists": group_collect_lists,
        "rsi_by_flag": rsi_by_flag,
        # round 7: rotated below after 3 consecutive green rounds
        # (r4-r6) to make room for the five never-driver-checked queries
        # and the new partitioned-write row above; families documented
        # at the swap sites in-window
        "winnow_fingerprints_docs": winnow_fingerprints_docs,
        # round 9: rotated below after 4 consecutive green rounds
        # (r5-r8) to make room for drift_categorical_events; its md5
        # lanes stay verified in-window by minhash_lsh_pairs_md5
        "minhash_signatures_md5": minhash_signatures_md5,
        # round 9: rotated below (green r5-r8) to make room for
        # pq_probe_pinned; the hyperplane-bucket family stays verified
        # in-window via minhash_lsh_pairs_md5 + the ANN rows
        "lsh_buckets_md5": lsh_buckets_md5,
        # round 8: rotated below after 3 consecutive green rounds
        # (r5-r7) to make room for funnel_events + cohort_retention_daily
        # + zorder_roundtrip_agg; winsorize_prices' quantile-stats family
        # stays in-window via quality_quartiles_docs + standardize_prices
        "unigram_logprob_docs": unigram_logprob_docs,
        "length_histogram_docs": length_histogram_docs,
        # round 9: rows-only by nature (driver eigh), rotated below in
        # its second round so the window stays rows-only-free; the
        # projection code path it runs is hash-verified in-window by
        # pca_project_pinned, the covariance it consumes by
        # embedding_covariance_upper
        "pca_label_summary": pca_label_summary,
        "winsorize_prices": winsorize_prices,
        "skew_report_orders": skew_report_orders,
        "melt_lineitem": melt_lineitem,
        "sessionize_events": sessionize_events,
        "json_props_rollup": json_props_rollup,
        "embedding_near_dup_pairs": embedding_near_dup_pairs,
        "range_join_purchase_clicks": range_join_purchase_clicks,
        "time_rollup_events": time_rollup_events,
    }


def oracle_sql() -> dict[str, str]:
    oracles = {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "lquery_filter": """
            SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
            FROM lineitem
            WHERE l_quantity > 25 AND l_returnflag LIKE 'A%'
        """,
        "lquery_map": """
            SELECT l_orderkey, l_linenumber,
                   round(l_extendedprice * (1 - l_discount), 4) AS disc_price,
                   CASE WHEN l_discount > 0.05 THEN 'HIGH' ELSE 'LOW' END AS disc_band
            FROM lineitem
        """,
        "lquery_arith": """
            SELECT l_orderkey, l_linenumber,
                   l_extendedprice / (l_quantity + 1) AS price_per_unit
            FROM lineitem
            WHERE l_extendedprice / (l_quantity + 1) > 1000
        """,
        "lquery_ts_literal": """
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderdate > TIMESTAMP '1996-01-01 00:00:00'
              AND o_totalprice < 5000
        """,
        "aggregate_contract": """
            SELECT l_returnflag,
                   CAST(min(l_quantity) AS DOUBLE) AS l_quantity_min,
                   CAST(max(l_quantity) AS DOUBLE) AS l_quantity_max,
                   round(avg(l_quantity), 6) AS l_quantity_mean,
                   round(sum(l_quantity), 4) AS l_quantity_sum,
                   CAST(count(*) AS DOUBLE) AS l_quantity_length,
                   CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS l_quantity_median,
                   round(stddev_pop(l_quantity), 6) AS l_quantity_std
            FROM lineitem GROUP BY l_returnflag
        """,
        "count_values": """
            SELECT l_returnflag AS value, count(*) AS count
            FROM lineitem GROUP BY l_returnflag
        """,
        "column_stats": """
            SELECT CAST(min(l_extendedprice) AS DOUBLE) AS min,
                   CAST(max(l_extendedprice) AS DOUBLE) AS max,
                   round(avg(l_extendedprice), 4) AS mean,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS median,
                   round(stddev_pop(l_extendedprice), 4) AS std,
                   round(var_pop(l_extendedprice), 2) AS var,
                   round(sum(l_extendedprice), 2) AS sum,
                   round(quantile_cont(l_extendedprice, 1.0/3.0), 4) AS quantile
            FROM lineitem
        """,
        "describe_table": """
            WITH cols(name) AS (VALUES ('l_quantity'), ('l_extendedprice'), ('l_discount'))
            SELECT 'l_quantity' AS column, round(avg(l_quantity),6) AS mean,
                   round(stddev_pop(l_quantity),6) AS std,
                   CAST(min(l_quantity) AS DOUBLE) AS min,
                   round(quantile_cont(l_quantity,0.25),4) AS q25,
                   round(quantile_cont(l_quantity,0.5),4) AS median,
                   round(quantile_cont(l_quantity,0.75),4) AS q75,
                   CAST(max(l_quantity) AS DOUBLE) AS max FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', round(avg(l_extendedprice),6),
                   round(stddev_pop(l_extendedprice),6),
                   CAST(min(l_extendedprice) AS DOUBLE),
                   round(quantile_cont(l_extendedprice,0.25),4),
                   round(quantile_cont(l_extendedprice,0.5),4),
                   round(quantile_cont(l_extendedprice,0.75),4),
                   CAST(max(l_extendedprice) AS DOUBLE) FROM lineitem
            UNION ALL
            SELECT 'l_discount', round(avg(l_discount),6),
                   round(stddev_pop(l_discount),6),
                   CAST(min(l_discount) AS DOUBLE),
                   round(quantile_cont(l_discount,0.25),4),
                   round(quantile_cont(l_discount,0.5),4),
                   round(quantile_cont(l_discount,0.75),4),
                   CAST(max(l_discount) AS DOUBLE) FROM lineitem
        """,
        "describe_na": f"""
            WITH ev AS ({_EVENTS_NULLS_SQL})
            SELECT 'event_id' AS column, count(*) FILTER (event_id IS NULL) AS null_count,
                   round(count(*) FILTER (event_id IS NULL) / CAST(count(*) AS DOUBLE), 6) AS null_ratio FROM ev
            UNION ALL
            SELECT 'value', count(*) FILTER (value IS NULL),
                   round(count(*) FILTER (value IS NULL) / CAST(count(*) AS DOUBLE), 6) FROM ev
            UNION ALL
            SELECT 'props', count(*) FILTER (props IS NULL),
                   round(count(*) FILTER (props IS NULL) / CAST(count(*) AS DOUBLE), 6) FROM ev
        """,
        "correlations": """
            SELECT 'l_quantity' AS col_a, 'l_quantity' AS col_b, round(corr(l_quantity, l_quantity),6) AS corr FROM lineitem
            UNION ALL SELECT 'l_quantity','l_extendedprice', round(corr(l_quantity,l_extendedprice),6) FROM lineitem
            UNION ALL SELECT 'l_quantity','l_discount', round(corr(l_quantity,l_discount),6) FROM lineitem
            UNION ALL SELECT 'l_quantity','l_tax', round(corr(l_quantity,l_tax),6) FROM lineitem
            UNION ALL SELECT 'l_extendedprice','l_extendedprice', round(corr(l_extendedprice,l_extendedprice),6) FROM lineitem
            UNION ALL SELECT 'l_extendedprice','l_discount', round(corr(l_extendedprice,l_discount),6) FROM lineitem
            UNION ALL SELECT 'l_extendedprice','l_tax', round(corr(l_extendedprice,l_tax),6) FROM lineitem
            UNION ALL SELECT 'l_discount','l_discount', round(corr(l_discount,l_discount),6) FROM lineitem
            UNION ALL SELECT 'l_discount','l_tax', round(corr(l_discount,l_tax),6) FROM lineitem
            UNION ALL SELECT 'l_tax','l_tax', round(corr(l_tax,l_tax),6) FROM lineitem
        """,
        "autocorr": """
            WITH lagged AS (
                SELECT value, lag(value) OVER (ORDER BY event_id) AS lv FROM events
            )
            SELECT round(corr(value, lv), 6) AS autocorr FROM lagged
        """,
        "rsi_by_flag": """
            WITH d AS (SELECT l_returnflag, l_quantity - 25.0 AS qdev FROM lineitem)
            SELECT l_returnflag,
                   round(100.0 * avg(greatest(qdev, 0)) /
                         (avg(greatest(qdev, 0)) - avg(least(qdev, 0))), 6) AS qdev_rsi
            FROM d GROUP BY l_returnflag
        """,
        "first_last_by_type": f"""
            WITH ev AS ({_EVENTS_NULLS_SQL})
            SELECT event_type,
                   CAST(first(value ORDER BY event_id) FILTER (value IS NOT NULL) AS DOUBLE) AS value_first,
                   CAST(last(value ORDER BY event_id) FILTER (value IS NOT NULL) AS DOUBLE) AS value_last
            FROM ev GROUP BY event_type
        """,
        "sort_slice": """
            SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber
            FROM lineitem
            ORDER BY l_returnflag ASC NULLS FIRST,
                     l_extendedprice DESC NULLS LAST,
                     l_orderkey ASC
            LIMIT 100
        """,
        "slice_offset": """
            SELECT o_orderkey, o_totalprice FROM orders
            ORDER BY o_orderkey LIMIT 50 OFFSET 100
        """,
        "shift_lag": """
            SELECT event_id, value,
                   lag(value) OVER (ORDER BY event_id) AS value_shift_1
            FROM events
        """,
        "shift_by_user": """
            SELECT event_id, user_id, value,
                   lag(value) OVER (PARTITION BY user_id ORDER BY event_id)
                       AS value_shift_1
            FROM events
        """,
        "rolling_1h": """
            -- value_mean: round_half_up(sum4/n, 6) in EXACT INTEGER
            -- arithmetic (DuckDB decimal division promotes to DOUBLE, so
            -- a decimal path here would not match Spark's decimal
            -- HALF_UP on true half-cases like 7800.65/160 = 48.7540625):
            -- mean6 = (200*s4 + n) // (2*n) with s4 = sum4 * 1e4 exact
            SELECT epoch_us(ts) AS ts_us, event_id,
                   CAST((200 * CAST(round(sum(value) OVER w * 10000, 0) AS BIGINT)
                         + count(*) OVER w)
                        // (2 * count(*) OVER w) AS DOUBLE) / 1000000 AS value_mean,
                   round(sum(value) OVER w, 4) AS value_sum,
                   CAST(count(*) OVER w AS DOUBLE) AS value_length
            FROM events
            WINDOW w AS (ORDER BY ts RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """,
        "rolling_1h_strict": """
            SELECT epoch_us(ts) AS ts_us, event_id,
                   CAST(count(*) OVER w AS DOUBLE) AS value_length,
                   CAST(min(value) OVER w AS DOUBLE) AS value_min,
                   CAST(max(value) OVER w AS DOUBLE) AS value_max
            FROM events
            WINDOW w AS (ORDER BY ts RANGE BETWEEN
                         to_microseconds(3599999999) PRECEDING
                         AND CURRENT ROW)
        """,
        "interpolate_linear": f"""
            -- O(n log n) formulation on purpose: DuckDB 1.0 executes
            -- IGNORE NULLS over unbounded frames with a per-row frame
            -- scan (quadratic — ~20 min at the 100k-row sf0.1 events
            -- table). min/max frames stream through segment trees, and
            -- the neighbor VALUES come back via two equi-joins on pos.
            WITH base AS (
                SELECT event_id,
                       CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v,
                       row_number() OVER (ORDER BY event_id) AS pos
                FROM events
            ), w AS (
                SELECT event_id, pos, v,
                    max(CASE WHEN v IS NOT NULL THEN pos END) OVER
                        (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
                    min(CASE WHEN v IS NOT NULL THEN pos END) OVER
                        (ORDER BY pos ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
                FROM base
            )
            SELECT w.event_id,
                   round(CASE WHEN w.v IS NOT NULL THEN w.v
                              WHEN bp.v IS NULL THEN bn.v
                              WHEN bn.v IS NULL THEN bp.v
                              ELSE bp.v + (bn.v - bp.v) * (w.pos - w.pp) / (w.np - w.pp) END,
                         6) AS value
            FROM w
            LEFT JOIN base bp ON bp.pos = w.pp
            LEFT JOIN base bn ON bn.pos = w.np
        """,
        "fillna_zero": f"""
            WITH ev AS ({_EVENTS_NULLS_SQL})
            SELECT event_id, coalesce(value, 0.0) AS value FROM ev
        """,
        "dropna_rows": f"""
            WITH ev AS ({_EVENTS_NULLS_SQL})
            SELECT event_id, value FROM ev WHERE value IS NOT NULL
        """,
        "ungroup_explode": """
            SELECT l_orderkey, l_linenumber,
                   unnest(string_split(l_returnflag || ',' || l_linestatus, ',')) AS tag
            FROM lineitem
        """,
        "ungroup_list_column": """
            SELECT event_type, unnest(list(value ORDER BY event_id)) AS value
            FROM events GROUP BY event_type
        """,
        "concat_horizontal": """
            WITH a AS (SELECT n_nationkey, n_name,
                              row_number() OVER (ORDER BY n_nationkey) AS rid FROM nation),
                 b AS (SELECT n_nationkey AS k2, n_regionkey AS r2,
                              row_number() OVER (ORDER BY n_nationkey) AS rid FROM nation)
            SELECT a.n_nationkey, a.n_name, b.k2, b.r2
            FROM a JOIN b USING (rid)
        """,
        "lquery_datetime": """
            SELECT o_orderkey,
                   CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                   CAST(EXTRACT(month FROM o_orderdate) AS INT) AS o_month,
                   CAST(EXTRACT(day FROM o_orderdate) AS INT) AS o_day,
                   -abs(o_totalprice) AS neg_abs_price
            FROM orders
            WHERE o_orderkey % 4 = 1
              AND regexp_full_match(o_orderpriority, '[12]-.*')
        """,
        "group_collect_lists": f"""
            WITH ev AS ({_EVENTS_NULLS_SQL})
            SELECT event_type,
                   array_to_string(
                       list_transform(
                           list(value ORDER BY event_id),
                           x -> coalesce(CAST(CAST(round(x * 1000000) AS BIGINT) AS VARCHAR), 'N')
                       ), '|') AS value_list_enc
            FROM ev GROUP BY event_type
        """,
        "correlations_with_price": """
            SELECT 'l_quantity' AS column, round(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
            UNION ALL SELECT 'l_discount', round(corr(l_discount, l_extendedprice), 6) FROM lineitem
            UNION ALL SELECT 'l_tax', round(corr(l_tax, l_extendedprice), 6) FROM lineitem
        """,
        "csv_roundtrip_agg": """
            SELECT l_returnflag,
                   sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
                   sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price,
                   count(*) AS n,
                   CAST(sum(l_orderkey) AS BIGINT) AS sum_key
            FROM lineitem GROUP BY l_returnflag
        """,
        "media_decode_stats": """
            WITH b AS (
                SELECT doc_id,
                       (strpos('0123456789abcdef', substr(sha256(text), 1, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(sha256(text), 2, 1)) - 1) AS b0,
                       (strpos('0123456789abcdef', substr(sha256(text), 3, 1)) - 1) * 16
                     + (strpos('0123456789abcdef', substr(sha256(text), 4, 1)) - 1) AS b1
                FROM documents
            )
            SELECT doc_id AS media_id,
                   CAST(64 + b0 % 192 AS INT) AS width,
                   CAST(64 + b1 % 192 AS INT) AS height,
                   CAST((64 + b0 % 192) * (64 + b1 % 192) AS BIGINT) AS n_pixels
            FROM b
        """,
        "ols_price_qty": """
            SELECT round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
                   round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
                   round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
                   CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
            FROM lineitem
        """,
        "rolling_rows_100": """
            SELECT event_id,
                   round(sum(value) OVER w, 4) AS value_sum,
                   CAST(count(*) OVER w AS DOUBLE) AS value_length,
                   CAST(min(value) OVER w AS DOUBLE) AS value_min,
                   CAST(max(value) OVER w AS DOUBLE) AS value_max
            FROM events
            WINDOW w AS (ORDER BY event_id ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        """,
        "rolling_rsi_100": """
            WITH d AS (SELECT event_id, value - 50.0 AS dev FROM events)
            SELECT event_id,
                   round(100.0 * avg(greatest(dev, 0)) OVER w /
                         (avg(greatest(dev, 0)) OVER w - avg(least(dev, 0)) OVER w),
                         6) AS dev_rsi
            FROM d
            WINDOW w AS (ORDER BY event_id ROWS BETWEEN 99 PRECEDING AND CURRENT ROW)
        """,
        "rolling_range_numeric": """
            SELECT event_id,
                   round(sum(value) OVER w, 4) AS value_sum,
                   CAST(count(*) OVER w AS DOUBLE) AS value_length
            FROM events
            WINDOW w AS (ORDER BY event_id RANGE BETWEEN 999 PRECEDING AND CURRENT ROW)
        """,
        "setop_union_except": """
            (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
             UNION
             SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        """,
        "pandas_map_column": """
            SELECT event_id, round(sqrt(abs(value)), 6) AS value_map FROM events
        """,
        "join_revenue_topn": """
            SELECT o_orderkey,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "join_region_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
            GROUP BY n_name
        """,
        "anti_join_customers": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "semi_join_parts": """
            SELECT p_partkey, p_name FROM part
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_partkey = p_partkey AND l_quantity >= 50)
        """,
        "setop_custkeys": """
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
            INTERSECT
            SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
        """,
        "window_topn_orders": """
            SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       CAST(row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS INT) AS rank
                FROM orders
            ) WHERE rank <= 3
        """,
        "pivot_returnflag": """
            SELECT l_returnflag,
                   round(sum(l_quantity) FILTER (l_linestatus = 'O'), 4) AS qty_O,
                   round(sum(l_quantity) FILTER (l_linestatus = 'F'), 4) AS qty_F
            FROM lineitem GROUP BY l_returnflag
        """,
        "rollup_qty": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "dedup_exact_docs": """
            SELECT min(doc_id) AS representative_id, count(*) AS n_copies
            FROM documents GROUP BY text
        """,
        "read_text_csv_agg": """
            SELECT * FROM (VALUES
                ('a', CAST(1 AS BIGINT), 'x,y'),
                ('b', 2, 'he said "hi"'),
                ('c', NULL, concat('line1', chr(10), 'line2'))
            ) AS t(k, v, s)
        """,
        "feather_roundtrip_agg": """
            SELECT n_regionkey, count(*) AS n_nations,
                   min(n_name) AS first_name
            FROM nation GROUP BY 1
        """,
        "xlsx_roundtrip_agg": """
            -- s_nationkey cast to BIGINT: the XLSX reader re-infers
            -- integer cells as long, so the Spark side is int64 while
            -- the parquet column is int32 (ORACLE.md rule 3).
            SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
                   CAST(count(*) AS BIGINT) AS n_supp,
                   CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
                       / 100.0 AS sum_bal,
                   min(s_name) AS first_name
            FROM supplier GROUP BY 1
        """,
        "quality_quartiles_docs": """
            WITH b AS (
                SELECT quantile_cont(n_chars, [0.25, 0.5, 0.75]) AS qs
                FROM documents
            )
            SELECT CAST(1 + len(list_filter(b.qs, q -> d.n_chars > q)) AS INT)
                       AS n_chars_bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars
            FROM documents d, b GROUP BY 1
        """,
        "cap_docs_per_source": """
            WITH ranked AS (
                SELECT source, n_chars, row_number() OVER (
                    PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR) || '/cap') ASC,
                             doc_id ASC) AS rnk
                FROM documents
            )
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM ranked WHERE rnk <= 50 GROUP BY source
        """,
        "jsonl_roundtrip_agg": """
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(doc_id) AS first_doc
            FROM documents GROUP BY source
        """,
        "orc_roundtrip_agg": """
            SELECT o_orderstatus,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
                   min(o_orderkey) AS first_order,
                   max(o_custkey) AS last_cust
            FROM orders GROUP BY o_orderstatus
        """,
        "partitioned_prune_events": """
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
                   min(event_id) AS first_event,
                   max(user_id) AS last_user
            FROM events
            WHERE event_type IN ('click', 'purchase')
            GROUP BY event_type
        """,
        "quality_report_lineitem": """
            WITH s AS (
                SELECT count(*) AS n,
                       count(l_orderkey) AS nn,
                       count(DISTINCT l_orderkey) AS nd,
                       sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS nulls,
                       sum(CASE WHEN l_discount IS NOT NULL
                                 AND (l_discount < 0.0 OR l_discount > 0.5)
                                THEN 1 ELSE 0 END) AS nout,
                       sum(CASE WHEN l_returnflag IS NOT NULL
                                 AND l_returnflag NOT IN ('A', 'N', 'R')
                                THEN 1 ELSE 0 END) AS sout
                FROM lineitem
            )
            SELECT 'row_count' AS "check", '*' AS "column", n >= 1 AS passed,
                   CAST(n AS VARCHAR) AS observed, '[1, inf]' AS expected
            FROM s
            UNION ALL
            SELECT 'not_null', 'l_quantity',
                   (CAST(nulls AS DOUBLE) / greatest(n, 1)) <= 0.0,
                   printf('%.6f', CAST(nulls AS DOUBLE) / greatest(n, 1)),
                   'null fraction <= 0.0'
            FROM s
            UNION ALL
            SELECT 'unique', 'l_orderkey', nn = nd,
                   CAST(nn - nd AS VARCHAR) || ' duplicates', '0 duplicates'
            FROM s
            UNION ALL
            SELECT 'in_range', 'l_discount', nout = 0,
                   CAST(nout AS VARCHAR) || ' out of range', '[0.0, 0.5]'
            FROM s
            UNION ALL
            SELECT 'values_in', 'l_returnflag', sout = 0,
                   CAST(sout AS VARCHAR) || ' outside set',
                   'in [''A'', ''N'', ''R'']'
            FROM s
        """,
        "dedup_incremental_docs": """
            WITH seen AS (
                SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0
            ), batch_rep AS (
                SELECT text, min(doc_id) AS doc_id
                FROM documents GROUP BY text
            )
            SELECT CAST(count(*) AS BIGINT) AS n_fresh,
                   CAST(sum(length(b.text)) AS BIGINT) AS total_chars,
                   min(b.doc_id) AS first_doc
            FROM batch_rep b
            -- NOT EXISTS + IS NOT DISTINCT FROM mirrors the Spark
            -- side's eqNullSafe anti join: a NULL text in history
            -- blocks NULL-text batch rows (a LEFT JOIN .. = .. WHERE
            -- IS NULL form would call them fresh forever)
            WHERE NOT EXISTS (
                SELECT 1 FROM seen s WHERE s.text IS NOT DISTINCT FROM b.text
            )
        """,
        "facade_column_surgery": """
            SELECT l_returnflag AS flag,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS disc_price_sum,
                   round(avg(l_extendedprice * (1 - l_discount)), 6)
                       AS disc_price_mean
            FROM lineitem GROUP BY 1
        """,
        "facade_from_columns_index": """
            SELECT * FROM (VALUES
                (CAST(0 AS BIGINT), 'a', CAST(1 AS BIGINT)),
                (1, 'b', 2),
                (2, 'c', NULL)
            ) AS t(idx, k, v)
        """,
        "melt_lineitem": """
            SELECT variable, count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM (
                SELECT 'l_quantity' AS variable,
                       CAST(l_quantity AS DOUBLE) AS value FROM lineitem
                UNION ALL
                SELECT 'l_extendedprice',
                       CAST(l_extendedprice AS DOUBLE) FROM lineitem
                UNION ALL
                SELECT 'l_discount',
                       CAST(l_discount AS DOUBLE) FROM lineitem
            ) GROUP BY variable
        """,
        "asof_nearest_purchase": """
            SELECT c.event_id, c.user_id,
                   round((SELECT p.value FROM events p
                          WHERE p.user_id = c.user_id
                            AND p.event_type = 'purchase'
                          ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)) ASC,
                                   p.ts ASC, p.event_id DESC
                          LIMIT 1), 4) AS p_value
            FROM events c
            WHERE c.event_type = 'click'
        """,
        "skew_report_orders": """
            WITH counts AS (
                SELECT o_custkey, count(*) AS n_rows
                FROM orders GROUP BY o_custkey
            ), totals AS (
                SELECT CAST(sum(n_rows) AS DOUBLE) AS total,
                       avg(n_rows) AS mean_sz
                FROM counts
            )
            SELECT o_custkey, n_rows,
                   round(n_rows / total, 6) AS share,
                   round(n_rows / mean_sz, 4) AS skew_ratio
            FROM counts, totals
            ORDER BY n_rows DESC, o_custkey ASC
            LIMIT 10
        """,
        "standardize_prices": """
            WITH z AS (
                SELECT l_returnflag,
                       CASE WHEN stddev_pop(l_extendedprice)
                                 OVER (PARTITION BY l_returnflag) = 0
                            THEN 0.0
                            ELSE (l_extendedprice
                                  - avg(l_extendedprice)
                                    OVER (PARTITION BY l_returnflag))
                                 / stddev_pop(l_extendedprice)
                                   OVER (PARTITION BY l_returnflag)
                       END AS v
                FROM lineitem
            )
            SELECT l_returnflag,
                   round(avg(v), 6) + 0.0 AS z_mean,
                   round(stddev_pop(v), 6) AS z_std,
                   round(max(v), 6) + 0.0 AS z_max,
                   count(*) AS n
            FROM z GROUP BY l_returnflag
        """,
        "resample_events_hourly": """
            WITH agged AS (
                SELECT event_type, date_trunc('hour', ts) AS bucket,
                       count(*) AS n, round(sum(value), 4) AS sum_value
                FROM events GROUP BY 1, 2
            ), rng AS (
                SELECT event_type, min(bucket) AS mn, max(bucket) AS mx
                FROM agged GROUP BY 1
            ), spine AS (
                SELECT event_type,
                       unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket
                FROM rng
            )
            SELECT s.event_type, epoch_us(s.bucket) AS bucket_us,
                   coalesce(a.n, 0) AS n,
                   coalesce(a.sum_value, 0) AS sum_value
            FROM spine s LEFT JOIN agged a USING (event_type, bucket)
        """,
        "winsorize_prices": """
            WITH b AS (
                SELECT quantile_cont(l_extendedprice, 0.05) AS qlo,
                       quantile_cont(l_extendedprice, 0.95) AS qhi
                FROM lineitem
            ), clipped AS (
                SELECT CASE WHEN l_extendedprice < qlo THEN qlo
                            WHEN l_extendedprice > qhi THEN qhi
                            ELSE CAST(l_extendedprice AS DOUBLE) END AS v
                FROM lineitem, b
            )
            SELECT round(avg(v), 6) AS avg_price,
                   round(min(v), 2) AS min_price,
                   round(max(v), 2) AS max_price,
                   count(*) AS n
            FROM clipped
        """,
        "length_histogram_docs": """
            WITH rng AS (
                SELECT min(CAST(n_chars AS DOUBLE)) AS mn,
                       max(CAST(n_chars AS DOUBLE)) AS mx
                FROM documents WHERE n_chars IS NOT NULL
            ), binned AS (
                SELECT CASE WHEN mx = mn THEN 0
                            ELSE CAST(least(floor(
                                (CAST(n_chars AS DOUBLE) - mn)
                                / ((mx - mn) / 20.0)), 19) AS INT)
                       END AS bin, mn, mx
                FROM documents, rng WHERE n_chars IS NOT NULL
            )
            SELECT bin,
                   round(mn + bin * ((mx - mn) / 20.0), 6) AS lo,
                   round(mn + (bin + 1) * ((mx - mn) / 20.0), 6) AS hi,
                   count(*) AS n
            FROM binned GROUP BY bin, mn, mx
        """,
        "bloom_semi_orders": """
            SELECT o_orderpriority, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS sum_price
            FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer
                                WHERE c_mktsegment = 'BUILDING')
            GROUP BY o_orderpriority
        """,
        "cube_qty": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
            FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        """,
        "repeated_lines_docs": """
            WITH docs AS (
                SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
                FROM documents
            ), lines AS (
                SELECT doc_id, i AS pos,
                       array_to_string(w[(i - 1) * 8 + 1 : i * 8], ' ') AS line
                FROM docs, LATERAL (
                    SELECT unnest(generate_series(
                        1, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i)
            )
            SELECT line, count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_occurrences
            FROM lines WHERE trim(line) <> ''
            GROUP BY line HAVING count(DISTINCT doc_id) >= 2
        """,
        "unigram_logprob_docs": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(
                           lower(trim(coalesce(text, ''))), '\\s+')) AS token
                FROM documents
            ), dt AS (
                SELECT doc_id, token, count(*) AS m
                FROM toks WHERE token <> '' GROUP BY 1, 2
            ), counts AS (
                SELECT token, sum(m) AS c FROM dt GROUP BY token
            ), tot AS (
                SELECT CAST(sum(c) AS DOUBLE) AS t FROM counts
            )
            SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
                   round(sum(m * ln(c / t)) / sum(m), 6) AS avg_logprob
            FROM dt JOIN counts USING (token), tot
            GROUP BY doc_id
        """,
        "kll_quantiles_events": _kll_oracle(),
        "kll_by_lang_docs": _kll_oracle_sql(
            "documents",
            "doc_id",
            "n_chars",
            "n_chars IS NOT NULL",
            _KLL_LANG_CFG,
            _KLL_LANG_QS,
            key="lang",
        ),
        "hist_quantiles_events": """
            -- quality.histogram_counts + hist_quantiles: clamped
            -- equal-width binning, cumulative covering bin, linear
            -- interpolation; bins=50 over [0, 500].
            WITH h AS (
                SELECT CAST(greatest(0, least(49,
                           floor((value - 0.0) / 500.0 * 50)))
                           AS INTEGER) AS bin,
                       count(*) AS n
                FROM events
                WHERE value IS NOT NULL AND NOT isnan(value)
                GROUP BY 1
            ), c AS (
                SELECT bin, n, sum(n) OVER (ORDER BY bin) AS cum FROM h
            ), t AS (
                SELECT CAST(sum(n) AS DOUBLE) AS total FROM h
            ), qs AS (
                SELECT CAST(q AS DOUBLE) AS q
                FROM (VALUES (0.25), (0.5), (0.9), (0.99)) v(q)
            )
            SELECT q,
                   round(0.0 + 10.0 * (bin
                       + (q * total - (cum - n)) / n), 6) AS est
            FROM qs CROSS JOIN t CROSS JOIN c
            WHERE cum >= q * total AND (cum - n) < q * total
        """,
        "lang_mix_docs": """
            -- functions/text.py lang_mix_report over the 8-word
            -- re-segmentation: doc guess from the whole token list,
            -- line guesses from each line's tokens, priority-tied
            -- argmax (en > es > de > fr), 'und' when nothing matches.
            WITH d0 AS (
                SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w0
                FROM documents
            ), seg AS (
                SELECT doc_id, w0,
                       list_transform(
                           generate_series(
                               1, CAST(ceil(len(w0) / 8.0) AS BIGINT)),
                           i -> array_to_string(
                               w0[(i - 1) * 8 + 1 : i * 8], ' ')) AS ls
                FROM d0
            ), dl AS (
                SELECT doc_id, ls,
                       CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0
                                THEN 'und'
                            WHEN s_en = greatest(s_en, s_es, s_de, s_fr)
                                THEN 'en'
                            WHEN s_es = greatest(s_en, s_es, s_de, s_fr)
                                THEN 'es'
                            WHEN s_de = greatest(s_en, s_es, s_de, s_fr)
                                THEN 'de'
                            ELSE 'fr' END AS doc_lang
                FROM (
                    SELECT doc_id, ls,
                        len(list_filter(tkl, t -> list_contains(
                            ['the','and','of','is','that','with'], t))) AS s_en,
                        len(list_filter(tkl, t -> list_contains(
                            ['el','la','de','que','los','una'], t))) AS s_es,
                        len(list_filter(tkl, t -> list_contains(
                            ['der','die','und','das','ist','nicht'], t))) AS s_de,
                        len(list_filter(tkl, t -> list_contains(
                            ['le','la','les','des','est','une'], t))) AS s_fr
                    FROM (SELECT doc_id, ls,
                                 list_transform(w0, x -> lower(x)) AS tkl
                          FROM seg)
                )
            ), lf AS (
                SELECT doc_id, string_split_regex(lower(trim(line)),
                           '\\s+') AS lt
                FROM (SELECT doc_id, unnest(ls) AS line FROM dl)
                WHERE len(trim(line)) > 0
            ), lg AS (
                SELECT doc_id,
                       CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0
                                THEN 'und'
                            WHEN s_en = greatest(s_en, s_es, s_de, s_fr)
                                THEN 'en'
                            WHEN s_es = greatest(s_en, s_es, s_de, s_fr)
                                THEN 'es'
                            WHEN s_de = greatest(s_en, s_es, s_de, s_fr)
                                THEN 'de'
                            ELSE 'fr' END AS line_lang
                FROM (
                    SELECT doc_id,
                        len(list_filter(lt, t -> list_contains(
                            ['the','and','of','is','that','with'], t))) AS s_en,
                        len(list_filter(lt, t -> list_contains(
                            ['el','la','de','que','los','una'], t))) AS s_es,
                        len(list_filter(lt, t -> list_contains(
                            ['der','die','und','das','ist','nicht'], t))) AS s_de,
                        len(list_filter(lt, t -> list_contains(
                            ['le','la','les','des','est','une'], t))) AS s_fr
                    FROM lf
                )
            ), agg AS (
                SELECT lg.doc_id,
                       count(*) AS n_lines,
                       sum(CASE WHEN line_lang <> dl.doc_lang
                                 AND line_lang <> 'und'
                                THEN 1 ELSE 0 END) AS n_foreign
                FROM lg JOIN dl USING (doc_id)
                GROUP BY 1
            )
            SELECT dl.doc_id, dl.doc_lang,
                   CAST(coalesce(agg.n_lines, 0) AS BIGINT) AS n_lines,
                   CAST(coalesce(agg.n_foreign, 0) AS BIGINT) AS n_foreign,
                   round(CAST(coalesce(agg.n_foreign, 0) AS DOUBLE)
                         / greatest(coalesce(agg.n_lines, 0), 1), 6)
                       AS mix_frac
            FROM dl LEFT JOIN agg USING (doc_id)
        """,
        "snapshot_diff_docs": """
            -- operators/diff.py diff_summary over the same deterministic
            -- mutation: one full outer join, null-safe compares
            -- (IS NOT DISTINCT FROM), status + per-column counts.
            WITH a AS (
                SELECT doc_id, text, lang, source, n_chars FROM documents
            ), mod AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
                            ELSE text END AS text,
                       CASE WHEN doc_id % 3 = 0 THEN 'xx'
                            ELSE lang END AS lang,
                       source, n_chars
                FROM a WHERE doc_id % 7 <> 0
            ), added AS (
                SELECT doc_id + 1000000 AS doc_id, text, lang, source,
                       n_chars
                FROM a WHERE doc_id % 11 = 0
            ), b AS (
                SELECT * FROM mod UNION ALL SELECT * FROM added
            ), j AS (
                SELECT a.doc_id IS NOT NULL AS in_a,
                       b.doc_id IS NOT NULL AS in_b,
                       (a.text IS NOT DISTINCT FROM b.text) AS s_text,
                       (a.lang IS NOT DISTINCT FROM b.lang) AS s_lang,
                       (a.source IS NOT DISTINCT FROM b.source) AS s_source,
                       (a.n_chars IS NOT DISTINCT FROM b.n_chars)
                           AS s_n_chars
                FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
            ), w AS (
                SELECT
                    CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END)
                        AS BIGINT) AS added,
                    CAST(sum(CASE WHEN NOT in_b THEN 1 ELSE 0 END)
                        AS BIGINT) AS removed,
                    CAST(sum(CASE WHEN in_a AND in_b AND NOT
                        (s_text AND s_lang AND s_source AND s_n_chars)
                        THEN 1 ELSE 0 END) AS BIGINT) AS changed,
                    CAST(sum(CASE WHEN in_a AND in_b AND
                        s_text AND s_lang AND s_source AND s_n_chars
                        THEN 1 ELSE 0 END) AS BIGINT) AS unchanged,
                    CAST(sum(CASE WHEN in_a AND in_b AND NOT s_text
                        THEN 1 ELSE 0 END) AS BIGINT) AS c_text,
                    CAST(sum(CASE WHEN in_a AND in_b AND NOT s_lang
                        THEN 1 ELSE 0 END) AS BIGINT) AS c_lang,
                    CAST(sum(CASE WHEN in_a AND in_b AND NOT s_source
                        THEN 1 ELSE 0 END) AS BIGINT) AS c_source,
                    CAST(sum(CASE WHEN in_a AND in_b AND NOT s_n_chars
                        THEN 1 ELSE 0 END) AS BIGINT) AS c_n_chars
                FROM j
            )
            SELECT 'rows' AS kind, 'added' AS name, added AS n FROM w
            UNION ALL SELECT 'rows', 'removed', removed FROM w
            UNION ALL SELECT 'rows', 'changed', changed FROM w
            UNION ALL SELECT 'rows', 'unchanged', unchanged FROM w
            UNION ALL SELECT 'column', 'text', c_text FROM w
            UNION ALL SELECT 'column', 'lang', c_lang FROM w
            UNION ALL SELECT 'column', 'source', c_source FROM w
            UNION ALL SELECT 'column', 'n_chars', c_n_chars FROM w
        """,
        "zipf_docs": """
            -- functions/text.py zipf_report: top-100 tokens, ln-ln
            -- regression via the regr_* aggregates (the ols_price_qty
            -- idiom), lexicographic tiebreak.
            WITH toks AS (
                SELECT unnest(regexp_split_to_array(
                    lower(trim(coalesce(text, ''))), '\\s+')) AS token
                FROM documents
            ), c AS (
                SELECT token, count(*) AS c FROM toks
                WHERE token <> '' GROUP BY 1
            ), top AS (
                SELECT token, c FROM c
                ORDER BY c DESC, token ASC LIMIT 100
            ), r AS (
                SELECT ln(CAST(row_number() OVER (
                           ORDER BY c DESC, token ASC) AS DOUBLE)) AS x,
                       ln(CAST(c AS DOUBLE)) AS y
                FROM top
            )
            SELECT CAST(regr_count(y, x) AS BIGINT) AS n_tokens_ranked,
                   round(regr_slope(y, x), 6) AS slope,
                   round(regr_intercept(y, x), 6) AS intercept,
                   round(regr_r2(y, x), 6) AS r2
            FROM r
        """,
        "mix_temperature_docs": """
            -- operators/sample.py temperature_rates + mix_by_temperature
            -- (tau=0.5): q_s = n_s^tau / sum, N = min_s n_s/q_s,
            -- rate_s = q_s*N/n_s; keep iff the md5 uniform
            -- (h13+1)/2^52 < rate.
            WITH c AS (
                SELECT lang, count(*) AS n_total FROM documents GROUP BY 1
            ), p AS (
                SELECT lang, n_total,
                       pow(CAST(n_total AS DOUBLE), 0.5) AS pw
                FROM c
            ), t AS (
                SELECT sum(pw) AS tp FROM p
            ), q AS (
                SELECT lang, n_total, pw / tp AS q FROM p, t
            ), nm AS (
                SELECT min(n_total / q) AS n_cap FROM q
            ), r AS (
                SELECT lang, n_total, q, q * n_cap / n_total AS rate
                FROM q, nm
            ), kept AS (
                SELECT d.lang, count(*) AS n_kept
                FROM documents d JOIN r USING (lang)
                WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                           || '/temp'), 1, 13))::BIGINT + 1)
                      / 4503599627370496.0 < rate
                GROUP BY 1
            )
            SELECT r.lang, r.n_total,
                   round(r.q, 6) AS q,
                   round(r.rate, 6) AS rate,
                   CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
            FROM r LEFT JOIN kept k USING (lang)
        """,
        "mix_manifest_docs": """
            -- operators/sample.py mix_manifest: weights {en:5, de:3,
            -- fr:1, es:1, zh:2} normalized, budget 1e6 tokens;
            -- whitespace_tokens semantics (trimmed split, empty -> 0).
            WITH w AS (
                SELECT * FROM (VALUES
                    ('de', 3.0 / 12.0), ('en', 5.0 / 12.0),
                    ('es', 1.0 / 12.0), ('fr', 1.0 / 12.0),
                    ('zh', 2.0 / 12.0)) AS t(lang, weight)
            ), s AS (
                SELECT lang, count(*) AS n_docs,
                       CAST(sum(CASE WHEN len(trim(coalesce(text, ''))) = 0
                                THEN 0
                                ELSE len(regexp_split_to_array(
                                    trim(text), '\\s+')) END) AS BIGINT)
                           AS n_tokens
                FROM documents GROUP BY 1
            )
            SELECT w.lang, coalesce(s.n_docs, 0) AS n_docs,
                   coalesce(s.n_tokens, 0) AS n_tokens,
                   round(w.weight, 6) AS weight,
                   round(w.weight * 1000000.0, 2) AS target_tokens,
                   round(CASE WHEN coalesce(s.n_tokens, 0) > 0
                         THEN w.weight * 1000000.0
                              / CAST(s.n_tokens AS DOUBLE) END, 6) AS epochs,
                   round(CASE WHEN coalesce(s.n_tokens, 0) > 0
                         THEN least(1.0, w.weight * 1000000.0
                              / CAST(s.n_tokens AS DOUBLE)) END, 6)
                       AS sample_rate
            FROM w LEFT JOIN s USING (lang)
        """,
        "event_transitions_users": """
            -- operators/funnel.py event_transitions: per-user lag over
            -- (ts, event_id), |types|^2 counts, row-normalized p.
            WITH e AS (
                SELECT user_id, event_type,
                       lag(event_type) OVER (
                           PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS prev_type
                FROM events
            ), pairs AS (
                SELECT prev_type, event_type AS next_type,
                       count(*) AS n
                FROM e WHERE prev_type IS NOT NULL
                GROUP BY 1, 2
            )
            SELECT prev_type, next_type, n,
                   round(n / CAST(sum(n) OVER (PARTITION BY prev_type)
                                  AS DOUBLE), 6) AS p
            FROM pairs
        """,
        "top_paths_events": """
            -- operators/funnel.py top_paths: first 5 events per user by
            -- (ts, event_id), '>'-joined, top 20 by (n_users, path).
            WITH r AS (
                SELECT user_id, event_type,
                       row_number() OVER (
                           PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS rn
                FROM events
            ), p AS (
                SELECT user_id,
                       string_agg(event_type, '>' ORDER BY rn) AS path
                FROM r WHERE rn <= 5 GROUP BY 1
            )
            SELECT path, count(*) AS n_users
            FROM p GROUP BY 1
            ORDER BY n_users DESC, path ASC
            LIMIT 20
        """,
        # GENERATED oracle (the _kll_oracle pattern): one CTE triple
        # per BPE round, round count shared with the Spark query via
        # _BPE_K by construction.
        "bpe_merges_docs": _bpe_oracle(),
        "wordpiece_merges_docs": _bpe_oracle(scoring="wordpiece"),
        "byte_bpe_merges_docs": _bpe_oracle(seeding="byte"),
        "byte_bpe_fertility_docs": _bpe_fertility_oracle(seeding="byte"),
        # the ONE-SHOT SQL again: the incremental path (three batch
        # count folds merged per word) must reproduce it exactly —
        # that equality IS what this row verifies.
        "bpe_incremental_docs": _bpe_oracle(),
        # GENERATED: same CTE chain, 1-row fertility fold over s{K}
        "bpe_fertility_docs": _bpe_fertility_oracle(),
        "percent_rank_events": """
            -- operators/global_order.py percent_ranks replayed with
            -- the plain window function: the distributed form
            -- (distinct-value counts + exclusive cumsum + rank join)
            -- computes the same (rank-1)/(N-1) double bit for bit.
            SELECT event_id, value,
                   percent_rank() OVER (ORDER BY value) AS percent_rank
            FROM events WHERE value IS NOT NULL
        """,
        "mixture_order_docs": """
            -- operators/sample.py mixture_order replayed with plain
            -- windows: the distributed position lanes compute the same
            -- total order. Stride key = grp_pos / weight, exact double
            -- division (no rounding: single-row arithmetic).
            WITH h AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                           || '/mix1'), 1, 15))::BIGINT AS hh
                FROM documents
            ), gp AS (
                SELECT doc_id, lang,
                       CAST(row_number() OVER (
                           PARTITION BY lang ORDER BY hh, doc_id)
                           AS BIGINT) AS grp_pos
                FROM h
            ), sk AS (
                SELECT doc_id, lang, grp_pos,
                       CAST(grp_pos AS DOUBLE) / CASE lang
                           WHEN 'de' THEN 1.0
                           WHEN 'en' THEN 4.0
                           WHEN 'es' THEN 1.0
                           WHEN 'fr' THEN 1.0
                           WHEN 'zh' THEN 1.0 END AS stride_key
                FROM gp
            )
            SELECT doc_id, lang, grp_pos, stride_key,
                   CAST(row_number() OVER (
                       ORDER BY stride_key, lang, doc_id) AS BIGINT) AS ord
            FROM sk
        """,
        "pipeline_curation_docs": _CURATION_STAGE0_PREFIX + """
            -- the round-10 curation playbook end-to-end (round 12
            -- prepends the HTML extraction gate + URL stage-0 CTEs via
            -- _CURATION_STAGE0_PREFIX: html-gate survivors h0,
            -- canonical-url min-id survivors u0, corpus d0): the
            -- c4_rules_docs verdict chain (pass_all only), the
            -- ccnet_buckets_docs tertile chain (bucket only), exact
            -- dedup as min-id-per-content, the epoch-1 md5 shard +
            -- per-shard position, folded per (lang, shard).
            c4docs AS (
                SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w0
                FROM documents
            ), seg AS (
                SELECT doc_id,
                       array_to_string(list_transform(
                           generate_series(
                               1, CAST(ceil(len(w0) / 8.0) AS BIGINT)),
                           i -> array_to_string(
                                    w0[(i - 1) * 8 + 1 : i * 8], ' ')
                                || CASE WHEN i % 2 = 1
                                        THEN '.' ELSE '' END
                       ), chr(10)) AS t0
                FROM c4docs
            ), inj AS (
                SELECT doc_id,
                       t0
                       || CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
                            'lorem ipsum dolor sit amet today.'
                          ELSE '' END
                       || CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
                            'see the { code block right now.'
                          ELSE '' END
                       || CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
                            'please enable javascript to continue viewing this.'
                          ELSE '' END AS text
                FROM seg
            ), kk AS (
                SELECT doc_id, text,
                       list_filter(
                           list_filter(string_split(text, chr(10)),
                                       x -> len(trim(x)) > 0),
                           x ->
                           (ends_with(rtrim(x), '.')
                            OR ends_with(rtrim(x), '!')
                            OR ends_with(rtrim(x), '?')
                            OR ends_with(rtrim(x), '"'))
                           AND len(list_filter(
                                   regexp_split_to_array(trim(x), '\\s+'),
                                   w -> w <> '')) >= 5
                           AND NOT contains(lower(x), 'javascript')
                       ) AS kept
                FROM inj
            ), c4v AS (
                SELECT doc_id,
                       CASE WHEN CAST(coalesce(list_sum(list_transform(
                                kept, x ->
                                (len(x) - len(replace(x, '.', '')))
                                + (len(x) - len(replace(x, '!', '')))
                                + (len(x) - len(replace(x, '?', ''))))), 0)
                                AS BIGINT) >= 3
                             AND NOT contains(lower(text), 'lorem ipsum')
                             AND NOT contains(text, '{')
                            THEN 1 ELSE 0 END AS pass_all
                FROM kk
            ), toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(
                           lower(trim(coalesce(text, ''))), '\\s+')) AS token
                FROM d0
            ), dt AS (
                SELECT doc_id, token, count(*) AS m
                FROM toks WHERE token <> '' GROUP BY 1, 2
            ), counts AS (
                SELECT token, sum(m) AS c FROM dt GROUP BY token
            ), tot AS (
                SELECT CAST(sum(c) AS DOUBLE) AS t FROM counts
            ), sc AS (
                SELECT doc_id,
                       round(sum(m * ln(c / t)) / sum(m), 6) AS avg_logprob
                FROM dt JOIN counts USING (token), tot
                GROUP BY doc_id
            ), sl AS (
                SELECT d.doc_id, d.lang, sc.avg_logprob
                FROM d0 d JOIN sc ON d.doc_id = sc.doc_id
            ), thr AS (
                SELECT lang,
                       quantile_cont(avg_logprob, 0.3333333333333333) AS t1,
                       quantile_cont(avg_logprob, 0.6666666666666666) AS t2
                FROM sl GROUP BY lang
            ), bk AS (
                SELECT doc_id,
                       CASE WHEN avg_logprob > t2 THEN 'head'
                            WHEN avg_logprob > t1 THEN 'middle'
                            ELSE 'tail' END AS bucket
                FROM sl JOIN thr USING (lang)
            ), surv AS (
                SELECT doc_id FROM (
                    SELECT doc_id, row_number() OVER (
                        PARTITION BY text ORDER BY doc_id) AS rn
                    FROM d0)
                WHERE rn = 1
            ), kept AS (
                SELECT d.doc_id, d.lang, d.n_chars
                FROM d0 d
                JOIN surv USING (doc_id)
                JOIN c4v USING (doc_id)
                JOIN bk USING (doc_id)
                WHERE c4v.pass_all = 1 AND bk.bucket <> 'tail'
            ), sh AS (
                SELECT doc_id, lang, n_chars,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                           || '/epoch1'), 1, 15))::BIGINT AS hh
                FROM kept
            ), pos AS (
                SELECT lang, CAST(hh % 4 AS INTEGER) AS shard, n_chars,
                       CAST(row_number() OVER (
                           PARTITION BY hh % 4 ORDER BY hh, doc_id) - 1
                           AS BIGINT) AS pos
                FROM sh
            )
            SELECT lang, shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   max(pos) AS max_pos
            FROM pos GROUP BY 1, 2
        """,
        "c4_rules_docs": """
            -- functions/text.py c4_rules (Raffel et al. 2020 C4 §2.2)
            -- replayed over the same deterministic structure: 8-word
            -- lines, '.' on odd (1-based) lines, the three doc_id-residue
            -- page injections; line filters (terminal punct / >=5 words /
            -- no javascript), sentence count over kept lines, page
            -- verdicts and the composite.
            WITH docs AS (
                SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w0
                FROM documents
            ), seg AS (
                SELECT doc_id,
                       array_to_string(list_transform(
                           generate_series(
                               1, CAST(ceil(len(w0) / 8.0) AS BIGINT)),
                           i -> array_to_string(
                                    w0[(i - 1) * 8 + 1 : i * 8], ' ')
                                || CASE WHEN i % 2 = 1
                                        THEN '.' ELSE '' END
                       ), chr(10)) AS t0
                FROM docs
            ), inj AS (
                SELECT doc_id,
                       t0
                       || CASE WHEN doc_id % 11 = 0 THEN chr(10) ||
                            'lorem ipsum dolor sit amet today.'
                          ELSE '' END
                       || CASE WHEN doc_id % 13 = 0 THEN chr(10) ||
                            'see the { code block right now.'
                          ELSE '' END
                       || CASE WHEN doc_id % 17 = 0 THEN chr(10) ||
                            'please enable javascript to continue viewing this.'
                          ELSE '' END AS text
                FROM seg
            ), g AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, chr(10)),
                                   x -> len(trim(x)) > 0) AS lines
                FROM inj
            ), k AS (
                SELECT doc_id, text, lines,
                       list_filter(lines, x ->
                           (ends_with(rtrim(x), '.')
                            OR ends_with(rtrim(x), '!')
                            OR ends_with(rtrim(x), '?')
                            OR ends_with(rtrim(x), '"'))
                           AND len(list_filter(
                                   regexp_split_to_array(trim(x), '\\s+'),
                                   w -> w <> '')) >= 5
                           AND NOT contains(lower(x), 'javascript')
                       ) AS kept
                FROM g
            ), m AS (
                SELECT doc_id,
                       CAST(len(lines) AS BIGINT) AS n_lines,
                       CAST(len(kept) AS BIGINT) AS n_kept_lines,
                       CAST(coalesce(list_sum(list_transform(kept, x ->
                           (len(x) - len(replace(x, '.', '')))
                           + (len(x) - len(replace(x, '!', '')))
                           + (len(x) - len(replace(x, '?', ''))))), 0)
                           AS BIGINT) AS n_sentences,
                       contains(lower(text), 'lorem ipsum') AS has_lorem,
                       contains(text, '{') AS has_brace
                FROM k
            )
            SELECT doc_id, n_lines, n_kept_lines,
                   round(n_kept_lines
                         / CAST(greatest(n_lines, 1) AS DOUBLE), 6)
                       AS kept_frac,
                   n_sentences,
                   CASE WHEN n_sentences >= 3 THEN 1 ELSE 0 END
                       AS pass_sentences,
                   CASE WHEN has_lorem THEN 0 ELSE 1 END AS pass_lorem,
                   CASE WHEN has_brace THEN 0 ELSE 1 END AS pass_brace,
                   (CASE WHEN n_sentences >= 3 THEN 1 ELSE 0 END)
                     * (CASE WHEN has_lorem THEN 0 ELSE 1 END)
                     * (CASE WHEN has_brace THEN 0 ELSE 1 END) AS pass_all
            FROM m
        """,
        "ccnet_buckets_docs": """
            -- functions/text.py perplexity_buckets (Wenzek et al. 2020
            -- CCNet): the unigram_logprob_docs LM replayed, scores
            -- rounded 6dp BEFORE the per-language tertile thresholds
            -- (quantile_cont == Spark percentile bit-for-bit on
            -- identical inputs), strict-greater bucket comparisons.
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(
                           lower(trim(coalesce(text, ''))), '\\s+')) AS token
                FROM documents
            ), dt AS (
                SELECT doc_id, token, count(*) AS m
                FROM toks WHERE token <> '' GROUP BY 1, 2
            ), counts AS (
                SELECT token, sum(m) AS c FROM dt GROUP BY token
            ), tot AS (
                SELECT CAST(sum(c) AS DOUBLE) AS t FROM counts
            ), sc AS (
                SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_tokens,
                       round(sum(m * ln(c / t)) / sum(m), 6) AS avg_logprob
                FROM dt JOIN counts USING (token), tot
                GROUP BY doc_id
            ), sl AS (
                SELECT d.doc_id, d.lang, sc.n_tokens, sc.avg_logprob
                FROM documents d JOIN sc ON d.doc_id = sc.doc_id
            ), thr AS (
                SELECT lang,
                       quantile_cont(avg_logprob, 0.3333333333333333) AS t1,
                       quantile_cont(avg_logprob, 0.6666666666666666) AS t2
                FROM sl GROUP BY lang
            )
            SELECT doc_id, lang, n_tokens, avg_logprob,
                   CASE WHEN avg_logprob > t2 THEN 'head'
                        WHEN avg_logprob > t1 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM sl JOIN thr USING (lang)
        """,
        "html_extract_docs": "WITH RECURSIVE " + _HTML_DERIVE_SQL
        + _html_extract_sql("hpages")
        + """
            -- functions/html.py html_extract replayed end-to-end over
            -- the derived synthetic crawl pages: the whole rewrite
            -- chain (comment/head/script/style strip, anchor markers,
            -- block split, entity decode), per-block word-count and
            -- link-density verdicts, and the reassembled text — the
            -- extraction ITSELF rides the hash.
            SELECT doc_id,
                   CAST(len(b) AS BIGINT) AS n_blocks,
                   CAST(len(k) AS BIGINT) AS n_kept,
                   round(CAST(len(k) AS DOUBLE) / greatest(len(b), 1), 6)
                       AS kept_frac,
                   CAST(coalesce(list_sum(list_transform(k,
                       st -> st.n_words)), 0) AS BIGINT) AS n_words,
                   round(CAST(coalesce(list_sum(list_transform(k,
                           st -> st.n_stop)), 0) AS DOUBLE)
                       / greatest(coalesce(list_sum(list_transform(k,
                           st -> st.n_words)), 0), 1), 6) AS stop_frac,
                   -- coalesce: array_to_string over an empty filtered
                   -- list yields NULL in DuckDB, '' in Spark
                   coalesce(array_to_string(list_transform(k,
                       st -> st.vis), chr(10)), '') AS text
            FROM hstats
        """,
        "image_hashes_docs": """
            -- operators/multimodal.py image_hashes fake lane: the
            -- stand-in fingerprint is sha256 digest bytes 8..16,
            -- replicated here from the hex digest (the
            -- media_decode_stats precedent), so the Arrow-batched
            -- mapInPandas path is hash-checked end to end.
            WITH b AS (
                SELECT doc_id, sha256(text) AS h FROM documents
            )
            SELECT doc_id AS media_id,
                   -- null symmetry: NULL text -> fp NULL (the Spark
                   -- lane's null-payload row), never 'N|N|...'; the
                   -- list is scalarized to one pipe-joined string
                   -- (driver canonicalization cannot sort list cells)
                   CASE WHEN h IS NULL THEN NULL ELSE
                       array_to_string(
                           list_transform(generate_series(0, 7), i ->
                               CAST((strpos('0123456789abcdef',
                                            substr(h, 17 + i * 2, 1)) - 1) * 16
                                  + (strpos('0123456789abcdef',
                                            substr(h, 18 + i * 2, 1)) - 1)
                                    AS VARCHAR)),
                           '|')
                   END AS fp
            FROM b
        """,
        "phash_pairs_pinned": f"""
            -- operators/multimodal.py phash_bands + phash_pairs
            -- replayed: pinned fingerprint derivation, byte-per-band
            -- bucketing, in-bucket pair expansion (a.id < b.id ==
            -- the sorted-pair strictness), XOR-popcount distance sum,
            -- and the max_distance verify.
            WITH {_PHASH_PINNED_SQL},
            pbd AS (
                -- 2-byte bands (the production band_bytes=2 dial):
                -- 4 bands of 65536 buckets, recall guaranteed to d<=3
                SELECT id, band,
                       fp[band * 2 + 1] * 256 + fp[band * 2 + 2] AS bucket,
                       fp
                FROM ppf, (SELECT unnest(generate_series(0, 3)) AS band)
            ), cand AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM pbd a JOIN pbd b USING (band, bucket)
                WHERE a.id < b.id
            ), verified AS (
                SELECT c.id_a, c.id_b,
                       CAST(list_sum(list_transform(generate_series(1, 8),
                           i -> bit_count(xor(fa.fp[i], fb.fp[i]))))
                           AS INT) AS distance
                FROM cand c
                JOIN ppf fa ON c.id_a = fa.id
                JOIN ppf fb ON c.id_b = fb.id
            )
            SELECT id_a, id_b, distance FROM verified WHERE distance <= 2
        """,
        "phash_dedup_incremental_docs": f"""
            -- operators/multimodal.py phash_incremental replayed:
            -- even-id bands are the store, odd-id documents the
            -- batch; in-batch pairs (smaller id = seen) union the
            -- batch-vs-store band join, then the inline Hamming
            -- verify.
            WITH {_PHASH_PINNED_SQL},
            pbd AS (
                -- 2-byte bands (the production band_bytes=2 dial):
                -- 4 bands of 65536 buckets, recall guaranteed to d<=3
                SELECT id, band,
                       fp[band * 2 + 1] * 256 + fp[band * 2 + 2] AS bucket,
                       fp
                FROM ppf, (SELECT unnest(generate_series(0, 3)) AS band)
            ), st AS (
                SELECT * FROM pbd WHERE id % 2 = 0
            ), bt AS (
                SELECT * FROM pbd WHERE id % 2 = 1
            ), allc AS (
                SELECT b.id AS id_new, a.id AS id_seen
                FROM bt a JOIN bt b USING (band, bucket)
                WHERE a.id < b.id
                UNION
                SELECT n.id AS id_new, s.id AS id_seen
                FROM bt n JOIN st s USING (band, bucket)
                WHERE n.id <> s.id
            ), verified AS (
                SELECT id_new, id_seen,
                       CAST(list_sum(list_transform(generate_series(1, 8),
                           i -> bit_count(xor(fn.fp[i], fs.fp[i]))))
                           AS INT) AS distance
                FROM allc
                JOIN ppf fn ON allc.id_new = fn.id
                JOIN ppf fs ON allc.id_seen = fs.id
            )
            SELECT id_new, id_seen, distance FROM verified
            WHERE distance <= 2
        """,
        "image_dedup_docs": f"""
            -- operators/multimodal.py image_dedup_report replayed:
            -- pinned fingerprints, banding, verified pairs (the
            -- phash_pairs_pinned chain), recursive-CTE component
            -- closure (least-id labels — the near_dup_clusters
            -- pattern), fake-decode pixel counts (the
            -- media_decode_stats arithmetic), and the quality-keep
            -- rank (n_pixels DESC NULLS LAST, id ASC).
            WITH RECURSIVE {_PHASH_PINNED_SQL},
            pbd AS (
                -- 2-byte bands (the production band_bytes=2 dial):
                -- 4 bands of 65536 buckets, recall guaranteed to d<=3
                SELECT id, band,
                       fp[band * 2 + 1] * 256 + fp[band * 2 + 2] AS bucket,
                       fp
                FROM ppf, (SELECT unnest(generate_series(0, 3)) AS band)
            ), cand AS (
                SELECT DISTINCT a.id AS id_a, b.id AS id_b
                FROM pbd a JOIN pbd b USING (band, bucket)
                WHERE a.id < b.id
            ), verified AS (
                SELECT c.id_a, c.id_b
                FROM cand c
                JOIN ppf fa ON c.id_a = fa.id
                JOIN ppf fb ON c.id_b = fb.id
                WHERE list_sum(list_transform(generate_series(1, 8),
                    i -> bit_count(xor(fa.fp[i], fb.fp[i])))) <= 2
            ), und AS (
                SELECT id_a AS a, id_b AS b FROM verified
                UNION
                SELECT id_b, id_a FROM verified
            ), reach(a, b) AS (
                SELECT a, b FROM und
                UNION
                SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
                WHERE u.b <> r.a
            ), comp AS (
                SELECT a AS id, least(a, min(b)) AS component
                FROM reach GROUP BY a
            ), px AS (
                SELECT doc_id AS id,
                       CAST((64 + ((strpos('0123456789abcdef', substr(sha256(text), 1, 1)) - 1) * 16
                          + (strpos('0123456789abcdef', substr(sha256(text), 2, 1)) - 1)) % 192)
                          * (64 + ((strpos('0123456789abcdef', substr(sha256(text), 3, 1)) - 1) * 16
                          + (strpos('0123456789abcdef', substr(sha256(text), 4, 1)) - 1)) % 192)
                          AS BIGINT) AS n_pixels
                FROM documents
            )
            SELECT c.id AS media_id,
                   c.component AS cluster,
                   px.n_pixels,
                   CAST(CASE WHEN row_number() OVER (
                       PARTITION BY c.component
                       ORDER BY px.n_pixels DESC NULLS LAST, c.id ASC
                   ) = 1 THEN 1 ELSE 0 END AS INT) AS keep
            FROM comp c LEFT JOIN px ON c.id = px.id
        """,
        "url_dedup_docs": f"""
            -- functions/url.py canonical_url + url_dedup_report
            -- replayed: the derived variant URLs (case/port/slash/
            -- tracking/fragment spellings), the RFC 3986 component
            -- regexes, the tracking-parameter filter, then min-id per
            -- canonical URL (NULL urls are never dedup candidates).
            WITH urls AS ({_URL_DERIVE_SQL}
            ),
            {_url_canon_sql("urls")}
            SELECT c AS url,
                   CAST(count(*) AS BIGINT) AS n_copies,
                   min(doc_id) AS kept_id
            FROM __ucanon
            WHERE url IS NOT NULL
            GROUP BY c
        """,
        "url_host_report_docs": f"""
            -- functions/url.py host_report: authority regex -> host
            -- (lowered, port/userinfo stripped), counts, 6dp share,
            -- top 10 by (n_docs DESC, host ASC); regexes are the
            -- SAME module constants the Spark lane compiles.
            WITH urls AS ({_URL_DERIVE_SQL}
            ), hosts AS (
                SELECT lower(regexp_extract(
                           regexp_extract(trim(url), '{_durl_url_re()}', 2),
                           '{_durl_auth_re()}', 2)) AS host
                FROM urls WHERE url IS NOT NULL
            ), counts AS (
                SELECT host, CAST(count(*) AS BIGINT) AS n_docs
                FROM hosts GROUP BY host
            ), tot AS (SELECT sum(n_docs) AS t FROM counts)
            SELECT host, n_docs,
                   round(n_docs / CAST(t AS DOUBLE), 6) AS share
            FROM counts, tot
            ORDER BY n_docs DESC, host ASC
            LIMIT 10
        """,
        "url_dedup_incremental_docs": f"""
            -- functions/url.py url_dedup_incremental: history = even
            -- ids' canonical urls; fresh = in-batch min-id survivors
            -- absent from history; NULL-url rows always pass (canonical
            -- NULL rides along — the null-symmetry contract).
            WITH urls AS ({_URL_DERIVE_SQL}
            ),
            {_url_canon_sql("urls")}
            , hist AS (
                SELECT DISTINCT c FROM __ucanon
                WHERE doc_id % 2 = 0 AND url IS NOT NULL
            ), batch_kept AS (
                SELECT doc_id, c FROM (
                    SELECT doc_id, c, row_number() OVER (
                        PARTITION BY c ORDER BY doc_id) AS rn
                    FROM __ucanon WHERE url IS NOT NULL)
                WHERE rn = 1
            )
            SELECT doc_id, CAST(NULL AS VARCHAR) AS url
            FROM __ucanon WHERE url IS NULL
            UNION ALL
            SELECT b.doc_id, b.c AS url
            FROM batch_kept b LEFT JOIN hist h ON b.c = h.c
            WHERE h.c IS NULL
        """,
        "epoch_shuffle_docs": """
            -- operators/sample.py epoch_shuffle: shard = top 60 bits of
            -- md5(key || '/epoch3') mod 8, pos = per-shard row_number
            -- over (hash, key) minus 1.
            WITH h AS (
                SELECT doc_id,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                           || '/epoch3'), 1, 15))::BIGINT AS hh
                FROM documents
            )
            SELECT doc_id,
                   CAST(hh % 8 AS INTEGER) AS shard,
                   CAST(row_number() OVER (
                       PARTITION BY hh % 8 ORDER BY hh, doc_id) - 1
                       AS BIGINT) AS pos
            FROM h
        """,
        "semdedup_pinned_vecs": """
            -- operators/dedup.py semdedup (Abbas et al. 2023) with the
            -- pinned centroids = unit vectors of vec_ids 1..4: nearest-
            -- centroid argmax (lowest index on ties), within-cluster
            -- cosine pairs at raw threshold 0.3, loser = the similar
            -- item NEARER its centroid (rounded cent_cos, id tiebreak).
            WITH u AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)
                           / sqrt(list_sum(list_transform(embedding,
                                 y -> CAST(y AS DOUBLE)
                                      * CAST(y AS DOUBLE))))) AS unit
                FROM embeddings
            ), cents AS (
                SELECT vec_id - 1 AS cl, unit AS cunit
                FROM u WHERE vec_id BETWEEN 1 AND 4
            ), base AS (
                SELECT vec_id, unit FROM u WHERE vec_id > 4
            ), scored AS (
                SELECT b.vec_id, c.cl,
                       list_sum(list_transform(
                           range(1, len(b.unit) + 1),
                           i -> b.unit[CAST(i AS INT)]
                                * c.cunit[CAST(i AS INT)])) AS s
                FROM base b CROSS JOIN cents c
            ), best AS (
                SELECT vec_id, cl, s,
                       row_number() OVER (PARTITION BY vec_id
                           ORDER BY s DESC, cl ASC) AS rn
                FROM scored
            ), asn AS (
                SELECT vec_id, CAST(cl AS INTEGER) AS cluster,
                       round(s, 6) AS cent_cos
                FROM best WHERE rn = 1
            ), losers AS (
                SELECT DISTINCT a.vec_id AS ida
                FROM asn a
                JOIN asn b ON a.cluster = b.cluster
                          AND a.vec_id <> b.vec_id
                JOIN base ua ON ua.vec_id = a.vec_id
                JOIN base ub ON ub.vec_id = b.vec_id
                WHERE list_sum(list_transform(
                          range(1, len(ua.unit) + 1),
                          i -> ua.unit[CAST(i AS INT)]
                               * ub.unit[CAST(i AS INT)])) >= 0.3
                  AND (b.cent_cos < a.cent_cos
                       OR (b.cent_cos = a.cent_cos
                           AND b.vec_id < a.vec_id))
            )
            SELECT a.vec_id, a.cluster, a.cent_cos,
                   CASE WHEN l.ida IS NULL THEN 0 ELSE 1 END AS is_dup
            FROM asn a LEFT JOIN losers l ON a.vec_id = l.ida
        """,
        "gopher_rules_docs": """
            -- functions/text.py gopher_rules replayed over the same
            -- 8-word re-segmentation: token/line measurements, the
            -- seven Gopher rule verdicts (Rae et al. 2021 A1.1) and the
            -- composite, all from list higher-order functions.
            WITH docs AS (
                SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w0
                FROM documents
            ), seg AS (
                SELECT doc_id,
                       array_to_string(list_transform(
                           generate_series(
                               1, CAST(ceil(len(w0) / 8.0) AS BIGINT)),
                           i -> array_to_string(
                               w0[(i - 1) * 8 + 1 : i * 8], ' ')
                       ), chr(10)) AS text
                FROM docs
            ), g AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   x -> x <> '') AS words,
                       list_filter(string_split(text, chr(10)),
                                   x -> len(trim(x)) > 0) AS lines,
                       len(text) - len(replace(text, '#', '')) AS n_hash,
                       -- '...' count plus lone '…' count (strip '...'
                       -- first so the two forms never double-count),
                       -- each symbol rated SEPARATELY per the paper
                       (len(text) - len(replace(text, '...', ''))) / 3.0
                           + len(replace(text, '...', ''))
                           - len(replace(replace(text, '...', ''), '…', ''))
                           AS n_ell
                FROM seg
            ), m AS (
                SELECT doc_id,
                       CAST(len(words) AS INTEGER) AS n_words,
                       CAST(greatest(len(words), 1) AS DOUBLE) AS nw,
                       coalesce(list_sum(
                           list_transform(words, x -> len(x))), 0) AS wlen,
                       n_hash, n_ell,
                       CAST(greatest(len(lines), 1) AS DOUBLE) AS nl,
                       len(list_filter(lines,
                           x -> starts_with(ltrim(x), '- ')
                             OR starts_with(ltrim(x), '* ')
                             OR starts_with(ltrim(x), '•'))) AS n_bullet,
                       len(list_filter(lines,
                           x -> ends_with(rtrim(x), '...')
                             OR ends_with(rtrim(x), '…'))) AS n_ellline,
                       len(list_filter(words,
                           x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
                       CAST(len(list_filter(
                           ['the','be','to','of','and','that','have','with'],
                           s -> list_contains(
                               list_transform(words, t -> lower(t)), s)))
                           AS INTEGER) AS stop_hits
                FROM g
            ), v AS (
                SELECT doc_id, n_words,
                       round(wlen / nw, 6) AS mean_word_len,
                       round(greatest(n_hash / nw, n_ell / nw), 6)
                           AS symbol_ratio,
                       round(n_bullet / nl, 6) AS bullet_frac,
                       round(n_ellline / nl, 6) AS ellipsis_frac,
                       round(n_alpha / nw, 6) AS alpha_frac,
                       stop_hits,
                       CASE WHEN n_words >= 30 AND n_words <= 100000
                            THEN 1 ELSE 0 END AS pass_word_count,
                       CASE WHEN wlen / nw >= 3.0 AND wlen / nw <= 10.0
                            THEN 1 ELSE 0 END AS pass_word_len,
                       CASE WHEN n_hash / nw <= 0.1 AND n_ell / nw <= 0.1
                            THEN 1 ELSE 0 END AS pass_symbol,
                       CASE WHEN n_bullet / nl <= 0.90
                            THEN 1 ELSE 0 END AS pass_bullet,
                       CASE WHEN n_ellline / nl <= 0.30
                            THEN 1 ELSE 0 END AS pass_ellipsis,
                       CASE WHEN n_alpha / nw >= 0.80
                            THEN 1 ELSE 0 END AS pass_alpha,
                       CASE WHEN stop_hits >= 2
                            THEN 1 ELSE 0 END AS pass_stopwords
                FROM m
            )
            SELECT doc_id, n_words, mean_word_len, symbol_ratio,
                   bullet_frac, ellipsis_frac, alpha_frac, stop_hits,
                   pass_word_count, pass_word_len, pass_symbol,
                   pass_bullet, pass_ellipsis, pass_alpha, pass_stopwords,
                   pass_word_count * pass_word_len * pass_symbol
                       * pass_bullet * pass_ellipsis * pass_alpha
                       * pass_stopwords AS pass_all
            FROM v
        """,
        "dsir_incremental_docs": """
            -- the ONE-SHOT fit: the incremental path (two batch
            -- count folds merged per bucket) must reproduce it
            -- exactly — that equality IS what this row verifies.
            -- operators/dsir.py replayed term for term: unigram+bigram
            -- features of the lowercased whitespace tokenization, md5
            -- bucketing into 64 buckets, Laplace(1) smoothing over
            -- target (lang='en') and raw (all documents), weight =
            -- sum(cnt * (ln p_target - ln p_raw)).
            WITH t AS (
                SELECT doc_id, lang,
                       list_filter(
                           regexp_split_to_array(
                               lower(trim(coalesce(text, ''))), '\\s+'),
                           x -> x <> '') AS w
                FROM documents
            ), feats AS (
                SELECT doc_id, lang, unnest(w) AS f FROM t
                UNION ALL
                SELECT doc_id, lang, w[g] || ' ' || w[g + 1] AS f
                FROM (SELECT doc_id, lang, w,
                             unnest(generate_series(1, len(w) - 1)) AS g
                      FROM t)
            ), fb AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5('dsir:' || f), 1, 15))::BIGINT
                           % 64 AS bucket,
                       count(*) AS cnt
                FROM feats GROUP BY 1, 2, 3
            ), tc AS (
                SELECT bucket, sum(cnt) AS c FROM fb
                WHERE lang = 'en' GROUP BY 1
            ), rc AS (
                SELECT bucket, sum(cnt) AS c FROM fb GROUP BY 1
            ), tt AS (
                SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM tc
            ), rt AS (
                SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM rc
            ), model AS (
                SELECT b.g AS bucket,
                       ln((CAST(coalesce(tc.c, 0) AS DOUBLE) + 1.0)
                          / (tt.t + 64.0))
                     - ln((CAST(coalesce(rc.c, 0) AS DOUBLE) + 1.0)
                          / (rt.t + 64.0)) AS log_ratio
                FROM range(0, 64) b(g)
                LEFT JOIN tc ON tc.bucket = b.g
                LEFT JOIN rc ON rc.bucket = b.g, tt, rt
            )
            SELECT fb.doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_feats,
                   round(sum(cnt * log_ratio), 6) AS log_weight
            FROM fb JOIN model USING (bucket)
            GROUP BY 1
        """,
        "oov_report_docs": """
            -- functions/text.py oov_report replayed: top-200 vocabulary
            -- of the English sub-corpus (vocab_topk tokenization: split
            -- of lower(trim(text)), NO empty-token filter, ties freq
            -- desc then token asc), then every document's tokens
            -- (empty-filtered) left-joined against it; tokenless docs
            -- survive with zeros.
            WITH vr AS (
                SELECT token, count(*) AS n
                FROM (SELECT unnest(regexp_split_to_array(
                          lower(trim(text)), '\\s+')) AS token
                      FROM documents WHERE lang = 'en')
                GROUP BY token ORDER BY n DESC, token ASC LIMIT 200
            ), v AS (
                SELECT DISTINCT lower(token) AS token FROM vr
            ), tok AS (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                           x -> x <> '')) AS token
                FROM documents
            ), agg AS (
                SELECT tok.doc_id,
                       CAST(count(*) AS BIGINT) AS n_tokens,
                       CAST(sum(CASE WHEN v.token IS NULL
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
                FROM tok LEFT JOIN v ON tok.token = v.token
                GROUP BY tok.doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CAST(coalesce(a.n_oov, 0) AS BIGINT) AS n_oov,
                   round(coalesce(a.n_oov, 0)
                         / CAST(greatest(coalesce(a.n_tokens, 0), 1)
                                AS DOUBLE), 6) AS oov_frac
            FROM documents d LEFT JOIN agg a USING (doc_id)
        """,
        "dsir_model_report_docs": """
            -- operators/dsir.py dsir_model_report over the same
            -- en-vs-all 64-bucket fit as dsir_weights_docs: KL(t||r) =
            -- sum exp(logp_target) * log_ratio, plus |log ratio|
            -- moments — the fit replayed term for term, then one fold.
            WITH t AS (
                SELECT doc_id, lang,
                       list_filter(
                           regexp_split_to_array(
                               lower(trim(coalesce(text, ''))), '\\s+'),
                           x -> x <> '') AS w
                FROM documents
            ), feats AS (
                SELECT doc_id, lang, unnest(w) AS f FROM t
                UNION ALL
                SELECT doc_id, lang, w[g] || ' ' || w[g + 1] AS f
                FROM (SELECT doc_id, lang, w,
                             unnest(generate_series(1, len(w) - 1)) AS g
                      FROM t)
            ), fb AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5('dsir:' || f), 1, 15))::BIGINT
                           % 64 AS bucket,
                       count(*) AS cnt
                FROM feats GROUP BY 1, 2, 3
            ), tc AS (
                SELECT bucket, sum(cnt) AS c FROM fb
                WHERE lang = 'en' GROUP BY 1
            ), rc AS (
                SELECT bucket, sum(cnt) AS c FROM fb GROUP BY 1
            ), tt AS (
                SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM tc
            ), rt AS (
                SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM rc
            ), model AS (
                SELECT b.g AS bucket,
                       ln((CAST(coalesce(tc.c, 0) AS DOUBLE) + 1.0)
                          / (tt.t + 64.0)) AS lpt,
                       ln((CAST(coalesce(tc.c, 0) AS DOUBLE) + 1.0)
                          / (tt.t + 64.0))
                     - ln((CAST(coalesce(rc.c, 0) AS DOUBLE) + 1.0)
                          / (rt.t + 64.0)) AS lr
                FROM range(0, 64) b(g)
                LEFT JOIN tc ON tc.bucket = b.g
                LEFT JOIN rc ON rc.bucket = b.g, tt, rt
            )
            SELECT CAST(count(*) AS BIGINT) AS buckets,
                   round(sum(exp(lpt) * lr), 6) AS kl_target_raw,
                   round(avg(abs(lr)), 6) AS mean_abs_log_ratio,
                   round(max(lr), 6) AS max_log_ratio,
                   round(min(lr), 6) AS min_log_ratio
            FROM model
        """,
        "dsir_ess_docs": """
            -- operators/dsir.py dsir_ess: Kish ESS over the per-doc
            -- DSIR weights (the dsir_weights_docs relation, log_weight
            -- rounded to 6 on BOTH lanes before exponentiation) with
            -- the overflow-safe max shift.
            WITH t AS (
                SELECT doc_id, lang,
                       list_filter(
                           regexp_split_to_array(
                               lower(trim(coalesce(text, ''))), '\\s+'),
                           x -> x <> '') AS w
                FROM documents
            ), feats AS (
                SELECT doc_id, lang, unnest(w) AS f FROM t
                UNION ALL
                SELECT doc_id, lang, w[g] || ' ' || w[g + 1] AS f
                FROM (SELECT doc_id, lang, w,
                             unnest(generate_series(1, len(w) - 1)) AS g
                      FROM t)
            ), fb AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5('dsir:' || f), 1, 15))::BIGINT
                           % 64 AS bucket,
                       count(*) AS cnt
                FROM feats GROUP BY 1, 2, 3
            ), tc AS (
                SELECT bucket, sum(cnt) AS c FROM fb
                WHERE lang = 'en' GROUP BY 1
            ), rc AS (
                SELECT bucket, sum(cnt) AS c FROM fb GROUP BY 1
            ), tt AS (
                SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM tc
            ), rt AS (
                SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM rc
            ), model AS (
                SELECT b.g AS bucket,
                       ln((CAST(coalesce(tc.c, 0) AS DOUBLE) + 1.0)
                          / (tt.t + 64.0))
                     - ln((CAST(coalesce(rc.c, 0) AS DOUBLE) + 1.0)
                          / (rt.t + 64.0)) AS log_ratio
                FROM range(0, 64) b(g)
                LEFT JOIN tc ON tc.bucket = b.g
                LEFT JOIN rc ON rc.bucket = b.g, tt, rt
            ), wts AS (
                SELECT fb.doc_id,
                       round(sum(cnt * log_ratio), 6) AS lw
                FROM fb JOIN model USING (bucket) GROUP BY 1
            ), mx AS (
                SELECT max(lw) AS m FROM wts
            ), e AS (
                SELECT exp(lw - m) AS x FROM wts, mx
            )
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   round(sum(x) * sum(x) / sum(x * x), 6) AS ess,
                   round(sum(x) * sum(x)
                         / (sum(x * x) * count(*)), 6) AS ess_frac
            FROM e
        """,
        "dsir_weights_docs": """
            -- operators/dsir.py replayed term for term: unigram+bigram
            -- features of the lowercased whitespace tokenization, md5
            -- bucketing into 64 buckets, Laplace(1) smoothing over
            -- target (lang='en') and raw (all documents), weight =
            -- sum(cnt * (ln p_target - ln p_raw)).
            WITH t AS (
                SELECT doc_id, lang,
                       list_filter(
                           regexp_split_to_array(
                               lower(trim(coalesce(text, ''))), '\\s+'),
                           x -> x <> '') AS w
                FROM documents
            ), feats AS (
                SELECT doc_id, lang, unnest(w) AS f FROM t
                UNION ALL
                SELECT doc_id, lang, w[g] || ' ' || w[g + 1] AS f
                FROM (SELECT doc_id, lang, w,
                             unnest(generate_series(1, len(w) - 1)) AS g
                      FROM t)
            ), fb AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5('dsir:' || f), 1, 15))::BIGINT
                           % 64 AS bucket,
                       count(*) AS cnt
                FROM feats GROUP BY 1, 2, 3
            ), tc AS (
                SELECT bucket, sum(cnt) AS c FROM fb
                WHERE lang = 'en' GROUP BY 1
            ), rc AS (
                SELECT bucket, sum(cnt) AS c FROM fb GROUP BY 1
            ), tt AS (
                SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM tc
            ), rt AS (
                SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM rc
            ), model AS (
                SELECT b.g AS bucket,
                       ln((CAST(coalesce(tc.c, 0) AS DOUBLE) + 1.0)
                          / (tt.t + 64.0))
                     - ln((CAST(coalesce(rc.c, 0) AS DOUBLE) + 1.0)
                          / (rt.t + 64.0)) AS log_ratio
                FROM range(0, 64) b(g)
                LEFT JOIN tc ON tc.bucket = b.g
                LEFT JOIN rc ON rc.bucket = b.g, tt, rt
            )
            SELECT fb.doc_id,
                   CAST(sum(cnt) AS BIGINT) AS n_feats,
                   round(sum(cnt * log_ratio), 6) AS log_weight
            FROM fb JOIN model USING (bucket)
            GROUP BY 1
        """,
        "dsir_sample_docs": """
            -- dsir_sample end-to-end: the dsir_weights_docs relation
            -- plus the deterministic md5 Gumbel key
            -- round(log_weight - ln(-ln((h13+1)/2^52)), 6), top 40.
            WITH t AS (
                SELECT doc_id, lang,
                       list_filter(
                           regexp_split_to_array(
                               lower(trim(coalesce(text, ''))), '\\s+'),
                           x -> x <> '') AS w
                FROM documents
            ), feats AS (
                SELECT doc_id, lang, unnest(w) AS f FROM t
                UNION ALL
                SELECT doc_id, lang, w[g] || ' ' || w[g + 1] AS f
                FROM (SELECT doc_id, lang, w,
                             unnest(generate_series(1, len(w) - 1)) AS g
                      FROM t)
            ), fb AS (
                SELECT doc_id, lang,
                       ('0x' || substr(md5('dsir:' || f), 1, 15))::BIGINT
                           % 64 AS bucket,
                       count(*) AS cnt
                FROM feats GROUP BY 1, 2, 3
            ), tc AS (
                SELECT bucket, sum(cnt) AS c FROM fb
                WHERE lang = 'en' GROUP BY 1
            ), rc AS (
                SELECT bucket, sum(cnt) AS c FROM fb GROUP BY 1
            ), tt AS (
                SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM tc
            ), rt AS (
                SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS t FROM rc
            ), model AS (
                SELECT b.g AS bucket,
                       ln((CAST(coalesce(tc.c, 0) AS DOUBLE) + 1.0)
                          / (tt.t + 64.0))
                     - ln((CAST(coalesce(rc.c, 0) AS DOUBLE) + 1.0)
                          / (rt.t + 64.0)) AS log_ratio
                FROM range(0, 64) b(g)
                LEFT JOIN tc ON tc.bucket = b.g
                LEFT JOIN rc ON rc.bucket = b.g, tt, rt
            ), weights AS (
                SELECT fb.doc_id,
                       CAST(sum(cnt) AS BIGINT) AS n_feats,
                       round(sum(cnt * log_ratio), 6) AS log_weight
                FROM fb JOIN model USING (bucket)
                GROUP BY 1
            )
            SELECT doc_id, n_feats, log_weight,
                   round(log_weight - ln(-ln(
                       (('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                           || '/dsir-g'), 1, 13))::BIGINT + 1)
                       / 4503599627370496.0)), 6) AS gumbel_key
            FROM weights
            ORDER BY gumbel_key DESC, doc_id ASC
            LIMIT 40
        """,
        "bigram_logprob_docs": """
            -- identical tokenization, Laplace smoothing (alpha 0.5) and
            -- chain rule as functions/text.py bigram_logprob: first
            -- token under the smoothed unigram, later tokens under the
            -- smoothed bigram conditional; weighted-mean form.
            WITH d AS (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(
                           trim(lower(coalesce(text, ''))), '\\s+'),
                           t -> t <> '') AS toks
                FROM documents
            ), tk AS (
                SELECT doc_id, unnest(toks) AS token FROM d
            ), c1 AS (
                SELECT token, count(*) AS c FROM tk GROUP BY token
            ), vn AS (
                SELECT CAST(count(*) AS DOUBLE) AS v,
                       CAST(sum(c) AS DOUBLE) AS n
                FROM c1
            ), bg AS (
                SELECT doc_id, toks[i - 1] AS prev, toks[i] AS cur
                FROM d, LATERAL (
                    SELECT unnest(generate_series(2, len(toks))) AS i)
                WHERE len(toks) >= 2
            ), db AS (
                SELECT doc_id, prev, cur, count(*) AS m
                FROM bg GROUP BY 1, 2, 3
            ), c2 AS (
                SELECT prev, cur, sum(m) AS c2 FROM db GROUP BY 1, 2
            ), terms AS (
                SELECT f.doc_id, CAST(1 AS BIGINT) AS w,
                       ln((c1.c + 0.5) / (vn.n + 0.5 * vn.v)) AS lp
                FROM (SELECT doc_id, toks[1] AS token FROM d
                      WHERE len(toks) >= 1) f
                JOIN c1 USING (token), vn
                UNION ALL
                SELECT db.doc_id, db.m AS w,
                       ln((c2.c2 + 0.5) / (p.c + 0.5 * vn.v)) AS lp
                FROM db JOIN c2 USING (prev, cur)
                JOIN c1 p ON p.token = db.prev, vn
            )
            SELECT doc_id, CAST(sum(w) AS BIGINT) AS n_tokens,
                   round(sum(w * lp) / sum(w), 6) AS avg_logprob
            FROM terms GROUP BY doc_id
        """,
        "strip_repeated_lines_docs": """
            WITH docs AS (
                SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
                FROM documents
            ), lines AS (
                SELECT doc_id, i AS pos,
                       array_to_string(w[(i - 1) * 8 + 1 : i * 8], ' ') AS line
                FROM docs, LATERAL (
                    SELECT unnest(generate_series(
                        1, CAST(ceil(len(w) / 8.0) AS BIGINT))) AS i)
            ), common AS (
                SELECT line FROM lines WHERE trim(line) <> ''
                GROUP BY line HAVING count(DISTINCT doc_id) >= 2
            ), agg AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text
                FROM lines
                WHERE line NOT IN (SELECT line FROM common)
                GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(a.text, '') AS text
            FROM (SELECT DISTINCT doc_id FROM docs) d
            LEFT JOIN agg a USING (doc_id)
        """,
        "corpus_report_docs": """
            -- per-source data card: corpus-wide exact-dup flag (md5 of
            -- raw text, null-equal grouping), whitespace token counts,
            -- dominant language by count with alphabetical tiebreak.
            WITH base AS (
                SELECT source, lang, md5(text) AS fp,
                       len(list_filter(regexp_split_to_array(
                           trim(coalesce(text, '')), '\\s+'),
                           t -> t <> '')) AS nt
                FROM documents
            ), dup AS (
                SELECT fp FROM base GROUP BY fp HAVING count(*) >= 2
            ), flagged AS (
                SELECT b.*, (b.fp IN (SELECT fp FROM dup)
                             OR (b.fp IS NULL AND EXISTS (
                                 SELECT 1 FROM dup WHERE fp IS NULL)))
                            AS is_dup
                FROM base b
            ), rep AS (
                SELECT source,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_dup_docs,
                       CAST(sum(nt) AS BIGINT) AS total_tokens,
                       round(avg(nt), 6) AS avg_tokens
                FROM flagged GROUP BY source
            ), lg AS (
                SELECT source, lang, count(*) AS c FROM base
                GROUP BY source, lang
            ), top AS (
                SELECT source, lang AS top_label, c,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY c DESC, lang ASC NULLS LAST) AS rn
                FROM lg
            )
            SELECT r.source, r.n_docs, r.n_dup_docs, r.total_tokens,
                   r.avg_tokens, t.top_label,
                   round(t.c / CAST(r.n_docs AS DOUBLE), 6)
                       AS top_label_frac
            FROM rep r JOIN top t ON t.source = r.source AND t.rn = 1
        """,
        "dup_spans_docs": """
            -- term-for-term replay of the window-hash span pass:
            -- identical tokenization (trim + split on \\s+), identical
            -- window hash (md5 of the lowercased 8-token slice joined
            -- on chr(31)), identical merge rule (windows <= 8 apart
            -- coalesce), CAST per ORACLE.md rule 3/8.
            WITH d AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           trim(coalesce(text, '')), '\\s+') AS rt
                FROM documents
            ), w AS (
                SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                       md5(array_to_string(
                           list_transform(rt[i : i + 7], t -> lower(t)),
                           chr(31))) AS wh
                FROM d, LATERAL (
                    SELECT unnest(generate_series(1, len(rt) - 7)) AS i)
                WHERE len(rt) >= 8
            ), dup AS (
                SELECT wh FROM w GROUP BY wh
                HAVING count(DISTINCT doc_id) >= 2
            ), hits AS (
                SELECT doc_id, pos FROM w
                WHERE wh IN (SELECT wh FROM dup)
            ), b AS (
                SELECT doc_id, pos,
                       CASE WHEN pos - lag(pos) OVER
                                (PARTITION BY doc_id ORDER BY pos) <= 8
                            THEN 0 ELSE 1 END AS brk
                FROM hits
            ), s AS (
                SELECT doc_id, pos,
                       sum(brk) OVER
                           (PARTITION BY doc_id ORDER BY pos) AS sid
                FROM b
            )
            SELECT doc_id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + 7 AS BIGINT) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM s GROUP BY doc_id, sid
        """,
        "dup_spans_incremental_docs": """
            -- the dup_spans_docs window relation split into history
            -- (doc_id % 5 != 0 — distinct hashes only, what the store
            -- persists) and batch (doc_id % 5 == 0); a batch window is
            -- duplicated if its hash is in history OR in >= 2 distinct
            -- batch documents; identical merge arithmetic.
            WITH d AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           trim(coalesce(text, '')), '\\s+') AS rt
                FROM documents
            ), w AS (
                SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                       md5(array_to_string(
                           list_transform(rt[i : i + 7], t -> lower(t)),
                           chr(31))) AS wh
                FROM d, LATERAL (
                    SELECT unnest(generate_series(1, len(rt) - 7)) AS i)
                WHERE len(rt) >= 8
            ), hist AS (
                SELECT DISTINCT wh FROM w WHERE doc_id % 5 <> 0
            ), wb AS (
                SELECT doc_id, pos, wh FROM w WHERE doc_id % 5 = 0
            ), dup AS (
                SELECT wh FROM hist
                UNION
                SELECT wh FROM wb GROUP BY wh
                HAVING count(DISTINCT doc_id) >= 2
            ), hits AS (
                SELECT doc_id, pos FROM wb
                WHERE wh IN (SELECT wh FROM dup)
            ), b AS (
                SELECT doc_id, pos,
                       CASE WHEN pos - lag(pos) OVER
                                (PARTITION BY doc_id ORDER BY pos) <= 8
                            THEN 0 ELSE 1 END AS brk
                FROM hits
            ), s AS (
                SELECT doc_id, pos,
                       sum(brk) OVER
                           (PARTITION BY doc_id ORDER BY pos) AS sid
                FROM b
            )
            SELECT doc_id,
                   CAST(min(pos) AS BIGINT) AS span_start,
                   CAST(max(pos) + 7 AS BIGINT) AS span_end,
                   CAST(count(*) AS BIGINT) AS n_windows
            FROM s GROUP BY doc_id, sid
        """,
        "strip_dup_spans_docs": """
            -- same span relation as dup_spans_docs, then the rewrite:
            -- tokens covered by no span survive (raw casing), rejoined
            -- on single spaces; all-duplicate docs keep empty text.
            WITH d AS (
                SELECT doc_id,
                       regexp_split_to_array(
                           trim(coalesce(text, '')), '\\s+') AS rt
                FROM documents
            ), w AS (
                SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                       md5(array_to_string(
                           list_transform(rt[i : i + 7], t -> lower(t)),
                           chr(31))) AS wh
                FROM d, LATERAL (
                    SELECT unnest(generate_series(1, len(rt) - 7)) AS i)
                WHERE len(rt) >= 8
            ), dup AS (
                SELECT wh FROM w GROUP BY wh
                HAVING count(DISTINCT doc_id) >= 2
            ), hits AS (
                SELECT doc_id, pos FROM w
                WHERE wh IN (SELECT wh FROM dup)
            ), b AS (
                SELECT doc_id, pos,
                       CASE WHEN pos - lag(pos) OVER
                                (PARTITION BY doc_id ORDER BY pos) <= 8
                            THEN 0 ELSE 1 END AS brk
                FROM hits
            ), s AS (
                SELECT doc_id, pos,
                       sum(brk) OVER
                           (PARTITION BY doc_id ORDER BY pos) AS sid
                FROM b
            ), spans AS (
                SELECT doc_id, min(pos) AS a, max(pos) + 7 AS z
                FROM s GROUP BY doc_id, sid
            ), tk AS (
                SELECT doc_id, unnest(rt) AS tok,
                       generate_subscripts(rt, 1) - 1 AS idx
                FROM d
            ), kept AS (
                SELECT tk.doc_id, tk.tok, tk.idx FROM tk
                WHERE NOT EXISTS (
                    SELECT 1 FROM spans sp
                    WHERE sp.doc_id = tk.doc_id
                      AND tk.idx BETWEEN sp.a AND sp.z)
            ), agg AS (
                SELECT doc_id,
                       string_agg(tok, ' ' ORDER BY idx) AS text
                FROM kept GROUP BY doc_id
            )
            SELECT dd.doc_id, coalesce(a.text, '') AS text
            FROM (SELECT doc_id FROM documents) dd
            LEFT JOIN agg a USING (doc_id)
        """,
        "jaccard_pairs_3gram": """
            WITH sh AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(t) - 2, 1) + 1),
                           i -> substring(t, CAST(i AS INT), 3)))) AS g
                FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                      FROM documents)
            ), sizes AS (
                SELECT id, count(*) AS n_sh FROM sh GROUP BY id
            ), co AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
            FROM co
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
        """,
        "near_dup_jaccard_lsh": """
            WITH sh AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(t) - 3, 1) + 1),
                           i -> substring(t, CAST(i AS INT), 4)))) AS g
                FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                      FROM documents)
            ), sizes AS (
                SELECT id, count(*) AS n_sh FROM sh GROUP BY id
            ), co AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
                GROUP BY a.id, b.id
            )
            SELECT id_a, id_b,
                   round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
            FROM co
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
        """,
        "near_dup_clusters": """
            WITH RECURSIVE sh AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(t) - 3, 1) + 1),
                           i -> substring(t, CAST(i AS INT), 4)))) AS g
                FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                      FROM documents)
            ), sizes AS (
                SELECT id, count(*) AS n_sh FROM sh GROUP BY id
            ), co AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
                GROUP BY a.id, b.id
            ), pairs AS (
                SELECT id_a, id_b FROM co
                JOIN sizes sa ON sa.id = id_a
                JOIN sizes sb ON sb.id = id_b
                WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
            ), und AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach(a, b) AS (
                SELECT a, b FROM und
                UNION
                SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
                WHERE u.b <> r.a
            )
            SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
            FROM reach GROUP BY a
        """,
        "dedup_best_quality_docs": """
            WITH RECURSIVE sh AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(t) - 3, 1) + 1),
                           i -> substring(t, CAST(i AS INT), 4)))) AS g
                FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                      FROM documents)
            ), sizes AS (
                SELECT id, count(*) AS n_sh FROM sh GROUP BY id
            ), co AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
                GROUP BY a.id, b.id
            ), pairs AS (
                SELECT id_a, id_b FROM co
                JOIN sizes sa ON sa.id = id_a
                JOIN sizes sb ON sb.id = id_b
                WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
            ), und AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach(a, b) AS (
                SELECT a, b FROM und
                UNION
                SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
                WHERE u.b <> r.a
            ), comp AS (
                SELECT a AS id, least(a, min(b)) AS component
                FROM reach GROUP BY a
            ), ranked AS (
                SELECT c.id,
                       row_number() OVER (
                           PARTITION BY c.component
                           ORDER BY d.n_chars DESC, c.id ASC) AS rn
                FROM comp c JOIN documents d ON d.doc_id = c.id
            ), losers AS (
                SELECT id FROM ranked WHERE rn > 1
            )
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   CAST(sum(n_chars) AS BIGINT) AS kept_chars
            FROM documents
            WHERE doc_id NOT IN (SELECT id FROM losers)
            GROUP BY source
        """,
        "repetition_docs": """
            WITH w AS (
              SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
              FROM documents
            )
            SELECT doc_id,
                   len(words) AS n_words,
                   round(1.0 - len(list_distinct(words))
                         / greatest(len(words), 1), 6) AS dup_word_frac,
                   CASE WHEN len(words) >= 2 THEN
                     round(1.0 - len(list_distinct(list_transform(range(1, len(words)),
                            i -> words[CAST(i AS INT)] || ' ' || words[CAST(i AS INT)+1])))
                           / (len(words)-1), 6)
                   ELSE 0.0 END AS dup_bigram_frac,
                   round(list_max(list_transform(list_distinct(words),
                          w -> len(list_filter(words, x -> x = w))))
                         / greatest(len(words), 1), 6) AS top_word_frac
            FROM w
        """,
        "mix_corpus_sources": """
            SELECT doc_id, source, lang, n_chars
            FROM documents
            WHERE (source = 'src0' AND md5(CAST(doc_id AS VARCHAR) || '/src0') < '99')
               OR (source = 'src1' AND md5(CAST(doc_id AS VARCHAR) || '/src1') < '4d')
               OR (source = 'src2' AND md5(CAST(doc_id AS VARCHAR) || '/src2') < '1a')
        """,
        "vocab_topk_docs": """
            SELECT token, count(*) AS n
            FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
                  FROM documents)
            GROUP BY token ORDER BY n DESC, token ASC LIMIT 50
        """,
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT source,
                     unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
              FROM documents
            ), tf AS (
              SELECT source, token, count(*) AS tf FROM toks GROUP BY source, token
            ), dfq AS (
              SELECT token, count(*) AS df FROM tf GROUP BY token
            ), ns AS (
              SELECT CAST(count(DISTINCT source) AS DOUBLE) AS ns FROM documents
            ), scored AS (
              SELECT tf.source, tf.token, tf.tf, dfq.df,
                     tf.tf * ln(ns.ns / dfq.df) AS tfidf
              FROM tf JOIN dfq USING (token) CROSS JOIN ns
            ), ranked AS (
              SELECT *, row_number() OVER (
                  PARTITION BY source ORDER BY tfidf DESC, token ASC) AS rnk
              FROM scored
            )
            SELECT source, token, tf, df, round(tfidf, 6) AS tfidf, rnk
            FROM ranked WHERE rnk <= 3
        """,
        "weighted_sample_docs": """
            WITH scored AS (
                SELECT doc_id, source, n_chars,
                       ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '/ws'), 1, 13))::BIGINT + 1)
                          / 4503599627370496.0)
                       / CAST(n_chars AS DOUBLE) AS es
                FROM documents
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY source ORDER BY es DESC, doc_id ASC) AS rnk
                FROM scored
            )
            SELECT doc_id, source, n_chars,
                   round(es, 6) + 0.0 AS es_key
            FROM ranked WHERE rnk <= 2
        """,
        "split_documents": """
            WITH banded AS (
                SELECT n_chars,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '/split'), 1, 4))::BIGINT AS h
                FROM documents
            )
            SELECT CASE WHEN h < 52429 THEN 'train'
                        WHEN h < 58982 THEN 'val'
                        ELSE 'test' END AS split,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars
            FROM banded GROUP BY 1
        """,
        "cluster_store_incremental_docs": """
            -- the ONE-SHOT closure over ALL exact-jaccard pairs: the
            -- incremental fold through the cluster store must reproduce
            -- it exactly — that equality IS the fold law this row
            -- verifies. Pair relation + recursive-CTE transitive
            -- closure identical to split_leak_safe_docs' oracle.
            WITH RECURSIVE sh AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(t) - 3, 1) + 1),
                           i -> substring(t, CAST(i AS INT), 4)))) AS g
                FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                      FROM documents WHERE doc_id % 3 = 0)
            ), sizes AS (
                SELECT id, count(*) AS n_sh FROM sh GROUP BY id
            ), co AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
                GROUP BY a.id, b.id
            ), pairs AS (
                SELECT id_a, id_b FROM co
                JOIN sizes sa ON sa.id = id_a
                JOIN sizes sb ON sb.id = id_b
                WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
            ), und AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach(a, b) AS (
                SELECT a, b FROM und
                UNION
                SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
                WHERE u.b <> r.a
            )
            SELECT a AS id, least(a, min(b)) AS component
            FROM reach GROUP BY a
        """,
        "rollup_hourly_events": """
            -- the ONE-SHOT hourly rollup over ALL events: the two-batch
            -- fold through the continuous-aggregate store must serve
            -- exactly this — the equality IS the fold law this row
            -- verifies. Bucket = exact bigint epoch-µs floor; sums of
            -- the 2-decimal values round at 4dp (exact).
            SELECT make_timestamp(e - ((e % 3600000000) + 3600000000)
                                      % 3600000000) AS bucket_ts,
                   event_type,
                   CAST(count(value) AS BIGINT) AS n_values,
                   round(sum(value), 4) AS sum_value,
                   min(value) AS min_value,
                   max(value) AS max_value
            FROM (SELECT epoch_us(ts) AS e, event_type, value FROM events
                  WHERE ts IS NOT NULL)
            GROUP BY 1, 2
        """,
        "rollup_multi_weekly_orders": """
            -- the ONE-SHOT per-column weekly rollups UNION ALL'd: the
            -- two-batch k-cell store fold must serve exactly this.
            -- Week bucket = exact bigint epoch-µs floor (604800000000);
            -- o_totalprice sums round at 4dp (2-decimal values, exact),
            -- o_custkey sums are exact small integers (4dp no-op).
            WITH src AS (
                SELECT epoch_us(o_orderdate) AS e, o_totalprice, o_custkey
                FROM orders WHERE o_orderdate IS NOT NULL
            ), cells AS (
                SELECT e, 'o_totalprice' AS col,
                       CAST(o_totalprice AS DOUBLE) AS v FROM src
                UNION ALL
                SELECT e, 'o_custkey', CAST(o_custkey AS DOUBLE) FROM src
            )
            SELECT make_timestamp(e - ((e % 604800000000) + 604800000000)
                                      % 604800000000) AS bucket_ts,
                   col,
                   CAST(count(v) AS BIGINT) AS n_values,
                   round(sum(v), 4) AS sum_value,
                   min(v) AS min_value,
                   max(v) AS max_value
            FROM cells
            GROUP BY 1, 2
        """,
        "pipeline_observability_events": """
            -- the three stages' twins composed: the hourly rollup
            -- (exact epoch floor; sum 4dp), the keyed md5-HLL distinct
            -- replica (row 135's sketch, est 6dp) and the half-life
            -- trend (closed-form exp self-join over the 720-row hourly
            -- relation, 6dp).
            WITH hourly AS (
                SELECT make_timestamp(e - ((e % 3600000000) + 3600000000)
                                          % 3600000000) AS bucket_ts,
                       CAST(count(*) AS BIGINT) AS n_events,
                       round(sum(value), 4) AS sum_value
                FROM (SELECT epoch_us(ts) AS e, value FROM events
                      WHERE ts IS NOT NULL)
                GROUP BY 1
            ),
            src AS (
                SELECT make_timestamp(e - ((e % 3600000000) + 3600000000)
                                          % 3600000000) AS bucket_ts,
                       CAST(user_id AS VARCHAR) AS val
                FROM (SELECT epoch_us(ts) AS e, user_id FROM events
                      WHERE ts IS NOT NULL)
                WHERE user_id IS NOT NULL
            ),
            h AS (
                SELECT bucket_ts,
                       ('0x' || substr(md5('hll:' || val), 1, 15))::BIGINT AS h
                FROM src
            ),
            c AS (SELECT bucket_ts, h >> 52 AS r,
                         h & 4503599627370495 AS v FROM h),
            s1 AS (SELECT bucket_ts, r, v | (v >> 1) AS s FROM c),
            s2 AS (SELECT bucket_ts, r, s | (s >> 2) AS s FROM s1),
            s3 AS (SELECT bucket_ts, r, s | (s >> 4) AS s FROM s2),
            s4 AS (SELECT bucket_ts, r, s | (s >> 8) AS s FROM s3),
            s5 AS (SELECT bucket_ts, r, s | (s >> 16) AS s FROM s4),
            s6 AS (SELECT bucket_ts, r, s | (s >> 32) AS s FROM s5),
            regs AS (
                SELECT bucket_ts, r,
                       max(53 - bit_count(CAST(s AS BIGINT))) AS maxrho
                FROM s6 GROUP BY 1, 2
            ),
            agg AS (
                SELECT bucket_ts, count(*) AS n,
                       CAST(sum(1::BIGINT << (53 - maxrho)) AS BIGINT) AS dp
                FROM regs GROUP BY 1
            ),
            est AS (
                SELECT bucket_ts,
                       4.2399330249068963e+20
                         / CAST(dp + (256 - n) * 9007199254740992 AS DOUBLE)
                         AS raw,
                       256 - n AS zeros
                FROM agg
            ),
            users AS (
                SELECT bucket_ts,
                       round(CASE WHEN raw <= 640.0 AND zeros > 0
                                  THEN 256.0 * ln(256.0 / zeros)
                                  ELSE raw END, 6) AS est_users
                FROM est
            ),
            hb AS (
                SELECT bucket_ts, epoch_us(bucket_ts) AS be, n_events
                FROM hourly
            ),
            tr AS (
                SELECT t.bucket_ts,
                       round(sum(i.n_events
                                 * exp(-0.6931471805599453
                                       * (t.be - i.be) / 21600000000.0)),
                             6) AS volume_trend
                FROM hb t JOIN hb i ON i.be <= t.be
                GROUP BY t.bucket_ts
            )
            SELECT h2.bucket_ts, h2.n_events, h2.sum_value,
                   users.est_users, tr.volume_trend
            FROM hourly h2
            JOIN users USING (bucket_ts)
            JOIN tr USING (bucket_ts)
        """,
        "rollup_distinct_hourly_events": """
            -- the hll_distinct_users_md5 sketch replica keyed by the
            -- exact epoch-floor hour bucket: 60-bit md5 hash, p=8 ->
            -- w=52 split, rank via exact bit-smear + bit_count,
            -- exact-BIGINT harmonic denominator, linear-counting branch
            -- below 2.5m. One-shot over ALL events: equality with the
            -- two-batch register-store fold IS the max-merge fold law.
            WITH src AS (
                SELECT make_timestamp(e - ((e % 3600000000) + 3600000000)
                                          % 3600000000) AS bucket_ts,
                       CAST(user_id AS VARCHAR) AS val
                FROM (SELECT epoch_us(ts) AS e, user_id FROM events
                      WHERE ts IS NOT NULL)
                WHERE user_id IS NOT NULL
            ),
            h AS (
                SELECT bucket_ts,
                       ('0x' || substr(md5('hll:' || val), 1, 15))::BIGINT AS h
                FROM src
            ),
            c AS (SELECT bucket_ts, h >> 52 AS r,
                         h & 4503599627370495 AS v FROM h),
            s1 AS (SELECT bucket_ts, r, v | (v >> 1) AS s FROM c),
            s2 AS (SELECT bucket_ts, r, s | (s >> 2) AS s FROM s1),
            s3 AS (SELECT bucket_ts, r, s | (s >> 4) AS s FROM s2),
            s4 AS (SELECT bucket_ts, r, s | (s >> 8) AS s FROM s3),
            s5 AS (SELECT bucket_ts, r, s | (s >> 16) AS s FROM s4),
            s6 AS (SELECT bucket_ts, r, s | (s >> 32) AS s FROM s5),
            regs AS (
                SELECT bucket_ts, r,
                       max(53 - bit_count(CAST(s AS BIGINT))) AS maxrho
                FROM s6 GROUP BY 1, 2
            ),
            agg AS (
                SELECT bucket_ts, count(*) AS n,
                       CAST(sum(1::BIGINT << (53 - maxrho)) AS BIGINT) AS dp
                FROM regs GROUP BY 1
            ),
            est AS (
                SELECT bucket_ts,
                       4.2399330249068963e+20
                         / CAST(dp + (256 - n) * 9007199254740992 AS DOUBLE)
                         AS raw,
                       256 - n AS zeros
                FROM agg
            )
            SELECT bucket_ts,
                   round(CASE WHEN raw <= 640.0 AND zeros > 0
                              THEN 256.0 * ln(256.0 / zeros)
                              ELSE raw END, 6) AS est_users
            FROM est
        """,
        "ewma_user_values": """
            -- closed form of the adjust=False recursion (y1 = x1;
            -- y_t = a*x_t + (1-a)*y_{t-1}) as a per-user self-join:
            -- seed weight (1-a)^(rn-1), term weights a*(1-a)^(rn-i).
            -- EXACT arithmetic by construction (alpha=1/2, integer
            -- values <= 9 bits, chains <= 40): every term and partial
            -- sum is representable, so sum order cannot matter and NO
            -- rounding is needed — recursion == pow-sum bit for bit.
            WITH o AS (
                SELECT user_id, event_id,
                       CAST(round(value, 0) AS DOUBLE) AS x,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) AS rn
                FROM events WHERE value IS NOT NULL
            ), c AS (SELECT * FROM o WHERE rn <= 40)
            SELECT t.event_id,
                   sum(CASE WHEN i.rn = 1 THEN power(0.5, t.rn - i.rn)
                            ELSE 0.5 * power(0.5, t.rn - i.rn)
                       END * i.x) AS ewma_value
            FROM c t JOIN c i
              ON i.user_id = t.user_id AND i.rn <= t.rn
            GROUP BY t.event_id
        """,
        "decayed_sum_events": """
            -- closed form of the half-life decay: every event's value
            -- weighted by exp(-ln2 * age / halflife) at each later (or
            -- tied — time-inclusive semantics) event of the same user.
            -- 6dp rounding bridges the factored (bucketed prefix +
            -- carry) vs direct exponent FP paths. Null-ts rows survive
            -- with a NULL score (the lane's keep-all-rows contract) via
            -- the LEFT JOIN back from the full table.
            WITH o AS (
                SELECT user_id, event_id, epoch_us(ts) AS e,
                       coalesce(value, 0) AS x
                FROM events WHERE ts IS NOT NULL
            ), scored AS (
                SELECT t.event_id,
                       round(sum(i.x * exp(-0.6931471805599453
                                           * (t.e - i.e) / 7200000000.0)),
                             6) AS decayed_value
                FROM o t JOIN o i
                  ON i.user_id = t.user_id AND i.e <= t.e
                GROUP BY t.event_id
            )
            SELECT e.event_id, s.decayed_value
            FROM events e LEFT JOIN scored s USING (event_id)
        """,
        "rank_family_events": """
            -- the textbook window forms: ranks and tiles are exact
            -- integers, cume_dist one exact-integer division — no
            -- rounding anywhere.
            SELECT event_id,
                   rank() OVER (ORDER BY value) AS value_rank,
                   dense_rank() OVER (ORDER BY value) AS value_dense_rank,
                   cume_dist() OVER (ORDER BY value) AS value_cume_dist,
                   ntile(7) OVER (ORDER BY value, event_id) AS value_ntile7,
                   cume_dist() OVER (PARTITION BY event_type ORDER BY value)
                       AS value_cume_dist_by_type
            FROM events WHERE value IS NOT NULL
        """,
        "decontaminate_semantic_vecs": """
            -- dot/norm cosine exactly as the operator computes it
            -- (the embedding_dedup_incremental_vecs idiom); eval side =
            -- the 1-in-20 slice; per-id argmax with ties to the larger
            -- eval id (the operator's struct-max order).
            WITH u AS (
                SELECT vec_id,
                       list_transform(embedding,
                           x -> CAST(x AS DOUBLE)) AS vd,
                       sqrt(list_sum(list_transform(embedding,
                           y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))
                           AS nrm
                FROM embeddings
            ), pairs AS (
                -- zero/NULL-norm corpus rows are excluded here and
                -- surface as the diagnostic union below (operator
                -- contract: unscreenable is flagged, never silent)
                SELECT a.vec_id AS id, b.vec_id AS eval_id,
                       list_sum(list_transform(range(1, len(a.vd) + 1),
                           i -> a.vd[CAST(i AS INT)] * b.vd[CAST(i AS INT)]))
                           / (a.nrm * b.nrm) AS c
                FROM u a JOIN u b ON b.vec_id % 20 = 0
                WHERE a.nrm > 0
            ), flagged AS (
                SELECT id, eval_id, c,
                       row_number() OVER (
                           PARTITION BY id ORDER BY c DESC, eval_id DESC
                       ) AS rk
                FROM pairs WHERE c >= 0.25
            )
            SELECT id, eval_id, round(c, 6) AS cosine
            FROM flagged WHERE rk = 1
            UNION ALL
            SELECT vec_id AS id, CAST(NULL AS BIGINT) AS eval_id,
                   CAST(NULL AS DOUBLE) AS cosine
            FROM u WHERE nrm = 0 OR nrm IS NULL
        """,
        "unigram_lm_docs": _unigram_oracle_sql("""
            SELECT piece, cnt, lp FROM __PFINAL__
        """),
        "pipeline_tokenize_pack_docs": _unigram_oracle_sql(
            """
            , __ntok AS MATERIALIZED (
                SELECT word,
                       CAST(len(string_split(trim(bp), ' ')) AS BIGINT)
                           AS ntok
                FROM __DPFINAL__
            ), __dwords AS MATERIALIZED (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                           x -> x <> '')) AS word
                FROM documents
            ), __dtok AS MATERIALIZED (
                SELECT d.doc_id,
                       CAST(coalesce(sum(n.ntok), 0) AS BIGINT) AS n_tokens
                FROM documents d
                LEFT JOIN __dwords w ON w.doc_id = d.doc_id
                LEFT JOIN __ntok n ON n.word = w.word
                GROUP BY d.doc_id
            ), __cum AS (
                SELECT doc_id, n_tokens,
                       COALESCE(SUM(n_tokens) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS c
                FROM __dtok
            )
            SELECT CAST(FLOOR(c / 512) AS BIGINT) AS pack_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                   round(SUM(n_tokens) / 512.0, 6) AS fill
            FROM __cum GROUP BY 1
        """,
            extra_estep=True,
        ),
        "unigram_fertility_docs": _unigram_oracle_sql(
            """
            SELECT CAST(sum(freq) AS BIGINT) AS n_words,
                   CAST(sum(freq * ntok) AS BIGINT) AS n_tokens,
                   round(sum(freq * ntok) / CAST(sum(freq) AS DOUBLE), 6)
                       AS fertility
            FROM (SELECT freq,
                         len(string_split(trim(bp), ' ')) AS ntok
                  FROM __DPFINAL__) x
        """,
            extra_estep=True,
        ),
        "langid_classifier_docs": f"""
            -- functions/langid.py langid_score with the pinned md5
            -- lane replayed: char 2-3-grams of the normalized text,
            -- bucket = md5-60bit('lg:' || gram) % {_LANGID_DIM}, weight
            -- ((bucket*P + O) mod 33 - 16)/16 per class (exact 1/16
            -- arithmetic -> order-independent sums, bit-identical
            -- scores), mean-pooled dot + bias, argmax with ties to the
            -- larger code; gramless docs score bias-only. Lang table
            -- generated from the SAME _LANGID_LANGS constant.
            WITH norm AS (
                SELECT doc_id,
                       lower(trim(regexp_replace(coalesce(text, ''),
                           '\\s+', ' ', 'g'))) AS t
                FROM documents
            ), grams AS (
                SELECT doc_id,
                       unnest(list_concat(
                           CASE WHEN len(t) >= 2 THEN
                               list_transform(range(1, len(t)),
                                   i -> substr(t, CAST(i AS INT), 2))
                           ELSE []::VARCHAR[] END,
                           CASE WHEN len(t) >= 3 THEN
                               list_transform(range(1, len(t) - 1),
                                   i -> substr(t, CAST(i AS INT), 3))
                           ELSE []::VARCHAR[] END)) AS g
                FROM norm
            ), tf AS (
                SELECT doc_id,
                       CAST((('0x' || substr(md5('lg:' || g), 1, 15))::BIGINT)
                            % {_LANGID_DIM} AS INT) AS bucket,
                       count(*) AS tf
                FROM grams GROUP BY 1, 2
            ), tot AS (
                SELECT doc_id, sum(tf) AS n FROM tf GROUP BY 1
            ), langs AS (
                SELECT * FROM (VALUES {", ".join(
                    f"('{lang}', {p}, {o}, {i})"
                    for lang, p, o, i in _LANGID_LANGS
                )}) AS l(lang, p, o, i)
            ), dots AS (
                SELECT tf.doc_id, l.lang,
                       sum((((bucket * l.p + l.o) % 33) - 16) / 16.0 * tf)
                           AS ws
                FROM tf, langs l GROUP BY 1, 2
            ), spine AS (
                SELECT d.doc_id, coalesce(t.n, 0) AS n, l.lang,
                       (l.i - 1.5) / 16.0 AS bias
                FROM documents d LEFT JOIN tot t USING (doc_id), langs l
            ), scores AS (
                SELECT s.doc_id, s.lang,
                       (CASE WHEN s.n > 0
                             THEN coalesce(d.ws, 0.0) / s.n
                             ELSE 0.0 END) + s.bias AS sc
                FROM spine s LEFT JOIN dots d
                  ON s.doc_id = d.doc_id AND s.lang = d.lang
            ), pick AS (
                SELECT doc_id, lang, sc, row_number() OVER (
                    PARTITION BY doc_id ORDER BY sc DESC, lang DESC) AS rk
                FROM scores
            )
            SELECT doc_id, lang AS lang_pred, round(sc, 6) AS lang_score
            FROM pick WHERE rk = 1
        """,
        "quality_classifier_docs": """
            -- the md5 hashing-trick scoring pass replayed: bucket =
            -- pmod(md5-60bit('qc:' || token), 64), pinned weight
            -- (b*37 % 21 - 10)/10, mean-pooled dot + sigmoid with bias
            -- 0.25; tokenless docs fall back to sigmoid(bias) (dot 0).
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents
            ), tf AS (
                SELECT doc_id,
                       CAST((('0x' || substr(md5('qc:' || tok), 1, 15))::BIGINT)
                            % 64 AS INT) AS bucket,
                       count(*) AS tf
                FROM toks GROUP BY 1, 2
            ), tot AS (
                SELECT doc_id, sum(tf) AS n FROM tf GROUP BY 1
            ), dots AS (
                SELECT tf.doc_id,
                       sum(((bucket * 37 % 21 - 10) / 10.0) * tf) / n AS dot
                FROM tf JOIN tot USING (doc_id) GROUP BY tf.doc_id, n
            )
            SELECT d.doc_id,
                   round(1.0 / (1.0 + exp(-(coalesce(dot, 0.0) + 0.25))), 6)
                       AS quality_prob
            FROM documents d LEFT JOIN dots USING (doc_id)
        """,
        "classifier_eval_docs": """
            -- the quality_classifier_docs scoring CTE + lang='en'
            -- labels, then: thresholded confusion counts (sums cast
            -- BIGINT, rule 8; thresholds cast DOUBLE, rule 9) with the
            -- identical ratio expression trees, and the average-rank
            -- Mann-Whitney AUC — all exact integer-and-half arithmetic,
            -- no rounding.
            WITH toks AS (
                SELECT doc_id,
                       unnest(list_filter(regexp_split_to_array(
                           lower(trim(coalesce(text, ''))), '\\s+'),
                           x -> x <> '')) AS tok
                FROM documents
            ), tf AS (
                SELECT doc_id,
                       CAST((('0x' || substr(md5('qc:' || tok), 1, 15))::BIGINT)
                            % 64 AS INT) AS bucket,
                       count(*) AS tf
                FROM toks GROUP BY 1, 2
            ), tot AS (
                SELECT doc_id, sum(tf) AS n FROM tf GROUP BY 1
            ), dots AS (
                SELECT tf.doc_id,
                       sum(((bucket * 37 % 21 - 10) / 10.0) * tf) / n AS dot
                FROM tf JOIN tot USING (doc_id) GROUP BY tf.doc_id, n
            ), scored AS (
                SELECT d.doc_id,
                       round(1.0 / (1.0 + exp(-(coalesce(dot, 0.0) + 0.25))),
                             6) AS score,
                       CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
                FROM documents d LEFT JOIN dots USING (doc_id)
            ), m AS (
                SELECT CAST(th.t AS DOUBLE) AS threshold,
                       CAST(sum(CASE WHEN score >= th.t AND y = 1
                                THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                       CAST(sum(CASE WHEN score >= th.t AND y = 0
                                THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                       CAST(sum(CASE WHEN score < th.t AND y = 1
                                THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                       CAST(sum(CASE WHEN score < th.t AND y = 0
                                THEN 1 ELSE 0 END) AS BIGINT) AS tn
                FROM scored,
                     (SELECT CAST(unnest([0.55, 0.6, 0.65]) AS DOUBLE) AS t)
                         th
                GROUP BY th.t
            ), m2 AS (
                SELECT threshold, tp, fp, fn, tn,
                       CASE WHEN tp + fp > 0
                            THEN CAST(tp AS DOUBLE) /
                                 (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                       END AS prec,
                       CASE WHEN tp + fn > 0
                            THEN CAST(tp AS DOUBLE) /
                                 (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                       END AS rec
                FROM m
            ), r1 AS (
                SELECT score AS s, count(*) AS cnt, sum(y) AS pos
                FROM scored GROUP BY score
            ), r2 AS (
                SELECT s, cnt, pos,
                       coalesce(sum(cnt) OVER (
                           ORDER BY s
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS bef
                FROM r1
            ), a AS (
                SELECT sum(CAST(pos AS DOUBLE) *
                           (CAST(bef AS DOUBLE)
                            + (CAST(cnt AS DOUBLE) + 1.0) / 2.0)) AS rs,
                       CAST(sum(pos) AS BIGINT) AS n_pos,
                       CAST(sum(cnt) - sum(pos) AS BIGINT) AS n_neg
                FROM r2
            ), aucr AS (
                SELECT CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                           (rs - CAST(n_pos AS DOUBLE)
                                 * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
                           / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE))
                       END AS auc,
                       n_pos, n_neg
                FROM a
            )
            SELECT threshold, tp, fp, fn, tn,
                   prec AS precision, rec AS recall,
                   CASE WHEN prec IS NOT NULL AND rec IS NOT NULL
                             AND prec + rec > 0
                        THEN 2.0 * prec * rec / (prec + rec)
                   END AS f1,
                   auc, n_pos, n_neg
            FROM m2, aucr
        """,
        "split_leak_safe_docs": """
            -- the near_dup_clusters closure (exact jaccard >= 0.8 on
            -- 4-shingles, recursive-CTE transitive closure) feeding the
            -- split_documents md5 band arithmetic, keyed on the cluster
            -- representative instead of the document id.
            WITH RECURSIVE sh AS (
                SELECT doc_id AS id,
                       unnest(list_distinct(list_transform(
                           range(1, greatest(length(t) - 3, 1) + 1),
                           i -> substring(t, CAST(i AS INT), 4)))) AS g
                FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                      FROM documents)
            ), sizes AS (
                SELECT id, count(*) AS n_sh FROM sh GROUP BY id
            ), co AS (
                SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
                FROM sh a JOIN sh b ON a.g = b.g AND a.id < b.id
                GROUP BY a.id, b.id
            ), pairs AS (
                SELECT id_a, id_b FROM co
                JOIN sizes sa ON sa.id = id_a
                JOIN sizes sb ON sb.id = id_b
                WHERE n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.8
            ), und AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach(a, b) AS (
                SELECT a, b FROM und
                UNION
                SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
                WHERE u.b <> r.a
            ), comp AS (
                SELECT a AS id, least(a, min(b)) AS component
                FROM reach GROUP BY a
            ), labeled AS (
                SELECT d.doc_id,
                       coalesce(c.component, d.doc_id) AS cluster_rep
                FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
            ), banded AS (
                SELECT doc_id, cluster_rep,
                       ('0x' || substr(md5(
                           CAST(cluster_rep AS VARCHAR) || '/split'),
                           1, 4))::BIGINT AS h
                FROM labeled
            )
            SELECT doc_id, cluster_rep,
                   CASE WHEN h < 52429 THEN 'train'
                        WHEN h < 58982 THEN 'val'
                        ELSE 'test' END AS split
            FROM banded
        """,
        "upsert_documents": """
            WITH upd AS (
                SELECT doc_id, 'xx' AS lang, source, n_chars
                FROM documents WHERE doc_id % 10 = 0
                UNION ALL
                SELECT doc_id + 1000000 AS doc_id, lang, source, n_chars
                FROM documents WHERE doc_id < 5
            )
            SELECT COALESCE(u.doc_id, b.doc_id) AS doc_id,
                   CASE WHEN u.doc_id IS NOT NULL THEN u.lang ELSE b.lang END AS lang,
                   CASE WHEN u.doc_id IS NOT NULL THEN u.source ELSE b.source END AS source,
                   CASE WHEN u.doc_id IS NOT NULL THEN u.n_chars ELSE b.n_chars END AS n_chars
            FROM documents b FULL OUTER JOIN upd u ON b.doc_id = u.doc_id
        """,
        "fuzzy_part_names": """
            WITH names AS (SELECT DISTINCT p_name FROM part)
            SELECT a.p_name AS name_a, b.p_name AS name_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
            FROM names a JOIN names b ON a.p_name < b.p_name
            WHERE levenshtein(a.p_name, b.p_name) <= 2
        """,
        "doc_profile": """
            WITH toks AS (
                SELECT doc_id, text,
                       string_split_regex(trim(text), '\\s+') AS tk,
                       string_split_regex(lower(trim(text)), '\\s+') AS tkl
                FROM documents
            ), m AS (
                SELECT doc_id, text, tk, tkl,
                    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(tk) END AS n_tokens,
                    len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]+')) AS n_bpe_tokens,
                    (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) /
                        CAST(greatest(length(text), 1) AS DOUBLE) AS praw,
                    len(list_filter(tkl, t -> list_contains(
                        ['the','a','an','of','to','in','and','is','it','that'], t))) /
                        CAST(greatest(len(tkl), 1) AS DOUBLE) AS sraw,
                    list_sum(list_transform(tk, t -> length(t))) /
                        CAST(greatest(len(tk), 1) AS DOUBLE) AS wraw,
                    len(list_filter(tkl, t -> list_contains(['the','and','of','is','that','with'], t))) AS s_en,
                    len(list_filter(tkl, t -> list_contains(['el','la','de','que','los','una'], t))) AS s_es,
                    len(list_filter(tkl, t -> list_contains(['der','die','und','das','ist','nicht'], t))) AS s_de,
                    len(list_filter(tkl, t -> list_contains(['le','la','les','des','est','une'], t))) AS s_fr
                FROM toks
            )
            SELECT doc_id, n_tokens, n_bpe_tokens,
                   round(praw, 6) AS punct_ratio,
                   round(sraw, 6) AS stopword_ratio,
                   round(wraw, 6) AS mean_word_len,
                   round(((CASE WHEN n_tokens >= 5 AND n_tokens <= 100000 THEN 1.0 ELSE 0.0 END)
                        + (1.0 - least(praw * 4, 1.0))
                        + (CASE WHEN wraw >= 2 AND wraw <= 12 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality,
                   CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                        WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                        WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                        WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                        ELSE 'fr' END AS lang_guess
            FROM m
        """,
        "embedding_topk": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            scored AS (
                SELECT e.vec_id,
                    list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                     * sqrt(list_sum(list_transform(q.qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
                FROM embeddings e, q WHERE e.vec_id <> 0
            )
            SELECT vec_id, round(c, 6) AS cosine FROM scored
            ORDER BY c DESC, vec_id ASC LIMIT 10
        """,
        "embedding_norms": """
            SELECT label,
                   round(avg(sqrt(list_sum(list_transform(embedding,
                         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS avg_norm,
                   count(*) AS n
            FROM embeddings GROUP BY label
        """,
        "frame_sample_timestamps": """
            WITH m AS (SELECT i AS media_id, 5000 + i * 250 AS dur
                       FROM range(64) t(i))
            SELECT media_id,
                   unnest(range(CAST(dur // 1000 AS INT))) * 1000 AS frame_ts_ms
            FROM m
        """,
        "cms_heavy_tokens_md5": """
            WITH toks AS (
                SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
                FROM documents
            ), rows_ AS (SELECT unnest([0, 1, 2]) AS d),
            cells AS (
                SELECT d,
                       ('0x' || substr(md5(d || ':' || token), 1, 15))::BIGINT % 64 AS bucket,
                       count(*) AS cnt
                FROM toks, rows_
                GROUP BY 1, 2
            ), cand AS (SELECT DISTINCT token FROM toks WHERE token IS NOT NULL),
            probe AS (
                SELECT token, d,
                       ('0x' || substr(md5(d || ':' || token), 1, 15))::BIGINT % 64 AS bucket
                FROM cand, rows_
            )
            SELECT token, min(coalesce(cnt, 0)) AS est
            FROM probe LEFT JOIN cells USING (d, bucket)
            GROUP BY token HAVING est >= 200 ORDER BY token
        """,
        "weighted_merge_docs": """
            -- the ONE-SHOT weighted sample: the merge of two batch
            -- top-k frames must reproduce this exactly (merge law).
            WITH scored AS (
                SELECT doc_id, source, n_chars,
                       ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '/ws'), 1, 13))::BIGINT + 1)
                          / 4503599627370496.0)
                       / CAST(n_chars AS DOUBLE) AS es
                FROM documents
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY source ORDER BY es DESC, doc_id ASC) AS rnk
                FROM scored
            )
            SELECT doc_id, source, n_chars,
                   round(es, 6) + 0.0 AS es_key
            FROM ranked WHERE rnk <= 2
        """,
        "bottomk_sample_docs": """
            -- identical fixed permutation: md5 hex of 'id/salt', rank
            -- by (hash, id), cut at k=3 per source.
            WITH h AS (
                SELECT source,
                       md5(CAST(doc_id AS VARCHAR) || '/bk8') AS bk_hash,
                       doc_id, n_chars
                FROM documents
            ),
            r AS (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY source ORDER BY bk_hash, doc_id) AS rnk
                FROM h
            )
            SELECT source, CAST(rnk AS BIGINT) AS rnk, bk_hash,
                   doc_id, n_chars
            FROM r WHERE rnk <= 3 ORDER BY source, rnk
        """,
        "outlier_events_value": """
            -- median/MAD fence replica: quantile_cont matches Spark's
            -- exact percentile ((N-1)*q interpolation); the robust
            -- z and the 2.5 cut are row arithmetic, so only the
            -- aggregated extremes need rounding.
            WITH med AS (
                SELECT event_type, quantile_cont(value, 0.5) AS med
                FROM events GROUP BY 1
            ),
            mad AS (
                SELECT e.event_type,
                       quantile_cont(abs(e.value - m.med), 0.5) AS mad
                FROM events e JOIN med m USING (event_type) GROUP BY 1
            ),
            z AS (
                SELECT e.event_type,
                       CASE WHEN e.value IS NULL THEN NULL
                            WHEN mad.mad = 0 THEN 0.0
                            ELSE (e.value - med.med) / (1.4826 * mad.mad)
                       END AS rz
                FROM events e
                JOIN med USING (event_type) JOIN mad USING (event_type)
            )
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN abs(rz) > 2.5 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_outliers,
                   round(max(rz), 6) AS max_z,
                   round(min(rz), 6) AS min_z
            FROM z GROUP BY 1 ORDER BY 1
        """,
        "bm25_docs": """
            -- BM25 replica: same tokenization as vocab_topk, exact
            -- BIGINT dl sum behind avgdl (one IEEE division), Lucene
            -- idf, and Catalyst's folded saturation term
            -- (0.75*dl)/avgdl + 0.25 mirrored operation-for-operation;
            -- ranking on the ROUNDED score with doc_id tiebreak.
            WITH docs AS (
                SELECT doc_id,
                       list_filter(
                           regexp_split_to_array(lower(trim(coalesce(text, ''))),
                                                 '\\s+'),
                           x -> x <> '') AS toks
                FROM documents
            ),
            lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM docs),
            stats AS (
                SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                       CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / count(*) AS avgdl
                FROM lens
            ),
            posts AS (
                SELECT doc_id, dl, token, count(*) AS tf
                FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl,
                             unnest(toks) AS token
                      FROM docs)
                WHERE token IN ('hash', 'join', 'vector')
                GROUP BY 1, 2, 3
            ),
            dft AS (SELECT token, count(*) AS df_t FROM posts GROUP BY 1),
            scored AS (
                SELECT p.doc_id, p.dl,
                       ln(1.0 + ((s.n_docs - d.df_t) + 0.5) / (d.df_t + 0.5))
                         * (p.tf * 2.2)
                         / (p.tf + 1.2 * ((0.75 * p.dl) / s.avgdl + 0.25)) AS c
                FROM posts p JOIN dft d USING (token) CROSS JOIN stats s
            )
            SELECT doc_id, dl, CAST(count(*) AS BIGINT) AS n_terms,
                   round(sum(c), 6) AS bm25
            FROM scored GROUP BY 1, 2
            ORDER BY bm25 DESC, doc_id LIMIT 12
        """,
        # categorical PSI: top-3 reference categories (count desc,
        # value asc — the exact derivation drift_psi_categorical pins)
        # + __other__; Laplace smoothing over the spine size; + 0.0
        # normalizes rounds-to-zero terms (rule 7). Totals feed DOUBLE
        # arithmetic only (rule 8 exemption); output counts are BIGINT.
        "drift_categorical_events": """
            WITH ref AS (
                SELECT event_type FROM events
                WHERE event_id % 2 = 0 AND event_type IS NOT NULL
            ), cur AS (
                SELECT event_type FROM events
                WHERE event_id % 2 = 1 AND event_type IS NOT NULL
            ), cats AS (
                SELECT event_type AS v FROM ref
                GROUP BY 1 ORDER BY count(*) DESC, v ASC LIMIT 3
            ), rc AS (
                SELECT CASE WHEN event_type IN (SELECT v FROM cats)
                            THEN event_type ELSE '__other__' END AS category,
                       count(*) AS n_ref
                FROM ref GROUP BY 1
            ), cc AS (
                SELECT CASE WHEN event_type IN (SELECT v FROM cats)
                            THEN event_type ELSE '__other__' END AS category,
                       count(*) AS n_cur
                FROM cur GROUP BY 1
            ), spine AS (
                SELECT v AS category FROM cats
                UNION ALL SELECT '__other__'
            ), j AS (
                SELECT s.category,
                       coalesce(rc.n_ref, 0) AS n_ref,
                       coalesce(cc.n_cur, 0) AS n_cur
                FROM spine s
                LEFT JOIN rc USING (category) LEFT JOIN cc USING (category)
            ), t AS (
                SELECT CAST(sum(n_ref) AS DOUBLE) AS tr,
                       CAST(sum(n_cur) AS DOUBLE) AS tc,
                       CAST(count(*) AS DOUBLE) AS b
                FROM j
            )
            SELECT category,
                   CAST(n_ref AS BIGINT) AS n_ref,
                   CAST(n_cur AS BIGINT) AS n_cur,
                   round((n_ref + 0.5) / (tr + 0.5 * b), 8) + 0.0 AS p_ref,
                   round((n_cur + 0.5) / (tc + 0.5 * b), 8) + 0.0 AS p_cur,
                   round(((n_cur + 0.5) / (tc + 0.5 * b)
                        - (n_ref + 0.5) / (tr + 0.5 * b))
                       * ln(((n_cur + 0.5) / (tc + 0.5 * b))
                          / ((n_ref + 0.5) / (tr + 0.5 * b))), 10) + 0.0
                       AS psi_term
            FROM j, t ORDER BY category
        """,
        "drift_psi_prices": """
            -- identical PSI arithmetic: clamped equal-width bins over
            -- [900, 105000], Laplace smoothing 0.5, (p_cur - p_ref) *
            -- ln(p_cur / p_ref) per bin. ln agrees to the last ulp at
            -- these magnitudes; round-8/round-10 absorb it.
            WITH ref AS (
                SELECT greatest(0, least(9, CAST(floor(
                    (l_extendedprice - 900.0) / 104100.0 * 10) AS INT)))
                    AS bin
                FROM lineitem
                WHERE l_orderkey % 2 = 0 AND l_extendedprice IS NOT NULL
            ),
            cur AS (
                SELECT greatest(0, least(9, CAST(floor(
                    (l_extendedprice - 900.0) / 104100.0 * 10) AS INT)))
                    AS bin
                FROM lineitem
                WHERE l_orderkey % 2 = 1 AND l_extendedprice IS NOT NULL
            ),
            rc AS (SELECT bin, count(*) AS n_ref FROM ref GROUP BY 1),
            cc AS (SELECT bin, count(*) AS n_cur FROM cur GROUP BY 1),
            spine AS (SELECT CAST(range AS INT) AS bin FROM range(10)),
            j AS (
                SELECT s.bin,
                       coalesce(rc.n_ref, 0) AS n_ref,
                       coalesce(cc.n_cur, 0) AS n_cur
                FROM spine s
                LEFT JOIN rc ON s.bin = rc.bin
                LEFT JOIN cc ON s.bin = cc.bin
            ),
            t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j),
            p AS (
                SELECT bin, n_ref, n_cur,
                       (n_ref + 0.5) / (tr + 5.0) AS p_ref,
                       (n_cur + 0.5) / (tc + 5.0) AS p_cur
                FROM j, t
            )
            SELECT bin, n_ref, n_cur,
                   round(p_ref, 8) AS p_ref,
                   round(p_cur, 8) AS p_cur,
                   round((p_cur - p_ref) * ln(p_cur / p_ref), 10)
                       AS psi_term
            FROM p ORDER BY bin
        """,
        "drift_multi_lineitem": """
            -- identical per-column PSI arithmetic: clamped equal-width
            -- bins with explicit bounds, Laplace 0.5, per-column
            -- totals, (p_cur - p_ref) * ln(p_cur / p_ref).
            WITH cells AS (
                SELECT 'l_quantity' AS col,
                       l_orderkey % 2 AS par,
                       greatest(0, least(9, CAST(floor(
                           (CAST(l_quantity AS DOUBLE) - 1.0) / 49.0 * 10) AS INT))) AS bin
                FROM lineitem WHERE l_quantity IS NOT NULL
                UNION ALL
                SELECT 'l_extendedprice', l_orderkey % 2,
                       greatest(0, least(9, CAST(floor(
                           (CAST(l_extendedprice AS DOUBLE) - 900.0) / 104100.0 * 10) AS INT)))
                FROM lineitem WHERE l_extendedprice IS NOT NULL
                UNION ALL
                SELECT 'l_discount', l_orderkey % 2,
                       greatest(0, least(9, CAST(floor(
                           (CAST(l_discount AS DOUBLE) - 0.0) / 0.1 * 10) AS INT)))
                FROM lineitem WHERE l_discount IS NOT NULL
            ),
            rc AS (SELECT col, bin, count(*) AS n_ref FROM cells
                   WHERE par = 0 GROUP BY 1, 2),
            cc AS (SELECT col, bin, count(*) AS n_cur FROM cells
                   WHERE par = 1 GROUP BY 1, 2),
            spine AS (
                SELECT c.col, CAST(r.range AS INT) AS bin
                FROM (VALUES ('l_quantity'), ('l_extendedprice'),
                             ('l_discount')) c(col), range(10) r
            ),
            j AS (
                SELECT s.col, s.bin,
                       coalesce(rc.n_ref, 0) AS n_ref,
                       coalesce(cc.n_cur, 0) AS n_cur
                FROM spine s
                LEFT JOIN rc ON s.col = rc.col AND s.bin = rc.bin
                LEFT JOIN cc ON s.col = cc.col AND s.bin = cc.bin
            ),
            t AS (SELECT col, sum(n_ref) AS tr, sum(n_cur) AS tc
                  FROM j GROUP BY 1),
            p AS (
                SELECT j.col, j.bin, j.n_ref, j.n_cur,
                       (j.n_ref + 0.5) / (t.tr + 5.0) AS p_ref,
                       (j.n_cur + 0.5) / (t.tc + 5.0) AS p_cur
                FROM j JOIN t ON j.col = t.col
            )
            SELECT col, bin, n_ref, n_cur,
                   round(p_ref, 8) AS p_ref,
                   round(p_cur, 8) AS p_cur,
                   round((p_cur - p_ref) * ln(p_cur / p_ref), 10)
                       AS psi_term
            FROM p ORDER BY col, bin
        """,
        "embedding_covariance_upper": """
            -- population covariance over exploded (vec_id, dim, value)
            -- pairs: float32 cells convert exactly to float64 on both
            -- engines, so covar_pop agrees with the one-scan
            -- moment-kernel assembly to well inside round-6.
            WITH e AS (
                SELECT vec_id, unnest(embedding) AS v,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings
            )
            SELECT a.i - 1 AS i, b.i - 1 AS j,
                   round(covar_pop(a.v, b.v), 6) + 0.0 AS cov
            FROM e a JOIN e b USING (vec_id)
            WHERE a.i <= b.i GROUP BY 1, 2 ORDER BY i, j
        """,
        "hll_overlap_users_md5": """
            -- full pairwise-overlap replica: the same 60-bit md5
            -- registers as hll_distinct_users_md5 (p=8), union sketch
            -- = register-wise max per type pair, both estimate
            -- branches in exact-BIGINT arithmetic, then
            -- inclusion-exclusion. Constants: mask 2^52-1, 2^R = 2^53,
            -- C = alpha(256)*256^2*2^53, 2.5m = 640.
            WITH h AS (
                SELECT event_type,
                       ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
                FROM events WHERE user_id IS NOT NULL
            ),
            c AS (SELECT event_type, h >> 52 AS r,
                         h & 4503599627370495 AS v FROM h),
            s1 AS (SELECT event_type, r, v | (v >> 1) AS s FROM c),
            s2 AS (SELECT event_type, r, s | (s >> 2) AS s FROM s1),
            s3 AS (SELECT event_type, r, s | (s >> 4) AS s FROM s2),
            s4 AS (SELECT event_type, r, s | (s >> 8) AS s FROM s3),
            s5 AS (SELECT event_type, r, s | (s >> 16) AS s FROM s4),
            s6 AS (SELECT event_type, r, s | (s >> 32) AS s FROM s5),
            regs AS (
                SELECT event_type, r,
                       max(53 - bit_count(CAST(s AS BIGINT))) AS maxrho
                FROM s6 GROUP BY 1, 2
            ),
            keys AS (SELECT DISTINCT event_type AS g FROM regs),
            pairs AS (
                SELECT a.g AS ga, b.g AS gb FROM keys a, keys b
                WHERE a.g < b.g
            ),
            uregs AS (
                SELECT p.ga, p.gb, regs.r, max(regs.maxrho) AS maxrho
                FROM regs JOIN pairs p
                  ON regs.event_type IN (p.ga, p.gb)
                GROUP BY 1, 2, 3
            ),
            est_g AS (
                SELECT event_type AS g,
                       4.2399330249068963e+20
                         / CAST(sum(1::BIGINT << (53 - maxrho))
                                + (256 - count(*)) * 9007199254740992 AS DOUBLE)
                         AS raw,
                       256 - count(*) AS zeros
                FROM regs GROUP BY 1
            ),
            ndv_g AS (
                SELECT g, CASE WHEN raw <= 640.0 AND zeros > 0
                               THEN 256.0 * ln(256.0 / zeros)
                               ELSE raw END AS ndv
                FROM est_g
            ),
            est_u AS (
                SELECT ga, gb,
                       4.2399330249068963e+20
                         / CAST(sum(1::BIGINT << (53 - maxrho))
                                + (256 - count(*)) * 9007199254740992 AS DOUBLE)
                         AS raw,
                       256 - count(*) AS zeros
                FROM uregs GROUP BY 1, 2
            ),
            ndv_u AS (
                SELECT ga, gb, CASE WHEN raw <= 640.0 AND zeros > 0
                                    THEN 256.0 * ln(256.0 / zeros)
                                    ELSE raw END AS ndv_union
                FROM est_u
            ),
            rep AS (
                SELECT u.ga, u.gb, a.ndv AS ndv_a, b.ndv AS ndv_b,
                       u.ndv_union,
                       greatest(0.0, a.ndv + b.ndv - u.ndv_union) AS overlap
                FROM ndv_u u
                JOIN ndv_g a ON u.ga = a.g
                JOIN ndv_g b ON u.gb = b.g
            )
            SELECT ga, gb, round(ndv_a, 6) AS ndv_a,
                   round(ndv_b, 6) AS ndv_b,
                   round(ndv_union, 6) AS ndv_union,
                   round(overlap, 6) AS overlap,
                   round(overlap / ndv_union, 6) AS jaccard
            FROM rep ORDER BY ga, gb
        """,
        "hll_distinct_users_md5": """
            -- full HLL replica: 60-bit md5 hash, p=8 -> w=52 index
            -- split, rank via exact bit-smear + bit_count (never
            -- floor(log2): libm rounds up near powers of two), and an
            -- exact-BIGINT harmonic denominator so summation order
            -- cannot perturb the estimate. Constants: mask 2^52-1,
            -- 2^R = 2^53, C = alpha(256)*256^2*2^53, 2.5m = 640.
            WITH src AS (
                SELECT event_type, CAST(user_id AS VARCHAR) AS val
                FROM events WHERE user_id IS NOT NULL
                UNION ALL
                SELECT '__all_event_ids', CAST(event_id AS VARCHAR)
                FROM events WHERE event_id IS NOT NULL
            ),
            h AS (
                SELECT event_type,
                       ('0x' || substr(md5('hll:' || val), 1, 15))::BIGINT AS h
                FROM src
            ),
            c AS (SELECT event_type, h >> 52 AS r,
                         h & 4503599627370495 AS v FROM h),
            s1 AS (SELECT event_type, r, v | (v >> 1) AS s FROM c),
            s2 AS (SELECT event_type, r, s | (s >> 2) AS s FROM s1),
            s3 AS (SELECT event_type, r, s | (s >> 4) AS s FROM s2),
            s4 AS (SELECT event_type, r, s | (s >> 8) AS s FROM s3),
            s5 AS (SELECT event_type, r, s | (s >> 16) AS s FROM s4),
            s6 AS (SELECT event_type, r, s | (s >> 32) AS s FROM s5),
            regs AS (
                SELECT event_type, r,
                       max(53 - bit_count(CAST(s AS BIGINT))) AS maxrho
                FROM s6 GROUP BY 1, 2
            ),
            agg AS (
                SELECT event_type, count(*) AS n,
                       CAST(sum(1::BIGINT << (53 - maxrho)) AS BIGINT) AS dp
                FROM regs GROUP BY 1
            ),
            est AS (
                SELECT event_type,
                       4.2399330249068963e+20
                         / CAST(dp + (256 - n) * 9007199254740992 AS DOUBLE)
                         AS raw,
                       256 - n AS zeros
                FROM agg
            )
            SELECT event_type,
                   round(CASE WHEN raw <= 640.0 AND zeros > 0
                              THEN 256.0 * ln(256.0 / zeros)
                              ELSE raw END, 6) AS est_ndv
            FROM est ORDER BY event_type
        """,
        "zorder_roundtrip_agg": """
            SELECT l_returnflag,
                   sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
                   count(*) AS n,
                   CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
                   CAST(sum(l_partkey) AS BIGINT) AS sum_part
            FROM lineitem
            WHERE l_orderkey % 10 < 3 AND l_partkey % 7 < 2
            GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "funnel_events": """
            WITH f AS (SELECT user_id, event_type, ts FROM events
                       WHERE value > 100),
            s1 AS (SELECT user_id, min(ts) AS t FROM f
                   WHERE event_type = 'view' GROUP BY 1),
            s2 AS (SELECT e.user_id, min(e.ts) AS t FROM f e
                   JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
                   WHERE e.event_type = 'click' GROUP BY 1),
            s3 AS (SELECT e.user_id, min(e.ts) AS t FROM f e
                   JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
                   WHERE e.event_type = 'purchase' GROUP BY 1)
            SELECT 1 AS step, 'view' AS step_name,
                   (SELECT count(*) FROM s1) AS users
            UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
            UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)
            ORDER BY step
        """,
        "funnel_events_windowed": """
            WITH f AS (SELECT user_id, event_type, ts FROM events
                       WHERE value > 100),
            u1 AS (SELECT DISTINCT user_id FROM f WHERE event_type = 'view'),
            u2 AS (SELECT DISTINCT a.user_id FROM f a
                   JOIN f b ON a.user_id = b.user_id
                    AND a.event_type = 'view' AND b.event_type = 'click'
                    AND b.ts >= a.ts
                    AND b.ts <= a.ts + INTERVAL 345600 SECOND),
            u3 AS (SELECT DISTINCT a.user_id FROM f a
                   JOIN f b ON a.user_id = b.user_id
                    AND a.event_type = 'view' AND b.event_type = 'click'
                    AND b.ts >= a.ts
                   JOIN f c ON c.user_id = a.user_id
                    AND c.event_type = 'purchase' AND c.ts >= b.ts
                    AND c.ts <= a.ts + INTERVAL 345600 SECOND)
            SELECT 1 AS step, 'view' AS step_name,
                   (SELECT count(*) FROM u1) AS users
            UNION ALL SELECT 2, 'click', (SELECT count(*) FROM u2)
            UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM u3)
            ORDER BY step
        """,
        "cohort_retention_daily": """
            WITH pu AS (
                SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS p
                FROM events
                WHERE value > 150 AND ts IS NOT NULL AND user_id IS NOT NULL
            ), agg AS (
                SELECT user_id, min(p) AS cohort, list(DISTINCT p) AS ps
                FROM pu GROUP BY 1
            ), ex AS (SELECT cohort, unnest(ps) AS active FROM agg)
            SELECT cohort,
                   CAST(date_diff('day', cohort, active) AS INT) AS offset_days,
                   count(*) AS users
            FROM ex GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "sessionize_events": """
            WITH marked AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER w IS NULL THEN 1
                            WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                 > 1800 * 1000000 THEN 1
                            ELSE 0 END AS new_sess
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), ids AS (
                SELECT user_id, ts, value,
                       sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
                FROM marked
            )
            SELECT user_id,
                   epoch_us(min(ts)) AS start_us,
                   epoch_us(max(ts)) AS end_us,
                   count(*) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM ids GROUP BY user_id, sess
        """,
        "reproducible_sample": """
            SELECT event_id, user_id, event_type, value
            FROM events
            WHERE md5(CAST(event_id AS VARCHAR)) < '1a'
        """,
        "json_props_rollup": """
            SELECT event_type,
                   CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
                   round(avg(CAST(props->>'k' AS BIGINT)), 6) AS avg_k,
                   count(CAST(props->>'k' AS BIGINT)) AS n_k
            FROM events GROUP BY event_type
        """,
        "winnow_fingerprints_docs": """
            WITH n AS (
                SELECT doc_id AS id,
                       lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                FROM documents
            ), ch AS (
                SELECT id,
                       list_transform(range(1, greatest(length(t), 1) + 1),
                           i -> CAST(ascii(substring(t, CAST(i AS INT), 1)) AS BIGINT)) AS c
                FROM n
            ), gh AS (
                SELECT id,
                       list_transform(range(0, greatest(len(c) - 4, 0)),
                           i -> (  c[CAST(i AS INT) + 1] * 67503107 % 2147483647
                                 + c[CAST(i AS INT) + 2] * 16974593 % 2147483647
                                 + c[CAST(i AS INT) + 3] * 66049 % 2147483647
                                 + c[CAST(i AS INT) + 4] * 257 % 2147483647
                                 + c[CAST(i AS INT) + 5] % 2147483647
                                ) % 2147483647) AS g
                FROM ch
            ), mins AS (
                SELECT id,
                       list_transform(range(0, greatest(len(g) - 3, 0)),
                           i -> list_min(list_slice(g, CAST(i AS INT) + 1,
                                                    CAST(i AS INT) + 4))) AS m
                FROM gh
            )
            SELECT id, unnest(list_distinct(m)) AS fp FROM mins
        """,
        "shared_passages_docs": """
            WITH n AS (
                SELECT doc_id AS id,
                       lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                FROM documents
            ), ch AS (
                SELECT id,
                       list_transform(range(1, greatest(length(t), 1) + 1),
                           i -> CAST(ascii(substring(t, CAST(i AS INT), 1)) AS BIGINT)) AS c
                FROM n
            ), gh AS (
                SELECT id,
                       list_transform(range(0, greatest(len(c) - 4, 0)),
                           i -> (  c[CAST(i AS INT) + 1] * 67503107 % 2147483647
                                 + c[CAST(i AS INT) + 2] * 16974593 % 2147483647
                                 + c[CAST(i AS INT) + 3] * 66049 % 2147483647
                                 + c[CAST(i AS INT) + 4] * 257 % 2147483647
                                 + c[CAST(i AS INT) + 5] % 2147483647
                                ) % 2147483647) AS g
                FROM ch
            ), mins AS (
                SELECT id,
                       list_transform(range(0, greatest(len(g) - 3, 0)),
                           i -> list_min(list_slice(g, CAST(i AS INT) + 1,
                                                    CAST(i AS INT) + 4))) AS m
                FROM gh
            ), fps AS (
                SELECT id, unnest(list_distinct(m)) AS fp FROM mins
            ), rare AS (
                SELECT fp FROM fps GROUP BY fp HAVING count(*) <= CAST(0.2 * (SELECT count(*) FROM documents) AS BIGINT)
            ), pruned AS (
                SELECT f.id, f.fp FROM fps f JOIN rare r ON f.fp = r.fp
            )
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
            FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.id < b.id
            GROUP BY a.id, b.id
            HAVING count(*) >= 20
        """,
        "time_rollup_events": """
            SELECT '1 hour' AS resolution,
                   epoch_us(date_trunc('hour', ts)) AS bucket_us,
                   event_type, count(*) AS n,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT '1 day' AS resolution,
                   epoch_us(date_trunc('day', ts)) AS bucket_us,
                   event_type, count(*) AS n,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY 2, 3
        """,
        "ewma_user_value": """
            WITH RECURSIVE base AS (
                SELECT event_id, user_id, CAST(value AS DOUBLE) AS value,
                       row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
                FROM events
            ),
            r AS (
                SELECT event_id, user_id, rn, value AS ewma FROM base WHERE rn = 1
                UNION ALL
                SELECT b.event_id, b.user_id, b.rn,
                       0.2 * b.value + 0.8 * r.ewma
                FROM base b JOIN r ON b.user_id = r.user_id AND b.rn = r.rn + 1
            )
            SELECT event_id, user_id, round(ewma, 6) AS ewma FROM r
        """,
        "range_join_purchase_clicks": """
            SELECT p.event_id AS p_event, count(*) AS n_clicks
            FROM events p JOIN events c
              ON c.user_id = p.user_id
             AND p.event_type = 'purchase' AND c.event_type = 'click'
             AND c.ts >= p.ts AND c.ts < p.ts + INTERVAL 1 DAY
            GROUP BY p.event_id
        """,
        "attribution_stream_clicks": """
            SELECT c.event_id AS click_id,
                   count(*) AS n_purchases,
                   min(p.event_id) AS first_purchase
            FROM events c JOIN events p
              ON p.user_id = c.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
            GROUP BY c.event_id
        """,
        "embedding_near_dup_pairs": """
            WITH u AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)
                           / sqrt(list_sum(list_transform(embedding,
                                 y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS unit
                FROM embeddings
            ),
            scored AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       list_sum(list_transform(range(1, len(a.unit) + 1),
                           i -> a.unit[CAST(i AS INT)] * b.unit[CAST(i AS INT)])) AS c
                FROM u a JOIN u b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, round(c, 6) AS cosine FROM scored WHERE c >= 0.4
        """,
        "embedding_dedup_incremental_vecs": """
            -- the lsh_buckets_md5 plane replay feeding the incremental
            -- candidate join: history (vec_id % 5 != 0) vs batch
            -- (vec_id % 5 == 0) on equal buckets plus the in-batch
            -- smaller-id rule; cosine is dot over norm product exactly
            -- as dedup.embedding_dedup_incremental computes it.
            WITH ex AS (
                SELECT vec_id, embedding,
                       unnest(range(1, len(embedding) + 1)) AS i
                FROM embeddings
            ), comp AS (
                SELECT vec_id, i,
                       CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
                FROM ex
            ), pl AS (
                SELECT vec_id, p,
                       sum(v * (((('0x' || substr(md5('42:' || p || ':' || (i - 1)), 1, 15))::BIGINT)
                            % 1048576) / 524288.0 - 1.0)) AS proj
                FROM comp, (SELECT unnest(range(0, 6)) AS p) planes
                GROUP BY vec_id, p
            ), bk AS (
                SELECT vec_id,
                       CAST(sum(CASE WHEN proj >= 0
                            THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
                FROM pl GROUP BY vec_id
            ), vv AS (
                SELECT e.vec_id, b.bucket,
                       list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS vd,
                       sqrt(list_sum(list_transform(e.embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
                FROM embeddings e JOIN bk b USING (vec_id)
            ), hist AS (
                SELECT * FROM vv WHERE vec_id % 5 <> 0
            ), bat AS (
                SELECT * FROM vv WHERE vec_id % 5 = 0
            ), cand AS (
                SELECT n.vec_id AS id_new, s.vec_id AS id_seen,
                       list_sum(list_transform(range(1, len(n.vd) + 1),
                           i -> n.vd[CAST(i AS INT)] * s.vd[CAST(i AS INT)]))
                           / (n.nrm * s.nrm) AS c
                FROM bat n JOIN hist s ON n.bucket = s.bucket
                UNION ALL
                SELECT n.vec_id, s.vec_id,
                       list_sum(list_transform(range(1, len(n.vd) + 1),
                           i -> n.vd[CAST(i AS INT)] * s.vd[CAST(i AS INT)]))
                           / (n.nrm * s.nrm) AS c
                FROM bat n JOIN bat s
                  ON n.bucket = s.bucket AND s.vec_id < n.vec_id
            )
            SELECT id_new, id_seen, round(c, 6) AS cosine
            FROM cand WHERE c >= 0.25
        """,
        "embedding_near_dup_clusters": """
            WITH RECURSIVE u AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)
                           / sqrt(list_sum(list_transform(embedding,
                                 y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS unit
                FROM embeddings
            ), pairs AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM u a JOIN u b ON a.vec_id < b.vec_id
                WHERE list_sum(list_transform(range(1, len(a.unit) + 1),
                          i -> a.unit[CAST(i AS INT)] * b.unit[CAST(i AS INT)])) >= 0.4
            ), und AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b, id_a FROM pairs
            ), reach(a, b) AS (
                SELECT a, b FROM und
                UNION
                SELECT r.a, u2.b FROM reach r JOIN und u2 ON r.b = u2.a
                WHERE u2.b <> r.a
            )
            SELECT a AS vec_id, least(a, min(b)) AS cluster_rep
            FROM reach GROUP BY a
        """,
        "asof_last_purchase": """
            SELECT c.event_id, c.user_id,
                   round((SELECT p.value FROM events p
                          WHERE p.user_id = c.user_id
                            AND p.event_type = 'purchase'
                            AND p.ts <= c.ts
                          ORDER BY p.ts DESC, p.event_id DESC
                          LIMIT 1), 4) AS p_value
            FROM events c
            WHERE c.event_type = 'click'
        """,
        "distinct_users_per_type": """
            SELECT event_type, count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "pipeline_clean_corpus": """
            WITH dedup AS (
                SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
            ), base AS (
                SELECT d.doc_id, text,
                       string_split_regex(trim(text), '\\s+') AS tk,
                       string_split_regex(lower(trim(text)), '\\s+') AS tkl
                FROM documents d JOIN dedup USING (doc_id)
            ), m AS (
                SELECT doc_id,
                    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(tk) END AS ntok,
                    (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) /
                        CAST(greatest(length(text), 1) AS DOUBLE) AS praw,
                    list_sum(list_transform(tk, t -> length(t))) /
                        CAST(greatest(len(tk), 1) AS DOUBLE) AS wraw,
                    len(list_filter(tkl, t -> list_contains(['the','and','of','is','that','with'], t))) AS s_en,
                    len(list_filter(tkl, t -> list_contains(['el','la','de','que','los','una'], t))) AS s_es,
                    len(list_filter(tkl, t -> list_contains(['der','die','und','das','ist','nicht'], t))) AS s_de,
                    len(list_filter(tkl, t -> list_contains(['le','la','les','des','est','une'], t))) AS s_fr
                FROM base
            ), scored AS (
                SELECT doc_id, ntok,
                    ((CASE WHEN ntok >= 5 AND ntok <= 100000 THEN 1.0 ELSE 0.0 END)
                     + (1.0 - least(praw * 4, 1.0))
                     + (CASE WHEN wraw >= 2 AND wraw <= 12 THEN 1.0 ELSE 0.0 END)) / 3.0 AS q,
                    CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                         WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
                         WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
                         WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
                         ELSE 'fr' END AS lang
                FROM m
            )
            SELECT lang, count(*) AS n_docs,
                   round(avg(ntok), 6) AS avg_tokens,
                   round(avg(q), 6) AS avg_quality
            FROM scored WHERE q >= 0.5 GROUP BY lang
        """,
        "pack_documents_cumsum": """
            WITH sized AS (
                SELECT doc_id, length(text) AS n_chars FROM documents
            ), cum AS (
                SELECT doc_id, n_chars,
                       COALESCE(SUM(n_chars) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS c
                FROM sized
            )
            SELECT CAST(FLOOR(c / 4096) AS BIGINT) AS pack_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_size,
                   round(SUM(n_chars) / 4096.0, 6) AS fill
            FROM cum GROUP BY 1
        """,
        "pack_materialize_docs": """
            WITH sized AS (
                SELECT source, doc_id, text, length(text) AS sz FROM documents
            ), cum AS (
                SELECT source, doc_id, text, sz,
                       COALESCE(SUM(sz) OVER (
                           PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS c
                FROM sized
            ), packed AS (
                SELECT source, doc_id, text,
                       CAST(FLOOR(c / 4096) AS BIGINT) AS pack_id
                FROM cum
            )
            SELECT source, pack_id,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(length(string_agg(coalesce(text, ''),
                        chr(10) || chr(10) ORDER BY doc_id, doc_id))
                        AS BIGINT) AS n_chars_packed,
                   md5(string_agg(coalesce(text, ''),
                        chr(10) || chr(10) ORDER BY doc_id, doc_id)) AS pack_md5
            FROM packed GROUP BY source, pack_id
        """,
        "chunk_documents": """
            WITH n AS (
                SELECT doc_id, text,
                       greatest(1, CAST(ceil((length(text) - 50) / 450.0) AS BIGINT)) AS nch
                FROM documents
            ), e AS (
                SELECT doc_id, text, unnest(range(0, nch)) AS chunk_index
                FROM n
            )
            SELECT doc_id,
                   CAST(chunk_index AS BIGINT) AS chunk_index,
                   CAST(length(substring(text, CAST(chunk_index * 450 + 1 AS INT), 500)) AS BIGINT) AS chunk_chars,
                   md5(substring(text, CAST(chunk_index * 450 + 1 AS INT), 500)) AS chunk_md5
            FROM e
        """,
        "pack_documents_greedy": """
            WITH RECURSIVE sized AS (
                -- COALESCE mirrors the kernel's nulls-pack-as-zero rule
                -- (a NULL would otherwise poison the running 'used' sum)
                SELECT doc_id, COALESCE(length(text), 0) AS n_chars,
                       row_number() OVER (ORDER BY doc_id) AS rn
                FROM documents
            ), walk AS (
                SELECT rn, doc_id, n_chars,
                       CAST(0 AS BIGINT) AS pack_id, n_chars AS used
                FROM sized WHERE rn = 1
                UNION ALL
                SELECT s.rn, s.doc_id, s.n_chars,
                       CASE WHEN w.used > 0 AND w.used + s.n_chars > 4096
                            THEN w.pack_id + 1 ELSE w.pack_id END,
                       CASE WHEN w.used > 0 AND w.used + s.n_chars > 4096
                            THEN s.n_chars ELSE w.used + s.n_chars END
                FROM walk w JOIN sized s ON s.rn = w.rn + 1
            )
            SELECT doc_id, n_chars, pack_id FROM walk
        """,
        "interval_overlap_purchases": """
            WITH p AS (
                SELECT event_id AS p_event, user_id, ts AS p_start,
                       ts + INTERVAL 1 HOUR AS p_end
                FROM events WHERE event_type = 'purchase'
            ), c AS (
                SELECT event_id AS c_event, user_id, ts AS c_start,
                       ts + INTERVAL 30 MINUTE AS c_end
                FROM events WHERE event_type = 'click'
            )
            SELECT p_event, CAST(count(*) AS BIGINT) AS n_overlaps
            FROM p JOIN c USING (user_id)
            WHERE p_start < c_end AND c_start < p_end
            GROUP BY p_event
        """,
        "salted_agg_events": """
            -- gates mirror the operator contract exactly: sum coalesces
            -- to 0.0 on all-null groups, std needs >= 2 samples
            SELECT event_type,
                   round(COALESCE(sum(value), 0.0), 2) AS value_sum,
                   round(avg(value), 6) AS value_mean,
                   CAST(count(*) AS DOUBLE) AS value_length,
                   round(min(value), 6) AS value_min,
                   round(max(value), 6) AS value_max,
                   CASE WHEN count(value) >= 2
                        THEN round(sqrt(var_pop(value)), 6) END AS value_std
            FROM events GROUP BY event_type
        """,
        "simhash_fingerprints_md5": """
            WITH norm AS (
                SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                FROM documents
            ), pos AS (
                SELECT doc_id, t,
                       unnest(range(1, greatest(length(t) - 3, 1) + 1)) AS i
                FROM norm
            ), sh AS (
                SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 4) AS s
                FROM pos
            ), hv AS (
                SELECT doc_id,
                       ('0x' || substr(md5(s), 1, 15))::BIGINT AS h
                FROM sh
            ), bits AS (
                SELECT doc_id, h, unnest(range(0, 32)) AS b FROM hv
            ), votes AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1
                           THEN 1 ELSE -1 END) AS v
                FROM bits GROUP BY doc_id, b
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0
                            THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
            FROM votes GROUP BY doc_id
        """,
        "lsh_buckets_md5": """
            WITH ex AS (
                SELECT vec_id, embedding,
                       unnest(range(1, len(embedding) + 1)) AS i
                FROM embeddings
            ), comp AS (
                SELECT vec_id, i,
                       CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
                FROM ex
            ), pl AS (
                SELECT vec_id, p,
                       sum(v * (((('0x' || substr(md5('42:' || p || ':' || (i - 1)), 1, 15))::BIGINT)
                            % 1048576) / 524288.0 - 1.0)) AS proj
                FROM comp, (SELECT unnest(range(0, 8)) AS p) planes
                GROUP BY vec_id, p
            )
            SELECT vec_id,
                   CAST(sum(CASE WHEN proj >= 0
                            THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
            FROM pl GROUP BY vec_id
        """,
        "decontaminate_docs": """
            WITH wa AS (
                SELECT doc_id,
                       string_split(trim(regexp_replace(lower(text),
                           '[^a-z0-9]+', ' ', 'g')), ' ') AS w
                FROM documents
            ), ng AS (
                SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
                FROM (
                    SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
                    FROM wa WHERE len(w) >= 8
                )
            ), ev AS (
                SELECT DISTINCT g FROM ng WHERE doc_id % 50 = 0
            )
            SELECT n.doc_id, CAST(count(*) AS BIGINT) AS n_hits
            FROM ng n JOIN ev USING (g)
            GROUP BY n.doc_id
        """,
        "minhash_signatures_md5": """
            WITH norm AS (
                SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                FROM documents
            ), pos AS (
                SELECT doc_id, t,
                       unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
                FROM norm
            ), sh AS (
                SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS s
                FROM pos
            ), hv AS (
                SELECT doc_id,
                       ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h
                FROM sh
            ), lanes AS (
                SELECT doc_id, h, unnest(range(0, 16)) AS lane FROM hv
            )
            SELECT doc_id, lane,
                   min((h * (2 * lane + 1) + 7919 * (lane + 1)) % 2147483647) AS minhash
            FROM lanes GROUP BY doc_id, lane
        """,
        "minhash_lsh_pairs_md5": """
            WITH norm AS (
                SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                FROM documents
            ), pos AS (
                SELECT doc_id, t,
                       unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
                FROM norm
            ), sh AS (
                SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS s
                FROM pos
            ), hv AS (
                SELECT doc_id,
                       ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h
                FROM sh
            ), lanes AS (
                SELECT doc_id, h, unnest(range(0, 16)) AS lane FROM hv
            ), sig AS (
                SELECT doc_id, lane,
                       min((h * (2 * lane + 1) + 7919 * (lane + 1)) % 2147483647) AS mh
                FROM lanes GROUP BY doc_id, lane
            ), sigarr AS (
                SELECT doc_id, list(mh ORDER BY lane) AS sg FROM sig GROUP BY doc_id
            ), banded AS (
                SELECT doc_id, band,
                       array_to_string(list_slice(sg, band * 4 + 1, band * 4 + 4), ',') AS bucket
                FROM sigarr, (SELECT unnest(range(0, 4)) AS band)
            )
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b USING (band, bucket)
            WHERE a.doc_id < b.doc_id
        """,
        "near_dup_incremental_docs": """
            WITH norm AS (
                SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
                FROM documents
            ), pos AS (
                SELECT doc_id, t,
                       unnest(range(1, greatest(length(t) - 4, 1) + 1)) AS i
                FROM norm
            ), sh AS (
                SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), 5) AS s
                FROM pos
            ), hv AS (
                SELECT doc_id,
                       ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h
                FROM sh
            ), lanes AS (
                SELECT doc_id, h, unnest(range(0, 16)) AS lane FROM hv
            ), sig AS (
                SELECT doc_id, lane,
                       min((h * (2 * lane + 1) + 7919 * (lane + 1)) % 2147483647) AS mh
                FROM lanes GROUP BY doc_id, lane
            ), sigarr AS (
                SELECT doc_id, list(mh ORDER BY lane) AS sg FROM sig GROUP BY doc_id
            ), banded AS (
                SELECT doc_id, band,
                       array_to_string(list_slice(sg, band * 4 + 1, band * 4 + 4), ',') AS bucket
                FROM sigarr, (SELECT unnest(range(0, 4)) AS band)
            ), newb AS (
                SELECT * FROM banded WHERE doc_id % 5 = 0
            ), oldb AS (
                SELECT * FROM banded WHERE doc_id % 5 <> 0
            )
            SELECT DISTINCT id_new, id_seen FROM (
                SELECT b.doc_id AS id_new, a.doc_id AS id_seen
                FROM newb a JOIN newb b USING (band, bucket)
                WHERE a.doc_id < b.doc_id
                UNION ALL
                SELECT n.doc_id AS id_new, o.doc_id AS id_seen
                FROM newb n JOIN oldb o USING (band, bucket)
            )
        """,
        "shard_report_docs": """
            WITH sharded AS (
                SELECT n_chars, doc_id,
                       CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '/shard'), 1, 15))::BIGINT % 8 AS INT) AS shard
                FROM documents
            )
            SELECT shard,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS sum_chars,
                   min(doc_id) AS min_doc,
                   max(doc_id) AS max_doc
            FROM sharded GROUP BY shard
        """,
        # pinned-component PCA projection: mean = embedding of vec_id 5,
        # components = embeddings of vec_ids 1..4; centering + dot folds
        # replayed term-for-term (list_sum over per-index products, the
        # ivf_probe_pinned idiom); + 0.0 normalizes -0.0 (rule 7)
        "pca_project_pinned": """
            WITH m AS (SELECT embedding AS mv FROM embeddings
                       WHERE vec_id = 5),
            comps AS (SELECT vec_id AS k, embedding AS cv
                      FROM embeddings WHERE vec_id BETWEEN 1 AND 4),
            base AS (SELECT vec_id, label, embedding FROM embeddings
                     WHERE vec_id > 8 AND vec_id % 17 = 0),
            proj AS (
                SELECT b.vec_id, b.label, c.k,
                       list_sum(list_transform(range(1, len(b.embedding) + 1),
                           i -> (CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)
                               - CAST(m.mv[CAST(i AS INT)] AS DOUBLE))
                              * CAST(c.cv[CAST(i AS INT)] AS DOUBLE))) AS pc
                FROM base b CROSS JOIN comps c, m
            )
            SELECT vec_id, label,
                   round(max(CASE WHEN k = 1 THEN pc END), 6) + 0.0 AS pc1,
                   round(max(CASE WHEN k = 2 THEN pc END), 6) + 0.0 AS pc2,
                   round(max(CASE WHEN k = 3 THEN pc END), 6) + 0.0 AS pc3,
                   round(max(CASE WHEN k = 4 THEN pc END), 6) + 0.0 AS pc4
            FROM proj GROUP BY vec_id, label ORDER BY vec_id
        """,
        # pinned-codebook PQ: subspace j's 8 centroids = unit slice-j
        # subvectors of vec_ids 1..8 (code = source vec_id, so the
        # lowest-index argmin tie rule matches array_position); encode
        # = per-(vec, subspace) argmin of the squared-L2 fold, ADC =
        # the 4 lookup terms added in subspace order (left-assoc, the
        # exact Spark expression shape)
        "pq_probe_pinned": """
            WITH srcs AS (
                SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings WHERE vec_id BETWEEN 1 AND 8
            ), units AS (
                SELECT vec_id AS code, list_transform(v, x -> x / n) AS uv
                FROM (SELECT vec_id, v,
                             sqrt(list_sum(list_transform(v, x -> x * x))) AS n
                      FROM srcs)
            ), spaces AS (SELECT unnest([0, 1, 2, 3]) AS j),
            cbs AS (
                SELECT s.j, u.code,
                       list_slice(u.uv, s.j * 16 + 1, s.j * 16 + 16) AS cv
                FROM units u CROSS JOIN spaces s
            ), qu AS (
                SELECT list_transform(v, x -> x / n) AS uv
                FROM (SELECT v,
                             sqrt(list_sum(list_transform(v, x -> x * x))) AS n
                      FROM (SELECT list_transform(embedding,
                                   x -> CAST(x AS DOUBLE)) AS v
                            FROM embeddings WHERE vec_id = 0))
            ), corp AS (
                SELECT vec_id, list_transform(v, x -> x / n) AS uv
                FROM (SELECT vec_id, v,
                             sqrt(list_sum(list_transform(v, x -> x * x))) AS n
                      FROM (SELECT vec_id,
                                   list_transform(embedding,
                                       x -> CAST(x AS DOUBLE)) AS v
                            FROM embeddings WHERE vec_id > 8))
            ), dists AS (
                SELECT c.vec_id, b.j, b.code,
                       list_sum(list_transform(range(1, 17),
                           i -> (c.uv[CAST(b.j * 16 + i AS INT)]
                               - b.cv[CAST(i AS INT)])
                              * (c.uv[CAST(b.j * 16 + i AS INT)]
                               - b.cv[CAST(i AS INT)]))) AS d2
                FROM corp c CROSS JOIN cbs b
            ), codes AS (
                SELECT vec_id, j, code FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY vec_id, j ORDER BY d2 ASC, code ASC
                    ) AS rn FROM dists) WHERE rn = 1
            ), qsubs AS (
                SELECT s.j, list_slice(q.uv, s.j * 16 + 1, s.j * 16 + 16) AS qv
                FROM qu q CROSS JOIN spaces s
            ), lut AS (
                SELECT b.j, b.code,
                       list_sum(list_transform(range(1, 17),
                           i -> (q.qv[CAST(i AS INT)] - b.cv[CAST(i AS INT)])
                              * (q.qv[CAST(i AS INT)] - b.cv[CAST(i AS INT)])))
                       AS ld
                FROM cbs b JOIN qsubs q ON b.j = q.j
            ), scored AS (
                SELECT c.vec_id,
                       max(CASE WHEN c.j = 0 THEN l.ld END) AS l0,
                       max(CASE WHEN c.j = 1 THEN l.ld END) AS l1,
                       max(CASE WHEN c.j = 2 THEN l.ld END) AS l2,
                       max(CASE WHEN c.j = 3 THEN l.ld END) AS l3
                FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.code
                GROUP BY c.vec_id
            )
            SELECT vec_id, round(((l0 + l1) + l2) + l3, 6) AS adc_dist
            FROM scored
            ORDER BY ((l0 + l1) + l2) + l3 ASC, vec_id ASC LIMIT 10
        """,
        "ivf_probe_pinned": """
            WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
            cents AS (
                SELECT vec_id AS cid, embedding AS ce,
                       sqrt(list_sum(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cn
                FROM embeddings WHERE vec_id BETWEEN 1 AND 8
            ), base AS (
                SELECT vec_id, embedding FROM embeddings WHERE vec_id > 8
            ), scored AS (
                SELECT b.vec_id, c.cid, b.embedding,
                       list_sum(list_transform(range(1, len(b.embedding) + 1),
                           i -> CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)
                              * CAST(c.ce[CAST(i AS INT)] AS DOUBLE))) / c.cn AS s
                FROM base b CROSS JOIN cents c
            ), assigned AS (
                SELECT vec_id, cid, embedding FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
                    FROM scored) WHERE rn = 1
            ), probes AS (
                SELECT c.cid FROM cents c, q
                ORDER BY list_sum(list_transform(range(1, len(c.ce) + 1),
                             i -> CAST(c.ce[CAST(i AS INT)] AS DOUBLE)
                                * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)))
                         / (c.cn * sqrt(list_sum(list_transform(q.qe,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
                         c.cid ASC
                LIMIT 2
            ), final AS (
                SELECT a.vec_id,
                       list_sum(list_transform(range(1, len(a.embedding) + 1),
                           i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                              * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(a.embedding,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                        * sqrt(list_sum(list_transform(q.qe,
                             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS c
                FROM assigned a, q WHERE a.cid IN (SELECT cid FROM probes)
            )
            SELECT vec_id, round(c, 6) AS cosine FROM final
            ORDER BY c DESC, vec_id ASC LIMIT 10
        """,
        # recall@10 of LSH(md5, 4 planes) and IVF(nprobe=4, centers =
        # vectors of vec_ids 1..8) vs exact brute force over 13 pinned
        # query ids — every stage exact relational algebra, mirroring
        # similarity.recall_report: one shared scored relation (query x
        # corpus cosine, self excluded), per-lane candidate restriction,
        # per-query top-10 with (score DESC, cid ASC) tie-break, recall =
        # |exact ∩ approx| / |exact|
        "ann_recall_report": """
            WITH corpus AS (
                SELECT vec_id AS cid, embedding AS vec,
                       sqrt(list_sum(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
                FROM embeddings
            ), qs AS (
                SELECT cid AS qid, vec AS qvec, nrm AS qnrm FROM corpus
                WHERE cid % 41 = 3 AND cid < 500
            ), scored AS (
                SELECT q.qid, c.cid,
                       list_sum(list_transform(range(1, len(c.vec) + 1),
                           i -> CAST(c.vec[CAST(i AS INT)] AS DOUBLE)
                              * CAST(q.qvec[CAST(i AS INT)] AS DOUBLE)))
                       / (c.nrm * q.qnrm) AS s
                FROM corpus c CROSS JOIN qs q WHERE c.cid <> q.qid
            ), exact AS (
                SELECT qid, cid FROM (
                    SELECT qid, cid, row_number() OVER (
                        PARTITION BY qid ORDER BY s DESC, cid ASC) AS rn
                    FROM scored) WHERE rn <= 10
            ), ex AS (
                SELECT vec_id, embedding,
                       unnest(range(1, len(embedding) + 1)) AS i
                FROM embeddings
            ), comp AS (
                SELECT vec_id, i,
                       CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS v
                FROM ex
            ), pl AS (
                SELECT vec_id, p,
                       sum(v * (((('0x' || substr(md5('42:' || p || ':' || (i - 1)), 1, 15))::BIGINT)
                            % 1048576) / 524288.0 - 1.0)) AS proj
                FROM comp, (SELECT unnest(range(0, 4)) AS p) planes
                GROUP BY vec_id, p
            ), buck AS (
                SELECT vec_id,
                       CAST(sum(CASE WHEN proj >= 0
                            THEN CAST(power(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
                FROM pl GROUP BY vec_id
            ), lsh_top AS (
                SELECT qid, cid FROM (
                    SELECT s.qid, s.cid, row_number() OVER (
                        PARTITION BY s.qid ORDER BY s.s DESC, s.cid ASC) AS rn
                    FROM scored s
                    JOIN buck bq ON bq.vec_id = s.qid
                    JOIN buck bc ON bc.vec_id = s.cid AND bc.bucket = bq.bucket
                ) WHERE rn <= 10
            ), cents AS (
                SELECT vec_id AS ccl, embedding AS ce,
                       sqrt(list_sum(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cn
                FROM embeddings WHERE vec_id BETWEEN 1 AND 8
            ), cscored AS (
                SELECT c.cid, ct.ccl,
                       list_sum(list_transform(range(1, len(c.vec) + 1),
                           i -> CAST(c.vec[CAST(i AS INT)] AS DOUBLE)
                              * CAST(ct.ce[CAST(i AS INT)] AS DOUBLE))) / ct.cn AS s
                FROM corpus c CROSS JOIN cents ct
            ), assigned AS (
                SELECT cid, ccl FROM (
                    SELECT cid, ccl, row_number() OVER (
                        PARTITION BY cid ORDER BY s DESC, ccl ASC) AS rn
                    FROM cscored) WHERE rn = 1
            ), probes AS (
                SELECT qid, ccl FROM (
                    SELECT q.qid, ct.ccl, row_number() OVER (
                        PARTITION BY q.qid ORDER BY
                            list_sum(list_transform(range(1, len(ct.ce) + 1),
                                i -> CAST(ct.ce[CAST(i AS INT)] AS DOUBLE)
                                   * CAST(q.qvec[CAST(i AS INT)] AS DOUBLE))) / ct.cn
                            DESC, ct.ccl ASC) AS rn
                    FROM qs q CROSS JOIN cents ct) WHERE rn <= 4
            ), ivf_top AS (
                SELECT qid, cid FROM (
                    SELECT s.qid, s.cid, row_number() OVER (
                        PARTITION BY s.qid ORDER BY s.s DESC, s.cid ASC) AS rn
                    FROM scored s
                    JOIN assigned a ON a.cid = s.cid
                    JOIN probes p ON p.qid = s.qid AND p.ccl = a.ccl
                ) WHERE rn <= 10
            )
            SELECT 'lsh_buckets' AS method,
                   round(CAST((SELECT count(*) FROM exact e
                               JOIN lsh_top l ON e.qid = l.qid AND e.cid = l.cid) AS DOUBLE)
                       / (SELECT count(*) FROM exact), 6) AS recall_at_k,
                   CAST(13 AS INT) AS n_queries, CAST(10 AS INT) AS k
            UNION ALL
            SELECT 'ivf_nprobe' AS method,
                   round(CAST((SELECT count(*) FROM exact e
                               JOIN ivf_top v ON e.qid = v.qid AND e.cid = v.cid) AS DOUBLE)
                       / (SELECT count(*) FROM exact), 6) AS recall_at_k,
                   CAST(13 AS INT) AS n_queries, CAST(10 AS INT) AS k
        """,
        # minhash_lsh_candidates / simhash_fingerprints / lsh_similarity_topk /
        # ivf_topk_probe: intentionally no oracle (xxhash64 / KMeans have no
        # DuckDB equivalent) -> driver records rows-only checks; the minhash
        # signature ARITHMETIC is hash-verified via minhash_signatures_md5,
        # the banded candidate generator via minhash_lsh_pairs_md5, and the
        # full IVF probe stage via ivf_probe_pinned.
    }
    # ivf_probe_partitioned produces the same answer as ivf_probe_pinned
    # by construction — the only difference is PHYSICAL (the assigned
    # corpus roundtrips through cluster-partitioned parquet and the probe
    # prunes directories), which is exactly what sharing the oracle proves
    oracles["ivf_probe_partitioned"] = oracles["ivf_probe_pinned"]
    return oracles
