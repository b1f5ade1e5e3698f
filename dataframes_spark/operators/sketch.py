"""Mergeable sketches: count-min (frequency) and HyperLogLog (distinct).

The Cormode-Muthukrishnan CMS (J. Algorithms 55, 2005): ``depth``
pairwise-independent hash rows of ``width`` counters; an item's count
adds 1 to one counter per row, its estimate is the MIN over its ``depth``
counters. Guarantees: estimate >= true count always (only collisions
inflate, nothing deflates), and with width w the overestimate exceeds
2N/w with probability <= 2^-depth (N = stream length).

Why it belongs in a 100 TB engine: an EXACT `groupBy(col).count()`
shuffles one row per distinct key — at corpus scale a token/URL/IP
column has billions of keys and the aggregation state is the problem.
The sketch's state is ``depth x width`` counters NO MATTER the
cardinality, the per-partition partial aggregation is the classic
map-side combine (each partition contributes at most depth*width rows
to the shuffle), and two sketches over disjoint data MERGE by cell-wise
addition (`cms_merge`) — the property that makes it incremental:
sketch today's batch, add it to the store, never rescan history.

Representation: a sketch IS a DataFrame ``(d, bucket, cnt)`` holding the
non-zero cells — absent cells are zero, so estimation coalesces misses
to 0. Hash lanes mirror the dedup family: ``xxhash64`` (fast JVM path)
or ``md5`` (hash-verifiable in any engine with md5 — the driver oracle
replicates the whole sketch, cell for cell, in DuckDB).

HyperLogLog (`hll_build`/`hll_estimate`, Flajolet et al., AofA 2007) is
the distinct-count dual: where CMS bounds frequency state, HLL bounds
CARDINALITY state. An exact `countDistinct(col)` shuffles one row per
distinct value; the HLL register frame is at most ``m = 2^p`` rows per
group key no matter the cardinality, registers MERGE by max (union +
group-max — the same incremental idiom as `cms_merge`), and the
estimate is computed entirely from the register frame. Everything is
deterministic expression arithmetic: the 60-bit hash is split into a
``p``-bit register index and a ``w = 60 - p``-bit suffix, the rank
rho = leading zeros + 1 comes from an exact bit-smear + ``bit_count``
(never ``floor(log2)`` — libm rounding differs across engines near
powers of two), and the harmonic denominator is an EXACT BIGINT
``sum(2^(R - rho))`` (R = w + 1; max m * 2^R = 2^61 < 2^63 by the
60-bit choice) so partial-aggregation order can never perturb the
estimate — the md5 lane is replayable cell-for-cell in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataframes_spark.io.store import fold_store


def _bucket(col: Column, row: int, width: int, lane_hash: str) -> Column:
    """Bucket of ``col`` under hash row ``row``: pmod(h_row(col), width).
    Each row prepends a distinct tag, so rows are independent hashes of
    the same value; md5's 15 hex chars (60 bits) keep the conv() exact
    (16 would overflow a signed long)."""
    if lane_hash == "xxhash64":
        return F.pmod(F.xxhash64(F.lit(row), col), F.lit(width))
    if lane_hash == "md5":
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(F.lit(f"{row}:"), col.cast("string")).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return F.pmod(h, F.lit(width))
    raise ValueError(f"lane_hash must be xxhash64|md5, got {lane_hash!r}")


def cms_build(
    df: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
    lane_hash: str = "xxhash64",
    weight_col: str | None = None,
) -> DataFrame:
    """Sketch ``df[col]`` into a ``(d, bucket, cnt)`` cell frame.

    One scan: each value explodes to its ``depth`` (row, bucket) cells
    map-side, then ONE hash aggregation whose partial combine bounds any
    partition's shuffle contribution at depth*width rows — the exchange
    carries sketch cells, never values. NULLs are skipped (a null key
    has no frequency). ``weight_col`` sketches a weighted stream
    (e.g. pre-aggregated counts)."""
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1, width >= 2, got {depth}x{width}")
    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    cells = df.filter(F.col(col).isNotNull()).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        _bucket(F.col(col), i, width, lane_hash).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("__c"),
        w.alias("__w"),
    )
    return (
        cells.select("__c.d", "__c.bucket", "__w")
        .groupBy("d", "bucket")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Cell-wise sum of same-shaped sketches (the mergeability that
    makes CMS incremental: union the cell frames, re-aggregate)."""
    if not sketches:
        raise ValueError("cms_merge needs at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("d", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    col: str,
    depth: int = 4,
    width: int = 2048,
    lane_hash: str = "xxhash64",
) -> DataFrame:
    """Estimated count for every row of ``items[col]``: min over the
    item's ``depth`` cells, absent cells = 0. The sketch side is
    depth*width rows at most — it BROADCASTS, so estimation never
    shuffles the (possibly huge) item frame."""
    probes = items.select(
        F.col(col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("d"),
                        _bucket(F.col(col), i, width, lane_hash).alias("bucket"),
                    )
                    for i in range(depth)
                ]
            )
        ).alias("__c"),
    ).select(F.col(col), "__c.d", "__c.bucket")
    return (
        probes.join(F.broadcast(sketch), ["d", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def cms_store_update(spark, table: str, batch_sketch: DataFrame) -> None:
    """Fold a batch's sketch into a persisted CMS store (catalog parquet
    table, `io.store.fold_store`) — the incremental-epoch loop: sketch
    each arriving batch (one scan of the batch, never of history),
    ``cms_merge`` it with the stored cells, swap. The store is AT MOST
    depth*width rows no matter how many epochs fold in, so the update
    is a constant-size job and the store never needs compaction. Not
    transactional: run between increments, like the other stores."""
    fold_store(spark, table, batch_sketch, merge=cms_merge)


def heavy_hitters(
    df: DataFrame,
    col: str,
    min_count: int,
    depth: int = 4,
    width: int = 2048,
    lane_hash: str = "xxhash64",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Values whose estimated frequency is >= ``min_count`` —
    ``(value_col, est)``. CMS never under-counts, so NO true heavy
    hitter is missed (one-sided error: collision-inflated light keys
    can appear; raise ``width`` to thin them).

    ``candidates`` scopes which values are reported. Default: the
    distinct values of ``df[col]`` — exact, but it shuffles one row per
    distinct key, which is precisely what the sketch exists to avoid;
    at corpus scale pass a candidate frame from a cheap source instead
    (a deterministic sample — operators/sample.py sample_md5 — or last
    epoch's heavy hitters): any candidate set containing the true heavy
    keys preserves the no-miss guarantee."""
    sk = cms_build(df, col, depth, width, lane_hash)
    cand = (candidates or df).select(col).filter(F.col(col).isNotNull()).distinct()
    est = cms_estimate(sk, cand, col, depth, width, lane_hash)
    return est.filter(F.col("est") >= min_count)


# --------------------------------------------------------------------------
# HyperLogLog: mergeable distinct-count estimation
# --------------------------------------------------------------------------

_HLL_BITS = 60  # both lanes use 60 hash bits: md5's 15 hex chars, and
# xxhash64 masked to its low 60 — so m * 2^(w+1) = 2^61 always fits a
# signed BIGINT and the harmonic denominator stays exact integer math.


def _hll_alpha(m: int) -> float:
    """Standard HLL bias-correction constant (Flajolet et al. 2007)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _hll_hash60(col: Column, lane_hash: str) -> Column:
    """60-bit nonnegative hash of ``col``. The md5 lane mirrors the CMS
    convention (15 hex chars -> conv base 16, exactly replayable as
    ``('0x' || substr(md5('hll:' || x), 1, 15))::BIGINT`` in any engine
    with md5); xxhash64 is the fast JVM lane, masked to 60 bits."""
    if lane_hash == "xxhash64":
        return F.xxhash64(F.lit("hll:"), col).bitwiseAND(
            F.lit((1 << _HLL_BITS) - 1)
        )
    if lane_hash == "md5":
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit("hll:"), col.cast("string")).cast("binary")),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
    raise ValueError(f"lane_hash must be xxhash64|md5, got {lane_hash!r}")


def _bit_length(v: Column) -> Column:
    """Exact bit length of a nonnegative long: smear the top bit down
    (6 shifted ORs cover 60 bits), then popcount. Deliberately NOT
    ``floor(log2(v))`` — near powers of two libm log2 can round up
    (log2(2^55 - 1) rounds to 55.0 in double), and the rounding is
    engine-specific; bit ops are exact everywhere."""
    s = v
    for k in (1, 2, 4, 8, 16, 32):
        s = s.bitwiseOR(F.shiftright(s, k))
    return F.bit_count(s)


def hll_build(
    df: DataFrame,
    col: str,
    key_cols: tuple[str, ...] = (),
    p: int = 12,
    lane_hash: str = "xxhash64",
) -> DataFrame:
    """Per-``key_cols``-group HLL register frame for ``df[col]``:
    ``(*key_cols, r, maxrho)`` with ``r`` in [0, 2^p) and ``maxrho`` the
    max rank observed in that register.

    ONE scan, ONE hash aggregation; the partial max-combine bounds any
    partition's shuffle contribution at ``2^p`` rows per group key —
    the exchange carries registers, never values. NULLs are skipped
    (they contribute no distinct value). Registers are sparse: absent
    rows mean rho 0 (an empty register), which `hll_estimate` counts
    via ``m - n_present``."""
    if not 4 <= p <= 16:
        raise ValueError(f"need 4 <= p <= 16, got p={p}")
    w = _HLL_BITS - p
    h = _hll_hash60(F.col(col), lane_hash)
    idx = F.shiftright(h, w).cast("int").alias("r")
    v = h.bitwiseAND(F.lit((1 << w) - 1))
    rho = (F.lit(w + 1) - _bit_length(v)).cast("int").alias("rho")
    return (
        df.filter(F.col(col).isNotNull())
        .select(*key_cols, idx, rho)
        .groupBy(*key_cols, "r")
        .agg(F.max("rho").alias("maxrho"))
    )


def hll_merge(*frames: DataFrame, key_cols: tuple[str, ...] = ()) -> DataFrame:
    """Register-wise max of same-``p`` register frames — the
    mergeability that makes HLL incremental: union, re-take the max.
    A merge of sketches over disjoint (or overlapping!) data equals the
    sketch of the union — max is idempotent, so re-folding the same
    batch twice cannot inflate the estimate (unlike CMS addition)."""
    if not frames:
        raise ValueError("hll_merge needs at least one register frame")
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.groupBy(*key_cols, "r").agg(F.max("maxrho").alias("maxrho"))


def hll_estimate(
    registers: DataFrame,
    key_cols: tuple[str, ...] = (),
    p: int = 12,
) -> DataFrame:
    """Distinct-count estimate per group from a register frame:
    ``(*key_cols, est_ndv double)``.

    The harmonic mean is computed in EXACT integer arithmetic:
    ``denom = sum(2^(R - maxrho)) + (m - n_present) * 2^R`` (R = w + 1)
    is a BIGINT — float summation order (which differs between engines
    and between partial-agg schedules) can never perturb it; only the
    final ``alpha * m^2 * 2^R / denom`` division is floating point, a
    single IEEE-exact operation. Small-range (linear counting) kicks in
    below 2.5m when empty registers remain, per the standard algorithm.
    Relative error ~= 1.04 / sqrt(2^p)."""
    if not 4 <= p <= 16:
        raise ValueError(f"need 4 <= p <= 16, got p={p}")
    m = 1 << p
    w = _HLL_BITS - p
    big_r = w + 1
    c_num = _hll_alpha(m) * m * m * float(2**big_r)
    per_key = registers.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.expr(f"shiftleft(1L, {big_r} - maxrho)")).alias("__dp"),
    )
    denom = (
        F.col("__dp")
        + (F.lit(m).cast("long") - F.col("__n")) * F.lit(1 << big_r).cast("long")
    ).cast("double")
    raw = F.lit(c_num) / denom
    zeros = (F.lit(m).cast("long") - F.col("__n")).cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return per_key.select(*key_cols, est.alias("est_ndv"))


def approx_distinct(
    df: DataFrame,
    col: str,
    key_cols: tuple[str, ...] = (),
    p: int = 12,
    lane_hash: str = "xxhash64",
) -> DataFrame:
    """`hll_build` + `hll_estimate` in one call: per-group approximate
    distinct count with ``2^p``-bounded state. The one-shot convenience;
    keep the register frame (build/merge/store) when incrementality or
    re-estimation matters."""
    return hll_estimate(
        hll_build(df, col, key_cols, p, lane_hash), key_cols, p
    )


def hll_store_update(
    spark,
    table: str,
    batch_registers: DataFrame,
    key_cols: tuple[str, ...] = (),
) -> None:
    """Fold a batch's register frame into a persisted HLL store (catalog
    parquet table, `io.store.fold_store`): sketch each arriving batch
    (one scan of the batch, never of history), `hll_merge` with the
    stored registers, swap. The store is at most ``keys x 2^p`` rows
    however many epochs fold in, and because merge is max (idempotent),
    re-running a batch is harmless. Not transactional: run between
    increments, like the other stores."""
    fold_store(
        spark,
        table,
        batch_registers,
        merge=lambda old, new: hll_merge(old, new, key_cols=key_cols),
    )


def hll_pairwise_overlap(
    registers: DataFrame,
    key_col: str,
    p: int = 12,
) -> DataFrame:
    """Pairwise set-overlap report from ONE per-group register frame:
    for every unordered group pair (a, b), estimate ``ndv_a``,
    ``ndv_b``, ``ndv_union`` (register-wise max = the sketch of the
    union, HLL's defining property), then inclusion-exclusion
    ``overlap = max(0, ndv_a + ndv_b - ndv_union)`` and
    ``jaccard = overlap / ndv_union``.

    The audience-overlap / cross-source-contamination question ("how
    many users/URLs/doc-hashes do sources A and B share?") answered
    WITHOUT the exact plan's per-pair `countDistinct` over an
    intersect — which at corpus scale shuffles one row per distinct
    value PER PAIR. Here the data is scanned once (`hll_build`); this
    report touches only register frames: the pair relation is the
    groups' self-join on register index (<= g^2 * 2^p rows for g
    groups — sketch-sized, independent of data cardinality), and every
    estimate reuses `hll_estimate`'s exact-integer arithmetic, so the
    md5 lane replays cell-for-cell in any engine. Overlap error
    compounds three +-1.04/sqrt(2^p) estimates — size p for the
    overlap magnitude you need to resolve.
    """
    a = registers.select(
        F.col(key_col).alias("ga"), "r", F.col("maxrho").alias("rho_a")
    )
    b = registers.select(
        F.col(key_col).alias("gb"), "r", F.col("maxrho").alias("rho_b")
    )
    # Union registers per pair: full outer on r within each (ga, gb)
    # combination — expressed as a join on r (both-present cells take
    # the max) unioned with each side's cells against the OTHER group's
    # key universe (sparse absent-register handling). The pair/key
    # relations are sketch-sized; broadcast joins throughout.
    keys = registers.select(F.col(key_col).alias("g")).distinct()
    pairs = (
        keys.select(F.col("g").alias("ga"))
        .join(F.broadcast(keys.select(F.col("g").alias("gb"))))
        .filter(F.col("ga") < F.col("gb"))
    )
    # replicate each group's registers to every pair it belongs to,
    # then re-take the max: union sketch per pair.
    u = (
        registers.join(
            F.broadcast(pairs),
            (F.col(key_col) == F.col("ga")) | (F.col(key_col) == F.col("gb")),
        )
        .groupBy("ga", "gb", "r")
        .agg(F.max("maxrho").alias("maxrho"))
    )
    est_u = hll_estimate(u, key_cols=("ga", "gb"), p=p).withColumnRenamed(
        "est_ndv", "ndv_union"
    )
    est_g = hll_estimate(registers, key_cols=(key_col,), p=p)
    est_a = est_g.select(
        F.col(key_col).alias("ga"), F.col("est_ndv").alias("ndv_a")
    )
    est_b = est_g.select(
        F.col(key_col).alias("gb"), F.col("est_ndv").alias("ndv_b")
    )
    overlap = F.greatest(
        F.lit(0.0), F.col("ndv_a") + F.col("ndv_b") - F.col("ndv_union")
    )
    return (
        est_u.join(F.broadcast(est_a), "ga")
        .join(F.broadcast(est_b), "gb")
        .select(
            "ga",
            "gb",
            "ndv_a",
            "ndv_b",
            "ndv_union",
            overlap.alias("overlap"),
            (overlap / F.col("ndv_union")).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# Bottom-k sample sketch: deterministic mergeable uniform sample
# --------------------------------------------------------------------------


def _bk_hash(id_col: str, salt: str) -> Column:
    """md5 hex of ``id/salt`` — the same deterministic ordering key as
    ``operators.sample.cap_per_group``: lexicographic hex order is a
    fixed uniform-random permutation of ids, identical in any engine."""
    return F.md5(F.concat(F.col(id_col).cast("string"), F.lit("/" + salt)))


def bottomk_build(
    df: DataFrame,
    id_col: str,
    k: int,
    key_cols: tuple[str, ...] = (),
    payload_cols: tuple[str, ...] = (),
    salt: str = "",
) -> DataFrame:
    """Bottom-k sample sketch (Cohen & Kaplan, PODS 2007): per
    ``key_cols`` group, the ``k`` rows whose ``md5(id/salt)`` sorts
    lowest — a uniform random sample UNDER A FIXED PERMUTATION, so it
    is deterministic across engines, partitionings, and reruns, and
    (the sketch property) bottom-k of a union equals bottom-k of the
    merged bottom-k's: `bottomk_merge` folds batches without rescanning
    history. Returns ``(*key_cols, bk_hash, id, *payload_cols, rnk)``.

    Scale shape: grouped builds rank with one window whose rank-limit
    pushdown (WindowGroupLimit) cuts each partition to k candidates
    MAP-SIDE before the exchange; the global build is a
    TakeOrderedAndProject k-heap — giant inputs never funnel whole
    groups through one reducer. Precondition (as for cap_per_group):
    ``id_col`` unique and non-null, else hash ties make survivors
    partitioning-dependent."""
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    base = df.select(
        *key_cols,
        _bk_hash(id_col, salt).alias("bk_hash"),
        F.col(id_col),
        *payload_cols,
    )
    return _bottomk_cut(base, id_col, k, key_cols)


def _bottomk_cut(
    frame: DataFrame, id_col: str, k: int, key_cols: tuple[str, ...]
) -> DataFrame:
    """Rank a ``bk_hash``-carrying frame and keep the k lowest per
    group (window + WindowGroupLimit) or globally (k-heap)."""
    cols = [c for c in frame.columns if c != "rnk"]
    if key_cols:
        from pyspark.sql import Window as W

        w = W.partitionBy(*key_cols).orderBy(
            F.col("bk_hash").asc(), F.col(id_col).asc()
        )
        return (
            frame.select(*cols, F.row_number().over(w).alias("rnk"))
            .filter(F.col("rnk") <= k)
        )
    ordered = frame.select(*cols).orderBy(
        F.col("bk_hash").asc(), F.col(id_col).asc()
    )
    from pyspark.sql import Window as W

    # global lane: the k-heap limit happens FIRST (TakeOrdered over the
    # full input), then ranking the k survivors is a k-row window
    return ordered.limit(k).select(
        *cols,
        F.row_number()
        .over(W.orderBy(F.col("bk_hash").asc(), F.col(id_col).asc()))
        .alias("rnk"),
    )


def bottomk_merge(
    *frames: DataFrame,
    id_col: str,
    k: int,
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Merge bottom-k frames: union, drop exact duplicates (same id in
    two frames — refolding a batch is harmless), re-cut to k. Equals
    `bottomk_build` over the concatenated raw data; the shuffle carries
    only the k-sized frames, never the streams behind them."""
    if not frames:
        raise ValueError("bottomk_merge needs at least one frame")
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    deduped = out.drop("rnk").dropDuplicates([*key_cols, id_col])
    return _bottomk_cut(deduped, id_col, k, key_cols)


def bottomk_quantiles(
    sample: DataFrame,
    value_col: str,
    qs: tuple[float, ...] = (0.25, 0.5, 0.75),
    key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Approximate stream quantiles from a bottom-k sample: exact
    percentiles OF THE SAMPLE (the fixed-permutation uniform sample
    makes them deterministic estimates of the stream's quantiles, with
    standard sampling error ~ 1/sqrt(k)). Aggregates the k-row-per-key
    sample frame — never the stream."""
    if not qs or not all(0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"qs must be fractions in [0, 1], got {qs}")
    aggs = [
        F.expr(f"percentile(`{value_col}`, {q!r})").alias(
            f"q{str(q).replace('.', '_')}"
        )
        for q in qs
    ]
    return sample.groupBy(*key_cols).agg(*aggs)


def bottomk_store_update(
    spark,
    table: str,
    batch_frame: DataFrame,
    id_col: str,
    k: int,
    key_cols: tuple[str, ...] = (),
) -> None:
    """Fold a batch's bottom-k frame into a persisted sample store
    (catalog parquet table, `io.store.fold_store`): an always-current
    deterministic uniform sample of EVERYTHING ever folded in, at most
    ``keys x k`` rows, maintained in O(batch) per epoch — the sample
    every profiling/debugging/eyeball loop wants without rescanning a
    100 TB corpus. Idempotent under batch re-folds (dedup on id inside
    the merge)."""
    fold_store(
        spark,
        table,
        batch_frame,
        merge=lambda old, new: bottomk_merge(
            old, new, id_col=id_col, k=k, key_cols=key_cols
        ),
    )
