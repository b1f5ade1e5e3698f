"""KLL-style mergeable rank-quantile sketch (Karnin-Lang-Liberty 2016,
"Optimal quantile approximation in streams"; fixed per-level capacity as
in Manku-Rajagopalan-Lindsay 1998) — rank quantiles over UNBOUNDED
domains with constant-size, mergeable state.

`quality.histogram_counts` needs known ``(lo, hi)`` fixed bins; this
sketch does not: it is the right persisted-store shape for "p99 of a
column we know nothing about, folded batch by batch".

State model. A sketch is a relation of ``(level, value, tb)`` rows; an
item at level ``l`` represents ``2^l`` input rows (weight). COMPACTION of
an overfull level sorts its items by ``(value, tb)``, pairs them up,
keeps one item of each pair (which side is a coin flip) promoted to
level ``l+1``, discards the other, and leaves an odd leftover in place —
total weight is conserved exactly, so ``sum(2^level)`` always equals the
number of inserted rows. After compaction every level holds at most
``k`` items, so the sketch is ``O(k log(n/k))`` rows however large the
input.

Determinism (the md5 lane). Everything that is random in the paper is
derandomized through md5, the same trick as `operators/sketch.py`'s CMS
/ HLL lanes:

- the compaction coin for (level, pass) is a bit of
  ``md5('kll:<seed>:<pass>:<level>')``;
- ties in the value sort break on ``tb = md5(id || '/kll-t' || seed)``;
- the build shards its input by ``md5(id) % shards`` and runs the
  canonical compaction per shard, then merges the shard sketches — so
  the result is a PURE FUNCTION of the input multiset and the
  ``(k, shards, passes, seed)`` configuration, independent of Spark
  partitioning, and DuckDB can replay the whole sketch term for term
  (the driver row hash-verifies it).

Scale shape. Build passes are windows partitioned by ``(shard, level)``
— parallelism = shards x live levels, each pass a shuffle of the
CURRENT item set, which HALVES per pass (total shuffled ~ 2n). Set
``shards`` to a few x the cluster's cores; changing it changes which
(equally valid) sketch you get, never its guarantees. The merge phase
runs over already-bounded relations. ``passes`` must satisfy
``n / shards <= k * 2^passes``; extra passes are EXACT NO-OPS (a pass
only touches overfull levels), so over-provisioning is free — the
default 20 covers 10^8 rows per shard at k=200.

Error. With random coins, KLL answers every rank query within
``eps * n`` where ``eps = O(sqrt(log(n/k)) / k)`` with high probability;
the fixed-capacity variant carries the MRL98 deterministic-style bound
``O(log^2(n/k) / k)``. The md5 derandomization trades the formal "with
high probability" for reproducibility, exactly like the CMS/HLL lanes —
the rank-error property test pins the observed error well inside the
bound. Reference has a single-array exact quantile only
(native_libs/src/Analysis.cpp:19-37); no sketch analog exists there.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def _md5_long(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _sql_str(s: str) -> str:
    """A Python string as a SQL string literal. Spark's lexer reads
    backslash escapes, so backslashes and quotes are backslash-escaped."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _compact_pass(
    items: DataFrame, part_cols: Sequence[str], pass_idx: int | str, k: int, seed: str
) -> DataFrame:
    """One simultaneous compaction pass: every level with more than ``k``
    items pairs its value-sorted items and promotes the coin-chosen side
    of each full pair to ``level+1`` (odd leftover stays put); levels
    within capacity pass through untouched. Pure expressions — the coin
    is an md5 bit of (seed, pass, level).

    Emitted as generated SQL strings (round 13): a merge schedule chains
    several of these, and the Column-op form cost ~60 py4j roundtrips
    of pure construction per pass (~40% of the kll rows' bench time);
    the SQL form is 3 parses with the IDENTICAL expressions — the
    pass-by-pass DuckDB oracle and tests/test_kll.py pin equivalence."""
    part = ", ".join(map(_sql_ident, part_cols))
    win = f"PARTITION BY {part} ORDER BY value, tb"
    # the partition size rides the SAME (partition, order) window with a
    # full frame, so both columns compute in one Window operator over
    # one exchange+sort — a second unordered count window would chain a
    # second Window pass per compaction round
    x = items.selectExpr(
        "*",
        f"row_number() OVER ({win}) AS __rn",
        f"count(1) OVER ({win} ROWS BETWEEN UNBOUNDED PRECEDING AND"
        " UNBOUNDED FOLLOWING) AS __n",
    )
    coin_key = f"concat({_sql_str(f'kll:{seed}:{pass_idx}:')}, CAST(level AS STRING))"
    off = (
        f"CAST(CAST(conv(substring(md5({coin_key}), 1, 15), 16, 10) AS BIGINT)"
        " % 2 AS INT)"
    )
    overfull = f"(__n > {k})"
    paired = "(__rn <= __n - (__n % 2))"
    keep = f"(NOT {overfull}) OR (NOT {paired}) OR ((__rn % 2) = {off})"
    return (
        x.where(keep)
        .selectExpr(
            f"CASE WHEN {overfull} AND {paired} THEN level + 1 ELSE level END"
            " AS level",
            "value",
            "tb",
            *[_sql_ident(c) for c in part_cols if c != "level"],
        )
        .select(*items.columns)
    )


def _build_cascade(
    items: DataFrame, part_cols: Sequence[str], passes: int, k: int, seed: str
) -> DataFrame:
    """The ENTIRE canonical build-phase schedule — ``passes``
    applications of `_compact_pass` over a relation whose items all
    start at level 0 — in ONE window plus a closed-form fate
    projection, provably coin-for-coin identical:

    - during the build, pass ``p`` can only compact the FRONTIER level
      ``p-1``: level 0 holds only original items, and after its one
      compaction a level keeps at most ``max(k, 1)`` items (paired
      items all leave; only the odd leftover stays) and never receives
      again — promotions land one level above the frontier;
    - compaction preserves the ``(value, tb)`` sort order (survivors
      are a subsequence), so the frontier's row numbers never need
      re-sorting: an item surviving ``p`` passes sits at position
      ``(rn + C_p) / 2^p`` where ``C_p = sum(off_j * 2^(j-1))`` over
      the per-pass md5 coins — and it SURVIVED exactly when that
      division is exact (``(rn + C_p) % 2^p == 0``);
    - while the cascade is active every pass floor-halves the frontier
      count, and floor-halvings compose: ``n_p = floor(n_0 / 2^p)`` —
      so each item's final (level, kept) fate is a constant-work CASE
      over ``(rn, n_0, coins)``.

    The coins are data-independent (md5 of ``(seed, pass, level)``
    with level = pass - 1 at the frontier), so they compute on the
    driver. One exchange+sort replaces ``passes`` chained window
    stages; extra provisioned passes cost one CASE branch instead of a
    shuffle, so right-sizing machinery (counts, snapshot, top-up)
    disappears from the build phase entirely. Equivalence to the
    pass-by-pass loop is pinned in tests/test_kll.py and by the
    generated pass-by-pass DuckDB oracle, which is unchanged."""
    import hashlib

    offs = [
        int(
            hashlib.md5(f"kll:{seed}:{p}:{p - 1}".encode()).hexdigest()[:15],
            16,
        )
        % 2
        for p in range(1, passes + 1)
    ]
    cs = []
    acc = 0
    for j, off in enumerate(offs):
        acc += off << j
        cs.append(acc)
    part = ", ".join(map(_sql_ident, part_cols))
    win = f"PARTITION BY {part} ORDER BY value, tb"
    # generated-SQL form (round 13, same rationale as _compact_pass):
    # the Column-op fate CASE cost ~300 py4j roundtrips of pure
    # construction; this is 2 parses of the identical expressions
    x = items.selectExpr(
        "*",
        f"row_number() OVER ({win}) AS __rn",
        f"count(1) OVER ({win} ROWS BETWEEN UNBOUNDED PRECEDING AND"
        " UNBOUNDED FOLLOWING) AS __n",
    )
    r0 = "CAST(__rn AS BIGINT)"

    # while the cascade is active, the frontier count has the CLOSED
    # form n_p = floor(n0 / 2^p) (each active pass is a floor-halving,
    # and floor-halvings compose); the CASE's branch order guarantees
    # n_at(p) is only read while active, so no per-pass chain columns
    # exist — the whole fate expression is O(passes) tree nodes
    def n_at(p):
        return f"shiftright(__n, {p})" if p else "__n"

    def r_at(p):
        if p == 0:
            return r0
        return f"CAST(({r0} + {cs[p - 1]}) / {1 << p} AS BIGINT)"

    def survives(p):
        return f"((({r0} + {cs[p - 1]}) % {1 << p}) = 0)"

    # branch order per pass p guards the closed forms: reaching the
    # pass-p branches implies "survived passes 1..p-1 and the cascade
    # was still active", exactly the loop's reachability
    branches = [f"WHEN {n_at(0)} <= {k} THEN 0"]
    for p in range(1, passes + 1):
        leftover = f"(({n_at(p - 1)} % 2) = 1) AND ({r_at(p - 1)} = {n_at(p - 1)})"
        branches.append(f"WHEN {leftover} THEN {p - 1}")
        branches.append(f"WHEN NOT {survives(p)} THEN -1")
        branches.append(f"WHEN {n_at(p)} <= {k} THEN {p}")
    fate = "CASE " + " ".join(branches) + f" ELSE {passes} END"
    return (
        x.selectExpr("*", f"{fate} AS __lvl")
        .filter(F.col("__lvl") >= 0)
        .selectExpr(
            "CAST(level + __lvl AS INT) AS level",
            "value",
            "tb",
            *[_sql_ident(c) for c in part_cols if c != "level"],
        )
        .select(*items.columns)
    )


def _any_overfull(items: DataFrame, part_cols: Sequence[str], k: int) -> bool:
    """True when any compaction window still holds more than ``k``
    items — i.e. the next canonical pass would NOT be a no-op. Runs on
    a sketch-sized (materialized) relation; the ``limit(1)`` makes the
    action a cheap existence probe."""
    return (
        items.groupBy(*part_cols)
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > k)
        .limit(1)
        .count()
        > 0
    )


def kll_build(
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 200,
    shards: int = 32,
    passes: int = 20,
    merge_passes: int = 10,
    seed: str = "",
    key_cols: Sequence[str] = (),
    auto_passes: bool = True,
) -> DataFrame:
    """Build the sketch over ``value_col`` (nulls excluded — a null has
    no rank): ``(*key_cols, level, value, tb)`` rows, at most ``k`` per
    (group, level) after the merge phase. md5-sharded canonical
    compaction (see module docstring), so the result is
    partitioning-independent and oracle-replayable. ``passes`` must
    cover ``log2(n / shards / k)`` — extra passes are no-ops.

    The BUILD schedule executes as ONE window + a closed-form fate
    projection (`_build_cascade`, round 12) — provably coin-for-coin
    identical to ``passes`` chained compaction stages, so
    over-provisioned depth costs CASE branches, not shuffles, and the
    former count-and-verify right-sizing has nothing left to save
    there. ``auto_passes`` (default) still RIGHT-SIZES the MERGE
    phase's executed pass count (depth ``ceil(log2(shards)) + 2``): a
    merge pass whose windows are all within capacity is an EXACT
    no-op, so skipping trailing no-ops cannot change the sketch, and
    the claim "the remaining canonical passes are no-ops" is VERIFIED
    on the materialized sketch-sized state (`_any_overfull`) and
    topped up with the exact remaining labels if ever violated — the
    output is provably identical to the full fixed schedule. Pass
    ``auto_passes=False`` to restore the fixed merge schedule.

    ``key_cols`` gives PER-GROUP sketches ("p99 doc length per
    language") in the same passes: compaction windows partition by
    (group, shard, level), so parallelism is groups x shards x levels
    and a whale group still spreads over its shards."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if shards < 1 or passes < 1:
        raise ValueError("shards and passes must be >= 1")
    from .graph import snapshot

    keys = list(key_cols)
    items = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        (
            _md5_long(F.concat(F.col(id_col).cast("string"), F.lit("/kll-s" + seed)))
            % shards
        ).cast("int").alias("__shard"),
        F.lit(0).alias("level"),
        F.col(value_col).cast("double").alias("value"),
        F.md5(
            F.concat(F.col(id_col).cast("string"), F.lit("/kll-t" + seed))
        ).alias("tb"),
    )
    build_part = [*keys, "__shard", "level"]
    # the whole build schedule runs as ONE window + a closed-form fate
    # projection (`_build_cascade`) — provably identical to `passes`
    # chained `_compact_pass` stages, so over-provisioned depth costs a
    # CASE branch, not a shuffle, and the former auto_passes
    # right-sizing (count scan + snapshot + overfull top-up) has
    # nothing left to save in the build phase
    items = _build_cascade(items, build_part, passes, k, seed)
    merged = items.select(*keys, "level", "value", "tb")
    merge_part = [*keys, "level"]
    m_run = (
        min(merge_passes, math.ceil(math.log2(max(shards, 2))) + 2)
        if auto_passes
        else merge_passes
    )
    for p in range(passes + 1, passes + m_run + 1):
        merged = _compact_pass(merged, merge_part, p, k, seed)
    if m_run < merge_passes:
        merged = snapshot(merged)
        if _any_overfull(merged, merge_part, k):
            for p in range(passes + m_run + 1, passes + merge_passes + 1):
                merged = _compact_pass(merged, merge_part, p, k, seed)
    return merged


def kll_merge(
    a: DataFrame,
    b: DataFrame,
    k: int = 200,
    passes: int = 10,
    seed: str = "",
    auto_passes: bool = True,
) -> DataFrame:
    """Merge two sketches: union the item relations and re-compact.
    Associative-in-guarantees (every merge order yields a VALID sketch
    of the combined input with the summed weight — `kll_n` is exact
    under any fold order), deterministic given the inputs, and bounded:
    the union is sketch-sized, so every pass is constant work. Like all
    quantile sketches (Spark's own ``percentile_approx`` included),
    merge-then-query and one-shot-build agree to within the rank error,
    not bit-for-bit. Pass offsets here are the merge-lane constants
    (``m<p>``), so folding more batches never re-reads build coins.
    ``auto_passes`` right-sizes the executed depth exactly as in
    `kll_build`: two valid sketches union to at most ``2k`` items per
    level, which drains in a few passes — run 4, verify the rest of
    the canonical schedule would be no-ops, top up if not."""
    out = a.select("level", "value", "tb").unionByName(
        b.select("level", "value", "tb")
    )
    m_run = min(passes, 4) if auto_passes else passes
    for p in range(1, m_run + 1):
        out = _compact_pass(out, ["level"], f"m{p}", k, seed)
    if m_run < passes:
        from .graph import snapshot

        out = snapshot(out)
        if _any_overfull(out, ["level"], k):
            for p in range(m_run + 1, passes + 1):
                out = _compact_pass(out, ["level"], f"m{p}", k, seed)
    return out


def kll_n(sketch: DataFrame, key_cols: Sequence[str] = ()) -> DataFrame:
    """Exact number of inserted rows (per group, with ``key_cols``):
    weight is conserved by every compaction, so ``sum(2^level)`` == n
    (1 row, or one per group)."""
    keys = list(key_cols)
    return sketch.groupBy(*keys).agg(
        F.coalesce(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), level)")), F.lit(0))
        .alias("n")
    )


def kll_quantiles(
    sketch: DataFrame, qs: Sequence[float], key_cols: Sequence[str] = ()
) -> DataFrame:
    """Quantile estimates: ``(*key_cols, q, value)`` — the smallest
    sketch value whose cumulative weight reaches ``q * n`` (per group,
    with ``key_cols``). Runs over the bounded sketch relation only:
    per-value weights fold first (so the global form's cumulative
    window sits above an aggregate — the benign ``df.agg()`` shape,
    never raw data; the keyed form's window partitions by the group),
    then one window + a tiny literal join — the original data is never
    touched."""
    if not qs:
        raise ValueError("qs must be non-empty")
    keys = list(key_cols)
    spark = sketch.sparkSession
    weighted = sketch.groupBy(*keys, "value").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), level)")).alias("__w")
    )
    wbase = (
        W.partitionBy(*keys).orderBy("value")
        if keys
        else W.orderBy("value")
    )
    # the group total rides the SAME (partition, order) window with a
    # full frame, so cum and tot compute in ONE Window operator over
    # one exchange+sort — a separate kll_n branch would consume (and
    # recompute) the entire build lineage a second time (measured 2x
    # the whole query before round 12)
    cum = weighted.select(
        *keys,
        "value",
        F.sum("__w").over(wbase.rowsBetween(W.unboundedPreceding, 0)).alias("__cum"),
        F.sum("__w")
        .over(wbase.rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
        .alias("__tot"),
    )
    qdf = spark.createDataFrame([(float(q),) for q in qs], "q double")
    return (
        F.broadcast(qdf)
        .join(cum, F.col("__cum") >= F.col("q") * F.col("__tot"))
        .groupBy(*keys, "q")
        .agg(F.round(F.min("value"), 6).alias("value"))
    )


def kll_rank(sketch: DataFrame, v: float) -> DataFrame:
    """Estimated rank of ``v``: total weight of sketch items ``<= v``
    (1-row relation, bounded work)."""
    return sketch.filter(F.col("value") <= float(v)).agg(
        F.coalesce(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), level)")), F.lit(0))
        .alias("rank")
    )


def kll_store_update(
    spark,
    table: str,
    batch: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 200,
    shards: int = 32,
    passes: int = 20,
    merge_passes: int = 10,
    seed: str = "",
) -> None:
    """Fold a batch into a persisted KLL store (catalog parquet table,
    `io.store.fold_store`): sketch the batch, union with the stored
    sketch, re-compact, swap. State stays ``O(k log(n/k))`` rows however
    many epochs fold in; per-epoch cost is the batch sketch plus
    constant merge work. The store is stamped with its ``k`` and
    refuses a fold with a different capacity."""
    from dataframes_spark.io.store import fold_store

    fold_store(
        spark,
        table,
        kll_build(
            batch, value_col, id_col, k=k, shards=shards, passes=passes,
            merge_passes=merge_passes, seed=seed,
        ),
        merge=lambda old, new: kll_merge(old, new, k=k, seed=seed),
        stamp={"k": int(k)},
    )
