"""Reproducible sampling for training-data pipelines.

``df.sample`` is partition-layout-dependent (same seed, different
partitioning, different rows), which poisons experiment reproducibility.
These operators sample by CONTENT HASH: a row is in or out based on its
key alone, stable across runs, partitionings, and engines.

- hash_sample:          xxhash64 threshold — the fast JVM path.
- md5_sample:           md5-hex-prefix threshold — bit-identical in any
                        engine with standard md5 (DuckDB, Trino, ...), so
                        cross-engine pipelines select the same rows; used
                        by the oracle-checked query.
- stratified_sample:    per-stratum fractions via content hash, so class
                        balance is exact-in-expectation and reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataframes_spark.io.store import fold_store


def hash_sample(df: DataFrame, key_col: str, fraction: float, salt: str = "") -> DataFrame:
    """Keep ~``fraction`` of rows by 64-bit content hash of ``key_col``.
    Deterministic per key: the same key is always in or always out, which
    also makes the sample stable under dataset growth (new keys don't
    reshuffle old decisions)."""
    buckets = 1 << 20
    h = F.pmod(F.xxhash64(F.col(key_col).cast("string"), F.lit(salt)), F.lit(buckets))
    return df.filter(h < int(fraction * buckets))


def md5_sample(df: DataFrame, key_col: str, prefix_lt: str) -> DataFrame:
    """Keep rows whose ``md5(key)`` hex is lexicographically below
    ``prefix_lt`` (e.g. ``"1a"`` keeps ~26/256 = 10.2%). The comparison is
    on the standard md5 hex string, so any engine selects the identical
    rows — the cross-engine-reproducible variant."""
    return df.filter(F.md5(F.col(key_col).cast("string")) < F.lit(prefix_lt))


def mix_datasets(
    sources: list[tuple[DataFrame, float]],
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Weighted corpus mixture: each source contributes its hash-sampled
    ``weight`` fraction, unioned into one stream. The standard
    training-mixture op (e.g. 0.6 web + 0.3 code + 0.1 books): all
    sources must share a schema; sampling is per-source content hash so
    the mixture is reproducible and re-runnable incrementally."""
    if not sources:
        raise ValueError("mix_datasets needs at least one (df, weight) source")
    out = None
    for i, (df, weight) in enumerate(sources):
        part = hash_sample(df, key_col, weight, salt=f"{salt}/{i}")
        out = part if out is None else out.unionByName(part)
    return out


def stratified_sample_md5(
    df: DataFrame, stratum_col: str, thresholds: dict, key_col: str
) -> DataFrame:
    """Cross-engine-reproducible weighted mixture in one filter: keep a
    row when ``md5(key || '/' || stratum)`` hex sorts below the stratum's
    threshold (a hex prefix: ``"4d"`` keeps ~77/256 = 30.1%). Strata not
    listed are dropped. This is :func:`mix_datasets` for the common case
    where the sources live in ONE table tagged by a column — no per-source
    frames, no union, a single scan that any md5-capable engine (DuckDB,
    Trino, Spark) reproduces bit-identically. Salting the hash with the
    stratum name decorrelates the per-stratum draws, so a key kept in one
    stratum carries no bias into another."""
    h = F.md5(
        F.concat(F.col(key_col).cast("string"), F.lit("/"), F.col(stratum_col))
    )
    cond: Column = F.lit(False)
    for value, prefix_lt in thresholds.items():
        cond = cond | ((F.col(stratum_col) == F.lit(value)) & (h < F.lit(prefix_lt)))
    # the OR-of-ANDs is not source-pushable; this redundant IN guard is,
    # so a stratum-clustered parquet layout skips whole row groups
    return df.filter(F.col(stratum_col).isin(*thresholds)).filter(cond)


def assign_split(
    df: DataFrame,
    key_col: str,
    fractions: dict | None = None,
    salt: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment: a ``split`` column from
    md5-hash bands of the key — the same row lands in the same split on
    any engine, partitioning, or rerun, and new rows never reshuffle old
    assignments (the property random splits lack). ``fractions`` maps
    split name -> fraction, must sum to ~1; bands are cumulative over
    the first 4 hex chars (65536 buckets, so fractions resolve to
    ~0.002%). One map-only expression, no shuffle.

    Leakage note: pass the GROUP key (user, domain, dedup cluster
    representative) as ``key_col`` to make the group the unit of
    assignment — every row of a group then lands in the same split, so
    near-duplicates within a group can never straddle train/test."""
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    if abs(sum(fractions.values()) - 1.0) > 1e-6:
        raise ValueError(f"fractions must sum to 1, got {fractions}")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit("/" + salt))), 1, 4
        ),
        16,
        10,
    ).cast("long")
    expr = None
    acc = 0.0
    names = list(fractions)
    for name in names[:-1]:
        acc += fractions[name]
        cond = h < int(round(acc * 65536))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def split_by_cluster(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    fractions: dict | None = None,
    salt: str = "split",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Leakage-safe train/val/test split: every duplicate/near-duplicate
    CLUSTER is assigned as a unit, so no cluster can straddle train and
    test (the contamination a per-document split permits — a test
    document whose near-twin sits in train). ``pairs`` is any candidate
    duplicate relation (LSH/jaccard, SimHash, embedding cosine, exact);
    its transitive closure (`graph.connected_components`) labels each
    clustered document with the cluster's smallest id, singletons stay
    their own representative, and `assign_split`'s md5 hash bands run on
    the representative. Adds ``rep`` and ``split`` columns; the same
    guarantees as `assign_split` (engine-/rerun-stable, new singleton
    rows never reshuffle old assignments) plus: documents joined by a
    pair ALWAYS share a split.

    Scale: component labels live on the pair-sized relation only; the
    corpus sees ONE left equi-join against that label relation
    (broadcastable — pairs are tiny vs the corpus by construction) and
    the map-only band expression. Growth caveat: adding a pair that
    BRIDGES two existing clusters re-labels one side (min id wins), so
    its documents may migrate splits together — the price of keeping
    the no-straddle invariant under new evidence.
    """
    from dataframes_spark.operators.graph import connected_components

    comp = connected_components(pairs, src=src, dst=dst).select(
        F.col("id").alias("__cid"), F.col("component").alias("__comp")
    )
    withrep = (
        df.join(comp, df[id_col] == comp["__cid"], "left")
        .withColumn("rep", F.coalesce(F.col("__comp"), F.col(id_col)))
        .drop("__cid", "__comp")
    )
    return assign_split(withrep, "rep", fractions=fractions, salt=salt)


def assign_shards(
    df: DataFrame, key_col: str, n_shards: int, salt: str = "shard"
) -> DataFrame:
    """Deterministic uniform N-way shard assignment: a ``shard`` column
    in ``[0, n_shards)`` from the top 60 bits of ``md5(key || '/' ||
    salt)`` mod ``n_shards``. The training-shard writer's partitioner:
    the same document lands in the same shard on any engine, cluster
    size, or rerun (unlike ``repartition(n)``, whose assignment depends
    on the input partitioning), so shard contents are reproducible and
    incrementally appendable — new documents never move old ones.

    md5 (not xxhash64) on purpose: the hex arithmetic is a universal
    standard, so the assignment is verifiable bit-for-bit in DuckDB /
    Trino / any md5-capable engine. 60 bits keeps the parsed value
    positive in int64, so ``%`` and ``pmod`` agree everywhere.

    One map-only expression, no shuffle. To materialize:
    ``assign_shards(df, ...).write.partitionBy("shard")`` (or
    ``repartition("shard")`` first for one file per shard), composing
    with ``write_parquet_sized`` for bounded file sizes."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col(key_col).cast("string"), F.lit("/" + salt))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return df.withColumn("shard", (h % n_shards).cast("int"))


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    key_col: str,
    k: int,
    stratum_col: str | None = None,
    salt: str = "",
) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis): each
    row draws a deterministic uniform u from md5(key/salt) and scores
    ``es_key = ln(u) / weight``; the k LARGEST scores per stratum are the
    sample, selected with probability proportional to weight. One rank
    window per stratum — no shuffle of the text bodies, no RNG state, and
    because u is a pure content hash the same rows are chosen on any
    engine, any partitioning, any rerun.

    The GLOBAL form (``stratum_col=None``) runs two-phase: a
    per-input-partition rank keeps k rows per partition (Spark's
    WindowGroupLimit cuts map-side, so at most k*P rows cross the one
    exchange, spread over all reducers), then the global rank runs over
    those survivors only — identical result, no single-reducer pass of
    the full table.

    u = (int(md5[:13], 16) + 1) / 2^52 is exact in doubles (52-bit
    numerator, power-of-two denominator), so both engines see
    bit-identical u; ln() may differ in the last ulp across libm
    implementations, which can only flip selection on measure-zero
    near-ties of distinct scores. Weights must be > 0."""
    from pyspark.sql import Window as W

    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit("/" + salt)))
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("long") + 1) / F.lit(
        float(2**52)
    )
    es = F.log(u) / F.col(weight_col).cast("double")
    base = df.withColumn("__es", es)
    if stratum_col is None:
        # two-phase global top-k: a single row_number over lit(1) pulls
        # EVERY row through one reducer at corpus scale. Phase 1 ranks
        # within each INPUT partition (pid stamped in the scan stage, so
        # the window shuffle spreads over all reducers instead of one)
        # and keeps k rows per partition; phase 2 ranks only the
        # <= k * num_partitions survivors. Identical result: the global
        # top-k is a subset of the union of per-partition top-ks.
        wl = W.partitionBy("__pid").orderBy(
            F.col("__es").desc(), F.col(key_col).asc()
        )
        base = (
            base.withColumn("__pid", F.spark_partition_id())
            .withColumn("__lrnk", F.row_number().over(wl))
            .filter(F.col("__lrnk") <= k)
            .drop("__lrnk", "__pid")
        )
        part = [F.lit(1)]
    else:
        part = [stratum_col]
    w = W.partitionBy(*part).orderBy(F.col("__es").desc(), F.col(key_col).asc())
    return (
        base.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= k)
        .drop("__rnk")
        .withColumnRenamed("__es", "es_key")
    )


def stratified_sample(
    df: DataFrame, stratum_col: str, fractions: dict, key_col: str, salt: str = ""
) -> DataFrame:
    """Per-stratum hash sampling: ``fractions`` maps stratum value ->
    fraction; unlisted strata are dropped. One filter expression, no
    shuffle, reproducible."""
    buckets = 1 << 20
    h = F.pmod(F.xxhash64(F.col(key_col).cast("string"), F.lit(salt)), F.lit(buckets))
    cond: Column = F.lit(False)
    for value, frac in fractions.items():
        cond = cond | (
            (F.col(stratum_col) == F.lit(value)) & (h < int(frac * buckets))
        )
    return df.filter(cond)


def cap_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Keep at most ``k`` rows per group, chosen DETERMINISTICALLY by
    content hash — the per-domain/per-source cap every web-corpus
    pipeline applies so one giant domain cannot dominate the mixture
    (C4/RefinedWeb-style). md5(key/salt) ordering means the survivors
    are a stable pseudo-random sample: same rows on any engine, any
    partitioning, any rerun, and changing ``salt`` redraws them.

    One rank window per group; Spark's rank-limit pushdown
    (WindowGroupLimit) cuts each partition to k candidates MAP-SIDE
    before the exchange, so giant groups do not funnel their full row
    count through one reducer — the same two-phase shape as
    ``weighted_sample_topk``.

    Precondition (shared with ``weighted_sample_topk``): ``key_col``
    must be unique and non-null — duplicate or null keys tie in the
    hash order and the survivors among them become
    partitioning-dependent."""
    from pyspark.sql import Window as W

    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit("/" + salt)))
    w = W.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= k)
        .drop("__rnk")
    )


def weighted_sample_merge(
    *frames: DataFrame,
    key_col: str,
    k: int,
    stratum_col: str | None = None,
) -> DataFrame:
    """Merge `weighted_sample_topk` frames: union, collapse duplicate
    keys to their MAX-``es_key`` row (refolding a batch is harmless,
    and if a key reappears across epochs with a CHANGED weight the
    survivor is deterministic — the arbitrary dropDuplicates pick was
    partitioning-dependent, silently breaking the merge law), keep the
    k LARGEST ``es_key`` per stratum. Because the Efraimidis-Spirakis
    key is a pure function of (key, weight), top-k-by-es of merged
    top-k's equals top-k-by-es of the union — the same sketch law as
    the bottom-k sample, so a persisted weighted sample store
    (`weighted_store_update`) stays a without-replacement
    weight-proportional sample of EVERYTHING folded in, maintained in
    O(batch). The shuffle carries only the k-sized frames; the ranking
    windows run over at most k * n_frames rows per stratum."""
    if not frames:
        raise ValueError("weighted_sample_merge needs at least one frame")
    from pyspark.sql import Window as W

    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    dedup_keys = [stratum_col, key_col] if stratum_col else [key_col]
    wdd = W.partitionBy(*dedup_keys).orderBy(F.col("es_key").desc())
    deduped = (
        out.withColumn("__dd", F.row_number().over(wdd))
        .filter(F.col("__dd") == 1)
        .drop("__dd")
    )
    part = [stratum_col] if stratum_col else [F.lit(1)]
    w = W.partitionBy(*part).orderBy(
        F.col("es_key").desc(), F.col(key_col).asc()
    )
    return (
        deduped.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") <= k)
        .drop("__rnk")
    )


def weighted_store_update(
    spark,
    table: str,
    batch_frame: DataFrame,
    key_col: str,
    k: int,
    stratum_col: str | None = None,
) -> None:
    """Fold a batch's `weighted_sample_topk` frame into a persisted
    weighted sample store (catalog parquet table,
    `io.store.fold_store`): an always-current weight-proportional
    without-replacement sample of everything ever folded in, at most
    ``strata x k`` rows, updated in O(batch) — the quality-weighted
    eyeball/eval set a corpus pipeline keeps fresh without rescanning
    history. Idempotent under batch refolds."""
    fold_store(
        spark,
        table,
        batch_frame,
        merge=lambda old, new: weighted_sample_merge(
            old, new, key_col=key_col, k=k, stratum_col=stratum_col
        ),
    )


def temperature_rates(
    df: DataFrame, group_col: str, tau: float = 0.7
) -> DataFrame:
    """Per-group keep rates that reshape the corpus to a TEMPERATURE
    distribution (Conneau & Lample 2019; mT5): target share
    ``q_s = n_s^tau / sum_t n_t^tau``, realized by pure DOWNSAMPLING —
    the output size is the largest N with ``rate_s = q_s * N / n_s <= 1``
    for every group, i.e. ``N = min_s n_s / q_s`` (the binding group
    keeps everything). ``tau < 1`` flattens head groups toward the tail;
    ``tau = 1`` is proportional (all rates 1); ``tau = 0`` is uniform.

    Returns ``(group, n_total, q, rate)`` — group-cardinality rows built
    from ONE count aggregation and two 1-row broadcast folds; feed to
    `mix_by_temperature` or persist as the sampling plan."""
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_total"))
    powed = counts.select(
        group_col,
        "n_total",
        F.pow(F.col("n_total").cast("double"), F.lit(float(tau))).alias("__p"),
    )
    tot = powed.agg(F.sum("__p").alias("__tp"))
    q = powed.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_total",
        (F.col("__p") / F.col("__tp")).alias("__q"),
    )
    nmax = q.select(
        (F.col("n_total") / F.col("__q")).alias("__cap")
    ).agg(F.min("__cap").alias("__N"))
    return q.crossJoin(F.broadcast(nmax)).select(
        group_col,
        "n_total",
        F.col("__q").alias("q"),
        (F.col("__q") * F.col("__N") / F.col("n_total")).alias("rate"),
    )


def mix_by_temperature(
    df: DataFrame,
    group_col: str,
    key_col: str,
    tau: float = 0.7,
    salt: str = "temp",
) -> DataFrame:
    """Materialize the temperature mixture: keep each row iff its
    content-hash uniform ``u = (int(md5(key + '/' + salt)[:13], 16) + 1)
    / 2^52`` falls under its group's `temperature_rates` rate —
    deterministic per key (same selection on any engine/partitioning,
    stable across reruns), one scan + a broadcast join of the
    group-cardinality rate frame."""
    rates = temperature_rates(df, group_col, tau).select(group_col, "rate")
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit("/" + salt)))
    u = (F.conv(F.substring(h, 1, 13), 16, 10).cast("long") + 1) / F.lit(
        float(2**52)
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(u < F.col("rate"))
        .drop("rate")
    )


def mix_manifest(
    df: DataFrame,
    group_col: str,
    text_col: str,
    weights: dict,
    token_budget: int,
) -> DataFrame:
    """The corpus-assembly planning table (the published Pile/DoReMi
    recipe shape): given explicit target mixture ``weights`` (any
    positive scale; normalized internally) and a total ``token_budget``,
    report per group the available mass and what hitting the target
    takes — ``(group, n_docs, n_tokens, weight, target_tokens, epochs,
    sample_rate)``. ``epochs > 1`` means the group must repeat
    (upsample) to meet its share; ``sample_rate = min(1, target /
    available)`` is the downsampling knob when it over-delivers. ONE
    scan folds doc+token counts; the weight table is literal data.

    Every requested weight group gets a row even when NO document
    matches it (n_docs=0, n_tokens=0, NULL epochs/sample_rate) — the
    shortfall case a corpus-assembly plan exists to surface; an inner
    join would silently drop exactly the component that can never be
    filled. Corpus groups with no requested weight are not planned and
    do not row."""
    from dataframes_spark.functions.text import whitespace_tokens

    total_w = float(sum(weights.values()))
    if total_w <= 0:
        raise ValueError("mix_manifest needs positive weights")
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(k, float(v) / total_w) for k, v in sorted(weights.items())],
        f"{group_col} string, weight double",
    )
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(whitespace_tokens(F.col(text_col))).alias("n_tokens"),
    )
    # NULL/zero available tokens -> NULL epochs and sample_rate (a plain
    # least(1, NULL) would skip the null and report a misleading 1.0)
    ratio = F.when(
        F.coalesce(F.col("n_tokens"), F.lit(0)) > 0,
        F.col("weight") * F.lit(float(token_budget))
        / F.col("n_tokens").cast("double"),
    )
    return (
        stats.join(F.broadcast(wdf), group_col, "right")
        .select(
            group_col,
            F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.round("weight", 6).alias("weight"),
            F.round(F.col("weight") * F.lit(float(token_budget)), 2).alias(
                "target_tokens"
            ),
            F.round(ratio, 6).alias("epochs"),
            # least() skips nulls, so guard: absent group -> NULL, not 1.0
            F.round(
                F.when(ratio.isNotNull(), F.least(F.lit(1.0), ratio)), 6
            ).alias("sample_rate"),
        )
    )


def epoch_shuffle(
    df: DataFrame,
    key_col: str,
    epoch: int,
    n_shards: int,
    salt: str = "epoch",
) -> DataFrame:
    """Deterministic per-epoch global shuffle for training-data
    ordering: ``shard`` in ``[0, n_shards)`` and a contiguous ``pos``
    within the shard, both pure functions of ``(key, epoch)``.

    Training runs need a DIFFERENT order each epoch but the SAME order
    on any rerun/resume of that epoch — ``df.orderBy(rand(seed))`` gives
    neither (partition-layout-dependent), and a global sort by a random
    key is one big range exchange. Here the epoch-keyed md5
    (``md5(key || '/' || salt || epoch)``, the `assign_shards`
    arithmetic) drives BOTH decisions: the top 60 bits mod ``n_shards``
    picks the shard (one map-only expression) and ``row_number`` over
    ``(hash, key)`` WITHIN the shard gives the position — the only
    exchange is the shard hash-partitioning, each window sorts one
    shard, and no stage sees more than 1/n_shards of the data. A
    training loader reads shard files in shard order, rows in ``pos``
    order; a different ``epoch`` reshuffles everything, the same epoch
    replays bit-identically on any engine with standard md5.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(key_col).cast("string"),
                    F.lit(f"/{salt}{int(epoch)}"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    from pyspark.sql import Window as W

    out = df.withColumn("__h", h).withColumn(
        "shard", (F.col("__h") % n_shards).cast("int")
    )
    w = W.partitionBy("shard").orderBy(F.col("__h").asc(), F.col(key_col).asc())
    return out.withColumn(
        "pos", (F.row_number().over(w) - 1).cast("bigint")
    ).drop("__h")


def mixture_order(
    df: DataFrame,
    group_col: str,
    weights: dict,
    key_col: str,
    epoch: int = 0,
    n_buckets: int | None = None,
) -> DataFrame:
    """Deterministic stride-scheduled interleaving of weighted sources —
    the data-loader ORDER that `mix_manifest` plans: over any prefix of
    the output order, group g's share of rows approaches
    ``w_g / sum(w)`` (stride scheduling, Waldspurger & Weihl 1995), so
    a training run consumes the mixture at its target rates from step
    one instead of in source-sized runs.

    Three deterministic stages, all engine-reproducible:
    1. each group's rows get a per-epoch order from the epoch-keyed md5
       (the `epoch_shuffle` arithmetic);
    2. ``grp_pos`` (1..N_g) rides `global_order.grouped_positions` —
       mixture components are few, huge groups, exactly the
       whale-partition shape the plain per-group window cannot survive;
    3. row p of group g schedules at ``stride_key = p / w_g`` (exact
       double division), and the global ``ord`` over
       (stride_key, group, key) is computed in CLOSED FORM from the
       group sizes (see the inline derivation) — no second positional
       lane, no second data exchange.

    One position-lane pass = one data exchange total. Groups absent
    from ``weights`` get NULL stride keys and are EXCLUDED (the
    mixture defines the corpus; use `mix_manifest` to surface
    shortfalls the other way). Returns ``df`` plus ``grp_pos``
    (bigint, 1-based), ``stride_key`` (double) and ``ord`` (bigint,
    1-based)."""
    from dataframes_spark.operators.global_order import (
        global_positions,
        grouped_positions,
    )

    if not weights:
        raise ValueError("mixture_order needs a non-empty weights map")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col(key_col).cast("string"),
                    F.lit(f"/mix{int(epoch)}"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    d = df.withColumn("__mo_h", h)
    gp = grouped_positions(
        d, group_col, ["__mo_h", key_col], n_buckets, pos_col="grp_pos"
    )
    wexpr = None
    for g, wgt in sorted(weights.items()):
        cond = F.col(group_col) == F.lit(g)
        lit = F.lit(float(wgt))
        wexpr = F.when(cond, lit) if wexpr is None else wexpr.when(cond, lit)
    sk = F.col("grp_pos").cast("double") / wexpr
    scored = (
        gp.withColumn("stride_key", sk)
        .filter(F.col("stride_key").isNotNull())
        .drop("__mo_h")
    )
    # ``ord`` in CLOSED FORM instead of a second positional lane (r12):
    # the global order is (stride_key, group, key), and within a group
    # stride keys are STRICTLY increasing in grp_pos (p/w is monotone;
    # distinct p give distinct doubles for p below ~2^52 — the same
    # precision bound the repo's exact-integer lanes document), so the
    # key tiebreak is never reached and row (g, p)'s rank is a pure
    # function of p, the group sizes and the weights:
    #
    #   ord = 1 + (p - 1)                          # own group, strict
    #       + Σ_{g'≠g} |{p' ≤ N_g' : p'/w_g' < s}| # strictly earlier
    #       + Σ_{g'<g} [∃ p' ≤ N_g' : p'/w_g' = s] # ties break on group
    #
    # The inner counts invert the row's own DOUBLE stride key exactly:
    # the boundary integer lies within ±2 of floor(s * w_g') (relative
    # error ≤ 2ε·t < 0.5 for t < 2^51), so each candidate is checked
    # with the ACTUAL double division the sort key uses — bit-exact
    # agreement with the windowed form, verified row-for-row in tests
    # and by the driver oracle. Group sizes ride a ONE-ROW broadcast
    # map (a slim group-cardinality aggregate — the plan stays lazy, no
    # construction-time action), so the whole second positional lane —
    # its bounds pass, data exchange, window and offsets join, each
    # re-deriving the grouped_positions lineage — collapses into a
    # map-side expression over one broadcast row.
    in_w = F.col(group_col).isin(*weights.keys())
    sizes = (
        df.filter(in_w)
        .groupBy(F.col(group_col).alias("__g"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .groupBy()
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("__g", "__n")))
            ).alias("__mo_sz")
        )
    )
    base = scored.crossJoin(F.broadcast(sizes))
    # the whole expression is generated as ONE SQL string: built
    # column-by-column it is hundreds of py4j constructor calls
    # (~1 s of driver time per plan build); one parse is milliseconds
    gq = "`" + group_col.replace("`", "``") + "`"

    def _sql_str(v: str) -> str:
        return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"

    terms = ["cast(grp_pos as bigint)"]  # 1 + (p - 1)
    for g, wgt in sorted(weights.items()):
        w = repr(float(wgt))
        gl = _sql_str(g)
        # absent groups resolve to N=0: every candidate clamps to 0 and
        # contributes nothing (coalesce — `least` would SKIP a null)
        n = f"cast(coalesce(element_at(__mo_sz, {gl}), 0) as bigint)"
        c = f"cast(floor(stride_key * {w}d) as bigint)"
        # largest k ≤ N with k/w < s, scanned from above (k/w is
        # monotone in k, so the first candidate that satisfies it is
        # the boundary); 0 when even k=1 does not satisfy
        kks = [f"least({c} + {d}L, {n})" for d in (2, 1, 0, -1)]
        lt = (
            "case "
            + " ".join(
                f"when {kk} >= 1 and cast({kk} as double) / {w}d "
                f"< stride_key then {kk}"
                for kk in kks
            )
            + " else 0L end"
        )
        eq = (
            "case "
            + " ".join(
                f"when {kk} >= 1 and cast({kk} as double) / {w}d "
                f"= stride_key then 1L"
                for kk in kks
            )
            + " else 0L end"
        )
        # exact tie ⇒ order falls to the group name (within-group ties
        # cannot reach the key tiebreak — see strictness note above)
        tie = f"(case when {gl} < {gq} then 1L else 0L end)"
        terms.append(
            f"(case when {gq} <> {gl} then ({lt}) + ({eq}) * {tie} "
            "else 0L end)"
        )
    ord_sql = "cast(" + " + ".join(terms) + " as bigint)"
    return base.withColumn("ord", F.expr(ord_sql)).drop("__mo_sz")
