"""End-to-end Structured Streaming tests: file source micro-batches ->
watermarked event-time aggregation / sessionization -> memory sink.
Uses trigger(availableNow=True) so each test drains the source and stops
deterministically."""

import os
import uuid

import pytest
from pyspark.sql import functions as F

from dataframes_spark.io.store import drop_table_and_location
from dataframes_spark.streaming import events as dstream


@pytest.fixture()
def event_dir(spark, tmp_path):
    """Two parquet files of timestamped events (two micro-batches)."""
    rows1 = [(i, f"2024-01-01 10:{i // 60:02d}:{i % 60:02d}", "u1", 1.0) for i in range(0, 120)]
    rows2 = [(i, f"2024-01-01 11:{i // 60:02d}:{i % 60:02d}", "u2", 2.0) for i in range(0, 60)]
    df1 = spark.createDataFrame(rows1, ["event_id", "ts_s", "user_id", "value"])
    df2 = spark.createDataFrame(rows2, ["event_id", "ts_s", "user_id", "value"])
    out = str(tmp_path / "events")
    for i, df in enumerate([df1, df2]):
        df.withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s").coalesce(1).write.mode(
            "append"
        ).parquet(out)
    return out


def _run_to_memory(stream_df, name, mode="complete"):
    # complete mode: windows emit every micro-batch, so the final state is
    # visible even though availableNow stops at end-of-source (append mode
    # would hold back windows the watermark hasn't passed yet)
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_windowed_aggregate_stream(spark, event_dir):
    schema = spark.read.parquet(event_dir).schema
    src = dstream.stream_from_directory(spark, event_dir, schema)
    agg = dstream.windowed_aggregate(
        src, "ts", "10 minutes", None, "5 minutes", [("value", ["sum", "length"])]
    )
    name = f"win_{uuid.uuid4().hex[:8]}"
    _run_to_memory(agg, name)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    # 120 events in 10:00-10:02 -> one 10-minute window; 60 in 11:00-11:01
    got = {(r.window_start.minute, r.window_start.hour): (r.value_sum, r.value_length) for r in rows}
    assert got[(0, 10)] == (120.0, 120.0)
    assert got[(0, 11)] == (120.0, 60.0)


def test_sessionize_stream(spark, event_dir):
    schema = spark.read.parquet(event_dir).schema
    src = dstream.stream_from_directory(spark, event_dir, schema)
    sess = dstream.sessionize(src, "ts", "user_id", gap="5 minutes", watermark="1 hour")
    name = f"sess_{uuid.uuid4().hex[:8]}"
    _run_to_memory(sess, name)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    by_user = {r.user_id: r for r in rows}
    # u1: 120 contiguous seconds -> one session of 120 events
    assert by_user["u1"].n_events == 120
    assert by_user["u2"].n_events == 60
    assert by_user["u2"].total_value == 120.0


def test_stream_equals_batch_windowed_aggregate(spark, event_dir):
    """Stream-batch consistency: the same windowed aggregation over the
    same files produces identical results incrementally and in batch."""
    schema = spark.read.parquet(event_dir).schema
    src = dstream.stream_from_directory(spark, event_dir, schema)
    agg = dstream.windowed_aggregate(
        src, "ts", "10 minutes", None, "5 minutes", [("value", ["sum", "length"])]
    )
    name = f"sb_{uuid.uuid4().hex[:8]}"
    _run_to_memory(agg, name)
    streamed = {
        (r.window_start, r.window_end): (r.value_sum, r.value_length)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch_df = spark.read.parquet(event_dir)
    batch = {
        (r.win.start, r.win.end): (r.value_sum, r.value_length)
        for r in batch_df.groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(
            F.sum("value").cast("double").alias("value_sum"),
            F.count(F.lit(1)).cast("double").alias("value_length"),
        )
        .collect()
    }
    assert streamed == batch


def test_sessionize_batch_matches_stream(spark, event_dir):
    from dataframes_spark.streaming.events import sessionize_batch

    schema = spark.read.parquet(event_dir).schema
    src = dstream.stream_from_directory(spark, event_dir, schema)
    name = f"sbm_{uuid.uuid4().hex[:8]}"
    _run_to_memory(dstream.sessionize(src, "ts", "user_id", gap="5 minutes"), name)
    streamed = {
        (r.user_id, r.n_events, r.total_value)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = {
        (r.user_id, r.n_events, r.total_value)
        for r in sessionize_batch(
            spark.read.parquet(event_dir), "ts", "user_id", gap_s=300
        ).collect()
    }
    assert batch == streamed


def test_ewma_stream_matches_batch(spark, event_dir):
    """applyInPandasWithState EWMA folds identically to the batch twin."""
    schema = spark.read.parquet(event_dir).schema
    src = dstream.stream_from_directory(spark, event_dir, schema)
    stream = dstream.ewma_stream(src, "ts", "user_id", "value", alpha=0.3)
    name = f"ewma_{uuid.uuid4().hex[:8]}"
    _run_to_memory(stream, name, mode="append")
    got = {
        (r.user_id, r.ts): round(r.ewma, 9)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    batch = dstream.ewma_batch(
        spark.read.parquet(event_dir), "ts", "user_id", "value", alpha=0.3
    )
    want = {(r.user_id, r.ts): round(r.ewma, 9) for r in batch.collect()}
    assert len(got) == 180
    assert got == want


def test_ewma_batch_stitches_across_arrow_batches(spark):
    """Tiny Arrow batches force groups to straddle batch boundaries; the
    carried-state stitch must reproduce the single-pass fold exactly."""
    rows = [(u, float(1000 + i), float(v)) for u in ("a", "b", "c")
            for i, v in enumerate(range(40))]
    df = spark.createDataFrame(rows, ["u", "t", "v"]).withColumn(
        "t", F.col("t").cast("timestamp")
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {
            (r.u, r.t): r.ewma
            for r in dstream.ewma_batch(df, "t", "u", "v", alpha=0.3).collect()
        }
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    # reference fold, plain python
    import collections
    want = {}
    state = collections.defaultdict(lambda: None)
    for u, t, v in sorted(rows, key=lambda r: (r[0], r[1])):
        prev = state[u]
        prev = v if prev is None else 0.3 * v + 0.7 * prev
        state[u] = prev
        from datetime import datetime, timezone
        want[(u, datetime.fromtimestamp(t, tz=timezone.utc).replace(tzinfo=None))] = prev
    assert len(got) == len(want) == 120
    for kk in want:
        assert got[kk] == pytest.approx(want[kk], abs=1e-12)


def test_exact_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """Duplicate documents arriving in DIFFERENT micro-batches (within the
    watermark) collapse to one row; the surviving text set equals the
    batch exact_dedup of the same data."""
    from dataframes_spark.operators import dedup as ddedup

    out = str(tmp_path / "docs_stream")
    rows1 = [(1, "2024-01-01 10:00:00", "alpha"), (2, "2024-01-01 10:00:10", "beta")]
    rows2 = [
        (3, "2024-01-01 10:01:00", "alpha"),  # cross-batch duplicate
        (4, "2024-01-01 10:01:10", "gamma"),
        (5, "2024-01-01 10:01:20", "beta"),  # cross-batch duplicate
    ]
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, ["doc_id", "ts_s", "text"]).withColumn(
            "ts", F.to_timestamp("ts_s")
        ).drop("ts_s").coalesce(1).write.mode("append").parquet(out)

    schema = spark.read.parquet(out).schema
    src = dstream.stream_from_directory(spark, out, schema)
    deduped = dstream.exact_dedup_stream(src, "text", "ts", watermark="1 hour")
    name = f"dedup_{uuid.uuid4().hex[:8]}"
    _run_to_memory(deduped, name, mode="append")
    got_texts = sorted(r.text for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert got_texts == ["alpha", "beta", "gamma"]

    batch = spark.read.parquet(out)
    batch_texts = sorted(
        r.text for r in ddedup.exact_dedup(batch, "text", "doc_id").collect()
    )
    assert got_texts == batch_texts


def test_decontaminate_stream_matches_batch(spark, tmp_path):
    """Per-document verdicts depend only on the static eval set, so the
    foreachBatch streaming form must equal the batch operator over the
    same rows regardless of micro-batch boundaries."""
    from dataframes_spark.operators.decontaminate import decontaminate

    rows1 = [(1, "alpha beta gamma delta epsilon zeta"), (2, "totally unrelated text here ok")]
    rows2 = [(3, "ALPHA beta. gamma delta epsilon zeta!"), (4, "another clean document four words")]
    out = str(tmp_path / "docs")
    for rows in (rows1, rows2):
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
            "append"
        ).parquet(out)
    evals = spark.createDataFrame(
        [(100, "beta gamma delta epsilon")], ["doc_id", "text"]
    )

    got_ids: list[int] = []

    def sink(clean_df, epoch_id):
        got_ids.extend(r.doc_id for r in clean_df.collect())

    schema = spark.read.parquet(out).schema
    src = dstream.stream_from_directory(spark, out, schema)
    cb = dstream.decontaminate_each_batch(evals, "text", "doc_id", n=4, write=sink)
    q = src.writeStream.foreachBatch(cb).trigger(availableNow=True).start()
    q.awaitTermination(120)

    batch = sorted(
        r.doc_id
        for r in decontaminate(
            spark.read.parquet(out), evals, "text", "doc_id", n=4
        ).collect()
    )
    assert sorted(got_ids) == batch == [2, 4]


def test_decontaminate_stream_requires_sink(spark):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dstream.decontaminate_each_batch(None, "text", "doc_id")


def test_cap_stream_first_k_across_batches(spark, event_dir):
    """The lifetime cap must hold ACROSS micro-batches: u1 has 120 rows
    in batch 1 and u2 has 60 in batch 2; with k=50 each group emits
    exactly 50 (u1 saturates inside batch 1, u2 within batch 2), and
    intra-batch admission follows event time."""
    schema = spark.read.parquet(event_dir).schema
    src = dstream.stream_from_directory(spark, event_dir, schema)
    capped = dstream.cap_stream(src, "user_id", 50, order_col="ts")
    name = f"cap_{uuid.uuid4().hex[:8]}"
    _run_to_memory(capped, name, mode="append")
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r.ts)
    assert {u: len(ts) for u, ts in by_user.items()} == {"u1": 50, "u2": 50}
    # event-time ordering within the batch: the FIRST 50 timestamps win
    assert max(by_user["u1"]).second + 60 * max(by_user["u1"]).minute == 49
    assert sorted(by_user["u1"]) == by_user["u1"] or True  # emission order free


def test_cap_stream_validates_k(spark, event_dir):
    schema = spark.read.parquet(event_dir).schema
    src = dstream.stream_from_directory(spark, event_dir, schema)
    with pytest.raises(ValueError):
        dstream.cap_stream(src, "user_id", 0)


def test_attribution_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join == the equivalent batch join: clicks
    paired with purchases of the same user within 10 minutes."""
    clicks = [
        (1, "u1", "2024-01-01 10:00:00"),
        (2, "u1", "2024-01-01 10:30:00"),
        (3, "u2", "2024-01-01 10:05:00"),
    ]
    purchases = [
        (101, "u1", "2024-01-01 10:07:00"),  # within 10m of click 1
        (102, "u1", "2024-01-01 10:31:00"),  # within 10m of click 2
        (103, "u2", "2024-01-01 11:00:00"),  # outside u2's window
    ]
    cdf = spark.createDataFrame(clicks, ["click_id", "user_id", "ts_s"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s")
    pdf = spark.createDataFrame(purchases, ["purchase_id", "user_id", "ts_s"]).withColumn(
        "ts", F.to_timestamp("ts_s")
    ).drop("ts_s")
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purch")
    cdf.coalesce(1).write.parquet(cdir)
    pdf.coalesce(1).write.parquet(pdir)

    cs = dstream.stream_from_directory(spark, cdir, cdf.schema)
    ps = dstream.stream_from_directory(spark, pdir, pdf.schema)
    joined = dstream.attribution_join_stream(
        cs, ps, "user_id", "ts", "ts", within="10 minutes"
    )
    name = f"attr_{uuid.uuid4().hex[:8]}"
    _run_to_memory(joined, name, mode="append")
    got = sorted(
        (r.l_click_id, r.r_purchase_id)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    )
    assert got == [(1, 101), (2, 102)]


def test_validate_each_batch_gates_the_stream(spark, event_dir):
    from dataframes_spark import quality as Q

    schema = spark.read.parquet(event_dir).schema
    failures = []

    # passing suite: stream completes
    src = dstream.stream_from_directory(spark, event_dir, schema)
    cb = dstream.validate_each_batch(
        [Q.not_null("user_id"), Q.in_range("value", 0, 100)],
        on_fail="log",
        log=lambda e, f: failures.append((e, f)),
    )
    q = src.writeStream.foreachBatch(cb).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert failures == []

    # failing suite in raise mode: the stream stops with the check error
    src2 = dstream.stream_from_directory(spark, event_dir, schema)
    cb2 = dstream.validate_each_batch(
        [Q.in_range("value", 100, 200)],  # all values are 1.0/2.0
        log=lambda e, f: failures.append((e, f)),
    )
    q2 = src2.writeStream.foreachBatch(cb2).trigger(availableNow=True).start()
    with pytest.raises(Exception) as err:
        q2.awaitTermination(120)
    assert "in_range" in str(err.value)
    assert failures  # the failing report reached the log hook


def test_validate_each_batch_skip_withholds_write(spark, event_dir):
    from dataframes_spark import quality as Q

    schema = spark.read.parquet(event_dir).schema
    written, failures = [], []

    # failing suite in skip mode: write is withheld, stream completes
    src = dstream.stream_from_directory(spark, event_dir, schema)
    cb = dstream.validate_each_batch(
        [Q.in_range("value", 100, 200)],  # every batch fails
        on_fail="skip",
        log=lambda e, f: failures.append(e),
        write=lambda df, e: written.append(e),
    )
    q = src.writeStream.foreachBatch(cb).trigger(availableNow=True).start()
    q.awaitTermination(120)
    assert failures and written == []  # all batches failed, none written

    # passing suite: every batch reaches the sink
    src2 = dstream.stream_from_directory(spark, event_dir, schema)
    cb2 = dstream.validate_each_batch(
        [Q.in_range("value", 0, 100)],
        on_fail="skip",
        write=lambda df, e: written.append(e),
    )
    q2 = src2.writeStream.foreachBatch(cb2).trigger(availableNow=True).start()
    q2.awaitTermination(120)
    assert written  # passing batches written

    # skip without a sink is a contract error, not a silent no-op
    with pytest.raises(ValueError, match="write"):
        dstream.validate_each_batch([Q.row_count(1)], on_fail="skip")


def test_sketch_stores_fold_stream_equals_batch(spark, tmp_path):
    """The sketch stores' merge laws (CMS cell-sum, HLL register-max,
    bottom-k cut) are micro-batch-boundary-free: folding each streaming
    micro-batch into the persisted store via foreachBatch must equal the
    one-shot batch sketch over all rows, whatever the file/batch split."""
    from dataframes_spark.operators.sketch import (
        bottomk_build,
        bottomk_store_update,
        cms_build,
        cms_store_update,
        hll_build,
        hll_store_update,
    )

    out = str(tmp_path / "toks")
    rows = [(i, f"k{i % 17}") for i in range(400)]
    for lo, hi in ((0, 150), (150, 280), (280, 400)):
        spark.createDataFrame(rows[lo:hi], "id long, v string").coalesce(
            1
        ).write.mode("append").parquet(out)
    whole = spark.read.parquet(out)
    for t in ("cms_stream_t", "hll_stream_t", "bk_stream_t"):
        drop_table_and_location(spark, t)

    def fold(batch_df, epoch_id):
        cms_store_update(spark, "cms_stream_t", cms_build(batch_df, "v", depth=2, width=32))
        hll_store_update(spark, "hll_stream_t", hll_build(batch_df, "v", p=8))
        bottomk_store_update(
            spark, "bk_stream_t", bottomk_build(batch_df, "id", 9, salt="st"),
            id_col="id", k=9,
        )

    src = (
        spark.readStream.schema(whole.schema)
        .option("maxFilesPerTrigger", 1)  # force >= 3 micro-batches
        .parquet(out)
    )
    q = src.writeStream.foreachBatch(fold).trigger(availableNow=True).start()
    q.awaitTermination(180)

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows_of(spark.table("cms_stream_t")) == rows_of(
        cms_build(whole, "v", depth=2, width=32)
    )
    assert rows_of(spark.table("hll_stream_t")) == rows_of(
        hll_build(whole, "v", p=8)
    )
    assert rows_of(spark.table("bk_stream_t")) == rows_of(
        bottomk_build(whole, "id", 9, salt="st")
    )
    for t in ("cms_stream_t", "hll_stream_t", "bk_stream_t"):
        drop_table_and_location(spark, t)


def test_weighted_and_moment_stores_fold_stream_equals_batch(spark, tmp_path):
    """The round-8 store-family additions obey the same
    micro-batch-boundary-free law as the sketch trilogy: folding each
    streaming micro-batch into the weighted-sample store
    (ES-key top-k merge) and the PCA moment store (element-wise sum)
    via foreachBatch equals the one-shot batch build over all rows,
    whatever the file/batch split."""
    import numpy as np

    from dataframes_spark.ml import (
        moments_store_update,
        pca_fit,
        pca_fit_from_store,
    )
    from dataframes_spark.operators.sample import (
        weighted_sample_topk,
        weighted_store_update,
    )

    rng = np.random.RandomState(11)
    vecs = rng.randn(300, 4) * np.array([3.0, 1.0, 0.5, 0.1])
    rows = [
        (i, f"s{i % 3}", float(1 + i % 5), [float(v) for v in vecs[i]])
        for i in range(300)
    ]
    schema = "id long, s string, w double, embedding array<float>"
    out = str(tmp_path / "docs")
    for lo, hi in ((0, 100), (100, 180), (180, 300)):
        spark.createDataFrame(rows[lo:hi], schema).coalesce(1).write.mode(
            "append"
        ).parquet(out)
    whole = spark.read.parquet(out)
    for t in ("ws_stream_t", "mom_stream_t"):
        drop_table_and_location(spark, t)

    def fold(batch_df, epoch_id):
        weighted_store_update(
            spark,
            "ws_stream_t",
            weighted_sample_topk(batch_df, "w", "id", k=4, stratum_col="s", salt="st"),
            key_col="id",
            k=4,
            stratum_col="s",
        )
        moments_store_update(spark, "mom_stream_t", batch_df, "embedding", 4)

    src = (
        spark.readStream.schema(whole.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    q = src.writeStream.foreachBatch(fold).trigger(availableNow=True).start()
    q.awaitTermination(180)

    got = sorted(
        tuple(r)
        for r in spark.table("ws_stream_t")
        .select("id", "s", "w")
        .collect()
    )
    want = sorted(
        tuple(r)
        for r in weighted_sample_topk(
            whole, "w", "id", k=4, stratum_col="s", salt="st"
        )
        .select("id", "s", "w")
        .collect()
    )
    assert got == want
    inc = pca_fit_from_store(spark, "mom_stream_t", k=2, dim=4)
    one_shot = pca_fit(whole, "embedding", k=2, dim=4)
    assert np.allclose(inc["mean"], one_shot["mean"], atol=1e-12)
    assert np.allclose(inc["components"], one_shot["components"], atol=1e-9)
    for t in ("ws_stream_t", "mom_stream_t"):
        drop_table_and_location(spark, t)


def test_drift_gate_each_batch_stream_equals_batch_and_gates(spark, tmp_path):
    """The streaming drift gate folds every accepted micro-batch into
    the persisted store exactly like the batch-side loop (stream ==
    batch, the store law), passes stationary batches, and raises /
    skips drifted ones."""
    import uuid

    from dataframes_spark import quality as Q

    table = f"drift_stream_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, table)
    # two stationary files + one drifted file (values shifted up)
    d = str(tmp_path / "drift_src")
    b1 = spark.createDataFrame([(float(i % 10),) for i in range(200)], "v double")
    b2 = spark.createDataFrame([(float(i % 10),) for i in range(200)], "v double")
    b1.coalesce(1).write.mode("append").parquet(d)
    b2.coalesce(1).write.mode("append").parquet(d)
    schema = spark.read.parquet(d).schema

    written = []
    src = dstream.stream_from_directory(spark, d, schema)
    cb = dstream.drift_gate_each_batch(
        table, "v", bins=5, lo=0.0, hi=10.0,
        write=lambda df, e: written.append(df.count()),
    )
    q = (
        src.writeStream.foreachBatch(cb)
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(written) == 400  # both stationary batches accepted
    # store == batch-side folds of the same two batches
    t2 = f"{table}_batchside"
    drop_table_and_location(spark, t2)
    Q.hist_store_update(spark, t2, b1, "v", bins=5, lo=0.0, hi=10.0)
    Q.hist_store_update(spark, t2, b2, "v", bins=5, lo=0.0, hi=10.0)
    got = sorted(map(tuple, spark.table(table).collect()))
    want = sorted(map(tuple, spark.table(t2).collect()))
    assert got == want

    # a drifted batch in raise mode stops the stream and does NOT fold
    drifted = spark.createDataFrame([(9.5,)] * 300, "v double")
    d2 = str(tmp_path / "drift_src2")
    drifted.coalesce(1).write.parquet(d2)
    n_before = spark.table(table).agg(F.sum("n")).first()[0]
    src2 = dstream.stream_from_directory(spark, d2, schema)
    psis = []
    cb2 = dstream.drift_gate_each_batch(
        table, "v", bins=5, lo=0.0, hi=10.0, log=lambda e, p: psis.append(p)
    )
    q2 = src2.writeStream.foreachBatch(cb2).trigger(availableNow=True).start()
    with pytest.raises(Exception) as err:
        q2.awaitTermination(120)
    assert "drifted" in str(err.value)
    assert psis and psis[0] > 0.25
    assert spark.table(table).agg(F.sum("n")).first()[0] == n_before

    # skip mode withholds the sink and the fold but keeps running
    src3 = dstream.stream_from_directory(spark, d2, schema)
    sunk = []
    cb3 = dstream.drift_gate_each_batch(
        table, "v", bins=5, lo=0.0, hi=10.0, on_fail="skip",
        write=lambda df, e: sunk.append(df.count()),
    )
    q3 = src3.writeStream.foreachBatch(cb3).trigger(availableNow=True).start()
    q3.awaitTermination(120)
    assert sunk == [] and spark.table(table).agg(F.sum("n")).first()[0] == n_before
    drop_table_and_location(spark, table)
    drop_table_and_location(spark, t2)


def test_drift_gate_each_batch_categorical_and_validation(spark, tmp_path):
    import uuid

    table = f"drift_cat_stream_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, table)
    d = str(tmp_path / "cat_src")
    b1 = spark.createDataFrame([("en",)] * 80 + [("de",)] * 20, "lang string")
    b1.coalesce(1).write.parquet(d)
    schema = spark.read.parquet(d).schema
    src = dstream.stream_from_directory(spark, d, schema)
    cb = dstream.drift_gate_each_batch(table, "lang", categories=["en", "de"])
    q = src.writeStream.foreachBatch(cb).trigger(availableNow=True).start()
    q.awaitTermination(120)
    got = {r.category: r.n for r in spark.table(table).collect()}
    assert got == {"en": 80, "de": 20, "__other__": 0}
    drop_table_and_location(spark, table)

    with pytest.raises(ValueError, match="lo/hi"):
        dstream.drift_gate_each_batch("t", "v")
    with pytest.raises(ValueError, match="on_fail"):
        dstream.drift_gate_each_batch("t", "v", lo=0.0, hi=1.0, on_fail="x")
    with pytest.raises(ValueError, match="withhold"):
        dstream.drift_gate_each_batch("t", "v", lo=0.0, hi=1.0, on_fail="skip")


def test_span_dedup_each_batch_stream_equals_batch_twin(spark, tmp_path):
    """The streaming span-dedup gate strips each micro-batch against the
    persisted window-hash store exactly like running
    duplicate_spans_incremental fold-by-fold (stream == batch), and the
    store after the run equals the whole corpus's window hashes."""
    import uuid

    from dataframes_spark.operators import dedup as dd

    table = f"span_stream_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, table)
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    d = str(tmp_path / "span_src")
    b1 = spark.createDataFrame(
        [(1, "intro " + shared + " outro"), (2, "unrelated text one two three")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [
            (10, shared + " novel tail words"),  # dups history
            (11, "k0 k1 k2 k3 k4 k5 k6 k7 one"),  # in-batch pair
            (12, "k0 k1 k2 k3 k4 k5 k6 k7 two"),
            (13, "fresh content nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    outs = []
    cb = dstream.span_dedup_each_batch(
        table, "text", "doc_id", n=8, mode="strip", num_buckets=4,
        write=lambda df, e: outs.append(
            {r.doc_id: r.text for r in df.collect()}
        ),
    )
    # two explicit epochs (micro-batch boundaries are the law under test;
    # a file-source run may coalesce files into one batch)
    cb(b1, 0)
    cb(b2, 1)
    assert len(outs) == 2
    got = {k: v for batch in outs for k, v in batch.items()}

    # batch twin, fold by fold
    empty = spark.createDataFrame([], "wh string")
    s1, _ = dd.duplicate_spans_incremental(b1, empty, "text", "doc_id", n=8)
    want1 = {
        r.doc_id: r.text
        for r in dd.apply_span_removal(b1, s1, "text", "doc_id", n=8).collect()
    }
    store1 = dd.span_window_hashes(b1, "text", "doc_id", n=8)
    s2, _ = dd.duplicate_spans_incremental(b2, store1, "text", "doc_id", n=8)
    want2 = {
        r.doc_id: r.text
        for r in dd.apply_span_removal(b2, s2, "text", "doc_id", n=8).collect()
    }
    assert got == {**want1, **want2}
    # the shared run is cut from the batch-2 doc, kept in batch 1
    assert shared in got[1] and shared not in got[10]
    assert got[11] == "one" and got[12] == "two"
    assert got[13] == "fresh content nothing shared here at all"
    # store after the folds == whole-corpus window hashes
    all_wh = dd.span_window_hashes(
        b1.unionByName(b2), "text", "doc_id", n=8
    )
    assert spark.table(table).count() == all_wh.count()
    assert spark.table(table).join(all_wh, "wh", "left_anti").count() == 0
    drop_table_and_location(spark, table)

    # plumbing smoke: the same callback behind a real file-source stream
    table2 = f"{table}_s"
    b1.coalesce(1).write.mode("append").parquet(d)
    b2.coalesce(1).write.mode("append").parquet(d)
    schema = spark.read.parquet(d).schema
    seen = []
    cb2 = dstream.span_dedup_each_batch(
        table2, "text", "doc_id", n=8, mode="strip", num_buckets=4,
        write=lambda df, e: seen.append(df.count()),
    )
    q = (
        dstream.stream_from_directory(spark, d, schema)
        .writeStream.foreachBatch(cb2)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(seen) == 6
    assert spark.table(table2).count() == all_wh.count()
    drop_table_and_location(spark, table2)


def test_span_dedup_each_batch_drop_and_flag_modes(spark, tmp_path):
    import uuid

    table = f"span_stream_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, table)
    shared = "p0 p1 p2 p3 p4 p5 p6 p7"
    b1 = spark.createDataFrame(
        [(1, shared + " a"), (2, "totally different words here now ok")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(10, shared + " b"), (11, "nothing shared at all in this doc")],
        "doc_id long, text string",
    )
    dropped = []
    cb = dstream.span_dedup_each_batch(
        table, "text", "doc_id", n=8, mode="drop", num_buckets=4,
        write=lambda df, e: dropped.append(sorted(r.doc_id for r in df.collect())),
    )
    cb(b1, 0)
    cb(b2, 1)
    assert dropped == [[1, 2], [11]]  # doc 10 withheld (history dup)
    drop_table_and_location(spark, table)

    flags = []
    cb2 = dstream.span_dedup_each_batch(
        table, "text", "doc_id", n=8, mode="flag", num_buckets=4,
        write=lambda df, e: flags.append(
            {r.doc_id: r.has_dup_span for r in df.collect()}
        ),
    )
    cb2(b1, 0)
    cb2(b2, 1)
    assert flags[0] == {1: False, 2: False}
    assert flags[1] == {10: True, 11: False}
    drop_table_and_location(spark, table)

    import pytest as _pt

    with _pt.raises(ValueError, match="strip|drop|flag"):
        dstream.span_dedup_each_batch(table, "text", "doc_id", mode="bogus")


def test_dsir_select_each_batch_scores_against_folded_stores(spark):
    """The streaming DSIR gate folds each batch into the raw store then
    selects by log-weight against the store-fit model — equal, epoch by
    epoch, to the batch path run with the same store state."""
    import uuid

    from dataframes_spark.io.store import store_stamp
    from dataframes_spark.operators import dsir as D

    raw_t = f"dsir_raw_{uuid.uuid4().hex[:8]}"
    tgt_t = f"dsir_tgt_{uuid.uuid4().hex[:8]}"
    for t in (raw_t, tgt_t):
        drop_table_and_location(spark, t)
    target = spark.createDataFrame(
        [(100, "alpha beta gamma alpha beta"), (101, "alpha gamma delta")],
        "doc_id long, text string",
    )
    D.dsir_store_update(
        spark, tgt_t, D.bucket_counts(target, "text", "doc_id", 32), 32
    )
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "alpha beta alpha beta"), (4, "omicron pi rho sigma tau")],
        "doc_id long, text string",
    )
    outs, logged = [], []
    cb = dstream.dsir_select_each_batch(
        raw_t, tgt_t, "text", "doc_id", buckets=32, min_log_weight=-2.0,
        log=lambda e, n_in, n_kept: logged.append((e, n_in, n_kept)),
        write=lambda df, e: outs.append(sorted(r.doc_id for r in df.collect())),
    )
    cb(b1, 0)
    cb(b2, 1)
    # target-like docs selected, disjoint-vocabulary docs rejected
    assert outs[0] == [1] and outs[1] == [3]
    assert logged == [(0, 2, 1), (1, 2, 1)]
    # raw store after the run == one-shot counts over both batches (law);
    # the bucket domain is the store's stamp, not a column
    whole = D.bucket_counts(b1.unionByName(b2), "text", "doc_id", 32)
    assert store_stamp(spark, raw_t) == {"buckets": 32}
    counts = spark.table(raw_t)
    assert counts.columns == ["bucket", "c"]
    assert counts.exceptAll(whole).count() == 0
    assert whole.exceptAll(counts).count() == 0
    # epoch-2 selection replays on the batch path with the same stores
    model = D.dsir_fit_from_stores(spark, tgt_t, raw_t, 32)
    w = D.dsir_weights(b2, model, "text", "doc_id", 32)
    batch_kept = sorted(
        r.doc_id for r in w.filter("log_weight >= -2.0").collect()
    )
    assert batch_kept == outs[1]
    for t in (raw_t, tgt_t):
        drop_table_and_location(spark, t)


def test_dsir_select_each_batch_requires_seeded_target(spark):
    import pytest as _pt

    cb = dstream.dsir_select_each_batch(
        "dsir_no_raw", "dsir_no_target_xyz", "text", "doc_id", buckets=8
    )
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with _pt.raises(ValueError, match="seeded target store"):
        cb(df, 0)


def test_transitions_each_batch_stream_equals_batch(spark):
    """Folding event-time-ordered micro-batches through
    transitions_each_batch yields exactly the one-shot
    event_transitions count matrix (cross-batch pairs included via the
    per-user last-event store)."""
    import uuid

    from dataframes_spark.operators import funnel as fn

    ct = f"trans_counts_{uuid.uuid4().hex[:8]}"
    lt = f"trans_last_{uuid.uuid4().hex[:8]}"
    for t in (ct, lt):
        drop_table_and_location(spark, t)
    rows = [
        # user 1: a b | b a   (cross-batch pair b->b at the boundary)
        (1, 1, 1, "a"), (2, 1, 2, "b"),
        (5, 1, 5, "b"), (6, 1, 6, "a"),
        # user 2: c | c c
        (3, 2, 3, "c"),
        (7, 2, 7, "c"), (8, 2, 8, "c"),
        # user 3 appears only in batch 2
        (9, 3, 9, "a"), (10, 3, 10, "b"),
    ]
    sch = "event_id long, user_id long, ts long, event_type string"
    b1 = spark.createDataFrame([r for r in rows if r[0] <= 4], sch)
    b2 = spark.createDataFrame([r for r in rows if r[0] > 4], sch)
    seen = []
    cb = dstream.transitions_each_batch(
        ct, lt, "user_id", "ts", "event_type", "event_id",
        write=lambda df, e: seen.append(
            {(r.prev_type, r.next_type): r.n for r in df.collect()}
        ),
    )
    cb(b1, 0)
    cb(b2, 1)
    whole = spark.createDataFrame(rows, sch)
    want = {
        (r.prev_type, r.next_type): r.n
        for r in fn.event_transitions(
            whole, "user_id", "ts", "event_type", tiebreak_col="event_id"
        ).collect()
    }
    assert seen[1] == want
    # epoch 1 saw only batch-1 pairs
    assert seen[0] == {("a", "b"): 1}
    # last-event store has one row per user with their latest type
    last = {r["__u"]: r["__e"] for r in spark.table(lt).collect()}
    assert last == {1: "a", 2: "c", 3: "b"}
    for t in (ct, lt):
        drop_table_and_location(spark, t)


def test_funnel_each_batch_stream_equals_batch(spark):
    """Per-user funnel state folded through time-ordered micro-batches
    equals the one-shot batch funnel (the (stage, ts) pair is the
    greedy fold's sufficient statistic)."""
    import uuid

    from dataframes_spark.operators import funnel as fn

    st = f"funnel_state_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, st)
    sch = "event_id long, user_id long, ts timestamp, event_type string"

    def ev(eid, u, t, typ):
        import datetime as dt

        return (eid, u, dt.datetime(2026, 1, 1, 0, 0, t), typ)

    rows = [
        # user 1 completes view->click->buy across the batch boundary
        ev(1, 1, 1, "view"), ev(2, 1, 2, "click"),
        ev(5, 1, 5, "buy"),
        # user 2 views in batch 1, never progresses
        ev(3, 2, 3, "view"),
        # user 3 appears only in batch 2, reaches click
        ev(6, 3, 6, "view"), ev(7, 3, 7, "click"),
        # user 4 does steps out of order (click before view): stage 1
        ev(4, 4, 1, "click"), ev(8, 4, 8, "view"),
    ]
    b1 = spark.createDataFrame([r for r in rows if r[0] <= 4], sch)
    b2 = spark.createDataFrame([r for r in rows if r[0] > 4], sch)
    steps = ["view", "click", "buy"]
    reports = []
    cb = dstream.funnel_each_batch(
        st, steps,
        write=lambda df, e: reports.append(
            {r["step_name"]: r["users"] for r in df.collect()}
        ),
    )
    cb(b1, 0)
    cb(b2, 1)
    whole = spark.createDataFrame(rows, sch)
    want_stage = {
        r["user_id"]: (r["stage"], r["completed_ts"])
        for r in fn.funnel_stage(whole, steps).collect()
    }
    got_stage = {
        r["user_id"]: (r["stage"], r["completed_ts"])
        for r in spark.table(st).collect()
    }
    assert got_stage == want_stage
    want_report = {
        r["step_name"]: r["users"] for r in fn.funnel(whole, steps).collect()
    }
    assert reports[1] == want_report
    # user 2's batch-1 state survived a batch it had no events in
    assert got_stage[2][0] == 1
    drop_table_and_location(spark, st)


def test_retention_each_batch_order_independent_and_idempotent(spark):
    """The pair store is a SET: out-of-order batches and re-delivered
    events fold to exactly the one-shot cohort matrix, and the store
    holds each (user, period) once."""
    import datetime as _dt
    import uuid

    from dataframes_spark.operators import funnel as fn

    pt = f"retention_pairs_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, pt)
    sch = "event_id long, user_id long, ts timestamp"

    def ev(eid, u, day):
        return (eid, u, _dt.datetime(2026, 1, day, 12, 0, 0))

    rows = [
        ev(1, 1, 1), ev(2, 1, 3), ev(3, 1, 9),   # user 1: days 1,3,9
        ev(4, 2, 3), ev(5, 2, 4),                # user 2: days 3,4
        ev(6, 3, 9),                             # user 3: day 9
    ]
    whole = spark.createDataFrame(rows, sch)
    # batch 2 delivered FIRST (out of order) and event 2 re-delivered
    b_late = spark.createDataFrame([rows[2], rows[4], rows[5]], sch)
    b_early = spark.createDataFrame([rows[0], rows[1], rows[1], rows[3]], sch)
    reports = []
    cb = dstream.retention_each_batch(
        pt, period="day",
        write=lambda df, e: reports.append(
            {(str(r["cohort"]), r["offset"]): r["users"] for r in df.collect()}
        ),
    )
    cb(b_late, 0)
    cb(b_early, 1)
    cb(b_early, 2)  # full re-delivery: store and report must not change
    want = {
        (str(r["cohort"]), r["offset"]): r["users"]
        for r in fn.cohort_retention(whole, period="day").collect()
    }
    assert reports[1] == want
    assert reports[2] == want
    # store holds each (user, period) exactly once
    store = spark.table(pt)
    assert store.count() == store.distinct().count() == 6
    drop_table_and_location(spark, pt)


def test_retention_pair_store_compacts_without_changing_the_matrix(spark):
    import datetime as _dt
    import uuid

    from dataframes_spark.io.bucketed import compact_store
    from dataframes_spark.operators import funnel as fn

    pt = f"retention_pairs_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, pt)
    sch = "event_id long, user_id long, ts timestamp"
    cb = dstream.retention_each_batch(pt, period="day")
    for epoch, day in enumerate((1, 2, 3, 4)):
        cb(
            spark.createDataFrame(
                [(epoch * 10 + u, u, _dt.datetime(2026, 1, day)) for u in (1, 2)],
                sch,
            ),
            epoch,
        )
    before = {
        (str(r["cohort"]), r["offset"]): r["users"]
        for r in fn.retention_from_pairs(spark.table(pt), "day").collect()
    }
    rep = compact_store(spark, pt, "u", num_buckets=4)
    assert rep["files_after"] <= 4 <= rep["files_before"]
    assert rep["rows"] == 8
    after = {
        (str(r["cohort"]), r["offset"]): r["users"]
        for r in fn.retention_from_pairs(spark.table(pt), "day").collect()
    }
    assert after == before
    drop_table_and_location(spark, pt)


def test_funnel_state_store_compacts_without_changing_the_report(spark):
    """compact_swap_store on the funnel stage store: fewer files, same
    per-user state, same k-row report — compaction parity for the
    swap-store family (the retention pair store's append-compaction
    twin)."""
    import datetime as _dt
    import uuid

    from dataframes_spark.io.store import compact_swap_store
    from dataframes_spark.operators import funnel as fn

    st = f"funnel_state_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, st)
    sch = "event_id long, user_id long, ts timestamp, event_type string"
    steps = ["view", "click", "buy"]
    cb = dstream.funnel_each_batch(st, steps)
    for epoch in (0, 1):
        cb(
            spark.createDataFrame(
                [
                    (epoch * 10 + i, u, _dt.datetime(2026, 1, 1, epoch, i), t)
                    for i, (u, t) in enumerate(
                        [(1, "view"), (1, "click"), (2, "view")]
                        if epoch == 0
                        else [(1, "buy"), (3, "view")]
                    )
                ],
                sch,
            ),
            epoch,
        )
    before_state = sorted(tuple(r) for r in spark.table(st).collect())
    before_rep = {
        r["step_name"]: r["users"]
        for r in fn.funnel_report_from_stages(spark.table(st), steps).collect()
    }
    rep = compact_swap_store(spark, st, num_files=1)
    assert rep["files_after"] == 1
    assert rep["rows"] == len(before_state)
    assert sorted(tuple(r) for r in spark.table(st).collect()) == before_state
    after_rep = {
        r["step_name"]: r["users"]
        for r in fn.funnel_report_from_stages(spark.table(st), steps).collect()
    }
    assert after_rep == before_rep
    drop_table_and_location(spark, st)


def test_transition_stores_compact_without_changing_the_matrix(spark):
    """compact_swap_store on BOTH transition stores (counts + last-event):
    fewer files, identical matrix, and the NEXT fold still pairs across
    the boundary through the compacted last-event store."""
    import uuid

    from dataframes_spark.io.store import compact_swap_store

    ct = f"trans_counts_{uuid.uuid4().hex[:8]}"
    lt = f"trans_last_{uuid.uuid4().hex[:8]}"
    for t in (ct, lt):
        drop_table_and_location(spark, t)
    sch = "event_id long, user_id long, ts long, event_type string"
    cb = dstream.transitions_each_batch(
        ct, lt, "user_id", "ts", "event_type", "event_id"
    )
    cb(spark.createDataFrame([(1, 1, 1, "a"), (2, 1, 2, "b")], sch), 0)
    before = sorted(tuple(r) for r in spark.table(ct).collect())
    r1 = compact_swap_store(spark, ct)
    r2 = compact_swap_store(spark, lt)
    assert r1["files_after"] == 1 and r2["files_after"] == 1
    assert sorted(tuple(r) for r in spark.table(ct).collect()) == before
    # the fold keeps working through the compacted stores: b->c pairs
    # across the boundary via the last-event row
    cb(spark.createDataFrame([(3, 1, 3, "c")], sch), 1)
    got = {
        (r.prev_type, r.next_type): r.n for r in spark.table(ct).collect()
    }
    assert got == {("a", "b"): 1, ("b", "c"): 1}
    for t in (ct, lt):
        drop_table_and_location(spark, t)


def test_quantiles_each_batch_exact_weight_and_error(spark):
    """Streaming KLL gate: folding micro-batches keeps the total weight
    EXACTLY the ingested row count (weight conservation under any batch
    split) and the served quantiles within the sketch's rank error of
    exact, however the stream was chopped."""
    import uuid

    from dataframes_spark.operators import kll as K

    t = f"kll_stream_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, t)
    n = 9000
    served = []
    cb = dstream.quantiles_each_batch(
        t, "v", "k", k=64, shards=4, passes=10, qs=(0.25, 0.5, 0.9),
        write=lambda df, e: served.append({r.q: r.value for r in df.collect()}),
    )
    base = spark.range(n).select(
        ((F.col("id") * 7919) % n).cast("double").alias("v"),
        F.col("id").alias("k"),
    )
    for epoch in range(3):
        cb(base.filter(F.col("k") % 3 == epoch), epoch)
    sk = spark.table(t).select("level", "value", "tb")
    assert K.kll_n(sk).first()["n"] == n
    final = served[-1]
    for q in (0.25, 0.5, 0.9):
        assert abs(final[q] - q * n) < 0.06 * n, (q, final[q])
    # served estimates are monotone in q every epoch
    for snap in served:
        vals = [snap[q] for q in sorted(snap)]
        assert vals == sorted(vals)
    drop_table_and_location(spark, t)


def test_cluster_each_batch_stream_equals_batch(spark):
    """Streaming dedup→cluster chain: after folding all batches, the
    cluster store equals the one-shot connected components over the
    FULL corpus's banded LSH pair relation — cross-batch pairs surface
    when the later document arrives, in-batch pairs immediately."""
    import uuid

    from dataframes_spark.operators import dedup as ddedup
    from dataframes_spark.operators import graph as G

    lt = f"lsh_stream_{uuid.uuid4().hex[:8]}"
    ct = f"cluster_stream_{uuid.uuid4().hex[:8]}"
    for t in (lt, ct):
        drop_table_and_location(spark, t)
    texts = {
        1: "the quick brown fox jumps over the lazy dog tonight",
        2: "the quick brown fox jumps over the lazy dog tonight",  # dup of 1
        3: "entirely different content about spark physical plans",
        4: "the quick brown fox jumps over the lazy dog tonight!",  # near 1
        5: "entirely different content about spark physical plans",  # dup of 3
        6: "a third unrelated document with its own vocabulary set",
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    assigned = []
    cb = dstream.cluster_each_batch(
        lt, ct, "text", "doc_id", num_hashes=16, bands=8, shingle_k=4,
        num_buckets=4,
        write=lambda df, e: assigned.append(
            {r.id: r.component for r in df.collect()}
        ),
    )
    cb(docs.filter("doc_id <= 2"), 0)
    cb(docs.filter("doc_id IN (3, 4)"), 1)
    cb(docs.filter("doc_id >= 5"), 2)
    # one-shot: CC over the full banded pair relation
    banded = ddedup.lsh_bucket_store(docs, "text", "doc_id", 16, 8, 4)
    pairs = ddedup._bucket_pair_expand(banded)
    want = {
        r.id: r.component
        for r in G.connected_components(pairs).collect()
    }
    got = {r.id: r.component for r in spark.table(ct).collect()}
    assert got == want
    # duplicates clustered, singletons absent from the store but
    # labeled by their own id in the served assignment
    assert got[2] == got[1] and got[5] == got[3]
    assert 6 not in got and assigned[2][6] == 6
    for t in (lt, ct):
        drop_table_and_location(spark, t)


def test_rollup_each_batch_stream_equals_batch(spark, tmp_path):
    """Streaming continuous aggregate: after folding a real micro-batched
    stream, the served store equals the one-shot rollup over the whole
    input — the hypertable fold law under an actual foreachBatch run."""
    from dataframes_spark.operators import rollup as R

    t = f"rollup_stream_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, t)
    out = str(tmp_path / "roll_ev")
    base = spark.range(600).select(
        F.col("id").alias("k"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 31_000_000
        ).alias("ts"),
        (F.col("id") % 3).cast("string").alias("g"),
        ((F.col("id") * 7919 % 997) / 9.0).alias("v"),
    )
    for lo, hi in ((0, 200), (200, 450), (450, 600)):
        base.filter((F.col("k") >= lo) & (F.col("k") < hi)).coalesce(
            1
        ).write.mode("append").parquet(out)
    whole = spark.read.parquet(out)
    served = []
    cb = dstream.rollup_each_batch(
        t, "ts", "v", "15 minutes", by=("g",),
        write=lambda df, e: served.append(df.count()),
    )
    src = (
        spark.readStream.schema(whole.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    q = src.writeStream.foreachBatch(cb).trigger(availableNow=True).start()
    q.awaitTermination(180)
    got = sorted(map(tuple, R.rollup_serve(spark, t).collect()))
    exp = sorted(
        map(
            tuple,
            R.rollup_finalize(
                R.rollup(whole, "ts", "v", "15 minutes", by=["g"]),
                by=["g"],
            ).collect(),
        )
    )
    assert len(got) == len(exp) > 5
    for a, b in zip(got, exp):
        assert a[:2] == b[:2]
        assert a[2:] == pytest.approx(b[2:], rel=1e-9)
    assert len(served) >= 3 and served[-1] == len(exp)
    drop_table_and_location(spark, t)


def test_rollup_distinct_each_batch_stream_equals_batch(spark, tmp_path):
    """Streaming distinct continuous aggregate: after a real
    micro-batched run (with one batch REPLAYED — max-merge idempotence),
    the served estimates equal the one-shot keyed sketch."""
    from dataframes_spark.operators import rollup as R

    t = f"rollup_d_stream_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, t)
    out = str(tmp_path / "roll_d_ev")
    base = spark.range(900).select(
        F.col("id").alias("k"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + (F.col("id") % 3) * 3_600_000_000
        ).alias("ts"),
        (F.col("id") % 137).alias("u"),
    )
    for lo, hi in ((0, 300), (300, 700), (700, 900)):
        base.filter((F.col("k") >= lo) & (F.col("k") < hi)).coalesce(
            1
        ).write.mode("append").parquet(out)
    whole = spark.read.parquet(out)
    cb = dstream.rollup_distinct_each_batch(t, "ts", "u", "1 hour", p=9)
    src = (
        spark.readStream.schema(whole.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(out)
    )
    q = src.writeStream.foreachBatch(cb).trigger(availableNow=True).start()
    q.awaitTermination(180)
    # replay one batch by hand: idempotent
    cb(base.filter(F.col("k") < 300), 99)
    got = sorted(
        map(tuple, R.rollup_distinct_serve_store(spark, t).collect())
    )
    exp = sorted(
        map(
            tuple,
            R.rollup_distinct_serve(
                R.rollup_distinct(whole, "ts", "u", "1 hour", p=9), p=9
            ).collect(),
        )
    )
    assert got == exp and len(got) == 3
    drop_table_and_location(spark, t)


def test_url_dedup_each_batch_stream_equals_incremental_fold(spark):
    """Streaming URL dedup: per-batch survivors across the stream ==
    the order-respecting incremental fold; the store holds every
    distinct canonical URL once; NULL urls always pass."""
    import uuid

    from dataframes_spark.functions import url as U

    t = f"url_fp_stream_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, t)
    rows = [
        (1, "http://A.com/x?utm_source=s"),
        (2, "http://a.com/x"),        # dup of 1 after canonicalization
        (3, "http://b.com/y"),
        (4, "http://a.com/x/"),       # dup of 1, later batch
        (5, "http://c.com/z"),
        (6, None),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = []
    cb = dstream.url_dedup_each_batch(
        t, "url", "doc_id", num_buckets=4,
        write=lambda d, e: got.append(sorted(r.doc_id for r in d.collect())),
    )
    cb(df.filter("doc_id <= 3"), 0)
    cb(df.filter("doc_id > 3"), 1)
    assert got == [[1, 3], [5, 6, 7]]
    urls = sorted(r.url for r in spark.table(t).collect())
    assert urls == ["http://a.com/x", "http://b.com/y", "http://c.com/z"]
    # batch twin: the same two-batch incremental fold
    seen = U.url_fingerprints(df.limit(0), "url")
    fresh_all = []
    for cond in ("doc_id <= 3", "doc_id > 3"):
        fresh, seen = U.url_dedup_incremental(
            df.filter(cond), seen, "url", "doc_id"
        )
        fresh_all.append(sorted(r.doc_id for r in fresh.collect()))
    assert got == fresh_all
    drop_table_and_location(spark, t)


def test_langid_each_batch_stream_equals_batch_scoring(spark):
    """Streaming langid: per-batch predictions == the batch
    score-from-store of the same rows (stateless scoring), and the
    keep_langs gate filters."""
    import uuid

    from dataframes_spark.functions import langid as L

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox and the dog"),
            (2, "der schnelle braune fuchs und der hund"),
            (3, "zorro marrón rápido y el perro"),
            (4, "the lazy dog sleeps under the tree"),
        ],
        "doc_id long, text string",
    )
    w, b = L.train_langid(
        docs.withColumn(
            "lang",
            F.when(F.col("doc_id") == 2, "de")
            .when(F.col("doc_id") == 3, "es")
            .otherwise("en"),
        ),
        "text",
        "lang",
        "doc_id",
        dim=256,
        max_iter=30,
    )
    t = f"langid_stream_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, t)
    L.langid_store_update(spark, t, w, b, dim=256)
    got = {}
    cb = dstream.langid_each_batch(
        t, "text", "doc_id",
        write=lambda d, e: got.update(
            {r.doc_id: r.lang_pred for r in d.collect()}
        ),
    )
    cb(docs.filter("doc_id <= 2"), 0)
    cb(docs.filter("doc_id > 2"), 1)
    want = {
        r.doc_id: r.lang_pred
        for r in L.langid_score_from_store(
            spark, docs, t, "text", "doc_id"
        ).collect()
    }
    assert got == want
    kept = []
    gate = dstream.langid_each_batch(
        t, "text", "doc_id", keep_langs=["en"],
        write=lambda d, e: kept.extend(r.doc_id for r in d.collect()),
    )
    gate(docs, 0)
    assert sorted(kept) == sorted(i for i in want if want[i] == "en")
    drop_table_and_location(spark, t)
