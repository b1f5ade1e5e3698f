"""Incremental connected components (operators/graph.py
cluster_store_update): the fold law (batch folds == one-shot closure),
merge-across-batches relabeling, bucketed no-reshuffle reads."""

import uuid

import pytest
from pyspark.sql import functions as F

from dataframes_spark.operators import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _store(spark, table):
    return sorted(
        (r.id, r.component) for r in spark.table(table).collect()
    )


def _one_shot(spark, pairs):
    return sorted(
        (r.id, r.component)
        for r in G.connected_components(_edges(spark, pairs)).collect()
    )


@pytest.fixture
def table(spark):
    t = f"cluster_store_{uuid.uuid4().hex[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    yield t
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_fold_equals_one_shot_basic(spark, table):
    b1 = [(1, 2), (3, 4), (10, 11)]
    b2 = [(2, 3), (20, 21)]  # merges {1,2} with {3,4}
    assert G.cluster_store_update(spark, table, _edges(spark, b1)) is None
    assert _store(spark, table) == _one_shot(spark, b1)
    G.cluster_store_update(spark, table, _edges(spark, b2))
    assert _store(spark, table) == _one_shot(spark, b1 + b2)
    # {1,2,3,4}, {10,11}, {20,21}
    assert len({c for _, c in _store(spark, table)}) == 3
    # every member of the merged cluster relabeled to the global min
    got = dict(_store(spark, table))
    assert got[1] == got[2] == got[3] == got[4] == 1


def test_new_batch_lowers_representative(spark, table):
    # cluster {5,6} rep 5; a later edge (5, 2) must drop the rep to 2
    # for EVERY member, including untouched 6
    G.cluster_store_update(spark, table, _edges(spark, [(5, 6)]))
    G.cluster_store_update(spark, table, _edges(spark, [(5, 2)]))
    got = dict(_store(spark, table))
    assert got == {2: 2, 5: 2, 6: 2}


def test_fold_law_random_splits(spark, table):
    import random

    rng = random.Random(7)
    nodes = list(range(40))
    pairs = [
        (a, b)
        for _ in range(50)
        for a, b in [sorted(rng.sample(nodes, 2))]
    ]
    want = _one_shot(spark, pairs)
    # fold in 4 arbitrary chunks
    for i in range(4):
        chunk = pairs[i * 13 : (i + 1) * 13] or [(0, 0)]
        G.cluster_store_update(spark, table, _edges(spark, chunk))
    assert _store(spark, table) == want


def test_within_cluster_edge_is_noop(spark, table):
    G.cluster_store_update(spark, table, _edges(spark, [(1, 2), (2, 3)]))
    before = _store(spark, table)
    G.cluster_store_update(spark, table, _edges(spark, [(1, 3)]))
    assert _store(spark, table) == before


def test_store_reads_without_reshuffle(spark, table):
    G.cluster_store_update(spark, table, _edges(spark, [(1, 2), (3, 4)]))
    # force the non-broadcast (big probe) shape: the store's catalog
    # bucketing must satisfy the join's distribution with NO exchange
    # on the store side
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.range(100).select(F.col("id"))
        joined = probe.join(spark.table(table), "id")
        p = joined._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in p, p
        idx = p.find("+- Sort [id")
        assert idx != -1, p
        assert "Exchange" not in p[idx:].split("FileScan")[0], p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_append_only_fold_no_merge(spark, table):
    """A batch whose clusters are entirely disjoint from the store
    takes the append-only path (no store rewrite) — and the result is
    still the one-shot closure; the bucketed no-reshuffle read
    survives the appended file set."""
    b1 = [(1, 2), (3, 4)]
    b2 = [(50, 51), (52, 53), (51, 52)]  # brand-new ids only
    G.cluster_store_update(spark, table, _edges(spark, b1))
    files_before = {
        r[0]
        for r in spark.table(table)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    G.cluster_store_update(spark, table, _edges(spark, b2))
    files_after = {
        r[0]
        for r in spark.table(table)
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    # append-only: every pre-existing file survives untouched
    assert files_before <= files_after
    assert _store(spark, table) == _one_shot(spark, b1 + b2)
    # a batch that DOES merge still rewrites and stays correct
    G.cluster_store_update(spark, table, _edges(spark, [(2, 50)]))
    assert _store(spark, table) == _one_shot(
        spark, b1 + b2 + [(2, 50)]
    )
    # bucketed read is still exchange-free after mixed folds
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.range(100).select(F.col("id"))
        joined = probe.join(spark.table(table), "id")
        p = joined._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in p, p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_append_only_fold_new_id_touching_stored_cluster(spark, table):
    """A new id that JOINS an existing cluster without merging two
    stored clusters: the stored rep keeps its label (no remap), so the
    append path must still fire and label the new id correctly."""
    G.cluster_store_update(spark, table, _edges(spark, [(1, 2)]))
    G.cluster_store_update(spark, table, _edges(spark, [(2, 7)]))
    assert dict(_store(spark, table)) == {1: 1, 2: 1, 7: 1}
    # ...but a new id BELOW the stored rep forces the rewrite lane
    G.cluster_store_update(spark, table, _edges(spark, [(0, 7)]))
    assert dict(_store(spark, table)) == {0: 0, 1: 0, 2: 0, 7: 0}


def test_append_only_fold_partial_commit_self_heals(spark, table):
    """The append path's crash contract: a crash mid job-commit leaves
    a SUBSET of the new rows visible; re-running the same fold (the
    at-least-once rule) recomputes identical batch-closure labels, so
    the re-run fills in exactly the missing rows and the store equals
    the clean one-shot result."""
    b1 = [(1, 2), (3, 4)]
    b2 = [(50, 51), (52, 53), (51, 52)]  # all-new cluster {50..53}
    G.cluster_store_update(spark, table, _edges(spark, b1))
    # simulate the partial commit: only a fragment of what the b2 fold
    # would append becomes visible (52 labeled 50, without 50's row)
    spark.createDataFrame(
        [(52, 50)], "id long, component long"
    ).write.insertInto(table)
    # re-run the fold (foreachBatch replays the epoch)
    G.cluster_store_update(spark, table, _edges(spark, b2))
    assert _store(spark, table) == _one_shot(spark, b1 + b2)
    # and a later merging batch still relabels everything correctly
    G.cluster_store_update(spark, table, _edges(spark, [(2, 53)]))
    assert _store(spark, table) == _one_shot(spark, b1 + b2 + [(2, 53)])
