"""Line-level exact substring dedup (operators/dedup.py repeated_lines /
strip_repeated_lines): the CCNet/RefinedWeb boilerplate-stripping pass.
Pins the semantic contract: cross-document lines go, within-document
repeats stay, blank lines are structure (kept, never counted), line
order survives, all-boilerplate documents survive with empty text, and
the separator is a literal (not a regex)."""

import pytest
from pyspark.sql import functions as F

from dataframes_spark.io.store import drop_table_and_location
from dataframes_spark.operators import dedup


def _docs(spark):
    rows = [
        (1, "subscribe now\nalpha beta\n\ngamma", "a"),
        (2, "subscribe now\ndelta delta\ndelta delta", "b"),
        (3, "subscribe now", "c"),          # all-boilerplate
        (4, None, "d"),                      # null text
        (5, "epsilon\nepsilon", "e"),        # within-doc repeat only
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "src"])


def test_repeated_lines_report(spark):
    rep = dedup.repeated_lines(_docs(spark), "text", "doc_id").collect()
    assert {(r.line, r.n_docs, r.n_occurrences) for r in rep} == {
        ("subscribe now", 3, 3)
    }
    # within-doc repeats ("delta delta", "epsilon") and blank lines never
    # cross the distinct-document bar


def test_strip_repeated_lines(spark):
    out = {
        r.doc_id: (r.text, r.src)
        for r in dedup.strip_repeated_lines(_docs(spark), "text", "doc_id").collect()
    }
    assert out[1] == ("alpha beta\n\ngamma", "a")  # blank line + order kept
    assert out[2] == ("delta delta\ndelta delta", "b")  # within-doc repeat kept
    assert out[3] == ("", "c")  # all-boilerplate doc survives, empty
    assert out[4] == ("", "d")  # null text survives as empty
    assert out[5] == ("epsilon\nepsilon", "e")
    assert len(out) == 5


def test_min_docs_threshold(spark):
    out = {
        r.doc_id: r.text
        for r in dedup.strip_repeated_lines(
            _docs(spark), "text", "doc_id", min_docs=4
        ).collect()
    }
    # "subscribe now" is in only 3 docs: below the bar, nothing stripped
    assert out[1] == "subscribe now\nalpha beta\n\ngamma"


def test_separator_is_literal(spark):
    # "." is a regex metacharacter; a regex split would explode per char
    df = spark.createDataFrame(
        [(1, "boiler.keep one"), (2, "boiler.keep two")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r.text
        for r in dedup.strip_repeated_lines(df, "text", "doc_id", sep=".").collect()
    }
    assert out == {1: "keep one", 2: "keep two"}


def test_report_blank_and_whitespace_never_reported(spark):
    df = spark.createDataFrame(
        [(1, "  \nx y\n"), (2, "  \nx y\n")], ["doc_id", "text"]
    )
    rep = dedup.repeated_lines(df, "text", "doc_id").collect()
    assert {r.line for r in rep} == {"x y"}


# ---------------------------------------------------------------------------
# incremental exact dedup (content_fingerprints + exact_dedup_incremental)
# ---------------------------------------------------------------------------


def test_incremental_dedup_two_batches(spark):
    from dataframes_spark.operators import dedup as dd

    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], ["doc_id", "text"]
    )
    empty = dd.content_fingerprints(b1.limit(0), "text")
    fresh1, store1 = dd.exact_dedup_incremental(b1, empty, "text", "doc_id")
    got1 = sorted((r.doc_id, r.text) for r in fresh1.collect())
    assert got1 == [(1, "alpha"), (2, "beta")]  # in-batch min-id dedup
    assert store1.count() == 2

    # batch 2: one already-seen content, one new, an internal dup pair
    b2 = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma")], ["doc_id", "text"]
    )
    fresh2, store2 = dd.exact_dedup_incremental(b2, store1, "text", "doc_id")
    got2 = sorted((r.doc_id, r.text) for r in fresh2.collect())
    assert got2 == [(11, "gamma")]  # alpha blocked by history, gamma deduped
    assert store2.count() == 3

    # replay of batch 2 against the updated store emits nothing
    fresh3, store3 = dd.exact_dedup_incremental(b2, store2, "text", "doc_id")
    assert fresh3.count() == 0 and store3.count() == 3


def test_incremental_dedup_null_text_blocked_by_history(spark):
    from dataframes_spark.operators import dedup as dd

    b1 = spark.createDataFrame(
        [(1, None), (2, "x")], "doc_id long, text string"
    )
    empty = dd.content_fingerprints(b1.limit(0), "text")
    fresh1, store1 = dd.exact_dedup_incremental(b1, empty, "text", "doc_id")
    assert fresh1.count() == 2  # the one null-text doc + 'x'
    b2 = spark.createDataFrame([(10, None)], "doc_id long, text string")
    fresh2, _ = dd.exact_dedup_incremental(b2, store1, "text", "doc_id")
    # a second null-text doc is a duplicate of the stored null content
    assert fresh2.count() == 0


def test_fingerprint_store_roundtrip_bucketed(spark):
    import uuid

    from dataframes_spark.io import bucketed as B
    from dataframes_spark.operators import dedup as dd

    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    fps = dd.content_fingerprints(b1, "text")
    tbl = f"fps_{uuid.uuid4().hex[:8]}"
    try:
        B.write_fingerprints(fps, tbl, num_buckets=4)
        store = spark.table(tbl)
        assert store.count() == 2
        # the restored store blocks previously-seen content
        b2 = spark.createDataFrame(
            [(10, "alpha"), (11, "gamma")], "doc_id long, text string"
        )
        fresh, _ = dd.exact_dedup_incremental(b2, store, "text", "doc_id")
        assert [r.text for r in fresh.collect()] == ["gamma"]
    finally:
        drop_table_and_location(spark, tbl)


# ---------------------------------------------------------------------------
# incremental NEAR-dup (lsh_bucket_store + near_dup_incremental)
# ---------------------------------------------------------------------------

_LONG = (
    "the quick brown fox jumps over the lazy dog while seventy two "
    "pelicans argue about the correct partitioning of a hundred terabyte "
    "corpus and the merits of banded locality sensitive hashing"
)


def test_near_dup_incremental_detects_seen_and_in_batch(spark):
    from dataframes_spark.operators import dedup as dd

    store_docs = spark.createDataFrame(
        [(1, _LONG), (2, "completely unrelated content about spreadsheets")],
        "doc_id long, text string",
    )
    store = dd.lsh_bucket_store(store_docs, "text", "doc_id")
    batch = spark.createDataFrame(
        [
            (10, _LONG),  # exact copy of stored doc 1: collides in EVERY band
            (11, _LONG + " with a small suffix edit"),  # near-dup of 1 and 10
            (12, "zebra xylophone quartz jigsaw vortex plasma nebula"),
        ],
        "doc_id long, text string",
    )
    cands, updated = dd.near_dup_incremental(batch, store, "text", "doc_id")
    pairs = {(r.id_new, r.id_seen) for r in cands.collect()}
    assert (10, 1) in pairs  # new vs stored
    assert (11, 1) in pairs  # near-dup vs stored (deterministic: fixed texts)
    assert (11, 10) in pairs  # in-batch: later arrival is the suspect
    assert not any(12 in p for p in pairs)  # unrelated doc never pairs
    # updated store appends exactly the batch's banding: bands rows per doc
    assert updated.count() == store.count() + 16 * 3


def test_near_dup_incremental_empty_batch_and_empty_store(spark):
    from dataframes_spark.operators import dedup as dd

    docs = spark.createDataFrame([(1, _LONG)], "doc_id long, text string")
    store = dd.lsh_bucket_store(docs, "text", "doc_id")
    # empty batch: no candidates, store unchanged
    cands, updated = dd.near_dup_incremental(
        docs.limit(0), store, "text", "doc_id"
    )
    assert cands.count() == 0 and updated.count() == store.count()
    # empty store: only in-batch pairs possible
    batch = spark.createDataFrame(
        [(10, _LONG), (11, _LONG)], "doc_id long, text string"
    )
    cands2, _ = dd.near_dup_incremental(
        batch, store.limit(0), "text", "doc_id"
    )
    assert {(r.id_new, r.id_seen) for r in cands2.collect()} == {(11, 10)}


def test_lsh_store_roundtrip_bucketed(spark):
    import uuid

    from dataframes_spark.io import bucketed as B
    from dataframes_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, _LONG), (2, "other text entirely, about teapots")],
        "doc_id long, text string",
    )
    tbl = f"lsh_{uuid.uuid4().hex[:8]}"
    try:
        B.write_lsh_store(dd.lsh_bucket_store(docs, "text", "doc_id"), tbl, num_buckets=4)
        store = spark.table(tbl)
        assert store.count() == 16 * 2
        batch = spark.createDataFrame([(10, _LONG)], "doc_id long, text string")
        cands, _ = dd.near_dup_incremental(batch, store, "text", "doc_id")
        assert {(r.id_new, r.id_seen) for r in cands.collect()} == {(10, 1)}
    finally:
        drop_table_and_location(spark, tbl)


def test_table_facade_pipeline_hooks(spark):
    from dataframes_spark import quality as Q
    from dataframes_spark.core.table import Table

    t = Table(spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) v"))
    # both hooks chain on success
    out = t.assert_scalable().validate([Q.row_count(1), Q.unique("id")])
    assert out.df.count() == 10
    import pytest as _pt

    with _pt.raises(ValueError, match="row_count"):
        t.validate([Q.row_count(100)])


def test_incremental_dedup_store_update_has_no_distinct_over_union(spark):
    """The updated store is store UNION fresh-keys with NO distinct on
    top: fresh is disjoint from the store by the anti join and
    content_fingerprints is internally distinct, so a distinct would
    only re-shuffle the full store each increment. Pin: no aggregate
    node sits ABOVE the Union in the physical plan."""
    from dataframes_spark import plan as dplan
    from dataframes_spark.operators import dedup as dd

    b1 = spark.createDataFrame([(1, "alpha"), (2, "beta")], ["doc_id", "text"])
    store = dd.content_fingerprints(b1, "text")
    b2 = spark.createDataFrame([(3, "gamma"), (4, "alpha")], ["doc_id", "text"])
    _, updated = dd.exact_dedup_incremental(b2, store, "text", "doc_id")
    nodes = dplan._tree_nodes(dplan._explain(updated, "formatted"))
    union_depths = [d for d, n, _ in nodes if n == "Union"]
    assert union_depths, "expected a Union in the updated-store plan"
    agg_above = [
        n for d, n, _ in nodes
        if "Aggregate" in n and d < min(union_depths)
    ]
    assert agg_above == []
