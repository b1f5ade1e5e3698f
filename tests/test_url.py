"""URL canonicalization + URL-level dedup (functions/url.py): the
canonicalization zoo, flag variants, null contract, dedup min-id rule,
incremental fold law, and the bucketed-store no-reshuffle plan."""

import uuid

import pytest
from pyspark.sql import functions as F

from dataframes_spark.functions import url as U
from dataframes_spark.io.store import drop_table_and_location


def _canon(spark, urls, **kw):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return [
        r.c
        for r in df.select(
            U.canonical_url(F.col("url"), **kw).alias("c")
        ).collect()
    ]


def test_canonicalization_zoo(spark):
    cases = {
        "http://Example.COM/path/": "http://example.com/path",
        "HTTP://example.com:80/path": "http://example.com/path",
        "https://example.com:443/a/b/?utm_source=x&id=7&fbclid=z#f":
            "https://example.com/a/b?id=7",
        "https://example.com:8443/a": "https://example.com:8443/a",
        "http://user:pw@Example.com/x": "http://user:pw@example.com/x",
        "example.com/no-scheme?gclid=1&q=2": "example.com/no-scheme?q=2",
        "http://example.com/": "http://example.com",
        "http://example.com": "http://example.com",
        "http://example.com/?utm_campaign=a": "http://example.com",
        "  http://example.com/spaces  ": "http://example.com/spaces",
        "http://example.com/Case?B=2&a=1": "http://example.com/Case?B=2&a=1",
        "http://example.com/x#frag": "http://example.com/x",
        "ftp://Files.example.com:21/d": "ftp://files.example.com:21/d",
        "not a url at all": "not a url at all",
    }
    got = _canon(spark, list(cases))
    assert got == list(cases.values())


def test_flags_and_null(spark):
    assert _canon(spark, ["http://WWW.Example.com/a"], strip_www=True) == [
        "http://example.com/a"
    ]
    assert _canon(spark, ["http://e.com/x?b=2&a=1"], sort_query=True) == [
        "http://e.com/x?a=1&b=2"
    ]
    df = spark.createDataFrame([(None,)], "url string")
    assert df.select(U.canonical_url(F.col("url")).alias("c")).first().c is None


def test_url_dedup_min_id_and_null_survival(spark):
    df = spark.createDataFrame(
        [
            (1, "http://A.com/x?utm_source=s"),
            (2, "http://a.com/x"),
            (3, "http://a.com/x/"),
            (4, "http://b.com/y"),
            (5, None),
            (6, None),
        ],
        "doc_id long, url string",
    )
    kept = sorted(r.doc_id for r in U.url_dedup(df, "url", "doc_id").collect())
    # {1,2,3} collapse -> keep 1; 4 unique; 5,6 null urls both survive
    assert kept == [1, 4, 5, 6]
    rep = {
        r.url: (r.n_copies, r.kept_id)
        for r in U.url_dedup_report(df, "url", "doc_id").collect()
    }
    assert rep["http://a.com/x"] == (3, 1)
    assert rep["http://b.com/y"] == (1, 4)


def test_incremental_fold_law(spark):
    rows = [
        (i, f"http://h{i % 7}.com/p{i % 11}?utm_medium=m&k={i % 3}")
        for i in range(60)
    ] + [(100, None), (101, None)]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    one_shot = sorted(
        r.doc_id for r in U.url_dedup(df, "url", "doc_id").collect()
    )
    seen = U.url_fingerprints(df.limit(0), "url")  # empty store
    fresh_all = []
    for lo, hi in [(0, 20), (20, 45), (45, 200)]:
        batch = df.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        )
        fresh, seen = U.url_dedup_incremental(batch, seen, "url", "doc_id")
        fresh_all += [r.doc_id for r in fresh.collect()]
    # batches arrive in id order, so the incremental survivors are the
    # one-shot min-id survivors exactly
    assert sorted(fresh_all) == one_shot
    # store holds every distinct canonical url exactly once, no nulls
    urls = [r.url for r in seen.collect()]
    assert len(urls) == len(set(urls))
    assert None not in urls


def test_incremental_store_no_reshuffle(spark):
    """A url-bucketed fingerprint store must satisfy the incremental
    anti join's distribution as scanned (no store-side Exchange)."""
    from dataframes_spark.io.store import staging_swap

    t = f"url_fps_{uuid.uuid4().hex[:8]}"
    drop_table_and_location(spark, t)
    df = spark.createDataFrame(
        [(i, f"http://h{i}.com/p") for i in range(50)],
        "doc_id long, url string",
    )
    staging_swap(spark, t, U.url_fingerprints(df, "url"), bucket_by="url")
    batch = spark.createDataFrame(
        [(200 + i, f"http://h{i}.com/p?utm_source=s") for i in range(80)],
        "doc_id long, url string",
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        fresh, _ = U.url_dedup_incremental(batch, spark.table(t), "url", "doc_id")
        plan = fresh._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        got = sorted(r.doc_id for r in fresh.collect())
        # h0..h49 already seen (tracking param collapses); h50..h79 fresh
        assert got == [200 + i for i in range(50, 80)]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    drop_table_and_location(spark, t)


def test_host_report(spark):
    df = spark.createDataFrame(
        [
            (1, "http://A.com/1"),
            (2, "https://a.com:443/2"),
            (3, "http://b.com/3"),
            (4, None),
        ],
        "doc_id long, url string",
    )
    got = {(r.host, r.n_docs, r.share) for r in U.host_report(df, "url").collect()}
    assert got == {("a.com", 2, 0.666667), ("b.com", 1, 0.333333)}


def test_unparseable_authority_carries_verbatim(spark):
    """IPv6 literals / double-@ authorities don't match the component
    grammar — they must carry through VERBATIM, never collapse to an
    emptied host (which would merge DISTINCT unparseable hosts onto
    one canonical dedup key)."""
    cases = {
        "https://[2001:db8::1]/x": "https://[2001:db8::1]/x",
        "https://[2001:db8::2]/x": "https://[2001:db8::2]/x",
        "http://a@b@c.com/x": "http://a@b@c.com/x",
    }
    assert _canon(spark, list(cases)) == list(cases.values())
    df = spark.createDataFrame(
        [(1, "https://[2001:db8::1]/x"), (2, "https://[2001:db8::2]/x")],
        "doc_id long, url string",
    )
    kept = sorted(r.doc_id for r in U.url_dedup(df, "url", "doc_id").collect())
    assert kept == [1, 2]  # distinct unparseable hosts never merge


# ---------------------------------------------------------------------------
# property: canonicalization is idempotent (a canonical URL is its own
# canonical form) — the invariant that makes the fingerprint store
# stable under re-canonicalization of served keys
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_scheme = st.sampled_from(["http", "HTTP", "https", "ftp", ""])
_host = st.sampled_from(
    ["Example.com", "a.b.co", "www.X.org", "[2001:db8::1]", "h-1.io"]
)
_port = st.sampled_from(["", ":80", ":443", ":8080"])
_path = st.sampled_from(["", "/", "/A/b", "/a//b/", "/x.y"])
_query = st.sampled_from(
    ["", "?a=1", "?utm_source=x", "?b=2&a=1&fbclid=z", "?==&&k="]
)
_frag = st.sampled_from(["", "#f", "#a b"])


@settings(max_examples=12, deadline=None)
@given(s=_scheme, h=_host, p=_port, pa=_path, q=_query, f=_frag)
def test_canonical_url_idempotent(spark, s, h, p, pa, q, f):
    url = (f"{s}://" if s else "") + h + p + pa + q + f
    once = _canon(spark, [url])[0]
    twice = _canon(spark, [once])[0]
    assert twice == once, (url, once, twice)
