"""URL canonicalization and URL-level deduplication — the stage-0
pass of the published crawl-curation playbooks (C4 deduplicates at the
URL level before any content pass, Raffel et al. 2020 §2.2; CCNet's
per-snapshot layout is URL-keyed, Wenzek et al. 2020): normalize the
crawl's URLs so that trivially-distinct spellings of the same page
(scheme/host case, default ports, tracking parameters, fragments,
trailing slashes) collapse to one canonical key, then keep exactly one
document per key.

Everything here is PURE JVM expression work — regexp splits and array
functions inside the corpus scan; the only exchange any dedup pass
pays is the slim ``(canonical_url, id)`` projection (URLs are tens of
bytes; text bodies never shuffle). The DuckDB oracle replays the same
regex/array pipeline term for term, so canonicalization itself is
hash-verified, not just the dedup counts.

NULL-URL rows are deliberately NEVER deduplicated: a missing URL means
unknown provenance, and grouping all of them under one key would
collapse unrelated documents. They pass through every keep/drop
decision and never enter the fingerprint store (contract mirrored in
the oracle SQL — the null-symmetry rule).

No reference analog (the reference's string surface stops at
split/case ops, src/Column.luna); semantics follow the cited public
pipelines and the RFC 3986 component grammar.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: RFC 3986-ish component split: scheme://authority path ?query #fragment
#: (scheme optional so schemeless crawl entries still normalize).
_URL_RE = r"^\s*(?:([a-zA-Z][a-zA-Z0-9+.-]*)://)?([^/?#]*)([^?#]*)(?:\?([^#]*))?(?:#.*)?\s*$"

#: authority = [userinfo@]host[:port]
_AUTH_RE = r"^(?:([^@]*)@)?([^:@]*)(?::([0-9]+))?$"

#: tracking parameters stripped from the query string — the fixed,
#: documented set every canonicalizer carries (Google/Facebook/
#: Microsoft/Instagram/Mailchimp click ids + the utm_* family).
TRACKING_PARAM_RE = (
    r"^(utm_[a-zA-Z0-9]+|fbclid|gclid|gclsrc|msclkid|igshid|mc_cid|mc_eid)$"
)


def canonical_url(
    c: Column,
    strip_www: bool = False,
    sort_query: bool = False,
) -> Column:
    """The canonical spelling of a URL, as one JVM expression:

    - scheme and host lowercase (path/query case is significant per
      RFC 3986 and is preserved);
    - default ports drop (``:80`` under http, ``:443`` under https);
    - the fragment drops (never sent to the server);
    - tracking parameters drop (`TRACKING_PARAM_RE`); an emptied query
      loses its ``?``;
    - trailing path slashes drop (``/a/`` == ``/a``; a bare root path
      ``/`` drops entirely);
    - ``strip_www=True`` additionally drops one leading ``www.`` from
      the host (aggressive — off by default);
    - ``sort_query=True`` additionally sorts surviving query
      parameters bytewise (aggressive: treats ``?a=1&b=2`` ==
      ``?b=2&a=1`` — off by default).

    NULL in, NULL out. Leading/trailing whitespace trims. Malformed
    input degrades gracefully: whatever the component regex cannot
    place is carried through verbatim in its component."""
    c = F.trim(c)
    scheme = F.lower(F.regexp_extract(c, _URL_RE, 1))
    auth = F.regexp_extract(c, _URL_RE, 2)
    path = F.regexp_extract(c, _URL_RE, 3)
    query = F.regexp_extract(c, _URL_RE, 4)

    userinfo = F.regexp_extract(auth, _AUTH_RE, 1)
    host = F.lower(F.regexp_extract(auth, _AUTH_RE, 2))
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    port = F.regexp_extract(auth, _AUTH_RE, 3)
    default_port = ((scheme == "http") & (port == "80")) | (
        (scheme == "https") & (port == "443")
    )
    port_part = F.when(
        (port == "") | default_port, F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    # an authority the component grammar cannot place (IPv6 literals
    # like [2001:db8::1], double-@) carries through VERBATIM — every
    # group extracts '' on a non-match, and an emptied authority would
    # otherwise collapse DISTINCT unparseable hosts onto one canonical
    # key (silent cross-document merging, the one failure a dedup key
    # must never have)
    auth_norm = F.when(
        ~auth.rlike(_AUTH_RE), auth
    ).otherwise(
        F.concat(
            F.when(userinfo == "", F.lit("")).otherwise(
                F.concat(userinfo, F.lit("@"))
            ),
            host,
            port_part,
        )
    )

    path_norm = F.regexp_replace(path, r"/+$", "")

    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.regexp_extract(p, r"^([^=]*)", 1).rlike(TRACKING_PARAM_RE),
    )
    if sort_query:
        params = F.sort_array(params)
    qs = F.array_join(params, "&")
    query_part = F.when(qs == "", F.lit("")).otherwise(
        F.concat(F.lit("?"), qs)
    )

    scheme_part = F.when(scheme == "", F.lit("")).otherwise(
        F.concat(scheme, F.lit("://"))
    )
    return F.when(
        c.isNull(), F.lit(None).cast("string")
    ).otherwise(F.concat(scheme_part, auth_norm, path_norm, query_part))


def url_dedup_report(
    df: DataFrame,
    url_col: str,
    id_col: str,
    strip_www: bool = False,
    sort_query: bool = False,
) -> DataFrame:
    """Per-canonical-URL dedup report: ``(url, n_copies, kept_id)`` —
    one row per distinct canonical URL with its multiplicity and the
    deterministic survivor (min id, the `exact_dedup` rule). NULL-URL
    rows are excluded (they are never dedup candidates — module
    contract). ONE map-side-combining groupBy of the slim
    ``(canonical, id)`` projection; text never shuffles."""
    canon = canonical_url(F.col(url_col), strip_www, sort_query)
    return (
        df.filter(F.col(url_col).isNotNull())
        .select(canon.alias("url"), F.col(id_col).alias("__uid"))
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("__uid").alias("kept_id"),
        )
    )


def url_dedup(
    df: DataFrame,
    url_col: str,
    id_col: str,
    strip_www: bool = False,
    sort_query: bool = False,
) -> DataFrame:
    """Keep one document (min id) per canonical URL; NULL-URL rows all
    survive. The keep-set is derived on the slim projection and pulled
    back with an id-keyed semi join — the corpus shuffles only its id
    column, never text (the `exact_dedup` shape)."""
    keep = url_dedup_report(df, url_col, id_col, strip_www, sort_query)
    return df.filter(F.col(url_col).isNull()).unionByName(
        df.join(
            keep.select(F.col("kept_id").alias(id_col)), id_col, "left_semi"
        )
    )


def url_fingerprints(
    df: DataFrame,
    url_col: str,
    strip_www: bool = False,
    sort_query: bool = False,
) -> DataFrame:
    """Distinct canonical-URL keys of a corpus — the persistable STORE
    for incremental URL dedup: one ``(url)`` string row per distinct
    canonical URL (tens of bytes; no text retained). Bucket the store
    by ``url`` (`io.store.fold_store(bucket_by="url")`) and the
    incremental anti join scans it with no store-side exchange."""
    return (
        df.filter(F.col(url_col).isNotNull())
        .select(
            canonical_url(F.col(url_col), strip_www, sort_query).alias("url")
        )
        .distinct()
    )


def url_dedup_incremental(
    new_df: DataFrame,
    seen: DataFrame,
    url_col: str,
    id_col: str,
    strip_www: bool = False,
    sort_query: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental URL dedup — the arriving-batch form (the
    `exact_dedup_incremental` contract): returns ``(fresh, updated)``
    where ``fresh`` is the batch minus URLs already in the ``seen``
    store (`url_fingerprints`) or earlier in the batch itself (min-id
    survivor), and ``updated`` is the store plus the fresh batch's
    canonical keys.

    Scale shape: the canonicalization regex battery runs ONCE, on the
    slim ``(canonical, id)`` projection inside the batch scan; the
    in-batch min-id keep, the anti join against the store, AND the
    store-update keys all reuse that one relation (full rows return
    via an id-keyed semi join — text never shuffles by URL). With
    ``url`` as the sole equi-key a url-bucketed store satisfies the
    join's required distribution as scanned (no history reshuffle; the
    `exact_dedup_incremental` plan argument). NULL-URL rows pass
    through ``fresh`` untouched and never enter the store. No distinct
    on the union: the keep relation is one row per canonical URL and
    the anti join makes it provably disjoint from the store."""
    canon = canonical_url(F.col(url_col), strip_www, sort_query)
    slim = new_df.filter(F.col(url_col).isNotNull()).select(
        canon.alias("__uc"), F.col(id_col).alias("__uid")
    )
    keep = slim.groupBy("__uc").agg(F.min("__uid").alias("__uid"))
    fresh_keys = keep.join(seen, keep["__uc"] == seen["url"], "left_anti")
    fresh = new_df.filter(F.col(url_col).isNull()).unionByName(
        new_df.join(
            fresh_keys.select(F.col("__uid").alias(id_col)),
            id_col,
            "left_semi",
        )
    )
    updated = seen.unionByName(
        fresh_keys.select(F.col("__uc").alias("url"))
    )
    return fresh, updated


def host_report(
    df: DataFrame,
    url_col: str,
    top_n: int = 50,
) -> DataFrame:
    """Crawl-composition report: the ``top_n`` hosts by document count
    with share — ``(host, n_docs, share)``, host lowercased with any
    port/userinfo stripped. One slim groupBy + a broadcast total; the
    top-k is a TakeOrdered heap, never a global sort."""
    auth = F.regexp_extract(F.col(url_col), _URL_RE, 2)
    host = F.lower(F.regexp_extract(auth, _AUTH_RE, 2))
    counts = (
        df.filter(F.col(url_col).isNotNull())
        .select(host.alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    total = counts.agg(F.sum("n_docs").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "host",
            "n_docs",
            F.round(F.col("n_docs") / F.col("__t"), 6).alias("share"),
        )
        .orderBy(F.col("n_docs").desc(), F.col("host").asc())
        .limit(top_n)
    )
