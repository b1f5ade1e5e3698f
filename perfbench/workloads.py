"""The benchmark's workloads: which ``__spark_entry__`` queries each runs.
Why each was chosen is recorded next to its name in ``BENCHMARK.json``."""

from __future__ import annotations

import os

#: the fixed, read-only input tables: byte-for-byte copies of the
#: repository's sf 0.01 and sf 0.001 test tables (``lineitem`` has 60 000
#: and 6 000 rows), so a run reads nothing outside its checkout
TABLES_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables")
DEFAULT_TABLES = "sf0.01"

WORKLOADS: dict[str, list[str]] = {
    "ops_interactive": [
        "q1_pricing_summary",
        "lquery_filter",
        "lquery_map",
        "count_values",
        "sort_slice",
        "interpolate_linear",
        "dropna_rows",
        "fillna_zero",
        "csv_roundtrip_agg",
        "orc_roundtrip_agg",
        "feather_roundtrip_agg",
        "rollup_multi_weekly_orders",
    ],
    "corpus_pipeline": [
        "near_dup_clusters",
        "minhash_lsh_candidates",
        "simhash_fingerprints",
        "winnow_fingerprints_docs",
        "dedup_exact_docs",
    ],
}

#: warm pass time of each workload at the baseline, in seconds; a run
#: measures ``round(--seconds / PASS_SECONDS)`` warm passes (at least three)
PASS_SECONDS = {"ops_interactive": 4.4, "corpus_pipeline": 2.8}

#: row counts, per table set, for the queries that have no DuckDB twin in
#: ``oracle_sql()``
EXPECTED_ROWS = {
    "sf0.01": {"minhash_lsh_candidates": 179, "simhash_fingerprints": 500},
    "sf0.001": {"minhash_lsh_candidates": 168, "simhash_fingerprints": 500},
}
