"""Per-member oracle checks for operators that reach the driver gate
only through a composite suite key.

The gate registry is exactly 50 keys (``__spark_entry__.GATE_ORDER``),
so same-grain members (lang_id, token_count, the window/rollup shapes,
…) are value-hash-checked there only via their suite composite. The
per-doc suites (``text_metrics``, ``doc_fingerprints``,
``corpus_assembly``) apply the same column builders their member
queries do, so a member cannot drift from its suite copy; what the
gate still does not see is each member query's own output shape (its
select, filter, renames and the member-only oracle SQL). This module
checks every member query that is not itself a gate key against its
own DuckDB oracle at sf0.001, the same comparison the gate applies.
"""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from pdf_parser_spark import dataops, multimodal, queries, registry, search, suites

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

NON_GATE_MEMBERS = sorted(set(registry.ORACLES) - set(entrymod.GATE_ORDER))


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def test_every_member_has_an_oracle():
    assert set(registry.QUERIES) == set(registry.ORACLES)
    assert NON_GATE_MEMBERS, "expected suite-composed members outside the gate"


def test_registry_merges_each_family_once():
    """The merged tables hold every family's operators — none dropped
    by a name clash — and a name registered by two families fails at
    import instead of silently keeping the later one."""
    families = [
        (queries.QUERIES, queries.ORACLES),
        (dataops.DATAOPS_QUERIES, dataops.DATAOPS_ORACLES),
        (search.SEARCH_QUERIES, search.SEARCH_ORACLES),
        (suites.SUITE_QUERIES, suites.SUITE_ORACLES),
        (multimodal.MULTIMODAL_QUERIES, multimodal.MULTIMODAL_ORACLES),
    ]
    assert len(registry.QUERIES) == sum(len(q) for q, _ in families)
    assert len(registry.ORACLES) == sum(len(o) for _, o in families)
    clash = ({"lang_id": queries.QUERIES["tpch_q1"]}, {"lang_id": "SELECT 1"})
    with pytest.raises(RuntimeError, match="registered twice"):
        registry._merge(families + [clash])


@pytest.mark.parametrize("name", NON_GATE_MEMBERS)
def test_member_matches_oracle(spark, ddb, name):
    spark_pdf = registry.QUERIES[name](spark, SF_DIR).toPandas()
    oracle_pdf = ddb.execute(registry.ORACLES[name]).df()
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    # exact equality everywhere the gate would hash-compare exactly
    # (ints/strings/bools); rtol only for float columns, where the
    # engines' plans may legally differ below the rounded precision
    float_cols = [c for c in a.columns if a[c].dtype.kind == "f" or b[c].dtype.kind == "f"]
    crisp = [c for c in a.columns if c not in float_cols]
    pd.testing.assert_frame_equal(a[crisp], b[crisp], check_dtype=False, check_exact=True)
    if float_cols:
        pd.testing.assert_frame_equal(
            a[float_cols], b[float_cols], check_dtype=False, check_exact=False,
            rtol=1e-9, atol=1e-9,
        )


def test_every_member_is_timed_or_suite_folded():
    """Maintenance guard: a newly registered operator must either be
    timed by bench.py or reach the driver gate through a composite
    suite — otherwise it silently ships without a performance line.
    The r-series service lookups are the only allowed exceptions
    (trivial single-table reads whose cost the TPC-H/R9 entries
    already bound)."""
    import bench

    untimed = (
        set(registry.QUERIES)
        - set(bench.BENCH_QUERIES)
        - set(suites.SUITE_QUERIES)
        - set(entrymod.GATE_ORDER)
    )
    allowed = {
        "r2_pagination_topk", "r3_count_by_status", "r4_status_filtered_list",
        "r5_oldest_queued", "r6_keyword_search", "r10_totals_aggregate",
        # folded members of the (gate-keyed, bench-covered via
        # audio_segments) multimodal_suite — the suite name differs
        # from the member keys, so the set math can't see the fold
        "multimodal_meta", "multimodal_frames",
    }
    assert untimed <= allowed, f"untimed new operators: {sorted(untimed - allowed)}"


def test_every_bench_name_resolves():
    """Membership in BENCH_QUERIES only counts if bench.QUERIES can
    actually resolve the name (ADVICE r4: `audio_segments` was listed
    but unresolvable — MULTIMODAL_QUERIES wasn't merged — and the old
    silent `continue` meant it was never timed while the guard above
    still counted it as covered)."""
    import bench

    missing = [n for n in bench.BENCH_QUERIES if n not in bench.QUERIES]
    assert not missing, f"BENCH_QUERIES names not in bench.QUERIES: {missing}"
