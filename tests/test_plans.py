"""Physical-plan contracts: the properties BENCH.md's audits describe,
locked as tests so a regression (a filter no longer reaching the scan,
a top-k degrading to a global sort, a broadcast flipping to a
shuffle-both-sides join, an extra exchange sneaking into a reshape)
fails CI instead of only showing up as a slower bench line.

Assertions read `explain("formatted")` text. They check plan SHAPE,
not cost numbers, so they are stable across hosts; AQE may re-plan at
runtime but these initial-plan properties are what Catalyst statically
guarantees (pushdown, pruning, TakeOrderedAndProject, Expand)."""

import contextlib
import io
import re

from pdf_parser_spark.dataops import DATAOPS_QUERIES
from pdf_parser_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _exchanges(plan: str) -> list[str]:
    return re.findall(r"^\(\d+\) Exchange", plan, re.M)


def test_status_filter_reaches_the_scan(spark):
    """R4: the predicate must be in PushedFilters (evaluated by the
    parquet reader, not a post-scan Filter) and the scan must read
    only the projected columns."""
    plan = _plan(QUERIES["r4_status_filtered_list"](spark, SF_DIR))
    assert "EqualTo(event_type,error)" in plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) <= 3  # pruned, not SELECT *


def test_tpch_q6_pushdown_and_pruning(spark):
    """Q6 is THE pushdown benchmark: range predicates on shipdate /
    discount / quantity all reach the scan; only the 4 referenced
    columns are read from the 16-column lineitem."""
    plan = _plan(QUERIES["tpch_q6"](spark, SF_DIR))
    for f in ("GreaterThanOrEqual(l_shipdate", "l_discount", "l_quantity"):
        assert f in plan.split("ReadSchema")[0]
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and len(m.group(1).split(",")) == 4


def test_topk_queries_use_takeordered_not_global_sort(spark):
    """Every top-k surface must compile to TakeOrderedAndProject
    (per-task k-row heaps + driver merge), never a global Sort."""
    for name in ("r2_pagination_topk",):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, name
    for name in ("ngram_topk", "weighted_sample"):
        plan = _plan(DATAOPS_QUERIES[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, name


def test_enrichment_join_broadcasts_the_dimension(spark):
    plan = _plan(QUERIES["r9_enrichment_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_unpivot_adds_no_shuffle_beyond_the_pivot(spark):
    """The melt is Expand inside the projection: exactly ONE exchange
    in the whole plan (the pivot's own groupBy)."""
    plan = _plan(DATAOPS_QUERIES["events_unpivot"](spark, SF_DIR))
    assert len(_exchanges(plan)) == 1
    assert re.search(r"^\(\d+\) Expand", plan, re.M)


def test_grouping_sets_expand_mapside(spark):
    """ROLLUP and CUBE stay single-shuffle: one Expand, one Exchange
    for the grouping aggregate (the broadcast exchange of the nation
    dim doesn't count — filter to shuffle exchanges only)."""
    for name in ("rollup_agg", "cube_agg"):
        plan = _plan(QUERIES[name](spark, SF_DIR))
        assert re.search(r"^\(\d+\) Expand", plan, re.M), name
        shuffle_ex = [
            line
            for line in plan.splitlines()
            if re.match(r"^\(\d+\) Exchange", line)
        ]
        assert len(shuffle_ex) == 1, (name, shuffle_ex)


def test_cms_estimates_via_broadcast_of_candidates(spark):
    """The 20-row candidate set must broadcast against the bounded
    cell table — a shuffle join here would re-shuffle the cells for a
    20-row probe."""
    plan = _plan(DATAOPS_QUERIES["cms_heavy_hitters"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # the candidate top-k itself


def test_tpch_completion_set_plan_shapes(spark):
    """Round-4 TPC-H additions, the plan properties their docstrings
    claim: Q2/Q18-style top-k compiles to TakeOrderedAndProject; Q21's
    EXISTS/NOT-EXISTS pair compiles to one LeftSemi + one LeftAnti
    (the probe side is never duplicated); Q16's supplier blocklist is
    a LeftAnti, its distinct count a single aggregation chain; Q9's
    dim joins broadcast part/supplier rather than shuffling
    lineitem."""
    plan2 = _plan(QUERIES["tpch_q2"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan2
    plan21 = _plan(QUERIES["tpch_q21"](spark, SF_DIR))
    assert re.search(r"Join LeftSemi", plan21), plan21
    assert re.search(r"Join LeftAnti", plan21), plan21
    assert "TakeOrderedAndProject" in plan21
    plan16 = _plan(QUERIES["tpch_q16"](spark, SF_DIR))
    assert re.search(r"Join LeftAnti", plan16), plan16
    plan9 = _plan(QUERIES["tpch_q9"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan9


def test_lang_mixture_single_scan_shape(spark):
    """The mixture keep decision must cost one corpus-sized pass: the
    rate table joins back via broadcast (never a shuffle of the
    documents side keyed on lang)."""
    plan = _plan(DATAOPS_QUERIES["lang_mixture"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # no exchange partitions the corpus on lang (only aggregation
    # exchanges over the tiny counts table are allowed)
    assert not re.search(r"Exchange hashpartitioning\(lang#\d+, \d+\)", plan), plan


def test_barrier_single_construction(spark):
    """Round-5 structural guard for the _barrier staging: each heavy
    array construction must appear EXACTLY ONCE in the physical plan.
    Catalyst's projection collapse inlines non-cheap aliases at every
    use site and an HOF lambda capturing an array subexpression
    re-evaluates it per element — the pre-fix plans carried ~17 copies
    of the trigram build (corpus_filter: 67.7 s at sf0.1 vs 1.5 s
    staged) and re-built winnow's rolling hash per window. Counting
    construction markers in the executed-plan text pins the staging:
    a refactor that drops a barrier reintroduces duplicate copies and
    fails here long before a bench line moves."""
    from pdf_parser_spark.suites import SUITE_QUERIES

    def full_plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    # trigram build marker: substring over the boundary-padded concat
    for name in ("lang_id", "corpus_filter"):
        p = full_plan(DATAOPS_QUERIES[name](spark, SF_DIR))
        assert p.count("substring(concat") == 1, name
        assert p.count("Generate explode") >= 2, name
    p = full_plan(SUITE_QUERIES["text_metrics"](spark, SF_DIR))
    assert p.count("substring(concat") == 1  # trigram build once
    # the suites compose the member builders, which stage the token
    # array once; the standalone members must be staged the same way
    for name in ("text_quality", "token_count"):
        p = full_plan(DATAOPS_QUERIES[name](spark, SF_DIR))
        assert p.count("regexp_extract_all") == 1, name
    p = full_plan(SUITE_QUERIES["doc_fingerprints"](spark, SF_DIR))
    assert p.count("regexp_extract_all") == 1
    assert p.count("ascii(") == 8
    # rolling-hash build marker: the 8 ascii() terms of ONE h construction
    p = full_plan(DATAOPS_QUERIES["doc_winnow_fingerprint"](spark, SF_DIR))
    assert p.count("ascii(") == 8
    assert p.count("Generate explode") >= 4
    # tokenizer marker: the token array regex runs once
    p = full_plan(DATAOPS_QUERIES["text_repetition"](spark, SF_DIR))
    assert p.count("regexp_extract_all") == 1
    assert p.count("Generate explode") >= 2
