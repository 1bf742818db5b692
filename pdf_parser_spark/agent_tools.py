"""§2.10 agent tool surface: the reference's four agent tools
re-expressed over the engine's tables (reference:
services/agent/tools.py:125-232). The deterministic ReAct loop that
drives these tools (reference services/agent/agent.py:221-308) lives
in agent.py; only the LLM itself is injected there.

Each tool composes existing engine queries (search_index / rank_search,
conversation_metrics, keyword filter) and renders the reference's
JSON-lines string contract. Tools return top-k / limited results, so
the driver-side materialization here is bounded by construction — the
distributed work (scan, filter, rank) all happens in the plan before
the final small collect, exactly like the reference's service calls.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .search import DEFAULT_QUERY, TOPK, rank_search

NO_RESULTS = "No results found."


def search_chunks(
    vecs: DataFrame,
    docs: DataFrame,
    *,
    query: str = DEFAULT_QUERY,
    n_results: int = 5,
    document_id: int | None = None,
) -> str:
    """Semantic search tool (tools.py:125-159): R7 cosine -> R8 re-rank
    -> JSON-lines of the top hits. ``document_id`` scopes to one doc
    (the reference's forced doc scoping, agent.py:263-277)."""
    if document_id is not None:
        docs = docs.filter(F.col("doc_id") == document_id)
        vecs = vecs.filter(F.col("doc_id") == document_id)
    hits = rank_search(vecs, docs, query, topk=n_results).collect()
    if not hits:
        return NO_RESULTS
    return "\n".join(
        json.dumps(
            {
                "rank": r["rank"],
                "doc_id": r["doc_id"],
                "similarity": r["similarity"],
            },
            ensure_ascii=False,
        )
        for r in hits
    )


def get_document(extracted: DataFrame, *, conv_id: str) -> str:
    """Metadata tool (tools.py:162-181): one conversation's totals."""
    from .pipeline import conversation_metrics

    rows = conversation_metrics(extracted.filter(F.col("conv_id") == conv_id)).collect()
    if not rows:
        return f"Document not found: {conv_id}"
    r = rows[0]
    return json.dumps(
        {
            "document_id": r["conv_id"],
            "total_pages": r["n_turns"],
            "total_blocks": r["total_blocks"],
            "total_tables": r["total_tables"],
            "ocr_fallback_rate": r["ocr_fallback_rate"],
        },
        ensure_ascii=False,
    )


def list_documents(
    extracted: DataFrame, *, source: str | None = None, limit: int = 20
) -> str:
    """Listing tool (tools.py:184-203): conversations with their turn
    counts, optionally filtered by extraction source (the status
    analogue), ordered by conv_id, limited."""
    df = extracted
    if source is not None:
        df = df.filter(F.col("source") == source)
    rows = (
        df.groupBy("conv_id")
        .agg(F.count("*").alias("n_turns"))
        .orderBy("conv_id")
        .limit(limit)
        .collect()
    )
    if not rows:
        return NO_RESULTS
    return "\n".join(
        json.dumps({"document_id": r["conv_id"], "total_pages": r["n_turns"]})
        for r in rows
    )


def search_document_text(
    extracted: DataFrame, *, conv_id: str, keyword: str, limit: int = 20
) -> str:
    """Keyword tool (tools.py:206-232): case-insensitive substring over
    one conversation's extracted turns (R6 scoped to a document). The
    conv_id predicate prunes before the substring scan."""
    if not keyword:
        return "Error: 'keyword' parameter is required."
    hits = (
        extracted.filter(
            (F.col("conv_id") == conv_id)
            & F.lower(F.col("extracted_text")).contains(keyword.lower())
        )
        .select("conv_id", "turn_idx", "n_chars")
        .orderBy("turn_idx")
        .limit(limit)
        .collect()
    )
    if not hits:
        return f"No passages found with '{keyword}'."
    return "\n".join(
        json.dumps(
            {"document_id": r["conv_id"], "page": r["turn_idx"], "n_chars": r["n_chars"]}
        )
        for r in hits
    )
