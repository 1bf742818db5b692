"""pdf_parser_spark — a PySpark-native main-content extraction engine.

Re-expresses the capabilities of the reference single-node document
parser (``ralphribeiro/pdf_parser``, surveyed in ``SURVEY.md``) as
vectorized pandas/Arrow UDF stages over Spark DataFrames of multi-turn
transcripts ``(conv_id, turn_idx, role, text, tool, ts)``.

Layout (flat modules; kernels are the one subpackage)
-----------------------------------------------------
- ``kernels/``      pure-Python/numpy reference kernels (exactness lives here)
- ``payload.py``    deterministic transcript synthesizer + payload classifier
- ``pipeline.py``   the Spark extraction pipeline (salting, ordering, metrics)
- ``dataops.py``    training-data ops: dedup, ANN search, text stats, sketches
- ``queries.py``    driver-contract relational queries + DuckDB oracles
- ``search.py``     semantic search (doc vectors, index sink, keyword re-rank)
- ``joins.py``      as-of join and bucketed range join operators
- ``runner.py``     bucketed checkpoint/resume runner + lineage table
- ``streaming.py``  Structured Streaming analogues of the job queue
- ``multimodal.py`` binary-column (image/audio) plumbing with stub decode
- ``agent_tools.py``agent tool surface over the engine queries
- ``agent.py``      deterministic ReAct loop over those tools (stub LLM)
- ``suites.py``     composite driver-gate queries (operator -> gate key)
- ``registry.py``   the five query families merged into QUERIES / ORACLES
- ``physical.py``   storage layout: bucketed tables, day-partition pruning
"""

__version__ = "0.1.0"
