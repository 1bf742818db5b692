"""The operator registry: the five query families merged into one
``QUERIES`` table (name -> query) and one ``ORACLES`` table (name ->
DuckDB SQL). Imported by the driver contract, bench and tests only —
not by the package ``__init__`` or ``pipeline``, so a Python worker that
imports the extraction pipeline never loads the operator modules."""

from pdf_parser_spark import dataops, multimodal, queries, search, suites


def _merge(families: list[tuple[dict, dict]]) -> tuple[dict, dict]:
    qs: dict = {}
    oracles: dict[str, str] = {}
    for fq, fo in families:
        # unconditional (not `assert`): a plain dict merge would keep
        # the later family's operator without a word
        dup = (qs.keys() & fq.keys()) | (oracles.keys() & fo.keys())
        if dup:
            raise RuntimeError(f"operator names registered twice: {sorted(dup)}")
        qs.update(fq)
        oracles.update(fo)
    return qs, oracles


QUERIES, ORACLES = _merge([
    (queries.QUERIES, queries.ORACLES),
    (dataops.DATAOPS_QUERIES, dataops.DATAOPS_ORACLES),
    (search.SEARCH_QUERIES, search.SEARCH_ORACLES),
    (suites.SUITE_QUERIES, suites.SUITE_ORACLES),
    (multimodal.MULTIMODAL_QUERIES, multimodal.MULTIMODAL_ORACLES),
])
