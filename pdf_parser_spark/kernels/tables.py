"""Table kernels (T3 and T5 in SURVEY.md §2.4; T4 is not implemented).

reference: src/extractors/tables.py:117-199. T1 (camelot lattice
parse) is PDF-library-bound; in the transcript graft, table regions
arrive as HTML ``<table>`` markup or aligned text and are parsed by
payload.py / htmlstrip.py, then flow through these kernels. T6 (OCR
table detection) is an unimplemented stub in the reference
(tables.py:94-114) and stays out of scope.
"""

from __future__ import annotations

TABLE_MIN_ACCURACY = 0.7  # reference: config.py:138 (TABLE_ACCURACY_THRESHOLD)


def merge_table_cells(rows: list[list[str]]) -> list[list[str]]:
    """T3 — reference: src/extractors/tables.py:117-141 (strip every cell)."""
    if not rows:
        return rows
    return [[str(cell).strip() for cell in row] for row in rows]


def normalize_table_data(rows: list[list[str]]) -> list[list[str]]:
    """T5 — reference: src/extractors/tables.py:171-199.

    Strip, flatten internal newlines, collapse whitespace per cell.
    """
    normalized = []
    for row in rows:
        normalized_row = []
        for cell in row:
            cell_str = str(cell).strip()
            cell_str = cell_str.replace("\n", " ")
            cell_str = " ".join(cell_str.split())
            normalized_row.append(cell_str)
        normalized.append(normalized_row)
    return normalized


def drop_empty_rows(rows: list[list[str]]) -> list[list[str]]:
    """Part of T1 — reference: src/extractors/tables.py:56 keeps a row
    only if any cell has non-whitespace content."""
    return [row for row in rows if any(str(c).strip() for c in row)]
