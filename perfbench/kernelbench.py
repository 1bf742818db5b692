"""Single-process microbench of the per-turn extraction kernel.

Runs ``kernels.extract.extract_turn`` over a fixed sample of the workload's
own turns, first untouched (``extract_turn.us_per_turn``), then with the
phase functions that ``kernels.extract`` calls wrapped in timers. Phase
times are per sample turn, so they add up to at most the kernel time.
"""

from __future__ import annotations

import time
from collections import Counter
from contextlib import contextmanager

from pdf_parser_spark.kernels import extract as extract_mod

# metric layer name -> the names kernels.extract imported and calls
PHASES = {
    "payload.parse_pdf_payload": ("parse_pdf_payload",),
    "kernels.layout": ("extract_digital_blocks",),
    "kernels.htmlstrip": ("extract_html_blocks",),
    "kernels.ocr_struct": ("parse_tesseract_result", "parse_and_sort_doctr", "postprocess_blocks"),
    "kernels.assemble": ("assemble_turn_text",),
}


@contextmanager
def _timed_phases(totals: dict[str, float]):
    originals = {}

    def wrap(layer: str, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                totals[layer] += time.perf_counter() - t0

        return timed

    for layer, names in PHASES.items():
        totals.setdefault(layer, 0.0)
        for n in names:
            originals[n] = getattr(extract_mod, n)
            setattr(extract_mod, n, wrap(layer, originals[n]))
    try:
        yield
    finally:
        for n, fn in originals.items():
            setattr(extract_mod, n, fn)


def run(sample: list[tuple[str, int, str, str]], repeats: int = 3) -> dict[str, float]:
    """Per-layer kernel metrics over ``sample`` rows of
    (conv_id, turn_idx, text, tool); times are the best of ``repeats``."""
    n = len(sample)
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        for _, turn_idx, text, tool in sample:
            extract_mod.extract_turn(text, turn_idx, tool)
        best = min(best, time.perf_counter() - t0)

    phase_best: dict[str, float] = {}
    wrapped_best = float("inf")
    for _ in range(repeats):
        totals: dict[str, float] = {}
        with _timed_phases(totals):
            t0 = time.perf_counter()
            results = [extract_mod.extract_turn(text, t, tool) for _, t, text, tool in sample]
            wrapped = time.perf_counter() - t0
        if wrapped < wrapped_best:
            wrapped_best, phase_best = wrapped, totals

    types = Counter(r["payload_type"] for r in results)
    out = {"kernels.extract_turn.us_per_turn": best / n * 1e6}
    for layer, total in phase_best.items():
        out[f"{layer}.us_per_turn"] = total / n * 1e6
    out["kernels.phase_share"] = sum(phase_best.values()) / wrapped_best
    for t in ("pdf", "html", "ocr", "tess", "doctr", "opaque"):
        out[f"kernels.turns.{t}"] = types.get(t, 0)
    out["kernels.fallback_share"] = sum(r["is_fallback"] for r in results) / n
    out["kernels.blocks_per_turn"] = sum(len(r["blocks"]) for r in results) / n
    out["kernels.spans_per_turn"] = sum(len(r["spans"]) for r in results) / n
    return out
