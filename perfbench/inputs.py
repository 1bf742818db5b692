"""Seeded benchmark inputs, their content checksums and reference results.

Every input is a pure function of (workload spec, seed, size) and is cached
under ``<checkout>/.perfbench/cache`` keyed by exactly those values, so a
repeated run reuses it and a change to the synthesizer shows up as a new
checksum rather than as a speed change. The reference results are computed
once per input, outside any timed region:

- transcript corpora: the pure-Python ``kernels.extract.extract_turn`` over
  every turn gives an order-independent output digest (see ``item_digest``)
  plus the run-metric counters. The reference is computed by the code of the
  checkout that first fills the cache, so its meta records a hash of the
  kernel and payload sources (``code_hash``); every result prints it next
  to the hash of the code being measured, and the reference digest itself,
  so a kernel change that alters the output shows up when two commits'
  results for the same seed are compared;
- ops tables: DuckDB runs each query's oracle SQL over the same parquet
  files and the normalized result is stored beside them.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2
ROLES = ("user", "assistant", "tool")
BASE_EPOCH = 1_700_000_000
CORPUS_FILES = 8  # parquet files per corpus, rows in shuffled order


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of a generated transcript corpus."""

    name: str
    mix: tuple[tuple[str, int], ...]  # (payload flavor, weight in %)
    heavy_every: int = 0  # every n-th conversation is heavy_factor x longer
    heavy_factor: int = 1
    long_conv_share: float = 0.0  # conversation 0 holds this share of all turns

    def key(self) -> str:
        raw = json.dumps([GENERATOR_VERSION, self.__dict__], sort_keys=True, default=list)
        return hashlib.sha1(raw.encode()).hexdigest()[:10]


# The synthesizer's own flavor mix (payload._pick_flavor) with its skewed
# conversation lengths: 3-20 turns, every 50th conversation 40x longer.
MIXED = CorpusSpec(
    "mixed",
    (("pdf", 45), ("html", 25), ("ocr", 18), ("tess", 4), ("doctr", 4), ("opaque", 4)),
    heavy_every=50,
    heavy_factor=40,
)
# Only the cheap payload kernels, plus one conversation far longer than
# the rest (an eighth of the corpus).
LIGHT = CorpusSpec(
    "light",
    (("ocr", 40), ("tess", 25), ("doctr", 25), ("opaque", 10)),
    long_conv_share=0.125,
)


def cache_root(root: str) -> str:
    return os.path.join(root, ".perfbench", "cache")


# ---------------------------------------------------------------------------
# Output digest shared by the Spark check and the pure-Python reference
# ---------------------------------------------------------------------------


def code_hash(root: str) -> str:
    """sha1 prefix over the sources the reference depends on: the kernels
    package and the payload parser/synthesizer."""
    pkg = os.path.join(root, "pdf_parser_spark")
    paths = [os.path.join(pkg, "payload.py")] + sorted(
        os.path.join(pkg, "kernels", n) for n in os.listdir(os.path.join(pkg, "kernels")) if n.endswith(".py")
    )
    sha = hashlib.sha1()
    for p in paths:
        sha.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            sha.update(f.read())
    return sha.hexdigest()[:12]


def item_digest(conv_id: str, turn_idx: int, role: str, res: dict) -> int:
    """60-bit digest of one extracted turn. The Spark side builds the same
    string with concat_ws and takes the same md5 prefix (see
    ``workloads.digest_row``); XOR and sum over these are independent
    of row order. Generated turns are dense per conversation, so the
    ordering window's ``turn_seq`` must be ``turn_idx + 1``."""
    spans = ";".join(f"{s['block_id']}:{s['start']}:{s['end']}" for s in res["spans"])
    item = "|".join(
        [
            conv_id,
            str(turn_idx),
            str(turn_idx + 1),
            role,
            res["payload_type"],
            res["source"],
            "true" if res["is_fallback"] else "false",
            str(len(res["blocks"])),
            hashlib.md5(res["extracted_text"].encode("utf-8")).hexdigest(),
            spans,
        ]
    )
    return int(hashlib.md5(item.encode("utf-8")).hexdigest()[:15], 16)


def _plan_corpus(spec: CorpusSpec, seed: int, n_turns: int) -> list[tuple[str, list[tuple]]]:
    """All random choices, made up front in one process: per conversation,
    the (turn_idx, flavor, payload seed, opaque-tool flag) of each turn.
    The total is exactly ``n_turns``."""
    rng = np.random.default_rng([seed, GENERATOR_VERSION])
    flavors = [f for f, _ in spec.mix]
    weights = np.array([w for _, w in spec.mix], dtype=float)
    weights /= weights.sum()
    lengths: list[int] = []
    if spec.long_conv_share:
        lengths.append(max(1, int(n_turns * spec.long_conv_share)))
    total = sum(lengths)
    while total < n_turns:
        c = len(lengths)
        n = 3 + int(rng.integers(0, 18))
        if spec.heavy_every and c % spec.heavy_every == spec.heavy_every - 1:
            n *= spec.heavy_factor
        n = min(n, n_turns - total)
        lengths.append(n)
        total += n
    kinds = rng.choice(len(flavors), size=n_turns, p=weights)
    pseeds = rng.integers(0, 2**31, size=n_turns)
    tool_flags = rng.random(n_turns) < 0.5
    plan, i = [], 0
    for c, n in enumerate(lengths):
        turns = [
            (t, flavors[kinds[i + t]], int(pseeds[i + t]), bool(tool_flags[i + t]))
            for t in range(n)
        ]
        plan.append((f"conv_{c:06d}", turns))
        i += n
    return plan


def _build_convs(chunk: list[tuple[str, list[tuple]]]) -> tuple[list[tuple], dict]:
    """Pool worker: materialize payloads and run the reference kernel."""
    from pdf_parser_spark.kernels.extract import extract_turn
    from pdf_parser_spark.payload import make_payload

    rows, ref = [], new_reference()
    for conv_id, turns in chunk:
        for t, flavor, pseed, tool_flag in turns:
            text = make_payload(flavor, pseed)
            tool = "opaque" if flavor == "opaque" and tool_flag else ""
            ts = (BASE_EPOCH + (int(conv_id[5:]) % 3650) * 86_400 + t * 60) * 1_000_000
            rows.append((conv_id, t, ROLES[t % 3], text, tool, ts))
            res = extract_turn(text, t, tool)
            add_reference(ref, item_digest(conv_id, t, ROLES[t % 3], res), res)
        ref["conversations"] += 1
    return rows, ref


def new_reference() -> dict:
    return {
        "turns_parsed": 0,
        "conversations": 0,
        "blocks_emitted": 0,
        "spans_emitted": 0,
        "chars_extracted": 0,
        "fallback_turns": 0,
        "digest_xor": 0,
        "digest_sum": 0,
    }


def add_reference(ref: dict, h: int, res: dict) -> None:
    ref["turns_parsed"] += 1
    ref["blocks_emitted"] += len(res["blocks"])
    ref["spans_emitted"] += len(res["spans"])
    ref["chars_extracted"] += len(res["extracted_text"])
    ref["fallback_turns"] += int(res["is_fallback"])
    ref["digest_xor"] ^= h
    ref["digest_sum"] += h >> 20


def merge_reference(a: dict, b: dict) -> dict:
    out = {k: a[k] + b[k] for k in a if k != "digest_xor"}
    out["digest_xor"] = a["digest_xor"] ^ b["digest_xor"]
    return out


def _write_atomic_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, sort_keys=True)
    os.replace(tmp, path)


def ensure_corpus(root: str, spec: CorpusSpec, seed: int, n_turns: int, procs: int) -> dict:
    """Return ``{"dir", "checksum", "reference", "code_hash", "cached"}``
    for the corpus, generating it (in ``procs`` worker processes) on a cache
    miss. Files are written in shuffled row order, so the pipeline must
    restore the (conv_id, turn_idx) order itself."""
    d = os.path.join(cache_root(root), f"corpus-{spec.name}-{spec.key()}-n{n_turns}-s{seed}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return {**json.load(f), "dir": os.path.join(d, "corpus"), "cached": True}
    shutil.rmtree(d, ignore_errors=True)
    plan = _plan_corpus(spec, seed, n_turns)
    n_chunks = max(1, procs * 4)
    chunks = [plan[i::n_chunks] for i in range(n_chunks)]
    ctx = multiprocessing.get_context("fork")  # runs before any JVM or thread exists
    with ctx.Pool(procs) as pool:
        parts = pool.map(_build_convs, chunks)
    rows = [r for part, _ in parts for r in part]
    reference = new_reference()
    for _, ref in parts:
        reference = merge_reference(reference, ref)

    rows.sort(key=lambda r: (r[0], r[1]))
    sha = hashlib.sha256()
    for conv_id, t, role, text, tool, _ in rows:
        sha.update(f"{conv_id}\t{t}\t{role}\t{tool}\t{text}\n".encode("utf-8"))
    order = np.random.default_rng([seed, GENERATOR_VERSION, 1]).permutation(len(rows))
    rows = [rows[i] for i in order]
    table = pa.table(
        {
            "conv_id": pa.array([r[0] for r in rows], pa.string()),
            "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
            "role": pa.array([r[2] for r in rows], pa.string()),
            "text": pa.array([r[3] for r in rows], pa.string()),
            "tool": pa.array([r[4] for r in rows], pa.string()),
            "ts": pa.array([r[5] for r in rows], pa.timestamp("us")),
        }
    )
    out = os.path.join(d, "corpus")
    os.makedirs(out)
    step = -(-len(rows) // CORPUS_FILES)
    for i in range(CORPUS_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(out, f"part-{i:05d}.parquet"))
    meta = {"checksum": sha.hexdigest(), "reference": reference, "n_turns": len(rows), "code_hash": code_hash(root)}
    _write_atomic_json(meta_path, meta)
    return {**meta, "dir": out, "cached": False}


def read_sample(corpus_dir: str, n: int) -> list[tuple[str, int, str, str]]:
    """The first ``n`` rows of the corpus in (conv_id, turn_idx) order —
    a fixed, seed-determined sample for the kernel microbench."""
    t = pq.read_table(corpus_dir, columns=["conv_id", "turn_idx", "text", "tool"])
    rows = sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    return rows[:n]


# ---------------------------------------------------------------------------
# ops tables: a seeded star schema + events + documents + embeddings with the
# column names and types the query modules read
# ---------------------------------------------------------------------------

OPS_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _ts_us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _gen_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, GENERATOR_VERSION, 7])
    n_cust, n_supp, n_part = int(150_000 * scale), max(10, int(10_000 * scale)), int(200_000 * scale)
    n_orders, n_events = int(1_500_000 * scale), int(1_000_000 * scale)
    n_docs, n_emb = max(100, int(50_000 * scale)), max(100, int(50_000 * scale))
    day = 86_400_000_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    adj, noun = np.array(["small", "red", "large", "hot", "blue"]), np.array(["ring", "widget", "bolt", "gear"])
    types = np.array(["ECONOMY", "LARGE", "SMALL", "PROMO BRUSHED", "STANDARD"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj[rng.integers(0, 5, n_part)], noun[rng.integers(0, 4, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 5, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    start, span_days = _ts_us(1995, 1, 1), 2404  # 1995-01-01 .. 2001-08-01
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odate = start + rng.integers(0, span_days, n_orders) * day
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_orders)],
    })
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 95, n_li) * day, pa.timestamp("us")),
    })
    ev_start = _ts_us(2024, 1, 1)
    ets = np.sort(ev_start + rng.integers(0, 30 * day, n_events))
    etypes = np.array(["signup", "click", "error", "view", "purchase"])
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_cust // 10), n_events), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(40.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    # documents: bag-of-vocab texts; about one in ten is a near copy of an
    # earlier document (a few words swapped, sometimes a "dup" marker), so
    # the dedup operators have real pairs to find
    vocab = np.array(_DOC_VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
            if rng.random() < 0.5:
                words.append("dup")
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def oracle_sql() -> dict[str, str]:
    """Every DuckDB oracle the query modules register, by query name."""
    from pdf_parser_spark.dataops import DATAOPS_ORACLES
    from pdf_parser_spark.queries import ORACLES
    from pdf_parser_spark.search import SEARCH_ORACLES
    from pdf_parser_spark.suites import SUITE_ORACLES

    return {**ORACLES, **DATAOPS_ORACLES, **SEARCH_ORACLES, **SUITE_ORACLES}


def ensure_ops_tables(root: str, seed: int, scale: float, names: list[str]) -> dict:
    """Return ``{"dir", "checksum", "oracle_dir", "cached"}`` for the ops
    tables at (seed, scale), with the DuckDB oracle result of each query in
    ``names`` stored as parquet in ``oracle_dir``."""
    import duckdb

    d = os.path.join(cache_root(root), f"ops-v{GENERATOR_VERSION}-x{scale:g}-s{seed}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if set(names) <= set(meta["oracles"]):
            return {**meta, "dir": os.path.join(d, "tables"), "oracle_dir": os.path.join(d, "oracle"), "cached": True}
    shutil.rmtree(d, ignore_errors=True)
    tdir, odir = os.path.join(d, "tables"), os.path.join(d, "oracle")
    os.makedirs(tdir)
    os.makedirs(odir)
    sha = hashlib.sha256()
    for name, table in _gen_tables(seed, scale).items():
        path = os.path.join(tdir, f"{name}.parquet")
        pq.write_table(table, path)
        sha.update(name.encode())
        for col in table.columns:
            sha.update(str(col.to_pylist()).encode())
    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for t in OPS_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tdir}/{t}.parquet')")
        for name in names:
            con.execute(sql[name]).df().to_parquet(os.path.join(odir, f"{name}.parquet"))
    finally:
        con.close()
    meta = {"checksum": sha.hexdigest(), "oracles": sorted(names)}
    _write_atomic_json(meta_path, meta)
    return {**meta, "dir": tdir, "oracle_dir": odir, "cached": False}
