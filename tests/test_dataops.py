"""Unit/property tests for the training-data ops (dataops + multimodal).

The oracle-equality gate for these lives in test_queries_contract.py
(auto-parametrized over queries()); here we test op-specific properties
the oracle can't express."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.dataops import (
    MINHASH_JACCARD_MIN,
    _lsh_planes,
    q_ann_cosine_topk,
    q_ann_lsh_topk,
    q_minhash_near_dup,
    q_ngram_jaccard_topk,
    q_simhash_dedup,
)
from pdf_parser_spark.multimodal import (
    _decode_stub,
    decode_media,
    media_table,
    q_multimodal_meta,
)

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_planes_deterministic_and_balanced():
    p1, p2 = _lsh_planes(0), _lsh_planes(0)
    assert p1 == p2
    assert p1 != _lsh_planes(1)  # per-table seeding
    assert len(p1) == 4 and all(len(r) == 64 for r in p1)
    for row in p1:
        pos = sum(1 for x in row if x > 0)
        assert 16 <= pos <= 48  # md5 parity should be roughly balanced


def test_minhash_candidates_are_true_pairs(spark):
    """Every minhash-surfaced pair must carry its exact verified jaccard
    >= threshold (LSH may miss pairs; it must never fabricate them)."""
    mh = q_minhash_near_dup(spark, SF_DIR).toPandas()
    assert (mh["jaccard"] >= MINHASH_JACCARD_MIN).all()
    assert (mh["doc_a"] < mh["doc_b"]).all()
    # and the pair set is a subset of the brute-force top pairs' universe
    bf = q_ngram_jaccard_topk(spark, SF_DIR).toPandas()
    bf_pairs = set(zip(bf["doc_a"], bf["doc_b"]))
    mh_pairs = set(zip(mh["doc_a"], mh["doc_b"]))
    # the brute-force top-20 with highest jaccard should largely be
    # rediscovered by LSH (recall on the easiest pairs)
    top5 = set(zip(bf.head(5)["doc_a"], bf.head(5)["doc_b"]))
    assert len(top5 & mh_pairs) >= 3
    assert bf_pairs  # non-trivial corpus overlap exists


def test_simhash_close_texts_close_hashes(spark):
    """SimHash of a doc vs itself-with-one-word-changed differs in few
    bits (the property that makes it a near-dup key)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(1).toPandas()
    base = docs["text"].iloc[0]
    toks = base.split()
    toks[len(toks) // 2] = "zzzdifferent"
    perturbed = " ".join(toks)
    pdf = pd.DataFrame({"doc_id": [0, 1], "text": [base, perturbed]})
    import tempfile, os
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(pdf).write.parquet(os.path.join(td, "documents.parquet"))
        out = q_simhash_dedup(spark, td).toPandas().sort_values("doc_id")
        h0, h1 = int(out["simhash"].iloc[0]), int(out["simhash"].iloc[1])
    assert bin(h0 ^ h1).count("1") <= 4


def test_ann_lsh_subset_of_bruteforce_universe(spark):
    """LSH top-k returns (query, neighbor, cosine) whose cosine equals
    the brute-force cosine for the same pair (bucketing changes recall,
    never the similarity value)."""
    bf = q_ann_cosine_topk(spark, SF_DIR).toPandas()
    lsh = q_ann_lsh_topk(spark, SF_DIR).toPandas()
    bf_map = {(r.query_id, r.neighbor_id): r.cosine for r in bf.itertuples()}
    for r in lsh.itertuples():
        key = (r.query_id, r.neighbor_id)
        if key in bf_map:
            assert abs(bf_map[key] - r.cosine) < 1e-9


def test_decode_stub_deterministic_per_type():
    img = _decode_stub("image", b"hello world payload")
    img2 = _decode_stub("image", b"hello world payload")
    assert img == img2
    assert img["width"] is not None and img["height"] is not None
    assert img["duration_s"] is None
    aud = _decode_stub("audio", b"hello world payload")
    assert aud["duration_s"] is not None and aud["width"] is None
    vid = _decode_stub("video", b"xyz")
    assert vid["n_frames"] is not None and vid["duration_s"] is not None
    assert len(vid["features"]) == 8  # padded to fixed dim


def test_media_pipeline_schema_and_counts(spark):
    media = media_table(spark, SF_DIR)
    decoded = decode_media(media)
    assert decoded.count() == media.count()
    row = decoded.filter(F.col("media_type") == "image").first()
    assert row.width is not None and len(row.features) == 8
    meta = q_multimodal_meta(spark, SF_DIR).toPandas()
    assert set(meta["media_type"]) == {"image", "audio", "video"}
    assert (meta["n_media"] > 0).all()


def test_ann_recall_floors(spark):
    """Approximate paths must stay useful: recall@5 vs brute force via
    the q_ann_accuracy contract query. Measured after the round-4
    sweep (scripts/ann_sweep.py): LSH (32 tables x 4 planes) 0.96 at
    sf0.001 / 1.0 at sf0.01+sf0.1, IVF (16 lists, nprobe 10, 2-way
    list replication) 1.0 at all three SFs. Floors sit at the VERDICT
    r3 target (>=0.95); the pipeline is fully deterministic (fixed
    data, md5-seeded planes/centroids), so the measured values are
    exact, not a flake band."""
    from pdf_parser_spark.dataops import q_ann_accuracy

    acc = q_ann_accuracy(spark, SF_DIR).toPandas()
    mean_recall = acc.groupby("method")["recall_at_5"].mean()
    assert mean_recall["lsh"] >= 0.95
    assert mean_recall["ivf"] >= 0.95
    # k_returned is never above the configured top-k and every row's
    # overlap is consistent with its recall
    assert (acc["k_returned"] <= 5).all()
    assert (abs(acc["n_overlap"] / 5 - acc["recall_at_5"]) < 1e-9).all()


def test_training_shards_is_a_permutation(spark):
    """The shard/position assignment is a reproducible permutation:
    every doc appears exactly once, each shard's positions are a
    contiguous 1..n run, shards are hash-balanced (no shard more than
    2x the mean on this corpus), and a re-run is bit-identical (no
    hidden nondeterminism in the window order)."""
    from pdf_parser_spark.dataops import TRAIN_N_SHARDS, q_training_shards

    a = q_training_shards(spark, SF_DIR).toPandas().sort_values("doc_id")
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(a) == n_docs and a["doc_id"].is_unique
    assert set(a["shard"]) <= set(range(TRAIN_N_SHARDS))
    for _, grp in a.groupby("shard"):
        assert sorted(grp["position"]) == list(range(1, len(grp) + 1))
    sizes = a.groupby("shard").size()
    assert sizes.max() <= 2 * sizes.mean()
    b = q_training_shards(spark, SF_DIR).toPandas().sort_values("doc_id")
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_ann_int8_recall_floor(spark):
    """int8 quantization must not cost retrieval quality on this
    corpus: recall@5 (exact float top-5 found within the quantized
    top-10) >= 0.9 per query. Measured 1.0 at scales 32/64/128 during
    tuning; INT8_SCALE=64 shipped. Deterministic — fixed data, floor
    quantization — so the measured value is exact, not a flake band."""
    from pdf_parser_spark.dataops import q_ann_int8_accuracy

    acc = q_ann_int8_accuracy(spark, SF_DIR).toPandas()
    assert (acc["recall_at_5"] >= 0.9).all()
    assert (acc["k_returned"] <= 10).all()
    assert (abs(acc["n_overlap"] / 5 - acc["recall_at_5"]) < 1e-9).all()


def test_ann_ivf_int8_recall_floor(spark):
    """IVF routing + int8 list scoring must keep the exact float top-5
    inside its top-10 shortlist (recall >= 0.9 per query; measured 1.0
    at sf0.001 and sf0.01). At the tighter k=5 cut the quantization
    flips rank-4/5 boundaries (measured 0.88), which is exactly why
    the member keeps the 2x shortlist — the standard scan-cheap,
    re-rank-exact trade."""
    from pdf_parser_spark.dataops import q_ann_cosine_topk, q_ann_ivf_int8_topk

    exact = q_ann_cosine_topk(spark, SF_DIR).filter("rank <= 5").toPandas()
    got = q_ann_ivf_int8_topk(spark, SF_DIR).toPandas()
    assert got.groupby("query_id").size().max() <= 10
    rec = exact.merge(got, on=["query_id", "neighbor_id"]).groupby("query_id").size() / 5.0
    assert len(rec) == exact["query_id"].nunique()
    assert (rec >= 0.9).all()


def test_semantic_dedup_invariants(spark):
    """The SemDeDup verdict's two structural guarantees, checked
    against an independently computed within-cluster cosine pair
    table: (a) the KEPT set is an independent set — no two kept
    vectors in one cluster within the cosine ball; (b) every DROPPED
    vector has a lower-id in-ball witness in its cluster and its
    n_dups equals the witness count. Also: all-vectors grain and
    non-trivial drops (the corpus really has semantic near-dups)."""
    import numpy as np

    from pdf_parser_spark.dataops import (
        SEMDEDUP_COS_MIN,
        q_embedding_kmeans,
        q_semantic_dedup,
    )

    verdict = q_semantic_dedup(spark, SF_DIR).toPandas()
    embs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").toPandas()
    km = q_embedding_kmeans(spark, SF_DIR).toPandas()[["vec_id", "cluster"]]
    assert len(verdict) == len(embs) and verdict["vec_id"].is_unique
    assert not verdict["keep"].all() and verdict["keep"].any()

    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
        for r in embs.itertuples()
    }
    cluster_of = dict(zip(km["vec_id"], km["cluster"]))
    by_cluster: dict[int, list[int]] = {}
    for vid, c in cluster_of.items():
        by_cluster.setdefault(int(c), []).append(int(vid))
    witness_count = {int(v): 0 for v in cluster_of}
    for members in by_cluster.values():
        members.sort()
        for i, b in enumerate(members):
            for a in members[i + 1 :]:
                va, vb = vecs[a], vecs[b]
                cos = round(
                    float(va @ vb)
                    / (float(np.sqrt(va @ va)) * float(np.sqrt(vb @ vb))),
                    6,
                )
                if cos >= SEMDEDUP_COS_MIN:
                    witness_count[a] += 1  # b < a is the witness

    v = verdict.set_index("vec_id")
    for vid, n in witness_count.items():
        assert int(v.loc[vid, "n_dups"]) == n
        assert bool(v.loc[vid, "keep"]) == (n == 0)
    kept = set(v[v["keep"]].index)
    # independent set: a kept vector with a kept lower-id in-ball
    # neighbor is impossible (witness_count would be > 0)
    assert all(witness_count[k] == 0 for k in kept)


def test_kmeans_partition_properties(spark):
    """Every vector lands in exactly one cluster; the seeded clustering
    is non-degenerate (more than one populated cluster)."""
    from pdf_parser_spark.dataops import q_embedding_kmeans

    km = q_embedding_kmeans(spark, SF_DIR).toPandas()
    n_vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    assert len(km) == n_vecs
    assert km["vec_id"].is_unique
    assert km["cluster"].nunique() > 1
    assert (km["cosine"] <= 1.000001).all()


def test_winnow_fingerprint_properties(spark):
    """Identical text -> identical fingerprint; any text change ->
    different fingerprint (w.h.p.); docs shorter than GRAM chars have
    no grams at all."""
    import os
    import tempfile

    from pdf_parser_spark.dataops import q_doc_winnow_fingerprint

    texts = {
        0: "the quick brown fox jumps over the lazy dog again and again",
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "the quick brown fox jumps over the lazy cat again and again",
        3: "tiny",
    }
    pdf = pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(pdf).write.parquet(os.path.join(td, "documents.parquet"))
        out = q_doc_winnow_fingerprint(spark, td).toPandas().set_index("doc_id")
    assert out.loc[0, "fingerprint"] == out.loc[1, "fingerprint"]
    assert out.loc[0, "fingerprint"] != out.loc[2, "fingerprint"]
    assert out.loc[3, "n_grams"] == 0 and out.loc[3, "n_selected"] == 0
    assert out.loc[0, "n_selected"] <= out.loc[0, "n_grams"]


def test_resize_geometry(spark):
    """Aspect-preserving letterbox geometry: scale = min of ratios,
    padding centers the scaled image; only image/video rows resize."""
    from pdf_parser_spark.multimodal import resize_images

    decoded = decode_media(media_table(spark, SF_DIR))
    rs = resize_images(decoded).toPandas()
    assert set(rs["media_type"]) <= {"image", "video"}
    assert (rs["dst_width"] == 224).all() and (rs["dst_height"] == 224).all()
    for r in rs.itertuples():
        expect = min(224 / r.src_width, 224 / r.src_height)
        assert abs(r.scale - round(expect, 6)) < 1e-9
        assert 0 <= r.pad_x <= 112 and 0 <= r.pad_y <= 112
        # at least one axis is tight (letterbox pads only the other)
        assert r.pad_x == 0 or r.pad_y == 0


def test_frame_sampling_uniform(spark):
    """Every video emits FRAME_SAMPLE_N frames with monotone indices
    inside [0, n_frames)."""
    from pdf_parser_spark.multimodal import FRAME_SAMPLE_N, sample_frames

    decoded = decode_media(media_table(spark, SF_DIR))
    vids = decoded.filter(F.col("media_type") == "video").toPandas().set_index("media_id")
    fr = sample_frames(decoded).toPandas()
    per = fr.groupby("media_id")
    assert (per.size() == FRAME_SAMPLE_N).all()
    for mid, grp in per:
        total = int(vids.loc[mid, "n_frames"])
        idx = grp.sort_values("frame_no")["frame_index"].tolist()
        assert idx == sorted(idx)
        assert all(0 <= i < total for i in idx)


def test_memo_returns_one_build_until_cleared(spark):
    """A memoized builder hands back the identical object on a repeat
    call; clear_memo_caches empties the memo and every pin list, and
    the next call builds afresh."""
    from pdf_parser_spark import dataops

    first = dataops._doc_shingles(spark, SF_DIR)
    assert dataops._doc_shingles(spark, SF_DIR) is first
    dataops.q_contamination_check(spark, SF_DIR)
    assert dataops._MEMO and any(dataops._PINS.values())
    dataops.clear_memo_caches()
    assert not dataops._MEMO
    assert not any(dataops._PINS.values())
    assert dataops._doc_shingles(spark, SF_DIR) is not first


def test_pin_keeps_only_the_latest_call(spark):
    """A repeated op unpins its previous call's frames: only the
    second call's frames stay persisted."""
    from pdf_parser_spark import dataops

    dataops.q_contamination_check(spark, SF_DIR)
    first = list(dataops._PINS["contamination_check"])
    dataops.q_contamination_check(spark, SF_DIR)
    second = dataops._PINS["contamination_check"]
    assert len(first) == len(second) == 2
    assert all(df.is_cached for df in second)
    assert not any(df.is_cached for df in first)
    assert not any(a is b for a in first for b in second)


def test_app_keyed_memo_lives_in_one_helper():
    """Only the memo helper keys on the Spark app: a builder with its
    own app-keyed cache would slip past clear_memo_caches."""
    import inspect

    from pdf_parser_spark import dataops

    assert inspect.getsource(dataops).count("applicationId") == 1


def test_contamination_check_properties(spark):
    """Benchmark docs (doc_id % 97 == 0) never appear in the output;
    ratios live in [0,1]; zero-gram docs are retained with ratio 0."""
    from pdf_parser_spark.dataops import (
        CONTAM_BENCH_MOD,
        CONTAM_THRESHOLD,
        q_contamination_check,
    )

    out = q_contamination_check(spark, SF_DIR).toPandas()
    assert (out["doc_id"] % CONTAM_BENCH_MOD != 0).all()
    assert ((out["contamination"] >= 0) & (out["contamination"] <= 1)).all()
    assert (out["n_hits"] <= out["n_grams"]).all()
    # the verdict is exactly threshold(ratio), and both sides occur
    assert (out["contaminated"] == (out["contamination"] >= CONTAM_THRESHOLD)).all()
    assert out["contaminated"].nunique() == 2
    # every corpus doc is present (left join keeps zero-hit docs)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()
    expect = (docs["doc_id"] % CONTAM_BENCH_MOD != 0).sum()
    assert len(out) == expect


def test_span_dedup_first_occurrence_wins(spark):
    """The lowest doc_id containing a gram is never charged for it:
    per-doc n_dup < n_grams for the minimum doc_id, and the doc with
    the smallest id in the corpus has dup_ratio 0."""
    from pdf_parser_spark.dataops import q_span_dedup

    out = q_span_dedup(spark, SF_DIR).toPandas().sort_values("doc_id")
    # every doc gets a verdict, including zero-gram (<3-token) docs
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert len(out) == n_docs
    assert (out["n_dup"] <= out["n_grams"]).all()
    first = out.iloc[0]
    assert first["n_dup"] == 0 and first["dup_ratio"] == 0.0
    assert first["keep"]
    # duplication exists somewhere (non-vacuous corpus)
    assert (out["n_dup"] > 0).any()


def test_events_pivot_counts_match_long_form(spark):
    """Pivot wide counts must equal the long-form groupBy counts."""
    from pdf_parser_spark.dataops import PIVOT_EVENT_TYPES, q_events_pivot

    wide = q_events_pivot(spark, SF_DIR).toPandas().set_index("user_id")
    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    long = (
        events.groupBy("user_id", "event_type").count().toPandas()
    )
    for _, r in long.iterrows():
        assert wide.loc[r["user_id"], r["event_type"]] == r["count"]
    assert set(wide.columns) == set(PIVOT_EVENT_TYPES)


def test_connected_components_transitive_chain(spark):
    """A~B~C~D chain (no direct A~C/A~D pairs) must collapse to ONE
    cluster with min-id canonical — the transitive-closure case that
    pair-level dedup alone gets wrong — while a disjoint pair and the
    propagation direction (min flows both ways along an edge) hold."""
    from pdf_parser_spark.dataops import connected_components

    pairs = spark.createDataFrame(
        [("d2", "d3"), ("d1", "d2"), ("d3", "d4"), ("x9", "x8")],
        ["doc_a", "doc_b"],
    )
    out = {
        r["doc_id"]: r
        for r in connected_components(pairs).collect()
    }
    assert len(out) == 6
    for d in ["d1", "d2", "d3", "d4"]:
        assert out[d]["cluster_id"] == "d1"
        assert out[d]["cluster_size"] == 4
    for d in ["x8", "x9"]:
        assert out[d]["cluster_id"] == "x8"
        assert out[d]["cluster_size"] == 2
    assert out["d1"]["is_canonical"] == 1 and out["d2"]["is_canonical"] == 0
    assert out["x8"]["is_canonical"] == 1 and out["x9"]["is_canonical"] == 0


def test_connected_components_empty_pairs(spark):
    from pdf_parser_spark.dataops import connected_components

    pairs = spark.createDataFrame([], "doc_a string, doc_b string")
    assert connected_components(pairs).count() == 0


def test_sequence_pack_invariants(spark):
    """The assignment table is a lossless re-chunking: every sequence
    holds exactly PACK_BUDGET tokens (each bucket's last may be
    shorter), every doc's slices cover [0, n_tok) contiguously — no
    token lost or duplicated — and boundary-straddling docs are split."""
    from pdf_parser_spark.dataops import (
        PACK_BUCKETS,
        PACK_BUDGET,
        _doc_hash_bucket,
        q_sequence_pack,
    )
    from pyspark.sql import functions as F

    packed = q_sequence_pack(spark, SF_DIR).toPandas()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    packed["slice_len"] = packed["doc_end"] - packed["doc_start"]
    assert (packed["slice_len"] > 0).all()
    assert (packed["bucket"] >= 0).all() and (packed["bucket"] < PACK_BUCKETS).all()
    assert (packed["seq_id"] >= 0).all()

    # hard cap: every sequence <= PACK_BUDGET; all but the last per
    # bucket are exactly full
    per_seq = (
        packed.groupby(["bucket", "seq_id"])["slice_len"].sum().reset_index()
    )
    assert (per_seq["slice_len"] <= PACK_BUDGET).all()
    last_seq = per_seq.groupby("bucket")["seq_id"].max().reset_index()
    full = per_seq.merge(last_seq, on="bucket", suffixes=("", "_last"))
    non_last = full[full["seq_id"] != full["seq_id_last"]]
    assert (non_last["slice_len"] == PACK_BUDGET).all()
    # seq_ids dense from 0 per bucket
    for _, grp in per_seq.groupby("bucket"):
        seqs = sorted(grp["seq_id"].tolist())
        assert seqs == list(range(len(seqs)))

    # per-doc: slices are contiguous, start at 0, end at n_tok
    tok = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tok"),
    ).toPandas()
    for doc_id, grp in packed.sort_values(["doc_id", "doc_start"]).groupby("doc_id"):
        starts = grp["doc_start"].tolist()
        ends = grp["doc_end"].tolist()
        assert starts[0] == 0
        assert starts[1:] == ends[:-1], f"doc {doc_id} slices not contiguous"
    per_doc = packed.groupby("doc_id")["slice_len"].sum().reset_index()
    merged = tok.merge(per_doc, on="doc_id", how="left").fillna(0)
    assert (merged["n_tok"] == merged["slice_len"]).all()

    # the packing actually splits: some doc spans >1 sequence, and
    # some sequence holds >1 doc
    assert (packed.groupby("doc_id")["seq_id"].count() > 1).any()
    assert (packed.groupby(["bucket", "seq_id"])["doc_id"].count() > 1).any()
    # slice offset inside the sequence is consistent: seq_off + running
    # position never exceeds the budget
    assert (packed["seq_off"] + packed["slice_len"] <= PACK_BUDGET).all()


def test_bm25_monotone_in_tf(spark):
    """BM25 sanity on a controlled corpus: more matching terms => higher
    score; a doc without the term scores nothing."""
    import pandas as pd

    from pdf_parser_spark import search as s

    pdf = pd.DataFrame(
        {
            "doc_id": ["a", "b", "c"],
            "text": [
                "window window window stream",
                "window stream",
                "nothing relevant here",
            ],
        }
    )
    docs = spark.createDataFrame(pdf)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.mode("overwrite").parquet(f"{td}/documents.parquet")
        out = s.q_bm25_search(spark, td).toPandas().set_index("doc_id")
    assert "c" not in out.index
    assert out.loc["a", "bm25"] > out.loc["b", "bm25"] > 0


def test_unigram_logprob_known_values_and_empty_docs(spark):
    """Hand-computed unigram model: corpus 'a a b' + 'b c' -> tf(a)=2,
    tf(b)=2, tf(c)=1, total=5. Empty/no-token docs stay on the doc
    spine with the (0, 0.0, 1.0) convention."""
    import math
    import os
    import tempfile

    from pdf_parser_spark.dataops import q_unigram_logprob

    pdf = pd.DataFrame(
        {"doc_id": [0, 1, 2, 3], "text": ["a a b", "b c", "", "!!! ???"]}
    )
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(pdf).write.parquet(os.path.join(td, "documents.parquet"))
        out = (
            q_unigram_logprob(spark, td)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
    lp = {"a": math.log(2 / 5), "b": math.log(2 / 5), "c": math.log(1 / 5)}
    want0 = (2 * lp["a"] + lp["b"]) / 3
    want1 = (lp["b"] + lp["c"]) / 2
    assert list(out["n_tokens"]) == [3, 2, 0, 0]
    assert out["avg_logprob"].iloc[0] == pytest.approx(round(want0, 4), abs=1e-9)
    assert out["avg_logprob"].iloc[1] == pytest.approx(round(want1, 4), abs=1e-9)
    assert out["ppl_proxy"].iloc[0] == pytest.approx(round(math.exp(-want0), 2), abs=1e-9)
    # zero-token docs: kept, neutral score
    assert list(out["avg_logprob"].iloc[2:]) == [0.0, 0.0]
    assert list(out["ppl_proxy"].iloc[2:]) == [1.0, 1.0]


def test_dedup_pair_accuracy_floors(spark):
    """Banded candidate generation must stay trustworthy: pair
    precision/recall vs exact-Jaccard ground truth (j >= 0.5) via the
    q_dedup_accuracy contract query. minhash_lsh precision is exactly
    1.0 BY CONSTRUCTION (its verify stage computes exact Jaccard, so
    found pairs at the truth cut are a subset of truth); its recall can
    only lose pairs to banding (P(candidate) ~0.90 at j=0.5, ~1.0 at
    j>=0.7). Measured at sf0.001: 1.0/1.0 for both methods on the
    bimodal synthetic corpus — floors leave drift margin."""
    from pdf_parser_spark.dataops import q_dedup_accuracy

    acc = q_dedup_accuracy(spark, SF_DIR).toPandas().set_index("method")
    assert acc.loc["minhash_lsh", "pair_precision"] == 1.0
    assert acc.loc["minhash_lsh", "pair_recall"] >= 0.85
    assert acc.loc["winnow", "pair_recall"] >= 0.85
    assert acc.loc["winnow", "pair_precision"] >= 0.85
    # counts consistent: hits never exceed either side
    assert (acc["n_hit"] <= acc["n_found"]).all()
    assert (acc["n_hit"] <= acc["n_true"]).all()


def test_incremental_dedup_equals_restricted_full(spark):
    """The generational probe must produce EXACTLY the full pair table
    restricted to pairs touching the new hash generation — no pair
    lost (banding is deterministic, so a touching-new pair band-matches
    in the probe join iff it does in the full self-join) and none
    invented."""
    from pdf_parser_spark.dataops import (
        INC_NEW_BUCKETS,
        _doc_hash_bucket,
        q_incremental_dedup,
        q_minhash_near_dup,
    )

    full = q_minhash_near_dup(spark, SF_DIR)

    def is_new(col):
        return _doc_hash_bucket(INC_NEW_BUCKETS, col) == 0

    expected = full.filter(is_new("doc_a") | is_new("doc_b"))
    got = q_incremental_dedup(spark, SF_DIR)
    assert got.count() > 0  # non-vacuous at sf0.001
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_cms_heavy_hitters_invariants(spark):
    """CMS guarantees: the estimate is ONE-SIDED (est >= exact, since a
    cell only ever gains collisions) and equals the exact count when no
    other gram shares all four cells. Also pins the candidate set to
    the exact top-k census (same grams, same counts as q_ngram_topk)."""
    from pdf_parser_spark.dataops import (
        NGRAM_TOPK_CORPUS,
        q_cms_heavy_hitters,
        q_ngram_topk,
    )

    hh = q_cms_heavy_hitters(spark, SF_DIR).toPandas()
    assert len(hh) == NGRAM_TOPK_CORPUS
    assert (hh["est_freq"] >= hh["doc_freq"]).all()
    assert (hh["overest"] == hh["est_freq"] - hh["doc_freq"]).all()
    census = q_ngram_topk(spark, SF_DIR).toPandas()
    assert set(zip(hh["gram"], hh["doc_freq"])) == set(
        zip(census["gram"], census["doc_freq"])
    )


def test_cms_sampled_candidates_match_census(spark):
    """The production candidate path (1/CMS_SAMPLE_MOD occurrence-hash
    sample -> top-CMS_CAND_K sampled census -> candidate-only exact
    counts) must emit
    the IDENTICAL top-20 rows as the exact-census audit twin — i.e.
    the sampled overselect recovers every true heavy hitter, so the
    gate output is unchanged by removing the O(vocabulary) census
    from the production query."""
    from pdf_parser_spark.dataops import (
        _cms_heavy_hitters_census,
        q_cms_heavy_hitters,
    )

    prod = q_cms_heavy_hitters(spark, SF_DIR)
    census = _cms_heavy_hitters_census(spark, SF_DIR)
    assert prod.exceptAll(census).count() == 0
    assert census.exceptAll(prod).count() == 0
    assert prod.count() > 0


def test_cms_sketch_is_mergeable(spark):
    """The whole point of the sketch at 100 TB: cells built over two
    disjoint halves of the corpus ADD to the global cells — count-min
    state merges by elementwise sum, so per-partition sketches combine
    without revisiting data."""
    from pdf_parser_spark.dataops import (
        CMS_DEPTH,
        _cms_bucket,
        _doc_hash_bucket,
        _docs,
        _ngrams_col,
        _tokens_col,
    )

    def cells_of(docs):
        grams = docs.withColumn("toks", _tokens_col()).select(
            F.explode(_ngrams_col(F.col("toks"), 2)).alias("gram")
        )
        buckets = F.array(*[_cms_bucket(i) for i in range(CMS_DEPTH)])
        return (
            grams.select(F.posexplode(buckets).alias("r", "b"))
            .groupBy("r", "b")
            .agg(F.count("*").alias("cnt"))
        )

    docs = _docs(spark, SF_DIR)
    half = _doc_hash_bucket(2)
    merged = (
        cells_of(docs.filter(half == 0))
        .unionByName(cells_of(docs.filter(half == 1)))
        .groupBy("r", "b")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = cells_of(docs)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_weighted_sample_is_length_biased_and_deterministic(spark):
    """Priority sampling must (a) return exactly k rows in descending
    priority order, (b) be bit-stable run over run (hash u, no rng),
    and (c) actually bias toward long docs: the sampled docs' mean
    token count must exceed the corpus mean (weights are token
    counts)."""
    from pdf_parser_spark.dataops import (
        WSAMPLE_K,
        _docs,
        _tokens_col,
        q_weighted_sample,
    )

    s1 = q_weighted_sample(spark, SF_DIR).toPandas()
    s2 = q_weighted_sample(spark, SF_DIR).toPandas()
    pd.testing.assert_frame_equal(s1, s2)
    assert len(s1) == WSAMPLE_K
    assert (s1["priority"].values[:-1] >= s1["priority"].values[1:]).all()
    corpus_mean = (
        _docs(spark, SF_DIR)
        .select(F.avg(F.size(_tokens_col())).alias("m"))
        .collect()[0]["m"]
    )
    assert s1["n_toks"].mean() > corpus_mean


def test_hist_quantile_error_bound_and_range(spark):
    """The estimate lies in the first bin whose running count crosses
    q*n — the bin that contains the rank-ceil(q*n) order statistic
    (the type-1 quantile) — so |est - that order stat| <= bin_width,
    and every estimate stays inside [vmin, vmax]. (The INTERPOLATED
    percentile() carries no such per-bin bound on sparse tails, which
    is why the suite reports both.)"""
    import math

    from pdf_parser_spark.dataops import q_hist_quantiles

    hq = q_hist_quantiles(spark, SF_DIR).toPandas().set_index("event_type")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    by_type = (
        ev.select("event_type", "value").toPandas().groupby("event_type")["value"]
    )
    for et, vals in by_type:
        vals = vals.sort_values().reset_index(drop=True)
        n, w = len(vals), hq.loc[et, "bin_width"]
        for q in (0.5, 0.9, 0.99):
            est = hq.loc[et, f"est_p{int(q * 100)}"]
            order_stat = vals.iloc[math.ceil(q * n) - 1]
            assert abs(est - order_stat) <= w + 1e-9, (et, q)
            assert vals.iloc[0] - 1e-9 <= est <= vals.iloc[-1] + 1e-9


def test_hist_sketch_is_mergeable(spark):
    """Histogram cells over disjoint user halves ADD to the global
    cells given shared bounds — the property that lets per-partition
    sketches combine without a second data pass."""
    from pdf_parser_spark.dataops import HIST_BINS

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    stats = (
        ev.groupBy("event_type")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
        .withColumn(
            "width", (F.col("vmax") - F.col("vmin")) / F.lit(float(HIST_BINS))
        )
    )

    def cells_of(part):
        return (
            part.join(stats, "event_type")
            .withColumn(
                "bin",
                F.when(F.col("width") == 0.0, F.lit(0)).otherwise(
                    F.least(
                        F.lit(HIST_BINS - 1),
                        F.greatest(
                            F.lit(0),
                            F.floor(
                                (F.col("value") - F.col("vmin")) / F.col("width")
                            ).cast("int"),
                        ),
                    )
                ),
            )
            .groupBy("event_type", "bin")
            .agg(F.count("*").alias("cnt"))
        )

    merged = (
        cells_of(ev.filter(F.col("user_id") % 2 == 0))
        .unionByName(cells_of(ev.filter(F.col("user_id") % 2 == 1)))
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = cells_of(ev)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_pca1_projection_tracks_true_top_component(spark):
    """Four power-iteration steps over the quantized covariance must
    land near the true top principal component: the per-vector
    projections correlate with numpy's exact PC1 projections at
    |corr| >= 0.95 (sign is iteration-dependent, hence abs), and the
    op is deterministic by construction (hash-free, rng-free)."""
    import numpy as np

    from pdf_parser_spark.dataops import PCA_QUANT, q_embedding_pca1

    proj = (
        q_embedding_pca1(spark, SF_DIR).toPandas().set_index("vec_id")["pc1_proj"]
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").toPandas()
    X = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    Q = np.round(X * PCA_QUANT)
    C = (Q.T @ Q) / len(Q) - np.outer(Q.mean(axis=0), Q.mean(axis=0))
    eigvals, eigvecs = np.linalg.eigh(C)
    pc1 = eigvecs[:, -1]
    true_proj = X @ pc1
    got = proj.loc[emb["vec_id"]].to_numpy()
    corr = np.corrcoef(got, true_proj)[0, 1]
    assert abs(corr) >= 0.95, corr


def test_pca_moment_accumulator_matches_explode(spark):
    """The mapInPandas outer-product moment pass (the production
    shape: one int64 block per partition) must be BIT-identical to
    the double-posexplode reshape twin — both are pure integer sums,
    so exact set equality, not tolerance. Runs on a multi-partition
    input so cross-partition block merging is actually exercised."""
    from pdf_parser_spark.dataops import (
        PCA_QUANT,
        _pca_moment_cells,
        _pca_moment_cells_explode,
    )

    e = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .repartition(7)
        .select(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x.cast("double") * PCA_QUANT).cast("bigint"),
            ).alias("q")
        )
    )
    fast = _pca_moment_cells(e)
    slow = _pca_moment_cells_explode(e)
    # names+types (nullability legally differs: posexplode emits
    # non-nullable pos columns, mapInPandas nullable ones)
    assert [(f.name, f.dataType) for f in fast.schema] == [
        (f.name, f.dataType) for f in slow.schema
    ]
    assert fast.exceptAll(slow).count() == 0
    assert slow.exceptAll(fast).count() == 0


def test_pivot_unpivot_round_trip(spark):
    """unpivot(pivot(events)) with zero cells dropped must equal the
    original long-form groupBy(user, type) counts exactly — the
    reshape pair is lossless over present combinations."""
    from pdf_parser_spark.dataops import q_events_unpivot

    got = q_events_unpivot(spark, SF_DIR)
    expected = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_hist_quantiles_degenerate_constant_values(spark):
    """All-equal values within a type: width = 0, every row lands in
    bin 0, and all three estimates collapse to exactly that value (the
    guarded CASE path — an unguarded (v - vmin)/width would be 0/0)."""
    import os
    import tempfile
    from datetime import datetime

    from pdf_parser_spark.dataops import q_hist_quantiles

    rows = [
        (i, datetime(2024, 1, 1, 0, 0, i), i % 7, "flat", 42.5, "{}")
        for i in range(20)
    ] + [
        (100 + i, datetime(2024, 1, 1, 1, 0, i), i % 5, "vary", float(i), "{}")
        for i in range(20)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(pdf).write.parquet(os.path.join(td, "events.parquet"))
        hq = q_hist_quantiles(spark, td).toPandas().set_index("event_type")
    flat = hq.loc["flat"]
    assert flat["bin_width"] == 0.0
    assert flat["est_p50"] == flat["est_p90"] == flat["est_p99"] == 42.5
    vary = hq.loc["vary"]
    assert vary["bin_width"] > 0 and vary["est_p50"] < vary["est_p99"]


def test_weighted_sample_short_corpus_returns_all(spark):
    """Fewer docs than WSAMPLE_K: the sample is the whole corpus (no
    padding, no failure) and still priority-ordered."""
    import os
    import tempfile

    from pdf_parser_spark.dataops import q_weighted_sample

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["one two three", "a b", "x " * 50],
            "lang": ["en"] * 3,
            "source": ["s"] * 3,
            "n_chars": [13, 3, 100],
        }
    )
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(pdf).write.parquet(os.path.join(td, "documents.parquet"))
        out = q_weighted_sample(spark, td).toPandas()
    assert len(out) == 3
    assert (out["priority"].values[:-1] >= out["priority"].values[1:]).all()


def test_cms_empty_and_short_docs_contribute_nothing(spark):
    """Docs with <2 tokens emit no bigrams: the sketch over a corpus of
    only-short docs is empty, and heavy hitters return zero rows
    rather than erroring."""
    import os
    import tempfile

    from pdf_parser_spark.dataops import q_cms_heavy_hitters

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": ["single", ""],
            "lang": ["en"] * 2,
            "source": ["s"] * 2,
            "n_chars": [6, 0],
        }
    )
    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(pdf).write.parquet(os.path.join(td, "documents.parquet"))
        out = q_cms_heavy_hitters(spark, td).toPandas()
    assert len(out) == 0


def test_new_float_ops_invariant_to_partitioning(spark):
    """The driver gate runs these queries under ITS OWN session config;
    a result that depends on shuffle-partition count (i.e. on float
    summation order) would pass locally and fail there. The integer-
    moment / ordered-fold designs make each op partitioning-invariant —
    pinned by running at 3 vs 32 shuffle partitions."""
    from pdf_parser_spark.dataops import (
        q_cms_heavy_hitters,
        q_embedding_pca1,
        q_hist_quantiles,
        q_weighted_sample,
    )
    from pdf_parser_spark.queries import q_tpch_q7, q_tpch_q8, q_tpch_q15

    ops = {
        "cms": q_cms_heavy_hitters,
        "hist": q_hist_quantiles,
        "wsample": q_weighted_sample,
        "pca1": q_embedding_pca1,
        # revenue sums of cent-truncated terms (the Q9 boundary fix,
        # ADVICE r4): pin that the truncation really makes the rounded
        # sums summation-order-invariant
        "tpch_q7": q_tpch_q7,
        "tpch_q8": q_tpch_q8,
        "tpch_q15": q_tpch_q15,
    }
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for n in ("3", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            for k, fn in ops.items():
                pdf = fn(spark, SF_DIR).toPandas()
                pdf = pdf[sorted(pdf.columns)].astype(str)
                results[(k, n)] = (
                    pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    for k in ops:
        pd.testing.assert_frame_equal(results[(k, "3")], results[(k, "32")])


def test_lang_mixture_temperature_semantics(spark):
    """Temperature-0.5 mixture invariants: keep_rate is monotonically
    NON-INCREASING in language size (bigger languages get thinned
    harder), rare languages are never thinned below their sqrt share,
    every doc appears exactly once, and the realized kept count per
    language is binomial(n_lang, keep_rate)-plausible (within 5 sigma
    of the mean — deterministic data, so this is a fixed fact, not a
    flake bound)."""
    from pdf_parser_spark.dataops import q_lang_mixture

    pdf = q_lang_mixture(spark, SF_DIR).toPandas()
    assert pdf["doc_id"].is_unique and len(pdf) > 0
    per = (
        pdf.groupby("lang")
        .agg(
            n=("doc_id", "count"),
            rate=("keep_rate", "first"),
            kept=("mix_keep", "sum"),
        )
        .sort_values("n")
    )
    # monotone: sorted by ascending n, keep_rate must be non-increasing
    rates = per["rate"].to_numpy()
    assert (rates[:-1] >= rates[1:] - 1e-12).all(), per
    assert (per["rate"] <= 1.0).all() and (per["rate"] > 0.0).all()
    import numpy as np

    mean = per["n"] * per["rate"]
    sigma = np.sqrt(per["n"] * per["rate"] * (1 - per["rate"]))
    assert (abs(per["kept"] - mean) <= 5 * sigma + 1).all(), per


def test_hard_negatives_band_structure(spark):
    """Negative-mining invariants: exactly NEG_HARD_K hard and
    NEG_RAND_K random negatives per query, neg_rank dense from 1
    within each label, no negative overlaps the top-NEG_POS_K
    positives, and every random negative's cosine is <= every hard
    negative's cosine for the same query (randoms are drawn strictly
    below the hard band)."""
    from pdf_parser_spark.dataops import (
        NEG_HARD_K,
        NEG_POS_K,
        NEG_RAND_K,
        q_ann_cosine_topk,
        q_hard_negatives,
    )

    neg = q_hard_negatives(spark, SF_DIR).toPandas()
    pos = q_ann_cosine_topk(spark, SF_DIR).toPandas()
    top = pos[pos["rank"] <= NEG_POS_K]
    pos_pairs = set(zip(top["query_id"], top["neighbor_id"]))
    for qid, grp in neg.groupby("query_id"):
        hard = grp[grp["label"] == "hard"]
        rand = grp[grp["label"] == "random"]
        assert len(hard) == NEG_HARD_K and len(rand) == NEG_RAND_K
        assert sorted(hard["neg_rank"]) == list(range(1, NEG_HARD_K + 1))
        assert sorted(rand["neg_rank"]) == list(range(1, NEG_RAND_K + 1))
        assert rand["cosine"].max() <= hard["cosine"].min() + 1e-9
    neg_pairs = set(zip(neg["query_id"], neg["neighbor_id"]))
    assert not (neg_pairs & pos_pairs)


def test_dup_spans_maximal_and_consistent(spark):
    """Dup-span invariants: spans within a doc are disjoint AND
    non-adjacent (maximality — an adjacent pair would have merged),
    every span covers >= DUP_SPAN_MIN_TOKENS tokens, span_id is dense
    by start order, and every doc with a span is flagged duplicated
    (n_dup > 0) by q_span_dedup (same gram rule at the doc grain)."""
    from pdf_parser_spark.dataops import (
        DUP_SPAN_MIN_TOKENS,
        q_dup_spans,
        q_span_dedup,
    )

    spans = q_dup_spans(spark, SF_DIR).toPandas()
    assert len(spans) > 0
    assert (spans["n_tokens"] >= DUP_SPAN_MIN_TOKENS).all()
    assert (spans["end_tok"] - spans["start_tok"] == spans["n_tokens"]).all()
    for doc_id, grp in spans.groupby("doc_id"):
        g = grp.sort_values("start_tok")
        assert list(g["span_id"]) == list(range(1, len(g) + 1))
        # maximality: next span starts strictly after this one ends
        # (equal would mean two runs that should have merged)
        assert (g["start_tok"].shift(-1)[:-1] > g["end_tok"][:-1]).all()
    dedup = q_span_dedup(spark, SF_DIR).toPandas().set_index("doc_id")
    for doc_id in spans["doc_id"].unique():
        assert dedup.loc[doc_id, "n_dup"] > 0


def test_dup_span_scrub_accounting(spark):
    """The scrub must remove EXACTLY the reported spans: per doc,
    n_tokens_removed equals the summed span lengths from q_dup_spans
    (spans are disjoint, so lengths add), the cleaned token count is
    orig - removed, and untouched docs pass through with their full
    token stream."""
    from pdf_parser_spark.dataops import q_dup_span_scrub, q_dup_spans

    scrub = q_dup_span_scrub(spark, SF_DIR).toPandas().set_index("doc_id")
    span_sum = (
        q_dup_spans(spark, SF_DIR)
        .toPandas()
        .groupby("doc_id")["n_tokens"]
        .sum()
    )
    for doc_id, row in scrub.iterrows():
        want = int(span_sum.get(doc_id, 0))
        assert row["n_tokens_removed"] == want, doc_id
        n_clean = len(row["cleaned_text"].split()) if row["cleaned_text"] else 0
        assert n_clean == row["n_tokens_orig"] - row["n_tokens_removed"], doc_id
    assert (scrub["n_tokens_removed"] > 0).any()
    assert (scrub["n_tokens_removed"] == 0).any()


def test_bpe_degenerate_corpus(spark, tmp_path):
    """BPE on a corpus of single-character words learns NO merges (no
    adjacent pairs exist) and tokenize degrades gracefully: every word
    is its own single symbol, chars == bpe tokens. Also covers the
    memo-cache keying by sf_dir (the synthetic dir must not reuse the
    testdata rules)."""
    import os

    import pandas as pd

    from pdf_parser_spark.dataops import q_bpe_merges, q_bpe_tokenize

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["a b c a", "c a b"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [7, 5],
        }
    )
    td = str(tmp_path / "bpe_sf")
    spark.createDataFrame(pdf).write.parquet(os.path.join(td, "documents.parquet"))
    merges = q_bpe_merges(spark, td).toPandas()
    assert len(merges) == 0
    tok = q_bpe_tokenize(spark, td).toPandas().sort_values("doc_id")
    assert list(tok["n_words"]) == [4, 3]
    assert list(tok["n_bpe_tokens"]) == [4, 3]
    assert list(tok["n_token_chars"]) == [4, 3]
    assert (tok["chars_per_bpe_token"] == 1.0).all()

    # and the ORACLE on the same degenerate corpus (ADVICE r4): every
    # merge round's b{t} is empty here, so the old cross-join chain
    # emptied v{t} for all later rounds and the oracle returned 0 rows
    # while Spark returned every word — the LEFT JOIN ON TRUE +
    # coalesce fallback must keep the two engines identical.
    import duckdb

    from pdf_parser_spark.dataops import DATAOPS_ORACLES

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(td, 'documents.parquet')}/*.parquet')"
        )
        om = con.execute(DATAOPS_ORACLES["bpe_merges"]).df()
        assert len(om) == 0
        ot = con.execute(DATAOPS_ORACLES["bpe_tokenize"]).df().sort_values("doc_id")
        assert list(ot["n_words"]) == [4, 3]
        assert list(ot["n_bpe_tokens"]) == [4, 3]
        assert (ot["chars_per_bpe_token"] == 1.0).all()
    finally:
        con.close()


def test_ann_ivf_prunes_clustered_corpus(spark, tmp_path):
    """The ANN pruning claim on data where pruning is possible
    (VERDICT r4 item 5): on the deterministic mixture-of-Gaussians
    corpus, the SPARK IVF path at nprobe=1, n_assign=2 must reach
    recall@5 >= 0.95 against brute force while scanning <= 0.2 of the
    corpus as candidates (measured 1.00 recall at 0.12 — the isotropic
    driver testdata, where the round-4 sweep honestly measured 0.6-0.9
    candidate fractions, cannot carry this pin because no method can
    prune it). The registry default (nprobe=10) must stay at full
    recall here too."""
    import os

    from pdf_parser_spark.dataops import (
        ANN_N_QUERIES,
        _ivf_scored,
        q_ann_cosine_topk,
        q_ann_ivf_topk,
        synth_clustered_embeddings,
    )

    pdf = synth_clustered_embeddings()
    td = str(tmp_path / "clustered")
    spark.createDataFrame(pdf).write.parquet(os.path.join(td, "embeddings.parquet"))
    n = len(pdf)

    brute = q_ann_cosine_topk(spark, td).toPandas()
    exact = (
        brute[brute["rank"] <= 5]
        .groupby("query_id")["neighbor_id"]
        .agg(set)
        .to_dict()
    )

    cand = _ivf_scored(spark, td, nprobe=1, n_assign=2).toPandas()
    frac = len(cand) / (ANN_N_QUERIES * (n - 1))
    assert frac <= 0.2, f"candidate fraction {frac:.3f} > 0.2"
    topk = (
        cand.sort_values(["query_id", "cosine", "neighbor_id"], ascending=[True, False, True])
        .groupby("query_id")
        .head(5)
        .groupby("query_id")["neighbor_id"]
        .agg(set)
        .to_dict()
    )
    recalls = [len(topk.get(q, set()) & e) / len(e) for q, e in exact.items()]
    assert min(recalls) >= 0.8 and sum(recalls) / len(recalls) >= 0.95, recalls

    ivf = q_ann_ivf_topk(spark, td).toPandas()
    full = (
        ivf[ivf["rank"] <= 5]
        .groupby("query_id")["neighbor_id"]
        .agg(set)
        .to_dict()
    )
    full_rec = [len(full.get(q, set()) & e) / len(e) for q, e in exact.items()]
    assert sum(full_rec) / len(full_rec) >= 0.95, full_rec


def test_bpe_batched_prefix_matches_sequential(spark):
    """The batched learner's guarantees (VERDICT r4 item 7): its first
    BPE_N_MERGES rules equal the 1-merge-per-round audit learner's
    rules exactly (the prefix-stop acceptance makes batched rounds
    order-faithful until a created pair overtakes the ranking — on
    this corpus the first 14+ rules agree), and it learns >= 64 merges
    (vs the round-4 demo's 8) in BPE_N_ROUNDS driver rounds."""
    from pdf_parser_spark.dataops import (
        BPE_N_MERGES,
        _bpe_rules,
        _bpe_rules_sequential,
    )

    bat = _bpe_rules(spark, SF_DIR)
    seq = _bpe_rules_sequential(spark, SF_DIR, BPE_N_MERGES)
    assert [(l, r, c) for _, l, r, c in bat[:BPE_N_MERGES]] == [
        (l, r, c) for _, l, r, c in seq
    ]
    assert len(bat) >= 64, f"only {len(bat)} merges learned"


def test_dup_spans_sa_contains_gram_spans(spark):
    """The suffix-array upgrade's containment contract: every span the
    gram-only q_dup_spans emits lies INSIDE some q_dup_spans_sa span
    (coverage positions are a superset; islands merging is monotonic),
    and the SA variant finds strictly more covered tokens (the
    within-doc repeats the cross-doc gram pass is blind to)."""
    from pdf_parser_spark.dataops import q_dup_spans, q_dup_spans_sa

    gram = q_dup_spans(spark, SF_DIR).toPandas()
    sa = q_dup_spans_sa(spark, SF_DIR).toPandas()
    sa_by_doc = {
        d: list(zip(g["start_tok"], g["end_tok"]))
        for d, g in sa.groupby("doc_id")
    }
    for _, r in gram.iterrows():
        spans = sa_by_doc.get(r["doc_id"], [])
        assert any(
            s <= r["start_tok"] and r["end_tok"] <= e for s, e in spans
        ), f"gram span {dict(r)} not contained in SA spans {spans}"
    assert sa["n_tokens"].sum() > gram["n_tokens"].sum()


def test_dup_spans_sa_finds_sub_floor_self_repeats(spark, tmp_path):
    """A doc whose only duplication is an internal 2-token repeat —
    below the cross-doc DUP_SPAN_GRAM floor and invisible to
    q_dup_spans (nothing is shared across docs) — must yield a span
    from the suffix-array pass, with exact boundaries. A doc of
    m + 1 tokens with an overlapping repeat ("x x x": "x x" at 0 and
    1) is long enough for the kernel and must be covered end to end."""
    import os

    from pdf_parser_spark.dataops import (
        _sa_self_dup_positions,
        q_dup_spans,
        q_dup_spans_sa,
    )

    #           0   1   2   3    4    5   6   7   8    9
    text = "alpha beta alpha beta alpha beta gamma delta epsilon zeta"
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [text, "one two three four five six seven", "x x x"],
            "lang": ["en", "en", "en"],
            "source": ["s", "s", "s"],
            "n_chars": [len(text), 33, 5],
        }
    )
    td = str(tmp_path / "sa_sf")
    spark.createDataFrame(pdf).write.parquet(os.path.join(td, "documents.parquet"))
    assert q_dup_spans(spark, td).count() == 0  # cross-doc pass blind
    sa = q_dup_spans_sa(spark, td).toPandas()
    # "alpha beta" repeats at 0/2/4: suffixes share >=2-token prefixes
    # covering positions 0..5 (the trailing "beta" at 5 included via
    # lcp from position 1), one maximal span [0, 6)
    assert len(sa) == 1
    r = sa.iloc[0]
    assert (r["doc_id"], r["start_tok"], r["end_tok"]) == (0, 0, 6)
    # the 3-token doc's span is below DUP_SPAN_MIN_TOKENS, so check the
    # kernel's covered positions directly
    pos = _sa_self_dup_positions(spark, td).filter("doc_id = 2").toPandas()
    assert set(pos["pos"]) == {0, 1, 2}


def test_hard_negatives_ann_matches_exact_twin(spark):
    """The production miner's equality contract: on every query whose
    LSH candidate set covers the true top NEG_POS_K+NEG_HARD_K (the
    precondition the docstring states, bounded by the ann recall
    floors) the ANN path must return EXACTLY the audit twin's rows —
    hard band and random band, all columns. Coverage itself is
    measured and must not be vacuous (>= 4 of the 5 queries at this
    SF), and the hash-threshold band must hold >= NEG_RAND_K survivors
    for every query (the NEG_SLACK sufficiency condition)."""
    from pdf_parser_spark.dataops import (
        ANN_TOPK,
        NEG_HARD_K,
        NEG_POS_K,
        NEG_RAND_K,
        _lsh_scored,
        q_ann_cosine_topk,
        q_hard_negatives,
        q_hard_negatives_ann,
    )

    assert ANN_TOPK == NEG_POS_K + NEG_HARD_K  # brute top-k IS the band

    exact = q_hard_negatives(spark, SF_DIR).toPandas()
    ann = q_hard_negatives_ann(spark, SF_DIR).toPandas()

    # coverage: the FULL true top P+H (positives included — a missing
    # positive shifts every candidate rank down one and breaks band
    # equality just as surely as a missing hard negative) must all be
    # LSH candidates; the brute-force top-k is the ground truth
    cand = _lsh_scored(spark, SF_DIR).toPandas()
    cand_sets = cand.groupby("query_id")["neighbor_id"].agg(set).to_dict()
    true_top = (
        q_ann_cosine_topk(spark, SF_DIR)
        .toPandas()
        .groupby("query_id")["neighbor_id"]
        .agg(set)
        .to_dict()
    )
    cov = {q: t <= cand_sets.get(q, set()) for q, t in true_top.items()}
    n_cov = sum(cov.values())
    assert n_cov >= 4, f"LSH candidate coverage too weak to test: {cov}"

    for qid, is_cov in cov.items():
        if not is_cov:
            continue
        a = (
            exact[exact["query_id"] == qid]
            .sort_values(["label", "neg_rank"])
            .reset_index(drop=True)
        )
        b = (
            ann[ann["query_id"] == qid]
            .sort_values(["label", "neg_rank"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b, check_dtype=False)

    # threshold sufficiency: every query produced a full random band
    rand_counts = ann[ann["label"] == "random"].groupby("query_id").size()
    assert (rand_counts == NEG_RAND_K).all(), rand_counts.to_dict()
    assert len(rand_counts) == len(cov)


def test_lang_id_trigram_recall(spark, tmp_path):
    """The round-5 classifier quality pin: on the deterministic
    signal-bearing multilingual corpus (real per-language words + 10%
    cross-language noise + CJK docs), per-language recall must clear
    0.9 for ALL of en/de/es/fr/zh. The driver testdata cannot carry
    this pin — its lang label is text-independent (one shared 31-word
    vocabulary; supervised ceiling ~0.21 macro recall, see
    scripts/lang_ceiling.py) — so this corpus is the honest eval.
    Also pins Spark==DuckDB on the same corpus, covering the unicode
    trigram + CJK regex paths the testdata never exercises."""
    import os

    import duckdb

    from pdf_parser_spark.dataops import (
        DATAOPS_ORACLES,
        q_lang_id,
        q_lang_id_confusion,
        synth_lang_eval_corpus,
    )

    pdf = synth_lang_eval_corpus()
    td = str(tmp_path / "langeval")
    spark.createDataFrame(pdf).write.parquet(os.path.join(td, "documents.parquet"))
    conf = q_lang_id_confusion(spark, td).toPandas()
    rec = conf[conf["is_correct"]].set_index("lang_true")["frac_of_true"]
    for lang in ("en", "de", "es", "fr", "zh"):
        assert rec.get(lang, 0.0) >= 0.9, f"{lang} recall {rec.get(lang, 0.0)}"

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM read_parquet("
            f"'{os.path.join(td, 'documents.parquet')}/*.parquet')"
        )
        oracle = con.execute(DATAOPS_ORACLES["lang_id"]).df()
    finally:
        con.close()
    spark_pdf = q_lang_id(spark, td).toPandas()
    a = spark_pdf.sort_values("doc_id").reset_index(drop=True)
    b = oracle.sort_values("doc_id").reset_index(drop=True)
    assert (a["lang_pred"] == b["lang_pred"]).all()
    assert (a["tri_hits"] == b["tri_hits"]).all()
    assert (a["tri_ratio"] - b["tri_ratio"]).abs().max() < 1e-12


def test_snapshot_diff_class_accounting(spark):
    """The diff classes must reconcile with the mutation rule exactly:
    deleted == bucket-0 docs, changed == bucket-1 docs, added ==
    bucket-2 docs (the clones), unchanged == the rest, and the four
    classes partition v1 ∪ added."""
    import hashlib

    from pdf_parser_spark.dataops import SNAPDIFF_BUCKETS, q_snapshot_diff

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").toPandas()

    def bucket(doc_id):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        return h % SNAPDIFF_BUCKETS

    b = docs["doc_id"].map(bucket)
    want = {
        "deleted": int((b == 0).sum()),
        "changed": int((b == 1).sum()),
        "added": int((b == 2).sum()),
        "unchanged": int((~b.isin([0, 1, 2])).sum() + (b == 2).sum()),
    }
    got = q_snapshot_diff(spark, SF_DIR).toPandas().set_index("status")["n_docs"]
    for k, v in want.items():
        assert got.get(k, 0) == v, (k, got.get(k, 0), v)
    assert got.sum() == len(docs) + want["added"]
