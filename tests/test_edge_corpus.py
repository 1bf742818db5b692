"""Edge-case corpus oracle checks for the _barrier-staged narrow maps.

The driver testdata contains no empty, whitespace-only, CJK, or
extreme-length documents (min text length 47), so the gate never
exercises the short-doc guards (Spark's DESCENDING sequence(1, 0),
explode-of-empty-array semantics, greatest(n, 1) divisors) or the CJK
majority gate on real CJK text. This module writes a tiny adversarial
documents.parquet and runs the full Spark-vs-DuckDB oracle comparison
on it — the exact comparison the gate applies, on the rows the gate
never sees. It doubles as the semantic-transparency proof for the
round-5 Generate-barrier staging: the barriers must be invisible on
inputs where explode(array(...)) could change the grain (an empty or
null struct field still yields exactly one row per input row).
"""

import os

import duckdb
import pandas as pd
import pytest

from pdf_parser_spark.dataops import clear_memo_caches
from pdf_parser_spark.registry import ORACLES, QUERIES

EDGE_DOCS = [
    # (doc_id, text, lang, source)
    (0, "", "en", "edge"),                           # empty
    (1, " ", "en", "edge"),                          # whitespace only
    (2, "a", "en", "edge"),                          # single char < gram sizes
    (3, "ab", "en", "edge"),                         # below trigram/winnow gram
    (4, "the and is of to the and is", "en", "edge"),  # stopword-only
    (5, "这是一个完全中文的文档内容测试样例", "zh", "edge"),  # pure CJK
    (6, "mixed 中文 and english words here 测试", "en", "edge"),
    (7, "x " * 400, "en", "edge"),                   # long, 2-char token repeats
    (8, "tok", "de", "edge"),                        # exactly one token
    (9, "word " + "b" * 300 + " tail", "fr", "edge"),  # one giant token
    (10, "Tab\tand\nnewline  spacing.", "en", "edge"),
    (11, "ünïcödé diacritics straße œuvre", "es", "edge"),
]

# the barrier-staged / short-doc-guarded members at the all-docs
# grain: every one must return exactly len(EDGE_DOCS) rows and
# hash-match DuckDB on this corpus
ALL_DOCS_GRAIN = [
    "lang_id",
    "text_quality",
    "token_count",
    "text_repetition",
    "doc_fingerprint",
    "doc_winnow_fingerprint",
    "train_test_split",
    "training_shards",
    "pii_scrub",
    "span_dedup",
    "unigram_logprob",
    "lang_mixture",
    "quality_percentile",
    "weighted_sample",
    # fused suites composed from the member builders above; text_metrics
    # is left out because unigram_lm_vocab hangs on doc 9's 300-char token
    "doc_fingerprints",
    "corpus_assembly",
]
# members whose output grain legitimately shrinks on this corpus
# (pair tables with no near-dups, filters, per-token/per-source
# grains) — still hash-compared, just not row-counted against n_docs
OTHER_GRAIN = [
    "contamination_check",  # benchmark holdout rows excluded by design
    "minhash_near_dup",     # 0 pairs here — both engines must agree on 0
    "simhash_dedup",
    "bpe_tokenize",         # docs with >=1 token
    "corpus_filter",
    "collocations",
    "ngram_topk",
    "dup_spans",
    "stratified_sample",
    "domain_cap",
    "sequence_pack",
]
EDGE_QUERIES = ALL_DOCS_GRAIN + OTHER_GRAIN


@pytest.fixture(scope="module")
def edge_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_sf")
    pdf = pd.DataFrame(EDGE_DOCS, columns=["doc_id", "text", "lang", "source"])
    pdf["n_chars"] = pdf["text"].str.len().astype("int64")
    sdf = spark.createDataFrame(pdf)
    sdf.coalesce(1).write.mode("overwrite").parquet(os.path.join(str(d), "documents.parquet"))
    return str(d)


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        # stringify datetimes: Spark returns datetime64[ns], DuckDB
        # datetime64[us] — same instants, different int views (the
        # driver's hash comparison renders strings and is immune)
        if pdf[c].dtype.kind == "M":
            pdf[c] = pdf[c].astype(str)
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


@pytest.mark.parametrize("name", EDGE_QUERIES)
def test_edge_corpus_matches_oracle(spark, edge_dir, name):
    clear_memo_caches()  # memo tables must rebuild against THIS corpus
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{edge_dir}/documents.parquet/*.parquet')"
    )
    spark_pdf = QUERIES[name](spark, edge_dir).toPandas()
    oracle_pdf = con.execute(ORACLES[name]).df()
    con.close()
    if name in ALL_DOCS_GRAIN:
        assert len(spark_pdf) == len(EDGE_DOCS), f"{name}: grain broken"
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns)
    float_cols = [c for c in a.columns if a[c].dtype.kind == "f" or b[c].dtype.kind == "f"]
    crisp = [c for c in a.columns if c not in float_cols]
    pd.testing.assert_frame_equal(a[crisp], b[crisp], check_dtype=False, check_exact=True)
    if float_cols:
        pd.testing.assert_frame_equal(
            a[float_cols], b[float_cols], check_dtype=False,
            check_exact=False, rtol=1e-9, atol=1e-9,
        )


EMB_QUERIES = [
    "ann_cosine_topk",
    "ann_int8_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_ivf_int8_topk",
    "ann_accuracy",
    "ann_int8_accuracy",
    "embedding_kmeans",
    "semantic_dedup",
    "embedding_near_dup",
    "hard_negatives",
    "hard_negatives_ann",
]


@pytest.fixture(scope="module")
def edge_emb_dir(spark, tmp_path_factory):
    """Embedding table with ZERO-NORM vectors — including a zero QUERY
    vector (vec_id 2 < ANN_N_QUERIES) — the production hazard an empty
    document's embedding creates. Under Spark 4's default ANSI mode a
    raw cosine division crashed the whole family (DIVIDE_BY_ZERO); the
    nullif convention makes both engines emit NULL cosine, ranked last
    and failing every threshold, identically."""
    import numpy as np
    from pyspark.sql import types as T

    from pdf_parser_spark.dataops import EMB_DIM

    d = tmp_path_factory.mktemp("edge_emb")
    rs = np.random.RandomState(3)
    rows = []
    for i in range(130):
        v = rs.randn(EMB_DIM).astype(np.float32)
        if i in (2, 7):
            v = np.zeros(EMB_DIM, dtype=np.float32)
        rows.append((i, v.tolist(), int(i % 4)))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.LongType()),
        ]
    )
    spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding", "label"]), schema
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(d), "embeddings.parquet")
    )
    doc = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["hello world foo", "bar baz qux"],
            "lang": ["en", "en"],
            "source": ["s", "s"],
            "n_chars": [15, 11],
        }
    )
    spark.createDataFrame(doc).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(d), "documents.parquet")
    )
    return str(d)


@pytest.mark.parametrize("name", EMB_QUERIES)
def test_zero_vector_matches_oracle(spark, edge_emb_dir, name):
    clear_memo_caches()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{edge_emb_dir}/{t}.parquet/*.parquet')"
        )
    spark_pdf = QUERIES[name](spark, edge_emb_dir).toPandas()
    oracle_pdf = con.execute(ORACLES[name]).df()
    con.close()
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) > 0, name
    float_cols = [c for c in a.columns if a[c].dtype.kind == "f" or b[c].dtype.kind == "f"]
    crisp = [c for c in a.columns if c not in float_cols]
    pd.testing.assert_frame_equal(a[crisp], b[crisp], check_dtype=False, check_exact=True)
    if float_cols:
        pd.testing.assert_frame_equal(
            a[float_cols], b[float_cols], check_dtype=False,
            check_exact=False, rtol=1e-9, atol=1e-9,
        )


EDGE_EVENT_QUERIES = [
    "sessionize_events",
    "funnel_stages",
    "events_asof_join",
    "events_range_join",
    "events_rollup",
    "events_pivot",
    "events_unpivot",
    "events_tumbling",
    "kmv_distinct_users",
    "json_props_stats",
    "window_running_total",
    "window_trailing",
    "latest_per_key",
    "scd2_intervals",
    "value_quantiles",
    "hist_quantiles",
    "set_ops",
]


@pytest.fixture(scope="module")
def edge_events_dir(spark, tmp_path_factory):
    """Events table with the rows the synthesized testdata never
    emits: NULL user_id, NULL / malformed / wrong-typed JSON props
    (this probe caught DuckDB's json_extract RAISING where Spark's
    from_json is NULL, and TRY_CAST rounding a float where a BIGINT
    from_json field is strict-NULL), duplicate timestamps within a
    user, exact duplicate rows, negative values, and a lone far-future
    user (empty session/window neighborhoods)."""
    import datetime

    d = tmp_path_factory.mktemp("edge_events")
    t0 = datetime.datetime(2024, 1, 1)

    def ev(i, mins, user, etype, value, props):
        return (i, t0 + datetime.timedelta(minutes=mins), user, etype, value, props)

    rows = [
        ev(0, 0, None, "view", 1.0, '{"k": 1}'),
        ev(1, 1, 1, "view", 2.0, None),
        ev(2, 1, 1, "click", 3.0, "not json"),
        ev(3, 1, 1, "purchase", -5.0, '{"k": -2}'),
        ev(4, 500, 2, "view", 0.0, "{}"),
        ev(5, 2, 1, "signup", 10.0, '{"k": 999999999}'),
        ev(6, 2, 1, "signup", 10.0, '{"k": 0}'),
        ev(7, 90, 3, "error", 7.5, '{"x": 1}'),
        ev(8, 95, 3, "error", 7.5, '{"k": 3.9}'),   # float where BIGINT expected
        ev(9, 96, 3, "error", 7.5, '{"k": "7"}'),   # quoted number
    ]
    rows += [
        ev(10 + i, 3 * i, 1 + (i % 3),
           ["view", "click", "purchase", "signup", "error"][i % 5],
           float(i), '{"k": %d}' % i)
        for i in range(32)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["user_id"] = pdf["user_id"].astype("Int64")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(d), "events.parquet")
    )
    return str(d)


@pytest.mark.parametrize("name", EDGE_EVENT_QUERIES)
def test_edge_events_matches_oracle(spark, edge_events_dir, name):
    clear_memo_caches()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{edge_events_dir}/events.parquet/*.parquet')"
    )
    spark_pdf = QUERIES[name](spark, edge_events_dir).toPandas()
    oracle_pdf = con.execute(ORACLES[name]).df()
    con.close()
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) > 0, name
    float_cols = [c for c in a.columns if a[c].dtype.kind == "f" or b[c].dtype.kind == "f"]
    crisp = [c for c in a.columns if c not in float_cols]
    pd.testing.assert_frame_equal(a[crisp], b[crisp], check_dtype=False, check_exact=True)
    if float_cols:
        pd.testing.assert_frame_equal(
            a[float_cols], b[float_cols], check_dtype=False,
            check_exact=False, rtol=1e-9, atol=1e-9,
        )
