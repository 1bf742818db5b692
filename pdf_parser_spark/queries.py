"""Driver-contract queries (SURVEY.md §2.8/§2.9 relational analogues).

Each ``q_*`` takes (spark, sf_dir) and returns a DataFrame; the
matching ANSI-SQL oracle lives in ORACLES (DuckDB-runnable). Column
names/aliases are identical on both sides (the driver hashes values
under column-name sort). Double aggregates are ROUNDed on both sides:
floating-point summation order differs between engines, so raw sums
can differ in the last ulp and break the value hash.

Scale notes per query are in the docstrings — joins that must be
broadcast are hinted explicitly; everything else is left to Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# R-series: the reference's service-layer relational ops (SURVEY.md §2.8)
# ---------------------------------------------------------------------------


def q_dedup_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 content-hash dedup (reference: services/document_store.py:38,
    ingest_api/app.py:81-83 sha-256 + unique index). Hash-groupBy is a
    single shuffle on the hash — at 100 TB this is the canonical
    exact-dedup plan (partial agg map-side first)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("dup_count"))
        .select("content_hash", "keep_doc_id", "dup_count")
    )


def q_pagination_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 pagination (reference: services/ingest_api/store.py:58-67
    offset/limit). Window row_number + filter = ORDER BY ... LIMIT with
    deterministic tiebreak; Spark's TakeOrderedAndProject keeps it
    driver-light at scale."""
    orders = _t(spark, sf_dir, "orders")
    # Sort-limit FIRST: orderBy().limit(30) compiles to
    # TakeOrderedAndProject (per-partition top-30 + driver merge — no
    # global sort, no single-partition window over the full table).
    # Ranking then runs over 30 rows; partitionBy on a constant keeps
    # WindowExec off the "no partition defined" path.
    top = orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(30)
    # pmod(col, 1) == 0 always, but is NOT constant-folded, so the
    # window keeps a partition spec (no single-partition WindowExec
    # warning; the input is 30 rows in one partition already anyway)
    w = Window.partitionBy(F.pmod(F.col("o_orderkey"), F.lit(1))).orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        top.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") > 10)
        .select("rn", "o_orderkey", F.round("o_totalprice", 2).alias("total_price"))
    )


def q_count_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3 counts with status filter (reference: document_store.py:130-135)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(F.count("*").alias("n_orders"))


def q_status_filtered_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 status-filtered listing (reference: document_store.py:112-118).
    Predicate pushes to the parquet scan (PushedFilters)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_errors"), F.round(F.sum("value"), 4).alias("error_value"))
    )


def q_oldest_queued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 oldest-first selection (reference: redis_store.py:68-79 zpopmin).
    First event per type by (ts, event_id) — a min(struct) aggregate,
    not a rank-1 window: structs compare lexicographically, the min is
    map-side combinable, and no per-key sort ever materializes (the
    window form sorts every partition's full event list at 100x)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(F.min(F.struct("ts", "event_id")).alias("first"))
        .select(
            "event_type",
            F.col("first.event_id").alias("event_id"),
            F.date_format("first.ts", "yyyy-MM-dd HH:mm:ss").alias("first_ts"),
        )
    )


def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 case-insensitive substring search (reference:
    document_store.py:137-157)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(F.lower(F.col("text")).contains("slow fast")).select(
        "doc_id", "lang", "n_chars"
    )


def q_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 filename-enrichment analogue (reference: ingest_api/app.py:89-101
    memoized lookup -> broadcast hash join). nation (25 rows) and
    customer (small) are broadcast explicitly — at 100 TB the fact side
    streams, dims never shuffle."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def q_totals_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10 totals (reference: src/pipeline.py:301-309 block/table sums)."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# TPC-H-style engine-surface queries (SURVEY.md §2.9: joins/aggs/windows
# come free from Catalyst — prove it on the standard shapes)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary: 2-col groupBy, 8 aggregates, map-side
    partial agg; the shuffle carries only (2 keys x ~6 groups)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shipping priority: filter-pushdown on both sides of a
    join + top-N. customer is broadcast (small dim)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecast revenue: pure scan+filter+agg — the whole plan
    should be one WholeStageCodegen over the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            # window sits inside the synthetic corpus's 1995-2001 span
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 local-supplier volume: 5-way join chain with the
    c_nationkey = s_nationkey co-location condition. region/nation/
    supplier/customer are dims (broadcast); lineitem streams."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    supplier = _t(spark, sf_dir, "supplier")
    customer = _t(spark, sf_dir, "customer")
    # date window sits inside the synthetic corpus's 1995-2001 span
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(
            F.broadcast(supplier),
            (li.l_suppkey == supplier.s_suppkey)
            & (customer.c_nationkey == supplier.s_nationkey),
        )
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promo revenue: scan-heavy join + ratio-of-conditional-
    sums; part is the broadcast dim."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 6).alias("promo_revenue_pct")
        )
    )


def q_window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame surface: per-user running sum over event time
    (reference has no window frames — SURVEY.md §2.9 — Catalyst
    provides them; we expose the op)."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = (
        events.withColumn("running_value", F.round(F.sum("value").over(w), 4))
        .filter(F.col("user_id") < 5)
        .select("user_id", "event_id", "running_value")
    )
    return out


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag + gap>30min cumsum — the streaming analogue
    (SURVEY.md §1.3: the reference's queue poller) expressed as a batch
    window op."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = F.sum(F.when(gap > 1800, 1).otherwise(0)).over(w)
    return (
        events.withColumn("session_id", F.coalesce(sess, F.lit(0)).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("session_value"))
    )


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF JOIN surface (SURVEY.md §2.9 extras; joins.asof_join):
    every error event attached to the same user's most recent purchase
    at-or-before it (point-in-time attribution). One shuffle on
    user_id; the oracle is DuckDB's NATIVE ASOF LEFT JOIN, so the
    union+window composition is checked against a first-class
    implementation."""
    from .joins import asof_join

    events = _t(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "event_id", "value"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(errors, purchases, on="user_id", ts="ts")
    return joined.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
        "event_id",
        F.round("value", 4).alias("value"),
        F.col("prior_event_id").alias("prior_event_id"),
        F.round("prior_value", 4).alias("prior_value"),
        F.date_format("prior_ts", "yyyy-MM-dd HH:mm:ss").alias("prior_ts"),
    )


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE JOIN surface (joins.bucketed_range_join): error events
    falling inside the 3-day window after any same-user purchase.
    Day-bucket explode -> (user, bucket) hash equi-join -> exact range
    filter; the oracle is DuckDB's plain inequality join, so the
    bucketed rewrite is checked against the naive semantics."""
    from .joins import bucketed_range_join

    events = _t(spark, sf_dir, "events")
    errors = events.filter(F.col("event_type") == "error").select(
        "user_id", "ts", F.col("event_id").alias("error_event_id")
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_event_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 3 DAYS")).alias("end_ts"),
    )
    joined = bucketed_range_join(errors, purchases, on="user_id")
    return joined.select(
        "user_id",
        "error_event_id",
        "purchase_event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("error_ts"),
        F.date_format("start_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time rollup: day-bucketed aggregates with
    month subtotals and a grand total in ONE pass (GROUP BY ROLLUP —
    Catalyst expands the grouping sets; a hypertable's continuous
    aggregate ladder day->month->total)."""
    events = _t(spark, sf_dir, "events")
    bucketed = events.select(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "value",
    )
    return bucketed.rollup("month", "day").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )


def q_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface: events.props is a JSON string;
    from_json with an explicit schema parses it JVM-side (typed struct,
    whole-stage codegen — never a Python JSON loop) and the extracted
    field aggregates per type. At scale the parse is a narrow map
    fused into the scan stage."""
    events = _t(spark, sf_dir, "events")
    k = F.from_json("props", "k BIGINT")["k"]
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
        )
    )


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles per group (reference has only sums/counts —
    §2.9; Catalyst's `percentile` provides linear-interpolated exact
    quantiles, same definition as DuckDB's quantile_cont). Exact
    percentile sorts within each group — fine for bounded per-group
    cardinality; at 100 TB the unbounded-group path is
    approx_percentile (t-digest, mergeable map-side) traded under the
    same query shape."""
    events = _t(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface (SURVEY.md §2.9: the reference has no set
    ops; Catalyst provides them): early-window error users split into
    those who never purchased (EXCEPT) and those who did (INTERSECT),
    tagged and unioned. Each set op is one hash-distinct shuffle on
    user_id — at scale these compile to aggregate/join, never a sort."""
    events = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-03")
    early = events.filter(F.col("ts") < cutoff)
    errs = early.filter(F.col("event_type") == "error").select("user_id").distinct()
    purch = early.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    error_only = errs.subtract(purch).withColumn("relation", F.lit("error_only"))
    both = errs.intersect(purch).withColumn("relation", F.lit("both"))
    return error_only.unionByName(both)


def q_window_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user trailing-10-minute value sum
    (feature-engineering staple; reference has no window frames —
    SURVEY.md §2.9). RANGE BETWEEN 600 PRECEDING over epoch seconds:
    keyed by user_id, so the window shuffles once on the partition key
    and each partition sorts independently — no global sort, and the
    frame bound is evaluated per-row inside the sorted run."""
    events = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-600, Window.currentRow)
    )
    return (
        events.filter(F.col("user_id") < 5)
        .withColumn("trailing_10m", F.round(F.sum("value").over(w), 4))
        .select("user_id", "event_id", "trailing_10m")
    )


def q_anti_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI / LEFT ANTI surface: per nation, customers with vs
    without any order. Both joins build on the distinct buyer set; the
    per-nation counts then join the tiny nation dim broadcast. At scale
    semi/anti are the shapes Catalyst gives EXISTS / NOT EXISTS — one
    shuffle on custkey each, no fan-out (semi/anti never duplicate the
    left side)."""
    cust = _t(spark, sf_dir, "customer")
    buyers = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    nation = _t(spark, sf_dir, "nation")
    cond = cust["c_custkey"] == buyers["o_custkey"]
    with_o = (
        cust.join(buyers, cond, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_with_orders"))
    )
    without_o = (
        cust.join(buyers, cond, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_without_orders"))
    )
    per_nation = with_o.join(without_o, "c_nationkey", "full_outer")
    return (
        per_nation.join(
            F.broadcast(nation), per_nation["c_nationkey"] == nation["n_nationkey"]
        )
        .select(
            "n_name",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


def q_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-event-per-user (SCD-style dedup-by-recency) as a
    max(struct) hash aggregate — one shuffle with map-side partial agg,
    NOT a rank window (a window sorts every partition's full history;
    the struct-max carries one row per key through the shuffle). Struct
    comparison orders by (ts, event_id), so ties on ts break
    deterministically."""
    events = _t(spark, sf_dir, "events")
    latest = events.groupBy("user_id").agg(
        F.max(F.struct("ts", "event_id", "event_type")).alias("last")
    )
    return latest.select(
        "user_id",
        F.date_format("last.ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        F.col("last.event_id").alias("last_event_id"),
        F.col("last.event_type").alias("last_event_type"),
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item customer ranking): filter both
    fact sides BEFORE the joins (returnflag on lineitem, one quarter of
    orders — Catalyst pushes both to the scans), join on keys, nation
    broadcast, then top-20 via orderBy().limit() =
    TakeOrderedAndProject (per-task top-k, no global sort)."""
    lineitem = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1995-10-01") & (F.col("o_orderdate") < "1996-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (the batch twin of the streaming
    windowed agg in streaming.py): F.window buckets event time into
    epoch-aligned 1-hour windows JVM-side; one shuffle on
    (window, event_type) with map-side partial agg. Output cardinality
    is bounded by hours x types regardless of input size."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP surface (SURVEY.md §2.9 lists grouping sets as a
    missing-in-reference category Catalyst gives free): customer counts
    and balance totals at (nation, segment), (nation), and grand-total
    levels in ONE pass — the Expand operator emits the grouping-set
    replicas map-side, so the cube costs one shuffle, not three jobs.
    Null grouping keys are folded to 'ALL' (the data has no real nulls,
    so the label is unambiguous on both engines)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            "n_customers",
            "total_acctbal",
        )
    )



def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE surface: the rollup's grouping sets plus the
    segment-only marginal — all four levels ((nation, segment),
    (nation), (segment), ()) in ONE pass; like the rollup, the Expand
    operator replicates rows map-side so the cube still costs exactly
    one shuffle, not four jobs."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .cube("n_name", "c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            "n_customers",
            "total_acctbal",
        )
    )



def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern (funnel) analysis: per user, the earliest
    view, the earliest click strictly AFTER that view, and the
    earliest purchase strictly after that click — the ordered
    conversion chain a product-analytics engine answers with
    MATCH_RECOGNIZE, composed here from per-stage min-aggregates and
    co-partitioned joins (each stage filters the stream BEFORE its
    shuffle, so stage k moves only users who survived stage k-1).
    Users with no view are out of the funnel by definition.
    stage_reached is 1 (view), 2 (+click), 3 (+purchase)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", "ts"
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).cast("long").alias("stage_reached"),
            "t_view",
            "t_click",
            "t_purchase",
        )
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders in one quarter
    that have at least one returned line, counted per priority. The
    EXISTS subquery is a LEFT SEMI join — Catalyst never duplicates the
    probe side, and the date filter is pushed to the orders scan so the
    semi join's build side is one quarter, not the full table."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    line quantity exceeds 300, enriched with customer and ranked by
    price. The HAVING aggregate runs FIRST (one shuffle on l_orderkey
    with map-side partial sums) and its survivors are a tiny fraction
    of orders, so the subsequent joins probe with the small side and
    the final top-100 is TakeOrderedAndProject — no global sort."""
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (priority-split shipping stats; the testdata
    lineitem has no l_shipmode/commitdate, so l_linestatus plays the
    grouping column and the ship-year window plays the receipt window —
    the query's defining feature, the CASE-sum split of high- vs
    low-priority orders inside one aggregate, is kept exactly). One
    shuffle: the orders join probes on l_orderkey, the CASE sums
    combine map-side, and the date filter is pushed to the lineitem
    parquet scan (PushedFilters on l_shipdate)."""
    line = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        line.join(orders, line["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicate): three
    brand/size/quantity bands OR-ed together. part is a dimension —
    broadcast, so lineitem never shuffles; the disjunction references
    both sides and evaluates post-join inside whole-stage codegen. The
    partkey equi-key is the join condition (Catalyst extracts it; the
    naive reading of Q19 as a pure theta-join would be a cross join).
    Returns one row."""
    line = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    j = line.join(F.broadcast(part), line["l_partkey"] == part["p_partkey"])
    band = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return j.filter(band).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_lines"),
    )


# ---------------------------------------------------------------------------
# TPC-H completion set (round 4): Q2/Q7/Q8/Q9/Q11/Q13/Q15/Q16/Q17/Q20/
# Q21/Q22 — the full 22-query dash. The testdata schema is reduced
# TPC-H (no partsupp, no commit/receipt dates, no phone/comment/
# container columns), so each query keeps its DEFINING relational
# feature (correlated min-subquery, double-EXISTS, scalar-threshold
# HAVING, ...) and substitutes documented analogue columns where the
# original's column doesn't exist — the same convention as Q4/Q12.
# ---------------------------------------------------------------------------


def _supplier_region(spark: SparkSession, sf_dir: str, r_name: str) -> DataFrame:
    """supplier ⋈ nation ⋈ region, filtered to one region — the
    broadcast-sized dim chain shared by Q2/Q7/Q8/Q9/Q11/Q20/Q21."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == r_name)
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier) — NOT comparable to official
    TPC-H results: the testdata has no partsupp table and no EUROPE
    region, so the relation is derived and the region substituted (the
    documented-analogue convention, SURVEY.md round-4 delta).

    The correlated min-subquery
    — for each part, keep exactly the supplier(s) whose cost equals the
    regional minimum. No partsupp table, so the part-supplier relation
    is derived from lineitem: unit_cost = min over that (part,
    supplier)'s lines of l_extendedprice / l_quantity (an IEEE-exact
    division of identical inputs, so the doubles are bit-identical in
    both engines and the equality against the min is deterministic).
    The per-part minimum is a WINDOW aggregate over the already-
    aggregated part-supplier rows, not a re-aggregate + self-join —
    the self-join form re-derives the whole lineitem aggregation for
    its second input (no exchange reuse across differing aggregates),
    doubling the scan; the window reuses the same shuffled rows.
    Scale: ONE shuffle on (partkey, suppkey) for the aggregation, the
    window re-partitions the tiny ps result on partkey;
    suppliers/nations/regions broadcast."""
    suppliers = _supplier_region(spark, sf_dir, "EUROPE").select(
        "s_suppkey", "s_name", "s_acctbal", "n_name"
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    ps = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(suppliers), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    w_min = Window.partitionBy("l_partkey")
    return (
        ps.withColumn("min_cost", F.min("unit_cost").over(w_min))
        .filter(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("unit_cost", 6).alias("unit_cost"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(100)
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between two trade partners):
    the two-sided nation-pair filter, grouped by both partners and
    ship year. Region-level partners (EUROPE↔ASIA) substitute for the
    original FRANCE↔GERMANY — the testdata has ≤1 supplier per nation
    at small SF, and regions keep both directions populated. lineitem
    streams; every dim side broadcasts. The revenue term is
    floor-truncated to cents per row before the sum (the Q9
    treatment): raw 4-decimal terms can sum EXACTLY onto a .005
    boundary where round(,2) flips between engines/plans; with cent
    terms every group sum is a multiple of 0.01, ≥0.005 from any
    boundary. The floor can also drop a real cent: 100*x on a
    two-decimal double is not always integral (100*0.29 is
    28.999999999999996, which floors to 28), so a revenue can read a
    cent under the true cent sum. Both engines floor the same doubles,
    so the gate hash is unaffected."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    cust = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", F.col("r_name").alias("cust_region"))
    )
    pair = (
        (F.col("supp_region") == "EUROPE") & (F.col("cust_region") == "ASIA")
    ) | ((F.col("supp_region") == "ASIA") & (F.col("cust_region") == "EUROPE"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(pair)
        .groupBy("supp_region", "cust_region", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(
                    F.floor(100 * F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    / 100
                ),
                2,
            ).alias("revenue")
        )
        .orderBy("supp_region", "cust_region", "l_year")
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share): ratio-of-conditional-sums per
    year — the share of EUROPE-based suppliers in ECONOMY-part sales
    to ASIA customers (region analogues of the original nation/
    continent pair). The CASE-sum and total ride ONE aggregate; the
    division happens on the 2-rounded sums so both engines divide
    identical doubles. Volume terms are floor-truncated to cents per
    row (Q9 treatment) so neither rounded sum can sit on a .005
    boundary. The floor can also drop a real cent (100*0.29 floors to
    28, see q_tpch_q7); both engines floor the same doubles."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", F.col("r_name").alias("supp_region"))
    )
    cust_asia = (
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation.n_regionkey == region.r_regionkey,
        )
        .select("c_custkey")
    )
    vol = F.floor(100 * F.col("l_extendedprice") * (1 - F.col("l_discount"))) / 100
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust_asia), orders.o_custkey == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_region") == "EUROPE", vol).otherwise(0.0)), 2
            ).alias("europe_vol"),
            F.round(F.sum(vol), 2).alias("total_vol"),
        )
        .select(
            "o_year",
            F.round(F.col("europe_vol") / F.col("total_vol"), 6).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year). No
    ps_supplycost, so cost is the documented analogue
    floor(50 * p_retailprice) / 100 * l_quantity; profit = revenue −
    cost, summed per (supplier nation, order year) for parts named
    like '%widget%'. BOTH per-row terms are floor-truncated to cents
    before the sum: the raw revenue term l_extendedprice*(1-l_discount)
    has 4 decimals, so a group's true sum can land EXACTLY on a .005
    rounding boundary (measured here: one group summed to exactly
    219973.625, an exactly-representable binary half, where the two
    engines' — and even two plans' — last-ulp summation differences
    flip round(...,2)). With cent-truncated terms every sum is a
    multiple of 0.01 and the final round is ≥0.005 from any boundary.
    floor, not round(,2), for the truncation: floor of an IEEE-exact
    product is the same double in both engines, while decimal rounding
    of a .XX5 half is implementation-defined (Spark rounds the
    shortest decimal string HALF_UP; DuckDB rounds the binary value).
    part/supplier/nation broadcast; lineitem⋈orders is the one big
    shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("widget"))
    nation = _t(spark, sf_dir, "nation")
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_suppkey", "n_name")
    )
    profit = F.floor(
        100 * F.col("l_extendedprice") * (1 - F.col("l_discount"))
    ) / 100 - (F.floor(50 * F.col("p_retailprice")) / 100) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(profit), 2).alias("sum_profit"))
        .orderBy("n_name", F.desc("o_year"))
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part value with a
    HAVING-against-global-scalar threshold. Value is the lineitem
    analogue sum(l_extendedprice * l_quantity) over EUROPE suppliers
    (no partsupp); parts whose value exceeds 2× the mean per-part
    value survive (a scale-free threshold — the original's fixed
    0.0001 fraction empties at larger SF as per-part shares shrink).
    The scalar (total, count) is a 1-row aggregate cross-joined in
    (bounded); the threshold is floor-truncated to 2 dp so both
    engines compare the identical double."""
    suppliers = _supplier_region(spark, sf_dir, "EUROPE").select("s_suppkey")
    vals = (
        _t(spark, sf_dir, "lineitem")
        .join(F.broadcast(suppliers), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2).alias("value"))
    )
    total = vals.agg(
        F.round(F.sum("value"), 2).alias("total_value"),
        F.count("*").alias("n_parts"),
    )
    thresh = F.floor(200 * F.col("total_value") / F.col("n_parts")) / 100
    return (
        vals.crossJoin(F.broadcast(total))
        .filter(F.col("value") > thresh)
        .select("l_partkey", "value")
        .orderBy(F.desc("value"), F.asc("l_partkey"))
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): LEFT join so
    zero-order customers land in bucket 0, then the two-level
    aggregate (orders per customer → customers per count). The
    excluded class ('5-LOW' priority, analogue of the original
    comment-pattern filter) is pushed to the orders scan. Both
    aggregates are map-side-combinable; the second one's input is
    |customers| rows."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the revenue view over one quarter and
    the scalar-max equality — suppliers whose quarterly revenue equals
    the global maximum. Revenue terms are floor-truncated to cents per
    row (Q9 treatment — no .005 boundary sums), and the sum is rounded
    to 2 dp BEFORE the max/equality on both sides, so the comparison
    is between identical doubles. The floor can also drop a real cent
    (100*0.29 floors to 28, see q_tpch_q7), on both engines alike.
    One shuffle for the view; the max is a 1-row broadcast.
    The |suppliers|-row revenue view is localCheckpoint'ed so the max
    and the equality filter read ONE materialization instead of each
    re-scanning the lineitem quarter (Catalyst does not reuse a
    subtree consumed by two different aggregates)."""
    rev = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(
                    F.floor(100 * F.col("l_extendedprice") * (1 - F.col("l_discount")))
                    / 100
                ),
                2,
            ).alias("total_revenue")
        )
        .localCheckpoint(eager=True)
    )
    top = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supplier = _t(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(supplier, F.col("l_suppkey") == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship count): count DISTINCT
    suppliers per (brand, type, size) bucket, with both exclusion
    classes — a part-attribute exclusion (Brand#5 / PROMO) and a
    supplier blocklist (negative acctbal, analogue of the original
    complaints filter) applied as an ANTI join before the distinct
    aggregation. The part-supplier pairs come from lineitem
    (no partsupp); distinct-aggregation is the one shuffle."""
    part = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    bad_supp = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(bad_supp), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the correlated
    per-part average — lines whose quantity is below 20% of their
    part's mean quantity, for one brand (container column doesn't
    exist; Brand#3 is the filter). Deterministic: quantities are
    integral so the per-part mean is an exactly-rounded division, and
    0.2*avg is exactly rounded from identical inputs. The per-part avg
    joins back broadcast (≤|parts of one brand| rows). The brand-
    filtered line table is localCheckpoint'ed — the avg subquery and
    the main scan would otherwise each re-run the lineitem⋈part
    filter (no subtree reuse across differing consumers)."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).localCheckpoint(eager=True)
    avg_q = li.groupBy("p_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        li.join(F.broadcast(avg_q.withColumnRenamed("p_partkey", "ap")), F.col("l_partkey") == F.col("ap"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): the nested
    aggregate-then-semi-join chain — AFRICA suppliers who shipped more
    than 100 units of 'blue%' parts during 1997 (availqty doesn't
    exist; the shipped-quantity threshold keeps the HAVING-over-join
    core). Quantity sums are integral → exact. The qualifying-supplier
    set semi-joins into the supplier dim."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("blue"))
    shipped = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return (
        _supplier_region(spark, sf_dir, "AFRICA")
        .join(shipped, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    EXISTS + NOT-EXISTS pair — EUROPE suppliers with a RETURNED line
    in a multi-supplier order where NO OTHER supplier's line was
    returned (receipt/commit dates don't exist; returnflag='R' is the
    lateness analogue). EXISTS compiles to a LEFT SEMI and NOT EXISTS
    to a LEFT ANTI on (orderkey, other-supplier) — Catalyst never
    duplicates the probe side. Count per supplier, top-100."""
    li = _t(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    others_r = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_orderkey").alias("o3_orderkey"),
            F.col("l_suppkey").alias("o3_suppkey"),
        )
    )
    waiting = (
        l1.join(
            others,
            (F.col("l_orderkey") == F.col("o2_orderkey"))
            & (F.col("l_suppkey") != F.col("o2_suppkey")),
            "left_semi",
        ).join(
            others_r,
            (F.col("l_orderkey") == F.col("o3_orderkey"))
            & (F.col("l_suppkey") != F.col("o3_suppkey")),
            "left_anti",
        )
    )
    suppliers = _supplier_region(spark, sf_dir, "EUROPE").select("s_suppkey", "s_name")
    return (
        waiting.join(F.broadcast(suppliers), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): the scalar-average
    threshold + anti-join — customers in a country-code set with
    above-average positive balances and NO recent orders. Country code
    is n_nationkey % 7 (no phone column); "no orders" is windowed to
    orderdate ≥ 1999-01-01 because every testdata customer has SOME
    order. The average is a 1-row broadcast; the anti join probes with
    the filtered orders side."""
    cust = (
        _t(spark, sf_dir, "customer")
        .withColumn("cntrycode", F.col("c_nationkey") % 7)
        .filter(F.col("cntrycode").isin(1, 2, 3))
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 6).alias("avg_bal")
    )
    recent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "1999-01-01"
    ).select("o_custkey")
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join surface (joins.salted_join): enrich the events
    fact with a per-user profile on user_id — the events table
    concentrates ~67 events/user on 15 users at sf0.001 (hot keys),
    the exact shape where an unsalted shuffle join serializes a hot
    key into one reducer. The salted plan spreads each user over 8
    sub-keys; the result is provably identical to the plain join (the
    oracle IS the plain join). Profile side is events-derived here to
    stay self-contained; at 100 TB it is any medium dimension too big
    to broadcast."""
    from .joins import salted_join

    events = _t(spark, sf_dir, "events")
    profile = events.groupBy("user_id").agg(
        F.count("*").alias("user_events"),
        F.round(F.sum("value"), 2).alias("user_value"),
    )
    return salted_join(
        events.select("event_id", "user_id", "event_type"), profile, on="user_id"
    ).select("event_id", "user_id", "event_type", "user_events", "user_value")


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter semi-join surface (joins.bloom_semi_join): the
    anti_semi_join per-nation buyer counts, computed through the
    runtime-filter path — customers are screened against a broadcast
    8192-bit Bloom set built from the distinct buyer keys BEFORE the
    exact semi-join, so at scale most non-buying customers never reach
    the exchange. Result is provably identical to the plain semi-join
    (false positives die in the exact stage, false negatives are
    impossible), so the oracle IS the plain semi-join — same contract
    as salted_join. n_without_orders comes from the per-nation totals
    minus the matched counts: one extra single-column aggregate instead
    of a second (anti) pass over the customer table."""
    from .joins import bloom_semi_join

    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    buyers = _t(spark, sf_dir, "orders").select("o_custkey").distinct()
    nation = _t(spark, sf_dir, "nation")
    matched = bloom_semi_join(cust, buyers, "c_custkey", "o_custkey")
    with_o = matched.groupBy("c_nationkey").agg(
        F.count("*").alias("n_with_orders")
    )
    totals = cust.groupBy("c_nationkey").agg(F.count("*").alias("n_total"))
    per_nation = totals.join(with_o, "c_nationkey", "left_outer")
    return (
        per_nation.join(
            F.broadcast(nation), per_nation["c_nationkey"] == nation["n_nationkey"]
        )
        .select(
            "n_name",
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            (F.col("n_total") - F.coalesce("n_with_orders", F.lit(0))).alias(
                "n_without_orders"
            ),
        )
    )


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (type-2 slowly-changing-dimension) reconstruction: compress
    each user's event stream into versioned validity intervals of its
    ``event_type`` state — one row per state CHANGE carrying
    ``(version, valid_from, valid_to)``, with the open current interval
    ending at NULL ('' after the string projection). This is the
    dimension-versioning primitive an Iceberg-snapshot consumer needs
    to reconstruct "the table as of T" (filter
    ``valid_from <= T < valid_to``); ``latest_per_key`` is its
    degenerate current-slice, which is why both share the scd2_suite
    gate key.

    Plan: ONE shuffle on user_id serves all three windows (lag for
    change detection, row_number for versions, lead for interval ends —
    identical partitioning+ordering, so Catalyst plans a single sort).
    Per-user history sorts locally; no global sort, no driver state.
    Ordering ties on ts break by event_id, so versions are
    deterministic."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = events.withColumn(
        "prev_type", F.lag("event_type").over(w)
    ).filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    wc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return changes.select(
        "user_id",
        F.row_number().over(wc).alias("version"),
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(F.lead("ts").over(wc), "yyyy-MM-dd HH:mm:ss"),
            F.lit(""),
        ).alias("valid_to"),
    )


ORACLES: dict[str, str] = {
    "r1_dedup_hash": """
        SELECT md5(text) AS content_hash,
               min(doc_id) AS keep_doc_id,
               count(*) AS dup_count
        FROM documents GROUP BY md5(text)
    """,
    "r2_pagination_topk": """
        SELECT rn, o_orderkey, total_price FROM (
            SELECT row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,
                   o_orderkey, round(o_totalprice, 2) AS total_price
            FROM orders
        ) WHERE rn > 10 AND rn <= 30
    """,
    "r3_count_by_status": """
        SELECT o_orderstatus, count(*) AS n_orders FROM orders GROUP BY o_orderstatus
    """,
    "r4_status_filtered_list": """
        SELECT user_id, count(*) AS n_errors, round(sum(value), 4) AS error_value
        FROM events WHERE event_type = 'error' GROUP BY user_id
    """,
    "r5_oldest_queued": """
        SELECT event_type, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS first_ts
        FROM (
            SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "r6_keyword_search": """
        SELECT doc_id, lang, n_chars FROM documents
        WHERE lower(text) LIKE '%slow fast%'
    """,
    "r9_enrichment_join": """
        SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "r10_totals_aggregate": """
        SELECT event_type, count(*) AS n_events,
               round(sum(value), 4) AS sum_value,
               round(avg(value), 6) AS avg_value,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type
    """,
    "tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "tpch_q3": """
        SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l_orderkey, orderdate
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    "tpch_q6": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "events_range_join": """
        SELECT e.user_id,
               e.event_id AS error_event_id,
               p.event_id AS purchase_event_id,
               strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
        FROM (SELECT * FROM events WHERE event_type = 'error') e
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON e.user_id = p.user_id
         AND e.ts >= p.ts
         AND e.ts < p.ts + INTERVAL 3 DAY
    """,
    "events_rollup": """
        SELECT strftime(ts, '%Y-%m') AS month,
               strftime(ts, '%Y-%m-%d') AS day,
               count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events
        GROUP BY ROLLUP (month, day)
    """,
    "events_asof_join": """
        SELECT l.user_id,
               strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS error_ts,
               l.event_id,
               round(l.value, 4) AS value,
               r.event_id AS prior_event_id,
               round(r.value, 4) AS prior_value,
               strftime(r.ts, '%Y-%m-%d %H:%M:%S') AS prior_ts
        FROM (SELECT * FROM events WHERE event_type = 'error') l
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "tpch_q5": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    "tpch_q14": """
        SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1995-09-01'
          AND l_shipdate < TIMESTAMP '1995-10-01'
    """,
    "json_props_stats": """
        -- json_valid + TRY_CAST guard: Spark's from_json is NULL on
        -- malformed props / NULL / wrong-typed values, DuckDB's
        -- json_extract RAISES on malformed input and CAST raises on a
        -- non-numeric JSON value, and rounds a float where from_json's
        -- BIGINT field is strict-NULL (tests/test_edge_corpus.py events
        -- probe) — the guards pin both engines to NULL-on-garbage
        WITH ks AS (
            SELECT event_type,
                   CASE WHEN props IS NOT NULL AND json_valid(props)
                             AND json_type(json_extract(props, '$.k'))
                                 IN ('BIGINT', 'UBIGINT')
                        THEN TRY_CAST(json_extract(props, '$.k') AS BIGINT) END AS k
            FROM events
        )
        SELECT event_type,
               count(k) AS n_with_k,
               -- CAST: DuckDB sum(BIGINT) is HUGEINT -> float64 in pandas
               CAST(sum(k) AS BIGINT) AS sum_k,
               round(avg(k), 6) AS avg_k
        FROM ks GROUP BY event_type
    """,
    "value_quantiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4) AS p50,
               round(quantile_cont(value, 0.9), 4) AS p90,
               round(quantile_cont(value, 0.99), 4) AS p99
        FROM events GROUP BY event_type
    """,
    "set_ops": """
        WITH errs AS (
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-03'
        ), purch AS (
            SELECT DISTINCT user_id FROM events
            WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-03'
        )
        SELECT user_id, 'error_only' AS relation
        FROM (SELECT user_id FROM errs EXCEPT SELECT user_id FROM purch)
        UNION ALL
        SELECT user_id, 'both' AS relation
        FROM (SELECT user_id FROM errs INTERSECT SELECT user_id FROM purch)
    """,
    "window_running_total": """
        SELECT user_id, event_id,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_value
        FROM events QUALIFY user_id < 5
    """,
    "sessionize_events": """
        WITH gaps AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            -- CAST: DuckDB's sum() yields HUGEINT, which pandas turns
            -- into float64 and breaks the cross-engine value hash
            SELECT user_id, value,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
            FROM gaps
        )
        SELECT user_id, session_id, count(*) AS n_events,
               round(sum(value), 4) AS session_value
        FROM sess GROUP BY user_id, session_id
    """,
    "window_trailing": """
        SELECT user_id, event_id,
               round(sum(value) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                   RANGE BETWEEN 600 PRECEDING AND CURRENT ROW
               ), 4) AS trailing_10m
        FROM events WHERE user_id < 5
    """,
    "anti_semi_join": """
        WITH buyers AS (SELECT DISTINCT o_custkey FROM orders),
        flagged AS (
            SELECT c_nationkey,
                   c_custkey IN (SELECT o_custkey FROM buyers) AS has_o
            FROM customer
        )
        SELECT n_name,
               CAST(count(*) FILTER (WHERE has_o) AS BIGINT) AS n_with_orders,
               CAST(count(*) FILTER (WHERE NOT has_o) AS BIGINT) AS n_without_orders
        FROM flagged JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "latest_per_key": """
        SELECT user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
               event_id AS last_event_id,
               event_type AS last_event_type
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events
        ) WHERE rn = 1
    """,
    "tpch_q10": """
        SELECT c_custkey, c_name, n_name, revenue FROM (
            SELECT c_custkey, c_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1995-10-01'
              AND o_orderdate < TIMESTAMP '1996-01-01'
            GROUP BY c_custkey, c_name, n_name
        ) ORDER BY revenue DESC, c_custkey ASC LIMIT 20
    """,
    "events_tumbling": """
        SELECT strftime(to_timestamp(CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600),
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n_events,
               round(sum(value), 4) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "rollup_agg": """
        SELECT coalesce(n_name, 'ALL') AS nation,
               coalesce(c_mktsegment, 'ALL') AS segment,
               count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS total_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY ROLLUP (n_name, c_mktsegment)
    """,
    "cube_agg": """
        SELECT coalesce(n_name, 'ALL') AS nation,
               coalesce(c_mktsegment, 'ALL') AS segment,
               count(*) AS n_customers,
               round(sum(c_acctbal), 2) AS total_acctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY CUBE (n_name, c_mktsegment)
    """,
    "funnel_stages": """
        WITH v AS (
            SELECT user_id, min(ts) AS t_view FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > v.t_view
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click
            GROUP BY e.user_id
        )
        SELECT v.user_id,
               CAST(1 + (c.t_click IS NOT NULL)::INT
                      + (p.t_purchase IS NOT NULL)::INT AS BIGINT)
                   AS stage_reached,
               v.t_view, c.t_click, p.t_purchase
        FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
    "tpch_q4": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
          )
        GROUP BY o_orderpriority
    """,
    "tpch_q18": """
        SELECT c_name, c_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               round(o_totalprice, 2) AS o_totalprice, sum_qty
        FROM (
            SELECT l_orderkey, round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING round(sum(l_quantity), 2) > 300
        )
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
    "tpch_q12": """
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """,
    "tpch_q19": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "tpch_q2": """
        WITH supp AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ),
        ps AS (
            SELECT l_partkey, s_suppkey, s_name, s_acctbal, n_name,
                   min(l_extendedprice / l_quantity) AS unit_cost
            FROM lineitem JOIN supp ON l_suppkey = s_suppkey
            GROUP BY 1, 2, 3, 4, 5
        ),
        mc AS (
            SELECT *, min(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
            FROM ps
        )
        SELECT round(mc.s_acctbal, 2) AS s_acctbal, mc.s_name, mc.n_name,
               p.p_partkey, p.p_name, round(mc.unit_cost, 6) AS unit_cost
        FROM mc
        JOIN part p ON mc.l_partkey = p.p_partkey
        WHERE mc.unit_cost = mc.min_cost
          AND p.p_type = 'STANDARD'
        ORDER BY s_acctbal DESC, mc.n_name ASC, mc.s_name ASC, p.p_partkey ASC
        LIMIT 100
    """,
    "tpch_q7": """
        WITH supp AS (
            SELECT s_suppkey, r_name AS supp_region
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        ),
        cust AS (
            SELECT c_custkey, r_name AS cust_region
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        )
        SELECT supp_region, cust_region,
               year(l_shipdate) AS l_year,
               round(sum(floor(100 * l_extendedprice * (1 - l_discount)) / 100), 2)
                 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supp ON l_suppkey = s_suppkey
        JOIN cust ON o_custkey = c_custkey
        WHERE (supp_region = 'EUROPE' AND cust_region = 'ASIA')
           OR (supp_region = 'ASIA' AND cust_region = 'EUROPE')
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """,
    "tpch_q8": """
        WITH supp AS (
            SELECT s_suppkey, r_name AS supp_region
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
        ),
        cust_asia AS (
            SELECT c_custkey
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
        ),
        yearly AS (
            SELECT year(o_orderdate) AS o_year,
                   round(sum(CASE WHEN supp_region = 'EUROPE'
                                  THEN floor(100 * l_extendedprice * (1 - l_discount)) / 100
                                  ELSE 0.0 END), 2) AS europe_vol,
                   round(sum(floor(100 * l_extendedprice * (1 - l_discount)) / 100), 2)
                     AS total_vol
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN part ON l_partkey = p_partkey
            JOIN supp ON l_suppkey = s_suppkey
            JOIN cust_asia ON o_custkey = c_custkey
            WHERE p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY 1
        )
        SELECT o_year, round(europe_vol / total_vol, 6) AS mkt_share
        FROM yearly ORDER BY o_year
    """,
    "tpch_q9": """
        SELECT n_name, year(o_orderdate) AS o_year,
               round(sum(floor(100 * l_extendedprice * (1 - l_discount)) / 100
                         - floor(50 * p_retailprice) / 100 * l_quantity), 2) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%widget%'
        GROUP BY 1, 2
        ORDER BY n_name ASC, o_year DESC
    """,
    "tpch_q11": """
        WITH supp AS (
            SELECT s_suppkey
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ),
        vals AS (
            SELECT l_partkey,
                   round(sum(l_extendedprice * l_quantity), 2) AS value
            FROM lineitem JOIN supp ON l_suppkey = s_suppkey
            GROUP BY 1
        ),
        total AS (SELECT round(sum(value), 2) AS total_value,
                         count(*) AS n_parts FROM vals)
        SELECT l_partkey, value
        FROM vals, total
        WHERE value > floor(200 * total_value / n_parts) / 100
        ORDER BY value DESC, l_partkey ASC
    """,
    "tpch_q13": """
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority <> '5-LOW') o
              ON c_custkey = o.o_custkey
            GROUP BY c_custkey
        ) t
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "tpch_q15": """
        WITH rev AS (
            SELECT l_suppkey,
                   round(sum(floor(100 * l_extendedprice * (1 - l_discount)) / 100), 2)
                     AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY 1
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        ORDER BY s_suppkey
    """,
    "tpch_q16": """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#5'
          AND p_type <> 'PROMO'
          AND p_size IN (1, 4, 9, 16, 25, 36, 49)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    """,
    "tpch_q17": """
        WITH li AS (
            SELECT l.*, p_partkey FROM lineitem l
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#3'
        ),
        avg_q AS (
            SELECT p_partkey AS ap, avg(l_quantity) AS avg_qty
            FROM li GROUP BY 1
        )
        SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
               count(*) AS n_lines
        FROM li JOIN avg_q ON l_partkey = ap
        WHERE l_quantity < 0.2 * avg_qty
    """,
    "tpch_q20": """
        SELECT s_name, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'AFRICA'
          AND s_suppkey IN (
              SELECT l_suppkey
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE 'blue%'
                AND l_shipdate >= TIMESTAMP '1997-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01'
              GROUP BY l_suppkey
              HAVING sum(l_quantity) > 100
          )
        ORDER BY s_name
    """,
    "tpch_q21": """
        WITH l1 AS (
            SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
        )
        SELECT s_name, count(*) AS numwait
        FROM l1
        JOIN supplier ON l1.l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name ASC
        LIMIT 100
    """,
    "tpch_q22": """
        WITH cust AS (
            SELECT *, c_nationkey % 7 AS cntrycode FROM customer
            WHERE c_nationkey % 7 IN (1, 2, 3)
        ),
        ab AS (
            SELECT round(avg(c_acctbal), 6) AS avg_bal FROM cust
            WHERE c_acctbal > 0.0
        )
        SELECT cntrycode, count(*) AS numcust,
               round(sum(c_acctbal), 2) AS totacctbal
        FROM cust, ab
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY cntrycode
        ORDER BY cntrycode
    """,
    "salted_join": """
        SELECT e.event_id, e.user_id, e.event_type, p.user_events, p.user_value
        FROM events e
        JOIN (
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS user_events,
                   round(sum(value), 2) AS user_value
            FROM events GROUP BY user_id
        ) p USING (user_id)
    """,
    "scd2_intervals": """
        SELECT user_id,
               CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS INTEGER) AS version,
               event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
               coalesce(strftime(lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ), '%Y-%m-%d %H:%M:%S'), '') AS valid_to
        FROM (
            SELECT *, lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev_type
            FROM events
        ) WHERE prev_type IS NULL OR prev_type <> event_type
    """,
}

# The Bloom-prefiltered semi-join's contract is exact equality with the
# plain semi-join (see q_bloom_semi_join) — the oracle is VERBATIM the
# anti_semi_join oracle.
ORACLES["bloom_semi_join"] = ORACLES["anti_semi_join"]

QUERIES = {
    "r1_dedup_hash": q_dedup_hash,
    "r2_pagination_topk": q_pagination_topk,
    "r3_count_by_status": q_count_by_status,
    "r4_status_filtered_list": q_status_filtered_list,
    "r5_oldest_queued": q_oldest_queued,
    "r6_keyword_search": q_keyword_search,
    "r9_enrichment_join": q_enrichment_join,
    "r10_totals_aggregate": q_totals_aggregate,
    "events_asof_join": q_events_asof_join,
    "events_range_join": q_events_range_join,
    "events_rollup": q_events_rollup,
    "tpch_q1": q_tpch_q1,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "tpch_q6": q_tpch_q6,
    "tpch_q14": q_tpch_q14,
    "window_running_total": q_window_running_total,
    "sessionize_events": q_sessionize_events,
    "set_ops": q_set_ops,
    "value_quantiles": q_value_quantiles,
    "json_props_stats": q_json_props_stats,
    "window_trailing": q_window_trailing,
    "anti_semi_join": q_anti_semi_join,
    "latest_per_key": q_latest_per_key,
    "tpch_q10": q_tpch_q10,
    "events_tumbling": q_events_tumbling,
    "rollup_agg": q_rollup_agg,
    "cube_agg": q_cube_agg,
    "funnel_stages": q_funnel_stages,
    "tpch_q4": q_tpch_q4,
    "tpch_q18": q_tpch_q18,
    "tpch_q12": q_tpch_q12,
    "tpch_q19": q_tpch_q19,
    "tpch_q2": q_tpch_q2,
    "tpch_q7": q_tpch_q7,
    "tpch_q8": q_tpch_q8,
    "tpch_q9": q_tpch_q9,
    "tpch_q11": q_tpch_q11,
    "tpch_q13": q_tpch_q13,
    "tpch_q15": q_tpch_q15,
    "tpch_q16": q_tpch_q16,
    "tpch_q17": q_tpch_q17,
    "tpch_q20": q_tpch_q20,
    "tpch_q21": q_tpch_q21,
    "tpch_q22": q_tpch_q22,
    "salted_join": q_salted_join,
    "bloom_semi_join": q_bloom_semi_join,
    "scd2_intervals": q_scd2_intervals,
}
