"""Relational and analytics rows: TPC-H-style aggregates, windows and
sessions, as-of joins, cubes, sketches (HLL/CMS/KMV), sampling and
space-filling-curve layouts."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import hash60_expr, hash60_sql, tokens_expr
from ..operators.asof import asof_join
from ..session import fan_out

from ._registry import _register, _t, staged_sort


# ===========================================================================
# relational surface (joins/aggregations/sorts — SURVEY.md §2.3/2.4/2.6)
# ===========================================================================


@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           round(sum(l_extendedprice), 2)                                  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           round(avg(l_quantity), 6)                                       AS avg_qty,
           round(avg(l_extendedprice), 6)                                  AS avg_price,
           round(avg(l_discount), 6)                                       AS avg_disc,
           CAST(count(*) AS BIGINT)                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-side filter + map-side-combinable aggregation."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@_register(
    "topk_order_revenue",
    """
    SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dimension filter pushed below a 3-way join, top-k.

    customer is broadcast (dimension-sized); lineitem⨝orders shuffles on the
    order key only."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.col("o_orderkey"))
        .limit(10)
    )


@_register(
    "region_nation_revenue",
    """
    SELECT r.r_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(DISTINCT o.o_orderkey) AS BIGINT)          AS n_orders
    FROM region r
      JOIN nation n   ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o   ON o.o_custkey  = c.c_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY r.r_name, n.n_name
    ORDER BY r.r_name, n.n_name
    """,
)
def region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join; all dimensions broadcast, facts
    shuffle once on the order key."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dim = F.broadcast(
        c.join(n, c.c_nationkey == n.n_nationkey).join(r, n.n_regionkey == r.r_regionkey)
    )
    return staged_sort(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(dim, o.o_custkey == dim.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.countDistinct("o_orderkey").alias("n_orders"),
        ),
        "r_name",
        "n_name",
    )


@_register(
    "order_priority_counts",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS = left-semi join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    semi = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        semi.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@_register(
    "sales_rollup",
    """
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           round(sum(o_totalprice), 2)      AS total,
           CAST(count(*) AS BIGINT)         AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregate (ROLLUP) — free in Spark, absent in the
    reference engine (SURVEY.md §2.4 note)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "total",
            "n",
        )
        .orderBy("status", "priority")
    )


# ===========================================================================
# window surface (SURVEY.md §2.5 / A1-A6 analogs on the events stream)
# ===========================================================================


@_register(
    "events_windows",
    """
    SELECT event_id, user_id,
           CAST(row_number() OVER w AS BIGINT)                  AS seq,
           round(value - coalesce(lag(value) OVER w, 0.0), 2)    AS delta,
           coalesce(lead(ts) OVER w, TIMESTAMP '2222-01-01')     AS valid_to,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, seq
    """,
)
def events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/row_number/running-sum — the A1-A6 window family in one
    pass; all four specs share one partitioning → single shuffle."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.row_number().over(w).cast("bigint").alias("seq"),
            F.round(F.col("value") - F.lag("value", 1, 0.0).over(w), 2).alias("delta"),
            F.coalesce(
                F.lead("ts").over(w), F.lit("2222-01-01").cast("timestamp")
            ).alias("valid_to"),
            F.round(
                F.sum("value").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)), 2
            ).alias("running_value"),
        )
        .orderBy("user_id", "seq")
    )


@_register(
    "user_sessions",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - coalesce(lag(ts) OVER w, ts - INTERVAL 9999 MINUTE)
                       > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked
    )
    SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM sess GROUP BY user_id ORDER BY user_id
    """,
)
def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gap > 30 min) via cumulative-sum-of-boundaries — the
    batch equivalent of a session window."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # interval arithmetic works for both TIMESTAMP and TIMESTAMP_NTZ, so the
    # gap test is immune to parquet NTZ-inference drift (round-5 red row)
    prev = F.lag("ts").over(w)
    gap_over = (F.col("ts") - prev) > F.expr("INTERVAL 30 MINUTES")
    marked = ev.withColumn(
        "new_session",
        F.when(prev.isNull() | gap_over, F.lit(1)).otherwise(F.lit(0)),
    )
    # first row of each user: lag null -> new session (oracle encodes the
    # same via the sentinel interval)
    sess = marked.withColumn(
        "session_id",
        F.sum("new_session").over(
            W.partitionBy("user_id").orderBy("ts").rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.countDistinct("session_id").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


@_register(
    "latest_state",
    """
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           round(value, 2) AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
)
def latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 analog: latest-value-per-key state table (the Spark replacement of
    the reference's replication RocksDB store)."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.round("value", 2).alias("last_value"),
        )
        .orderBy("user_id")
    )


@_register(
    "asof_purchase_view",
    """
    SELECT p.event_id, p.user_id, p.ts,
           v.ts AS view_ts, round(v.value, 2) AS view_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id AND v.ts <= p.ts
    ORDER BY p.event_id
    """,
)
def asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J3's relational core): each purchase picks up the latest
    preceding view per user. Union + last-value window — one shuffle, no
    interval explosion (operators/asof.py)."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("ts").alias("view_ts"),
            F.round("value", 2).alias("view_value"),
        )
    )
    out = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_ts="view_ts",
        value_cols=["view_ts", "view_value"],
    )
    return out.select("event_id", "user_id", "ts", "view_ts", "view_value").orderBy("event_id")


# ===========================================================================
# training-data pipeline: sampling, vocabulary, end-to-end quality filter
# ===========================================================================

# per-language keep rates (percent); unknown languages keep everything
_SAMPLE_RATES = (("en", 50), ("de", 30), ("fr", 20), ("es", 10))


def _stratified_oracle() -> str:
    h = hash60_sql("CAST(doc_id AS VARCHAR)")
    case = " ".join(f"WHEN '{lang}' THEN {rate}" for lang, rate in _SAMPLE_RATES)
    return f"""
    SELECT doc_id, lang, {h} % 100 AS bucket
    FROM documents
    WHERE {h} % 100 < CASE lang {case} ELSE 100 END
    ORDER BY doc_id
    """


@_register("stratified_sample", _stratified_oracle())
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the reproducible alternative to
    ``df.sample()`` for training-data curation: a 60-bit content hash of
    the stable id buckets every row into [0,100), and each stratum keeps
    a configured share. Pure map-side filter: no shuffle, no RNG state,
    re-runs produce the identical sample at any scale."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(hash60_expr(F.col("doc_id").cast("string")), F.lit(100))
    rate = F.lit(100)
    for lang, r in reversed(_SAMPLE_RATES):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return (
        docs.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
        .orderBy("doc_id")
    )


_BACKLOG_ORACLE = """
WITH iv AS (
  SELECT o_orderdate AS open_d,
         o_orderdate + INTERVAL 1 DAY * (o_orderkey % 90) AS close_d
  FROM orders
), ev AS (
  SELECT open_d AS day, 1 AS delta FROM iv
  UNION ALL
  SELECT close_d AS day, -1 AS delta FROM iv
), daily AS (
  SELECT day, CAST(sum(delta) AS BIGINT) AS net_change FROM ev GROUP BY day
)
SELECT day, net_change,
       CAST(sum(net_change) OVER (ORDER BY day) AS BIGINT) AS n_open
FROM daily ORDER BY day
"""


@_register("order_backlog_interval", _BACKLOG_ORACLE)
def order_backlog_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-interval counting — how many intervals are open on each
    day — via the ±1 event-ization trick: each interval emits (+1 at
    open, −1 at close), one day-keyed combinable aggregation, then a
    running sum over the DAY table. The alternative (day × interval
    range join) is O(days·rows); this is O(rows) with a days-sized
    window — the shape that scales to billions of intervals. (Close
    dates are synthesized deterministically from the order key.)"""
    orders = _t(spark, sf_dir, "orders")
    iv = orders.select(
        F.col("o_orderdate").alias("open_d"),
        F.expr(
            "o_orderdate + make_interval(0,0,0, CAST(o_orderkey % 90 AS INT), 0,0,0)"
        ).alias("close_d"),
    )
    ev = iv.select(F.col("open_d").alias("day"), F.lit(1).alias("delta")).unionAll(
        iv.select(F.col("close_d").alias("day"), F.lit(-1).alias("delta"))
    )
    daily = ev.groupBy("day").agg(F.sum("delta").cast("bigint").alias("net_change"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        daily.withColumn("n_open", F.sum("net_change").over(w).cast("bigint"))
        .orderBy("day")
    )


_EVENTS_CUBE_ORACLE = """
SELECT event_type,
       date_trunc('day', ts) AS day,
       CAST(GROUPING_ID(event_type, date_trunc('day', ts)) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 4) AS sum_value
FROM events
GROUP BY CUBE (event_type, date_trunc('day', ts))
ORDER BY gid, event_type, day
"""


@_register("events_cube", _EVENTS_CUBE_ORACLE)
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation (SURVEY.md §2.4's grouping-sets family, next to
    `sales_rollup`'s ROLLUP): all four (event_type × day) grouping
    combinations in ONE pass — Spark expands the sets map-side and still
    partial-aggregates, so the exchange carries one row per (set, group),
    not one scan per set. ``grouping_id`` disambiguates real NULLs from
    subtotal rows, same contract as the SQL standard."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    return (
        ev.select("event_type", day.alias("day"), "value")
        .cube("event_type", "day")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .orderBy("gid", "event_type", "day")
    )


_PROPS_JSON_ORACLE = """
SELECT event_type,
       CAST(CAST(json_extract_string(props, '$.k') AS INT) // 10 AS INT) AS k_decile,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_min,
       CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS k_max,
       round(avg(value), 6) AS avg_value
FROM events
GROUP BY event_type, k_decile
ORDER BY event_type, k_decile
"""


@_register("event_props_json", _PROPS_JSON_ORACLE)
def event_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (SURVEY.md §2.7 JSON functions): the
    events' ``props`` JSON column parsed with a typed ``from_json``
    schema (JVM-native, codegen — never a Python JSON loop), bucketed and
    aggregated. Schema-on-read over a semi-structured column is the
    everyday shape of event-log analytics; the parse happens in the scan
    stage, so only (type, decile) rows reach the exchange."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select(
            "event_type",
            F.floor(k / 10).cast("int").alias("k_decile"),
            k.alias("_k"),
            "value",
        )
        .groupBy("event_type", "k_decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("_k").cast("int").alias("k_min"),
            F.max("_k").cast("int").alias("k_max"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("event_type", "k_decile")
    )


@_register(
    "source_quantiles",
    """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_chars), 6) AS avg_chars,
           round(quantile_cont(n_chars, 0.5), 6)  AS chars_p50,
           round(quantile_cont(n_chars, 0.9), 6)  AS chars_p90,
           round(quantile_cont(n_chars, 0.99), 6) AS chars_p99
    FROM documents GROUP BY source ORDER BY source
    """,
)
def source_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus profiling: per-source document-length distribution (exact
    interpolated p50/p90/p99 — Spark ``percentile`` and DuckDB
    ``quantile_cont`` share linear interpolation, so values hash-match).
    At 100 TB the exact percentile is a single shuffle on the source key
    with per-partition partial state; swap in ``percentile_approx`` for a
    fixed-size sketch when sources are huge — same plan shape."""
    docs = _t(spark, sf_dir, "documents")
    v = F.col("n_chars").cast("double")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.round(F.percentile(v, F.lit(0.5)), 6).alias("chars_p50"),
            F.round(F.percentile(v, F.lit(0.9)), 6).alias("chars_p90"),
            F.round(F.percentile(v, F.lit(0.99)), 6).alias("chars_p99"),
        )
        .orderBy("source")
    )


# --- HyperLogLog distinct sketch ---------------------------------------------

_HLL_P = 8


def _hll_oracle() -> str:
    from ..operators.sketches import HLL_HASH_BITS, estimate_sql, registers_sql

    m = 1 << _HLL_P
    h = hash60_sql("text")
    bucket, rho = registers_sql("h", m, HLL_HASH_BITS - _HLL_P)
    return f"""
    WITH hsh AS (SELECT lang, {h} AS h FROM documents),
    rows0 AS (SELECT lang, {bucket} AS bucket, {rho} AS rho FROM hsh),
    r AS (SELECT lang, bucket, max(rho) AS register FROM rows0 GROUP BY lang, bucket),
    a AS (
      SELECT lang, sum(pow(2.0, -register)) AS _sum_present,
             CAST(count(*) AS BIGINT) AS _n_present
      FROM r GROUP BY lang
    ),
    e AS (SELECT lang, {estimate_sql(m)} AS hll_estimate,
                 _n_present AS n_registers FROM a),
    x AS (SELECT lang, CAST(count(DISTINCT h) AS BIGINT) AS n_exact
          FROM hsh GROUP BY lang)
    SELECT lang, n_exact, hll_estimate, n_registers,
           round(abs(hll_estimate - n_exact) / n_exact, 6) AS rel_error
    FROM x JOIN e USING (lang)
    ORDER BY lang
    """


@_register("hll_distinct", _hll_oracle())
def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog per-language distinct-content estimate,
    next to the exact count and its relative error. The sketch shape is
    the scale story: registers are ≤ 2^p rows per group however large the
    corpus, built by one map-side-combinable max — unlike count(DISTINCT),
    which shuffles every distinct value (``operators/sketches.py``)."""
    from ..operators.sketches import hll_estimate, hll_registers

    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select("lang", hash60_expr(F.col("text")).alias("h"))
    regs = hll_registers(hashed, ["lang"], "h", p=_HLL_P)
    est = hll_estimate(regs, ["lang"], p=_HLL_P)
    exact = hashed.groupBy("lang").agg(F.countDistinct("h").alias("n_exact"))
    return (
        exact.join(est, "lang")
        .select(
            "lang",
            "n_exact",
            "hll_estimate",
            "n_registers",
            F.round(
                F.abs(F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_error"),
        )
        .orderBy("lang")
    )


def _hll_union_oracle() -> str:
    from ..operators.sketches import HLL_HASH_BITS, estimate_sql, registers_sql

    m = 1 << _HLL_P
    h = hash60_sql("text")
    bucket, rho = registers_sql("h", m, HLL_HASH_BITS - _HLL_P)
    return f"""
    WITH hsh AS (SELECT source, {h} AS h FROM documents),
    rows0 AS (SELECT source, {bucket} AS bucket, {rho} AS rho FROM hsh),
    rs AS (SELECT source, bucket, max(rho) AS register
           FROM rows0 GROUP BY source, bucket),
    mg AS (SELECT bucket, max(register) AS register FROM rs GROUP BY bucket),
    dg AS (SELECT bucket, max(rho) AS register FROM rows0 GROUP BY bucket),
    am AS (SELECT sum(pow(2.0, -register)) AS _sum_present,
                  CAST(count(*) AS BIGINT) AS _n_present FROM mg),
    ad AS (SELECT sum(pow(2.0, -register)) AS _sum_present,
                  CAST(count(*) AS BIGINT) AS _n_present FROM dg),
    em AS (SELECT {estimate_sql(m)} AS hll_merged FROM am),
    ed AS (SELECT {estimate_sql(m)} AS hll_direct FROM ad),
    x AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS n_exact,
                 CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM hsh)
    SELECT x.n_exact, x.n_sources, ed.hll_direct, em.hll_merged,
           ed.hll_direct = em.hll_merged AS merged_equals_direct
    FROM x, em, ed
    """


@_register("hll_union", _hll_union_oracle())
def hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY, the property that makes HLL distributed: per-
    source register tables are unioned by a bucket-wise max and must yield
    exactly the sketch built over the whole corpus in one pass. This is
    how a 100 TB pipeline monitors distincts — per-shard sketches rolled
    up without re-reading data; the merge moves ≤ 2^p rows per shard."""
    from ..operators.sketches import hll_estimate, hll_registers

    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select("source", hash60_expr(F.col("text")).alias("h"))
    per_src = hll_registers(hashed, ["source"], "h", p=_HLL_P)
    merged_regs = per_src.groupBy("bucket").agg(F.max("register").alias("register"))
    direct_regs = hll_registers(hashed, [], "h", p=_HLL_P)
    merged = hll_estimate(merged_regs, [], p=_HLL_P).select(
        F.col("hll_estimate").alias("hll_merged")
    )
    direct = hll_estimate(direct_regs, [], p=_HLL_P).select(
        F.col("hll_estimate").alias("hll_direct")
    )
    exact = hashed.agg(
        F.countDistinct("h").alias("n_exact"),
        F.countDistinct("source").alias("n_sources"),
    )
    return exact.crossJoin(direct).crossJoin(merged).select(
        "n_exact",
        "n_sources",
        "hll_direct",
        "hll_merged",
        (F.col("hll_direct") == F.col("hll_merged")).alias("merged_equals_direct"),
    )


# --- Count-Min heavy hitters -------------------------------------------------

_CMS_D = 4
_CMS_W = 1024


def _cms_oracle(topk: int = 20) -> str:
    from ..operators.sketches import cms_bucket_sql

    h = hash60_sql("tok")
    cells_build = " UNION ALL ".join(
        f"SELECT {i} AS row, {cms_bucket_sql('h', i, _CMS_W)} AS bucket, h FROM toks"
        for i in range(_CMS_D)
    )
    cells_query = " UNION ALL ".join(
        f"SELECT tok, {i} AS row, {cms_bucket_sql('h', i, _CMS_W)} AS bucket"
        " FROM top" for i in range(_CMS_D)
    )
    return f"""
    WITH toks0 AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\W+'),
                                x -> x <> '')) AS tok
      FROM documents
    ), toks AS (SELECT tok, {h} AS h FROM toks0),
    cms AS (
      SELECT row, bucket, CAST(count(*) AS BIGINT) AS counter
      FROM ({cells_build}) GROUP BY row, bucket
    ),
    top AS (
      SELECT tok, {h} AS h, CAST(count(*) AS BIGINT) AS n_exact
      FROM toks GROUP BY tok ORDER BY n_exact DESC, tok LIMIT {topk}
    ),
    probe AS ({cells_query}),
    est AS (
      SELECT p.tok, min(COALESCE(c.counter, 0)) AS cms_estimate
      FROM probe p LEFT JOIN cms c USING (row, bucket) GROUP BY p.tok
    )
    SELECT t.tok, t.n_exact, e.cms_estimate,
           e.cms_estimate - t.n_exact AS overestimate
    FROM top t JOIN est e USING (tok)
    ORDER BY t.n_exact DESC, t.tok
    """


@_register("cms_heavy_hitters", _cms_oracle())
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimates for the corpus's top-20 tokens, next
    to exact counts and the (always ≥ 0) overestimate. The sketch build
    collapses to ≤ d·w cells per partition before its one exchange, and
    the point queries broadcast the counter table
    (``operators/sketches.py::cms_build/cms_query``)."""
    from ..operators.sketches import cms_build, cms_query

    docs = fan_out(_t(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(tokens_expr(F.col("text"))).alias("tok")).withColumn(
        "h", hash60_expr(F.col("tok"))
    )
    cms = cms_build(toks, "h", d=_CMS_D, w=_CMS_W)
    top = (
        toks.groupBy("tok", "h")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), "tok")
        .limit(20)
    )
    est = cms_query(top, "h", cms, d=_CMS_D, w=_CMS_W)
    return est.select(
        "tok",
        "n_exact",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("n_exact")).alias("overestimate"),
    ).orderBy(F.desc("n_exact"), "tok")


# --- ordered event funnel ----------------------------------------------------


@_register(
    "event_funnel",
    """
    WITH u AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
      FROM events GROUP BY user_id
    ), u2 AS (
      SELECT e.user_id, u.t1,
             min(CASE WHEN e.event_type = 'click' AND e.ts > u.t1
                      THEN e.ts END) AS t2
      FROM events e JOIN u USING (user_id) GROUP BY e.user_id, u.t1
    ), u3 AS (
      SELECT e.user_id, u2.t1, u2.t2,
             min(CASE WHEN e.event_type = 'purchase' AND e.ts > u2.t2
                      THEN e.ts END) AS t3
      FROM events e JOIN u2 USING (user_id) GROUP BY e.user_id, u2.t1, u2.t2
    ), steps AS (
      SELECT 1 AS step, 'signup' AS name,
             CAST(count(t1) AS BIGINT) AS n_users,
             round(median(epoch_us(t2) - epoch_us(t1)) / 1e6, 6) AS median_next_lag_s
      FROM u3
      UNION ALL
      SELECT 2, 'click_after_signup', CAST(count(t2) AS BIGINT),
             round(median(epoch_us(t3) - epoch_us(t2)) / 1e6, 6)
      FROM u3
      UNION ALL
      SELECT 3, 'purchase_after_click', CAST(count(t3) AS BIGINT), NULL
      FROM u3
    )
    SELECT * FROM steps ORDER BY step
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → first later click → first
    later purchase) — the classic product-analytics sequence query. One
    exchange on user_id; the three "first event after X" stages are
    successive full-partition window minima over that same clustering,
    so no self-joins and no re-shuffle. Counts + median step latency."""
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    t1 = F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).over(w)
    staged = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    staged = staged.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        staged.withColumn("t3", t3)
        .groupBy("user_id")
        .agg(F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3"))
    )
    lag12 = (F.unix_micros("t2") - F.unix_micros("t1")).cast("double")
    lag23 = (F.unix_micros("t3") - F.unix_micros("t2")).cast("double")
    steps = [
        per_user.agg(
            F.lit(1).alias("step"),
            F.lit("signup").alias("name"),
            F.count("t1").alias("n_users"),
            F.round(F.percentile(lag12, F.lit(0.5)) / 1e6, 6).alias(
                "median_next_lag_s"
            ),
        ),
        per_user.agg(
            F.lit(2).alias("step"),
            F.lit("click_after_signup").alias("name"),
            F.count("t2").alias("n_users"),
            F.round(F.percentile(lag23, F.lit(0.5)) / 1e6, 6).alias(
                "median_next_lag_s"
            ),
        ),
        per_user.agg(
            F.lit(3).alias("step"),
            F.lit("purchase_after_click").alias("name"),
            F.count("t3").alias("n_users"),
            F.lit(None).cast("double").alias("median_next_lag_s"),
        ),
    ]
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out.orderBy("step")


# --- weighted sampling without replacement -----------------------------------

_WS_K = 25


def _weighted_sample_oracle() -> str:
    h = hash60_sql("CAST(doc_id AS VARCHAR) || ':ws'")
    return f"""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
             (({h}) + 1) / 1152921504606846977.0 AS u
      FROM documents
    )
    SELECT doc_id, CAST(weight AS BIGINT) AS weight,
           round(ln(u) / weight, 6) AS sort_key
    FROM d
    ORDER BY ln(u) / weight DESC, doc_id
    LIMIT {_WS_K}
    """


@_register("weighted_sample", _weighted_sample_oracle())
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed weighted sampling without replacement (Efraimidis &
    Spirakis 2006): each row gets key ``u^(1/w)`` — taken in log space,
    ``ln(u)/w`` — from a deterministic per-row uniform, and the sample is
    the top-k by key. On a cluster this is a map-only key computation
    plus a top-k (per-partition heads, then a k-row merge): no shuffle of
    the corpus, reproducible at any partitioning, and the inclusion
    probabilities are exactly weight-proportional."""
    docs = _t(spark, sf_dir, "documents")
    h = hash60_expr(F.concat(F.col("doc_id").cast("string"), F.lit(":ws")))
    # (h+1) / (2^60 + 1): strictly inside (0, 1) so ln() is finite
    u = (h + 1) / F.lit(float((1 << 60) + 1))
    key = F.log(u) / F.col("n_chars").cast("double")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            key.alias("_key"),
        )
        .orderBy(F.desc("_key"), "doc_id")
        .limit(_WS_K)
        .select("doc_id", "weight", F.round("_key", 6).alias("sort_key"))
    )


def _zorder_oracle() -> str:
    from ..functions.zorder import zorder_key_sql

    key = zorder_key_sql(["qd", "qc"], bits=12)
    return f"""
    WITH q AS (
      SELECT datediff('day', DATE '1992-01-01',
                      CAST(o_orderdate AS DATE)) & 4095 AS qd,
             o_custkey & 4095 AS qc
      FROM orders
    ),
    k AS (SELECT qd, qc, {key} AS zkey FROM q)
    SELECT CAST(zkey >> 18 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(qd) AS BIGINT) AS min_qd,
           CAST(max(qd) AS BIGINT) AS max_qd,
           CAST(min(qc) AS BIGINT) AS min_qc,
           CAST(max(qc) AS BIGINT) AS max_qc,
           CAST(sum(zkey) AS BIGINT) AS key_checksum
    FROM k GROUP BY bucket ORDER BY bucket
    """


@_register("zorder_layout", _zorder_oracle())
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys — the OPTIMIZE ZORDER BY primitive
    for multi-dimensional row-group pruning at 100 TB
    (``functions/zorder.py``, the general-purpose sibling of the domain
    XZ curve). Orders interleave (order date days, customer id) into one
    24-bit key, entirely closed-form shift/mask arithmetic inside
    whole-stage codegen; the per-bucket min/max spans of BOTH dimensions
    demonstrate the locality a clustered write would give, and the key
    checksum pins every interleaved bit. The oracle replays the bit
    layout exactly."""
    from ..functions.zorder import zorder_key_expr

    ords = fan_out(_t(spark, sf_dir, "orders"))
    qd = F.datediff(
        F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
    ).cast("long").bitwiseAND(F.lit(4095))
    qc = F.col("o_custkey").bitwiseAND(F.lit(4095))
    keyed = ords.select(
        qd.alias("qd"),
        qc.alias("qc"),
    ).withColumn("zkey", zorder_key_expr([F.col("qd"), F.col("qc")], bits=12))
    return (
        keyed.groupBy(F.shiftright("zkey", 18).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("qd").cast("bigint").alias("min_qd"),
            F.max("qd").cast("bigint").alias("max_qd"),
            F.min("qc").cast("bigint").alias("min_qc"),
            F.max("qc").cast("bigint").alias("max_qc"),
            F.sum("zkey").cast("bigint").alias("key_checksum"),
        )
        .orderBy("bucket")
    )


def _kmv_oracle(k: int = 256) -> str:
    h = hash60_sql("CAST(user_id AS VARCHAR)")
    space = float(1 << 60)
    est = (
        "CASE WHEN len({ks}) < {k} THEN CAST(len({ks}) AS DOUBLE) "
        "ELSE CAST({km1} AS DOUBLE) * {space!r} / CAST({ks}[{k}] AS DOUBLE) END"
    )
    return f"""
    WITH ha AS (SELECT DISTINCT {h} AS h FROM events
                WHERE event_type = 'click'),
    hb AS (SELECT DISTINCT {h} AS h FROM events
           WHERE event_type = 'view'),
    a AS (SELECT list_sort(list(h))[1:{k}] AS ks, count(*) AS n FROM ha),
    b AS (SELECT list_sort(list(h))[1:{k}] AS ks, count(*) AS n FROM hb),
    j AS (
      SELECT a.ks AS ka, a.n AS n_a, b.ks AS kb, b.n AS n_b,
             list_sort(list_distinct(a.ks || b.ks))[1:{k}] AS ku
      FROM a, b
    ),
    e AS (
      SELECT n_a, n_b, ka, kb, ku,
             list_intersect(ka, kb) AS ci
      FROM j
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           round({est.format(ks='ka', k=k, km1=k - 1, space=space)}, 4)
             AS est_a,
           round({est.format(ks='kb', k=k, km1=k - 1, space=space)}, 4)
             AS est_b,
           round({est.format(ks='ku', k=k, km1=k - 1, space=space)}, 4)
             AS est_union,
           round(CASE WHEN len(ku) < {k} THEN CAST(len(ci) AS DOUBLE)
                 ELSE CAST(len(list_filter(ci, x -> x < ku[{k}]))
                           AS DOUBLE) * {space!r}
                      / CAST(ku[{k}] AS DOUBLE) END, 4) AS est_intersect
    FROM e
    """


@_register("kmv_set_ops", _kmv_oracle())
def kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (theta) sketch set operations — the mergeable-sketch piece HLL
    lacks: besides distinct estimates and closed-form unions, theta
    sketches estimate INTERSECTIONS (count common hashes below the union
    sketch's theta, scale by 1/theta). Clicker vs viewer user sets are
    sketched at k=256; every number is deterministic (md5 hash space) and
    the oracle replays the order statistics bit-for-bit. Scale shape: the
    corpus-sized work is two distinct-aggs; everything after operates on
    k-sized arrays broadcast-joined on a literal key."""
    from ..operators.sketches import (
        kmv_estimate_expr,
        kmv_intersect_estimate_expr,
        kmv_merge_expr,
        kmv_sketch,
    )

    k = 256
    ev = fan_out(_t(spark, sf_dir, "events"))
    a = kmv_sketch(
        ev.filter(F.col("event_type") == "click"), F.col("user_id"), k=k
    ).select(F.col("ks").alias("ka"), F.col("n_keys").alias("n_a"),
             F.lit(1).alias("_j"))
    b = kmv_sketch(
        ev.filter(F.col("event_type") == "view"), F.col("user_id"), k=k
    ).select(F.col("ks").alias("kb"), F.col("n_keys").alias("n_b"),
             F.lit(1).alias("_j"))
    joined = a.join(F.broadcast(b), "_j")
    ku = kmv_merge_expr(F.col("ka"), F.col("kb"), k)
    return joined.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(kmv_estimate_expr(F.col("ka"), k), 4).alias("est_a"),
        F.round(kmv_estimate_expr(F.col("kb"), k), 4).alias("est_b"),
        F.round(kmv_estimate_expr(ku, k), 4).alias("est_union"),
        F.round(
            kmv_intersect_estimate_expr(F.col("ka"), F.col("kb"), k), 4
        ).alias("est_intersect"),
    )


def _hilbert_oracle() -> str:
    from ..functions.zorder import hilbert_key_sql

    inner = """
      SELECT (datediff('day', DATE '1992-01-01',
                       CAST(o_orderdate AS DATE)) & 4095) AS hx,
             (o_custkey & 4095) AS hy,
             (datediff('day', DATE '1992-01-01',
                       CAST(o_orderdate AS DATE)) & 4095) AS qd,
             (o_custkey & 4095) AS qc
      FROM orders
    """
    keyed = hilbert_key_sql(inner, bits=12)
    return f"""
    WITH k AS (SELECT qd, qc, hd FROM {keyed})
    SELECT CAST(hd >> 18 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(qd) AS BIGINT) AS min_qd,
           CAST(max(qd) AS BIGINT) AS max_qd,
           CAST(min(qc) AS BIGINT) AS min_qc,
           CAST(max(qc) AS BIGINT) AS max_qc,
           CAST(sum(hd) AS BIGINT) AS key_checksum
    FROM k GROUP BY bucket ORDER BY bucket
    """


@_register("hilbert_layout", _hilbert_oracle())
def hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout keys — the 2-D clustering key Iceberg prefers
    over Morton (no quadrant seam jumps): the classical per-level
    rotate/reflect fold in NAMED per-level columns
    (``functions/zorder.py::with_hilbert_key`` — the pure-expression form
    grows a ~4^bits tree, the repo's documented exponential-unroll trap,
    so the frame form keeps the tree linear). Orders map (order date
    days, customer id) onto the 12-bit curve; per-bucket spans of both
    dimensions plus a full-key checksum pin every level of the fold; the
    oracle replays the identical unrolled transform in SQL."""
    from ..functions.zorder import with_hilbert_key

    ords = fan_out(_t(spark, sf_dir, "orders"))
    qd = F.datediff(
        F.to_date("o_orderdate"), F.lit("1992-01-01").cast("date")
    ).cast("long").bitwiseAND(F.lit(4095))
    qc = F.col("o_custkey").bitwiseAND(F.lit(4095))
    keyed = with_hilbert_key(
        ords.select(qd.alias("qd"), qc.alias("qc")), "qd", "qc", bits=12
    )
    return staged_sort(
        keyed.groupBy(F.shiftright("hd", 18).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("qd").cast("bigint").alias("min_qd"),
            F.max("qd").cast("bigint").alias("max_qd"),
            F.min("qc").cast("bigint").alias("min_qc"),
            F.max("qc").cast("bigint").alias("max_qc"),
            F.sum("hd").cast("bigint").alias("key_checksum"),
        ),
        "bucket",
    )


def _kmv_merge_oracle(k: int = 128) -> str:
    h = hash60_sql("CAST(user_id AS VARCHAR)")
    return f"""
    WITH seg AS (
      SELECT date_trunc('month', ts) AS month_ts, {h} AS h
      FROM events GROUP BY 1, 2
    ),
    per AS (
      SELECT month_ts, list_sort(list(h))[1:{k}] AS ks,
             count(*) AS n_keys
      FROM seg GROUP BY month_ts
    ),
    allh AS (SELECT DISTINCT h FROM seg),
    merged AS (
      SELECT list_sort(list_distinct(flatten(list(ks))))[1:{k}] AS mks
      FROM per
    )
    SELECT CAST((SELECT count(*) FROM per) AS BIGINT) AS n_segments,
           CAST((SELECT sum(n_keys) FROM per) AS BIGINT) AS sum_segment_keys,
           CAST((SELECT count(*) FROM allh) AS BIGINT) AS true_distinct,
           round((SELECT CASE WHEN len(mks) < {k}
                  THEN CAST(len(mks) AS DOUBLE)
                  ELSE CAST({k - 1} AS DOUBLE) * {float(1 << 60)!r}
                       / CAST(mks[{k}] AS DOUBLE) END FROM merged), 4)
             AS merged_estimate
    """


@_register("kmv_merge_segments", _kmv_merge_oracle())
def kmv_merge_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY end-to-end — the operational point of KMV:
    per-month user sketches (built independently, as a daily/segment
    pipeline would materialize them) merge through one array-fold into a
    global distinct estimate WITHOUT touching the raw events again. The
    merged estimate is compared in-row against the true distinct count;
    the fold is ``F.aggregate`` over the collected segment sketches —
    k-sized state, broadcastable, the same merge a 1000-segment 100 TB
    corpus would run on sketch tables alone."""
    from ..operators.sketches import KMV_SPACE

    k = 128
    ev = fan_out(_t(spark, sf_dir, "events"))
    seg = (
        ev.select(
            F.date_trunc("month", "ts").alias("month_ts"),
            hash60_expr(F.col("user_id").cast("string")).alias("_h"),
        )
        .distinct()
    )
    per = seg.groupBy("month_ts").agg(
        F.slice(F.sort_array(F.collect_list("_h")), 1, k).alias("ks"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    true_d = seg.select("_h").distinct().agg(
        F.count(F.lit(1)).alias("true_distinct")
    ).withColumn("_j", F.lit(1))
    merged = (
        per.agg(
            F.collect_list("ks").alias("all_ks"),
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("n_keys").alias("sum_segment_keys"),
        )
        .select(
            "n_segments",
            "sum_segment_keys",
            F.slice(
                F.sort_array(
                    F.array_distinct(F.flatten(F.col("all_ks")))
                ),
                1,
                k,
            ).alias("mks"),
        )
        .withColumn("_j", F.lit(1))
    )
    est = (
        F.when(F.size("mks") < k, F.size("mks").cast("double"))
        .otherwise(
            F.lit(float(k - 1))
            * F.lit(KMV_SPACE)
            / F.element_at("mks", k).cast("double")
        )
    )
    return merged.join(F.broadcast(true_d), "_j").select(
        F.col("n_segments").cast("bigint").alias("n_segments"),
        F.col("sum_segment_keys").cast("bigint").alias("sum_segment_keys"),
        F.col("true_distinct").cast("bigint").alias("true_distinct"),
        F.round(est, 4).alias("merged_estimate"),
    )
