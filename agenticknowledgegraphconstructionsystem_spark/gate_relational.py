"""Relational operator-parity gate: one query per operator shape in
SURVEY.md §2 (joins J1-J9, aggregations A1-A9, filters/CASE P4-P6, scans
S10-S11, set ops, windows), expressed over the TPC-H-ish driver tables
with exact DuckDB oracles.

Money amounts go through floor(x*100) per row before summing — integer
cents are exact in both engines regardless of aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_BIG = "bigint"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col):
    return F.floor(col * 100).cast(_BIG)


# J1 — equi join x2 with endpoint dims (database.ts:369-382) + P-filter
def q_equi_join(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("o_orderkey").cast(_BIG).alias("o_orderkey"),
            "c_name",
            "n_name",
            _cents(F.col("o_totalprice")).alias("total_cents"),
        )
    )


O_EQUI_JOIN = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, c_name, n_name,
       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS total_cents
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderpriority = '1-URGENT'"""


# J4 — left outer join + count (db_init.py:173-182)
def q_left_join_count(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast(_BIG).alias("n_orders"))
        .select(F.col("c_custkey").cast(_BIG).alias("c_custkey"), "n_orders")
    )


O_LEFT_JOIN_COUNT = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey"""


# J7 — anti join (database.ts:66-81 NOT EXISTS).  The probe side is the
# urgent-orders subset so the survivor set is non-empty at every sf (the
# round-3 form probed ALL orders and hash-matched on 0 rows — vacuous).
def q_anti_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.col("c_custkey").cast(_BIG).alias("c_custkey"), "c_name"
    )


O_ANTI_JOIN = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')"""


# J9 — semi join existence probe (database.ts:320-326)
def q_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").cast(_BIG).alias("c_custkey")
    )


O_SEMI_JOIN = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""


# A2 — two-level aggregation (database_utils.py:341-348)
def q_two_level_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    inner = o.groupBy("o_custkey").agg(F.count("*").alias("n"))
    return inner.agg(
        F.floor(F.avg("n") * 100).cast(_BIG).alias("avg_orders_per_cust_x100"),
        F.count("*").cast(_BIG).alias("n_customers"),
    )


O_TWO_LEVEL_AGG = """
SELECT CAST(FLOOR(AVG(n) * 100) AS BIGINT) AS avg_orders_per_cust_x100,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey)"""


# A3 — group agg with count + money (database_utils.py:352-357)
def q_group_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").cast(_BIG).alias("n"),
        F.sum(_cents(F.col("o_totalprice"))).cast(_BIG).alias("sum_cents"),
    )


O_GROUP_AGG = """
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders GROUP BY o_orderstatus"""


# A4 — top-k by counter (database_utils.py:364-369) with full tie-break
def q_topk(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").cast(_BIG).alias("n"))
        .orderBy(F.desc("n"), F.asc("o_custkey"))
        .limit(10)
        .select(F.col("o_custkey").cast(_BIG).alias("o_custkey"), "n")
    )


O_TOPK = """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey, CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_custkey ORDER BY n DESC, o_custkey ASC LIMIT 10"""


# A5 — conditional aggregation (database.ts:455-461)
def q_conditional_agg(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.sum(F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0))
        .cast(_BIG)
        .alias("n_urgent"),
        F.count("*").cast(_BIG).alias("n"),
    )


O_CONDITIONAL_AGG = """
SELECT o_orderstatus,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(COUNT(*) AS BIGINT) AS n
FROM orders GROUP BY o_orderstatus"""


# A6 — count distinct (db_init.py:193)
def q_count_distinct(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").cast(_BIG).alias("n_custs")
    )


O_COUNT_DISTINCT = """
SELECT o_orderstatus, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_custs
FROM orders GROUP BY o_orderstatus"""


# A8/A9 — upsert-as-window-dedup (database.ts:264-289): latest order per cust
def q_window_dedup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("o_custkey").cast(_BIG).alias("o_custkey"),
            F.col("o_orderkey").cast(_BIG).alias("latest_orderkey"),
        )
    )


O_WINDOW_DEDUP = """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey, CAST(o_orderkey AS BIGINT) AS latest_orderkey
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders) WHERE rn = 1"""


# P6 — CASE classification (extract_and_populate.py:264-268)
def q_case_buckets(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    status = (
        F.when(F.col("text").isNull() | (F.length("text") == 0), "No text")
        .when(F.length("text") < 100, "Short")
        .otherwise("OK")
    )
    return d.select("doc_id", status.alias("status"))


O_CASE_BUCKETS = """
SELECT doc_id,
       CASE WHEN text IS NULL OR length(text) = 0 THEN 'No text'
            WHEN length(text) < 100 THEN 'Short'
            ELSE 'OK' END AS status
FROM documents"""


# S11 — point lookup (database_utils.py:121-125)
def q_point_lookup(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.where(F.col("c_custkey") == 42).select(
        F.col("c_custkey").cast(_BIG).alias("c_custkey"), "c_name", "c_mktsegment"
    )


O_POINT_LOOKUP = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, c_mktsegment
FROM customer WHERE c_custkey = 42"""


# S10 — ordered scan + limit with deterministic tie-break
def q_scan_order_limit(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            F.col("o_orderkey").cast(_BIG).alias("o_orderkey"),
            F.col("o_orderdate").cast("string").alias("o_orderdate"),
        )
    )


O_SCAN_ORDER_LIMIT = """
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, CAST(o_orderdate AS VARCHAR) AS o_orderdate
FROM orders ORDER BY o_orderdate DESC, o_orderkey ASC LIMIT 100"""


# set ops — union + dedup (fetch_papers.py:183-186 seen-set semantics)
def q_union_dedup(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    b = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        a.unionByName(b)
        .dropDuplicates()
        .select(F.col("o_custkey").cast(_BIG).alias("o_custkey"))
    )


O_UNION_DEDUP = """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey FROM orders WHERE o_orderstatus = 'F'
UNION
SELECT CAST(o_custkey AS BIGINT) FROM orders WHERE o_orderpriority = '1-URGENT'"""


# events — tumbling-window aggregation
def q_events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(
            F.count("*").cast(_BIG).alias("n"),
            F.sum(_cents(F.col("value"))).cast(_BIG).alias("sum_cents"),
        )
        .select(F.col("hour").cast("string").alias("hour"), "event_type", "n", "sum_cents")
    )


O_EVENTS_HOURLY = """
SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY date_trunc('hour', ts), event_type"""


# JSON scalar — from_json on the events props column (S5/JSON handling)
def q_json_extract(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.select(
        F.col("event_id").cast(_BIG).alias("event_id"),
        F.get_json_object("props", "$.k").cast(_BIG).alias("k"),
    )


O_JSON_EXTRACT = """
SELECT CAST(event_id AS BIGINT) AS event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k
FROM events"""


# ---------------------------------------------------------------------------
# Classic OLAP heavies (TPC-H Q1/Q3/Q5 analogs) — the multi-way-join +
# wide-aggregation shapes a 100 TB analytics engine lives on.  Exactness:
# every money figure is floor(expr·100) per ROW before summing (integer
# cents — order-free), quantities floor to BIGINT, and the disc-price
# expression is the same (price · (1 - disc)) · 100 parse tree in both
# engines so the per-row double is bit-identical.
# ---------------------------------------------------------------------------


def q_pricing_summary(spark, sf_dir):
    """Q1 analog: scan-heavy single-table aggregation with a date filter
    pushed to the parquet reader; 4 aggregates per (returnflag,
    linestatus) group — map-side partial HashAggregate."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1999-12-31").cast("timestamp")
    )
    disc_cents = F.floor((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) * 100).cast(_BIG)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.floor(F.col("l_quantity")).cast(_BIG)).cast(_BIG).alias("sum_qty"),
        F.sum(_cents(F.col("l_extendedprice"))).cast(_BIG).alias("sum_base_cents"),
        F.sum(disc_cents).cast(_BIG).alias("sum_disc_cents"),
        F.count("*").cast(_BIG).alias("n_rows"),
    )


O_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
GROUP BY l_returnflag, l_linestatus"""


def q_shipping_priority(spark, sf_dir):
    """Q3 analog: 3-way join (dim filters on both ends of the fact),
    revenue per order, top-10 — broadcast the filtered customer dim, let
    the orders⋈lineitem join shuffle on the key."""
    cutoff = F.lit("1998-06-15").cast("timestamp")
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    rev = F.floor((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) * 100).cast(_BIG)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast(_BIG).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            F.col("l_orderkey").cast(_BIG).alias("l_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue_cents",
        )
    )


O_SHIPPING_PRIORITY = """
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_cents DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10"""


def q_local_volume(spark, sf_dir):
    """Q5 analog: 6-way join through region→nation→customer→orders→
    lineitem→supplier with the local-supplier constraint (c_nationkey =
    s_nationkey); all dims broadcast, one fact shuffle."""
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = F.floor((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) * 100).cast(_BIG)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast(_BIG).alias("revenue_cents"))
    )


O_LOCAL_VOLUME = """
SELECT n_name,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name"""


def q_big_group(spark, sf_dir):
    """Q18 analog: large-group HAVING over a two-level aggregation.  The
    scale-correct plan: lineitem partial-aggregates map-side per orderkey,
    the HAVING filter leaves a tiny survivor set, and that set is BROADCAST
    into orders (and the joined result broadcast into customer) — one full
    scan of each table, zero fact-table shuffles.  TPC-H's re-group after
    the join is redundant at orderkey grain, so the survivor's sum_qty is
    carried through instead of re-aggregated."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.floor(F.col("l_quantity")).cast(_BIG)).cast(_BIG).alias("sum_qty"))
        .where(F.col("sum_qty") > 250)
    )
    o_big = o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
    return (
        c.join(F.broadcast(o_big), o_big.o_custkey == c.c_custkey)
        .orderBy(
            F.desc(_cents(F.col("o_totalprice"))),
            F.asc("o_orderdate"),
            F.asc("o_orderkey"),
        )
        .limit(100)
        .select(
            "c_name",
            F.col("c_custkey").cast(_BIG).alias("c_custkey"),
            F.col("o_orderkey").cast(_BIG).alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            _cents(F.col("o_totalprice")).alias("total_cents"),
            "sum_qty",
        )
    )


O_BIG_GROUP = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(FLOOR(l_quantity) AS BIGINT)) > 250
)
SELECT c_name, CAST(c_custkey AS BIGINT) AS c_custkey,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS total_cents,
       sum_qty
FROM big JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_cents DESC, o_orderdate ASC, o_orderkey ASC
LIMIT 100"""


def q_rollup(spark, sf_dir):
    """ROLLUP / grouping-sets coverage (SURVEY §2.4 notes the reference
    has none — engine completeness): quantity + revenue totals per
    (returnflag, linestatus), per returnflag, and grand total, with the
    standard grouping_id bitmask disambiguating rollup NULLs from data
    NULLs.  One pass: Spark expands grouping sets before the partial
    aggregate, so the whole thing stays map-side combinable."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.floor((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) * 100).cast(_BIG)
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast(_BIG).alias("gid"),
            F.sum(F.floor(F.col("l_quantity")).cast(_BIG)).cast(_BIG).alias("sum_qty"),
            F.sum(rev).cast(_BIG).alias("revenue_cents"),
            F.count("*").cast(_BIG).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "sum_qty",
            "revenue_cents",
            "n_rows",
        )
    )


O_ROLLUP = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(FLOOR((l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)"""


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (gaps-and-islands) over events,
    30-minute gap.  Micros and integer cents keep the compare exact."""
    from .operators.temporal import sessionize_batch

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", F.floor(F.col("value") * 100).cast(_BIG).alias("value"),
        "event_id",
    )
    s = sessionize_batch(ev, gap_minutes=30)
    return s.select(
        F.col("user_id").cast(_BIG).alias("user_id"),
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
        F.col("n_events").cast(_BIG).alias("n_events"),
        F.col("sum_value").cast(_BIG).alias("sum_value_cents"),
    )


O_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, ts, event_id, CAST(FLOOR(value * 100) AS BIGINT) AS cents,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30 * 60 * 1000000
                OR LAG(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts, cents,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(epoch_us(MIN(ts)) AS BIGINT) AS start_us,
       CAST(epoch_us(MAX(ts)) AS BIGINT) AS end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS sum_value_cents
FROM numbered GROUP BY user_id, sid"""


def q_asof_join(spark, sf_dir):
    """Backward as-of join: each click picks up the latest prior purchase
    value per user (quotes-onto-trades shape).  Spark side is the
    union+carry-forward window (operators/temporal.py); oracle is DuckDB's
    native ASOF LEFT JOIN."""
    from .operators.temporal import as_of_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    # one row per (user_id, ts) on the right side — as_of_join's documented
    # precondition; with tied right timestamps both the Spark carry-forward
    # window and DuckDB ASOF would be free to pick either row
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max(_cents(F.col("value"))).alias("purchase_cents"))
    )
    j = as_of_join(clicks, purchases, on=["user_id"], ts_col="ts",
                   payloads=["purchase_cents"])
    return j.select(
        F.col("event_id").cast(_BIG).alias("event_id"),
        F.col("user_id").cast(_BIG).alias("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("purchase_cents_asof").cast(_BIG).alias("purchase_cents_asof"),
    )


O_ASOF_JOIN = """
WITH clicks AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
),
purchases AS (
  SELECT user_id, ts, MAX(CAST(FLOOR(value * 100) AS BIGINT)) AS purchase_cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT CAST(c.event_id AS BIGINT) AS event_id,
       CAST(c.user_id AS BIGINT) AS user_id,
       CAST(epoch_us(c.ts) AS BIGINT) AS ts_us,
       CAST(p.purchase_cents AS BIGINT) AS purchase_cents_asof
FROM clicks c ASOF LEFT JOIN purchases p
  ON c.user_id = p.user_id AND c.ts >= p.ts"""


def q_string_agg(spark, sf_dir):
    """Ordered group-concat (string_agg / listagg capability): the 5
    smallest orderkeys per priority as one comma-joined string.  Both
    engines state the same explicit ordering (WindowGroupLimit top-5,
    then join in key order) so the strings are byte-identical — the trap
    with collect_list (unordered) is sidestepped by array_sort."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
    top5 = o.select(
        "o_orderpriority",
        F.col("o_orderkey").cast(_BIG).alias("k"),
        F.row_number().over(w).alias("rn"),
    ).where(F.col("rn") <= 5)
    return top5.groupBy("o_orderpriority").agg(
        F.array_join(F.array_sort(F.collect_list("k")), ",").alias("first_keys"),
        F.count("*").cast(_BIG).alias("n"),
    )


O_STRING_AGG = """
WITH top5 AS (
  SELECT o_orderpriority, CAST(o_orderkey AS BIGINT) AS k,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_orderkey) AS rn
  FROM orders
)
SELECT o_orderpriority,
       string_agg(CAST(k AS VARCHAR), ',' ORDER BY k) AS first_keys,
       CAST(COUNT(*) AS BIGINT) AS n
FROM top5 WHERE rn <= 5 GROUP BY o_orderpriority"""


def q_cube(spark, sf_dir):
    """Full CUBE over (orderstatus, orderpriority) — all four grouping
    sets in one pass (Expand + partial HashAggregate), grouping_id
    disambiguating the ALL rows."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast(_BIG).alias("gid"),
            F.count("*").cast(_BIG).alias("n"),
            F.sum(_cents(F.col("o_totalprice"))).cast(_BIG).alias("sum_cents"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "gid",
            "n",
            "sum_cents",
        )
    )


O_CUBE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS orderstatus,
       COALESCE(o_orderpriority, 'ALL') AS orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)"""


def q_interval_join(spark, sf_dir):
    """Point-in-interval join (events into the sessions they belong to)
    via time-bucket blocking — the non-equi theta join the naive plan
    would run as BroadcastNestedLoop.  The oracle states the same result
    as a plain inequality join, so the hash match proves the blocking
    loses/duplicates nothing.  Every event lands in exactly one of its
    user's sessions, so the output has one row per event."""
    from .operators.temporal import interval_join, sessionize_batch

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    sess = sessionize_batch(ev, gap_minutes=30).select(
        "user_id", "session_start", "session_end"
    )
    j = interval_join(ev, sess, on=["user_id"])
    return j.select(
        F.col("event_id").cast(_BIG).alias("event_id"),
        F.col("user_id").cast(_BIG).alias("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
    )


O_INTERVAL_JOIN = """
WITH marked AS (
  SELECT event_id, user_id, ts,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 30 * 60 * 1000000
                OR LAG(epoch_us(ts)) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
sessions AS (
  SELECT user_id, MIN(ts) AS s, MAX(ts) AS e
  FROM numbered GROUP BY user_id, sid
)
SELECT CAST(e.event_id AS BIGINT) AS event_id,
       CAST(e.user_id AS BIGINT) AS user_id,
       CAST(epoch_us(e.ts) AS BIGINT) AS ts_us,
       CAST(epoch_us(s.s) AS BIGINT) AS start_us,
       CAST(epoch_us(s.e) AS BIGINT) AS end_us
FROM events e JOIN sessions s
  ON e.user_id = s.user_id AND e.ts >= s.s AND e.ts <= s.e"""


def q_percentile_disc(spark, sf_dir):
    """Discrete percentiles (median / p90 of value per event_type) via the
    explicit ordered-rank definition — value at row ceil(p * n) of the
    per-group value ordering; no interpolation, no float arithmetic, so
    the compare is exact.  Both engines restate the same definition."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", _cents(F.col("value")).alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy("cents")
    ranked = ev.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rn") == F.ceil(F.col("n") * 0.5), F.col("cents")))
            .cast(_BIG).alias("p50_cents"),
            F.max(F.when(F.col("rn") == F.ceil(F.col("n") * 0.9), F.col("cents")))
            .cast(_BIG).alias("p90_cents"),
        )
    )


O_PERCENTILE_DISC = """
WITH ranked AS (
  SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY CAST(FLOOR(value * 100) AS BIGINT)) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN cents END) AS BIGINT) AS p50_cents,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT) THEN cents END) AS BIGINT) AS p90_cents
FROM ranked GROUP BY event_type"""


# ---------------------------------------------------------------------------
# Combined micro-gate suites (machinery in gate_suites.py).  The driver
# records CORRECTNESS rows for at most 50 queries; round 3 exposed 65 and
# the 15 training-data gates fell outside the window.  The 15 trivial
# relational micro-gates (single-shape scans/joins/aggs) are folded into
# 3 suite queries so every gate fits; see gate_suites.py for how a suite
# hash pins exactly the same value set per member as separate gates.
# ---------------------------------------------------------------------------

from .gate_suites import (  # noqa: E402  (re-exported for tests)
    norm_rows as _norm_rows,
    suite_oracle as _suite_oracle,
    suite_query as _suite_query,
)


# column lists restate each member query's select order — the row_str is
# order-sensitive, so both engines must agree on it explicitly
_JOIN_SUITE = [
    ("equi_join", q_equi_join, O_EQUI_JOIN,
     ["o_orderkey", "c_name", "n_name", "total_cents"]),
    ("left_join_count", q_left_join_count, O_LEFT_JOIN_COUNT,
     ["c_custkey", "n_orders"]),
    ("anti_join", q_anti_join, O_ANTI_JOIN, ["c_custkey", "c_name"]),
    ("semi_join", q_semi_join, O_SEMI_JOIN, ["c_custkey"]),
]

_AGG_SUITE = [
    ("two_level_agg", q_two_level_agg, O_TWO_LEVEL_AGG,
     ["avg_orders_per_cust_x100", "n_customers"]),
    ("group_agg", q_group_agg, O_GROUP_AGG, ["o_orderstatus", "n", "sum_cents"]),
    ("topk", q_topk, O_TOPK, ["o_custkey", "n"]),
    ("conditional_agg", q_conditional_agg, O_CONDITIONAL_AGG,
     ["o_orderstatus", "n_urgent", "n"]),
    ("count_distinct", q_count_distinct, O_COUNT_DISTINCT,
     ["o_orderstatus", "n_custs"]),
    ("percentile_disc", q_percentile_disc, O_PERCENTILE_DISC,
     ["event_type", "p50_cents", "p90_cents"]),
    ("string_agg", q_string_agg, O_STRING_AGG,
     ["o_orderpriority", "first_keys", "n"]),
]

_SCAN_SUITE = [
    ("window_dedup", q_window_dedup, O_WINDOW_DEDUP,
     ["o_custkey", "latest_orderkey"]),
    ("case_buckets", q_case_buckets, O_CASE_BUCKETS, ["doc_id", "status"]),
    ("point_lookup", q_point_lookup, O_POINT_LOOKUP,
     ["c_custkey", "c_name", "c_mktsegment"]),
    ("scan_order_limit", q_scan_order_limit, O_SCAN_ORDER_LIMIT,
     ["o_orderkey", "o_orderdate"]),
    ("union_dedup", q_union_dedup, O_UNION_DEDUP, ["o_custkey"]),
    ("events_hourly", q_events_hourly, O_EVENTS_HOURLY,
     ["hour", "event_type", "n", "sum_cents"]),
    ("json_extract", q_json_extract, O_JSON_EXTRACT, ["event_id", "k"]),
]

q_join_suite = _suite_query(_JOIN_SUITE)
q_agg_suite = _suite_query(_AGG_SUITE)
q_scan_suite = _suite_query(_SCAN_SUITE)
O_JOIN_SUITE = _suite_oracle(_JOIN_SUITE)
O_AGG_SUITE = _suite_oracle(_AGG_SUITE)
O_SCAN_SUITE = _suite_oracle(_SCAN_SUITE)


REL_QUERIES = {
    "rel_pricing_summary": q_pricing_summary,
    "rel_big_group": q_big_group,
    "rel_rollup": q_rollup,
    "rel_sessionize": q_sessionize,
    "rel_asof_join": q_asof_join,
    "rel_interval_join": q_interval_join,
    "rel_percentile_disc": q_percentile_disc,
    "rel_string_agg": q_string_agg,
    "rel_cube": q_cube,
    "rel_shipping_priority": q_shipping_priority,
    "rel_local_volume": q_local_volume,
    "rel_equi_join": q_equi_join,
    "rel_left_join_count": q_left_join_count,
    "rel_anti_join": q_anti_join,
    "rel_semi_join": q_semi_join,
    "rel_two_level_agg": q_two_level_agg,
    "rel_group_agg": q_group_agg,
    "rel_topk": q_topk,
    "rel_conditional_agg": q_conditional_agg,
    "rel_count_distinct": q_count_distinct,
    "rel_window_dedup": q_window_dedup,
    "rel_case_buckets": q_case_buckets,
    "rel_point_lookup": q_point_lookup,
    "rel_scan_order_limit": q_scan_order_limit,
    "rel_union_dedup": q_union_dedup,
    "rel_events_hourly": q_events_hourly,
    "rel_json_extract": q_json_extract,
}

REL_ORACLES = {
    "rel_pricing_summary": O_PRICING_SUMMARY,
    "rel_big_group": O_BIG_GROUP,
    "rel_rollup": O_ROLLUP,
    "rel_sessionize": O_SESSIONIZE,
    "rel_asof_join": O_ASOF_JOIN,
    "rel_interval_join": O_INTERVAL_JOIN,
    "rel_percentile_disc": O_PERCENTILE_DISC,
    "rel_string_agg": O_STRING_AGG,
    "rel_cube": O_CUBE,
    "rel_shipping_priority": O_SHIPPING_PRIORITY,
    "rel_local_volume": O_LOCAL_VOLUME,
    "rel_equi_join": O_EQUI_JOIN,
    "rel_left_join_count": O_LEFT_JOIN_COUNT,
    "rel_anti_join": O_ANTI_JOIN,
    "rel_semi_join": O_SEMI_JOIN,
    "rel_two_level_agg": O_TWO_LEVEL_AGG,
    "rel_group_agg": O_GROUP_AGG,
    "rel_topk": O_TOPK,
    "rel_conditional_agg": O_CONDITIONAL_AGG,
    "rel_count_distinct": O_COUNT_DISTINCT,
    "rel_window_dedup": O_WINDOW_DEDUP,
    "rel_case_buckets": O_CASE_BUCKETS,
    "rel_point_lookup": O_POINT_LOOKUP,
    "rel_scan_order_limit": O_SCAN_ORDER_LIMIT,
    "rel_union_dedup": O_UNION_DEDUP,
    "rel_events_hourly": O_EVENTS_HOURLY,
    "rel_json_extract": O_JSON_EXTRACT,
}

# The curated surface exported to the driver (__spark_entry__): the 9
# substantial relational queries stay standalone; the 15 micro-gates ride
# the 3 suites.  Total driver surface = 19 kg + 19 td + 12 rel = 50.
# scripts/check_gate.py still sweeps the full per-gate REL_QUERIES set.
REL_GATED_QUERIES = {
    "rel_pricing_summary": q_pricing_summary,
    "rel_big_group": q_big_group,
    "rel_rollup": q_rollup,
    "rel_cube": q_cube,
    "rel_sessionize": q_sessionize,
    "rel_asof_join": q_asof_join,
    "rel_interval_join": q_interval_join,
    "rel_shipping_priority": q_shipping_priority,
    "rel_local_volume": q_local_volume,
    "rel_join_suite": q_join_suite,
    "rel_agg_suite": q_agg_suite,
    "rel_scan_suite": q_scan_suite,
}

REL_GATED_ORACLES = {
    "rel_pricing_summary": O_PRICING_SUMMARY,
    "rel_big_group": O_BIG_GROUP,
    "rel_rollup": O_ROLLUP,
    "rel_cube": O_CUBE,
    "rel_sessionize": O_SESSIONIZE,
    "rel_asof_join": O_ASOF_JOIN,
    "rel_interval_join": O_INTERVAL_JOIN,
    "rel_shipping_priority": O_SHIPPING_PRIORITY,
    "rel_local_volume": O_LOCAL_VOLUME,
    "rel_join_suite": O_JOIN_SUITE,
    "rel_agg_suite": O_AGG_SUITE,
    "rel_scan_suite": O_SCAN_SUITE,
}
