"""Relational operator surface (SURVEY.md §2 Part B rows B1-B20, B25-B27).

Every query here is a declarative DataFrame plan — Catalyst handles
predicate pushdown, column pruning, join strategy selection and AQE
runtime re-planning.  Scale notes (100 TB design point) are in each
docstring where the local plan would differ on a cluster.

Cross-engine determinism rules (SURVEY.md §7.3.1):
  * money sums go through DECIMAL(18,6)   → functions.exact.dsum
  * averages: exact sum ÷ count in double → functions.exact.davg
  * ranking windows always carry a unique tiebreaker column
  * int-width differences (DuckDB BIGINT vs Spark INT) resolved by
    explicit casts on both sides
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.exact import (
    davg,
    dec,
    dround,
    dsum,
    sql_cents2,
    sql_davg,
    sql_dround,
    sql_dsum,
    sql_dsum_c4,
)
from ..io import table
from ..registry import query


# ---------------------------------------------------------------- flagship

FLAGSHIP_ORACLE = f"""
SELECT n_name,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


@query("flagship_revenue_by_nation", oracle=FLAGSHIP_ORACLE)
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation, 1996 (TPC-H Q5 shape) — the engine's flagship.

    Mirrors the reference's filter→transform→aggregate dataflow
    (/root/reference/task.ts:108-143) over relational data.  Scale: the
    o_orderdate range predicate is pushed to the parquet scan; nation
    (25 rows) is broadcast; lineitem⋈orders is a shuffle join on the
    high-cardinality orderkey (uniform — no skew); AQE coalesces
    post-shuffle partitions.
    """
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            # long-cents products + decimal(38,0) sum — the
            # bit-identical fast path of dsum (functions/exact.py
            # sql_dsum_c4; the b09 rewrite's shared helper)
            F.expr(
                sql_dsum_c4(
                    f"{sql_cents2('l_extendedprice')}"
                    f" * (100 - {sql_cents2('l_discount')})"
                )
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ------------------------------------------------------------- B1/B2 scan

@query(
    "b01_scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity AS qty,
           {revenue} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-01-01'
    """.format(revenue=sql_dround("l_extendedprice * (1 - l_discount)")),
)
def b01_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1/B2: parquet scan with pushed filter + pruned columns + row expr.

    ``explain('formatted')`` must show PushedFilters [l_shipdate >= ...]
    and a 5-column ReadSchema — verified in tests/test_plans.py.
    """
    li = table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") >= "2001-01-01").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("qty"),
        dround(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


# ---------------------------------------------------------------- B3 joins

@query(
    "b03_join_inner",
    oracle=f"""
    SELECT n_name, count(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS sum_totalprice
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def b03_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3: inner equi-joins; planner picks shuffle vs broadcast per side."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # long-cents fast path (×100 lifts the 2-dp
            # column to the helper's ×10⁴ grain; see functions/exact.py)
            F.expr(
                sql_dsum_c4(f"{sql_cents2('o_totalprice')} * 100")
            ).alias("sum_totalprice"),
        )
    )


@query(
    "b04_join_broadcast",
    oracle=f"""
    SELECT p_brand, count(*) AS n_items, sum(l_quantity) AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def b04_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B4: explicit broadcast of the dimension side — no shuffle of the
    100×-bigger fact table.  At 100 TB this is THE plan for fact⋈dim as
    long as dim fits executor memory (else shuffle-hash on the dim key).
    sum(l_quantity) is integer-valued → exact in double regardless of
    aggregation order."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
            # long-cents fast path (see b03 / functions/exact.py)
            F.expr(
                sql_dsum_c4(f"{sql_cents2('l_extendedprice')} * 100")
            ).alias("sum_price"),
        )
    )


@query(
    "b05_join_left",
    oracle=f"""
    SELECT c_custkey, count(o_orderkey) AS n_orders,
           COALESCE({sql_dsum('o_totalprice')}, 0.0) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def b05_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: left outer join keeps order-less customers (n_orders = 0)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice"), F.lit(0.0)).alias("total_spend"),
        )
    )


@query(
    "b05_join_full_outer",
    oracle="""
    WITH om AS (SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                       count(*) AS n_orders
                FROM orders GROUP BY 1),
         lm AS (SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS month,
                       count(*) AS n_ship
                FROM lineitem GROUP BY 1)
    SELECT COALESCE(om.month, lm.month) AS month,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_ship, 0) AS n_ship
    FROM om FULL OUTER JOIN lm ON om.month = lm.month
    """,
)
def b05_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5: full outer join of two monthly aggregates (months present on
    only one side survive with a zero count)."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    om = o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    lm = li.groupBy(F.date_trunc("month", "l_shipdate").alias("month")).agg(
        F.count(F.lit(1)).alias("n_ship")
    )
    return om.join(lm, om.month == lm.month, "full").select(
        F.coalesce(om.month, lm.month).alias("month"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_ship", F.lit(0)).alias("n_ship"),
    )


@query(
    "b06_join_semi",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def b06_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: left-semi join — existence probe, never duplicates the left."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "b06_join_anti",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def b06_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6: left-anti join — customers with no orders."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "b07_join_range",
    oracle="""
    SELECT s_suppkey, count(*) AS n_richer_customers
    FROM supplier JOIN customer ON s_acctbal < c_acctbal
    GROUP BY s_suppkey
    """,
)
def b07_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7: pure theta (inequality) join.  Locally a broadcast
    nested-loop join (supplier is tiny).  At 100 TB an unbounded theta
    join is a design smell — the scale path is band-partitioning: bucket
    both sides on range(acctbal), join bucket b with buckets ≥ b, which
    turns BNLJ into a bounded equi-join fan-out."""
    s = table(spark, sf_dir, "supplier")
    c = table(spark, sf_dir, "customer")
    return (
        F.broadcast(s)
        .join(c, s.s_acctbal < c.c_acctbal)
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("n_richer_customers"))
    )


@query(
    "b08_join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, max(o.o_orderdate) AS asof_orderdate
    FROM events e
    JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    GROUP BY e.event_id, e.user_id
    """,
)
def b08_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8: as-of join — for each event, the nearest-earlier order date of
    the same user (events.user_id ≡ o_custkey in the corpus).

    Expressed as equi-join on the key + range predicate + max() — Catalyst
    runs the equi part as a real hash/sort-merge join (NOT a BNLJ) and
    the per-key fan-out is bounded by orders-per-customer.  At 100 TB:
    range-bucket the time axis so each event only joins the handful of
    buckets at-or-before it, or sort-merge within key partitions
    (mapPartitions over co-partitioned sorted runs)."""
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    return (
        e.join(o, (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts))
        .groupBy("event_id", "user_id")
        .agg(F.max("o_orderdate").alias("asof_orderdate"))
    )


@query(
    "b08_asof_forward",
    oracle="""
    SELECT event_id, user_id, next_ts FROM (
      SELECT event_id, user_id,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_ts
      FROM events) t
    WHERE next_ts IS NOT NULL
    """,
)
def b08_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 variant: FORWARD as-of — each event paired with the same
    user's next event.  Implemented as window lead(), NOT a self-join:
    one shuffle on the partition key and zero pair expansion, which IS
    the 100 TB as-of plan when both sides are the same stream (the
    self-join formulation pays per-user quadratic fan-out for nothing).
    (ts, event_id) ordering makes the successor deterministic under
    timestamp ties in both engines."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_id", "user_id", F.lead("ts").over(w).alias("next_ts")
        )
        .filter(F.col("next_ts").isNotNull())
    )


@query(
    "b08_asof_tolerance",
    oracle="""
    SELECT event_id, user_id, prev_ts,
           epoch_us(ts) - epoch_us(prev_ts) AS gap_us
    FROM (
      SELECT event_id, user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_ts
      FROM events) t
    WHERE prev_ts IS NOT NULL
      AND epoch_us(ts) - epoch_us(prev_ts) <= CAST(3600 AS BIGINT) * 1000000
    """,
)
def b08_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 variant: backward as-of with a TOLERANCE — the previous
    same-user event, kept only when it landed within the last hour
    (stale matches drop instead of reaching arbitrarily far back; the
    session-gap primitive).  Window lag() + gap filter: same
    single-shuffle scale shape as the forward variant; the gap is exact
    integer microseconds, so the threshold cut is deterministic
    cross-engine."""
    e = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.col("prev_ts"))
    return (
        e.select(
            "event_id", "user_id", "ts",
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .filter(F.col("prev_ts").isNotNull())
        .withColumn("gap_us", gap)
        .filter(F.col("gap_us") <= 3600 * 1_000_000)
        .drop("ts")
    )


# (day-since-epoch, orderkey) packed into one BIGINT so max_by gets a
# total order that breaks date ties by orderkey identically in both
# engines (neither supports struct-ordered max_by).  10^10 > any
# testdata orderkey; a 100 TB keyspace would widen to two-level max_by.
_PACK = 10_000_000_000


@query(
    "b08_asof_payload",
    oracle=f"""
    SELECT e.event_id, e.user_id,
           max(o.o_orderdate) AS asof_orderdate,
           max_by(o.o_orderkey,
                  date_diff('day', DATE '1970-01-01', o.o_orderdate::DATE)
                    * {_PACK} + o.o_orderkey) AS asof_orderkey,
           max_by(o.o_totalprice,
                  date_diff('day', DATE '1970-01-01', o.o_orderdate::DATE)
                    * {_PACK} + o.o_orderkey) AS asof_totalprice
    FROM events e
    JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
    GROUP BY e.event_id, e.user_id
    """,
)
def b08_asof_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B8 variant: as-of join that RETRIEVES THE MATCHED ROW'S PAYLOAD
    (orderkey + totalprice), not just the match timestamp — the form
    enrichment pipelines actually need.  max_by over the packed
    (day, orderkey) bigint picks one deterministic row even when a user
    has several orders on the as-of date."""
    e = table(spark, sf_dir, "events")
    o = table(spark, sf_dir, "orders")
    ordv = (
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .cast("long")
        * _PACK
        + F.col("o_orderkey")
    )
    return (
        e.join(o, (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts))
        .groupBy("event_id", "user_id")
        .agg(
            F.max("o_orderdate").alias("asof_orderdate"),
            F.max_by("o_orderkey", ordv).alias("asof_orderkey"),
            F.max_by("o_totalprice", ordv).alias("asof_totalprice"),
        )
    )


# ---------------------------------------------------------- B9-B11 aggs

@query(
    "b09_agg_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           {sql_davg('l_discount')} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def b09_agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B9: TPC-H Q1 — hash aggregation with partial (map-side) combine,
    which Spark applies automatically; only 4 groups cross the shuffle.

    Optimization (guide §2.3 narrower types / §1.2 per-task
    work): the per-row decimal(18,6) casts and decimal×decimal products
    ran the whole aggregate through the non-compact BigDecimal path —
    measured 1.47 s vs 0.40 s for the same plan on primitive longs at
    sf0.1.  price/discount/tax are exact 2-decimal values, so every
    money sum is an exact sum of LONG-scaled integers computed in
    whole-stage codegen: round(x·100)::bigint recovers the exact cents
    (the b147 pattern), disc_price = cents·(100−disc_b) is the exact
    value ×10⁴, charge ×10⁶ — each a primitive long product per row
    (≤10¹¹); only the SUM accumulates in decimal(38,0), exact at any
    corpus scale (an all-long variant measured 0.62 s but its charge
    sum overflows 2⁶³ past ~10⁸ rows; the decimal-sum-of-long-products
    form measured 0.86 s and is the scale-safe trade).  The 4-row
    post-aggregation fixup reproduces dsum/davg bit-for-bit: HALF_UP
    at 2 digits on a positive exact k-dp rational s/10ᵏ is
    floor((s+5·10ᵏ⁻³)/10ᵏ⁻²) in integers, and the final /100.0 (one
    correctly-rounded IEEE division of an integer < 2⁵³) equals
    casting the exact 2-dp decimal to double; davg's double division
    sees the identical dividend double for the same reason.  Oracle
    unchanged; equality pinned by the oracle compare at both SFs."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "2001-09-01")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    disc_b = F.round(F.col("l_discount") * 100).cast("bigint")
    tax_b = F.round(F.col("l_tax") * 100).cast("bigint")
    big = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — sum-side widening
    agg = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum(big(cents)).alias("s_base_c2"),                  # ×10²
        F.sum(big(cents * (100 - disc_b))).alias("s_disc_c4"),  # ×10⁴
        F.sum(big(cents * (100 - disc_b) * (100 + tax_b))).alias("s_chg_c6"),  # ×10⁶
        F.sum(disc_b).alias("s_disc_b2"),                      # ×10²
        F.count(F.lit(1)).alias("count_order"),
    )
    n = F.col("count_order")
    # the 4-row fixup: the rounding `div`s run on the DECIMAL sums
    # (IntegralDivide is LONG-typed and truncates exactly), and the
    # undivided base sum casts decimal→DOUBLE directly — both avoid the
    # 2⁶³ ceiling a premature BIGINT cast of the raw sum would
    # reinstate (the sql_dsum_c4 ordering, applied consistently);
    # decimal→double and bigint→double conversions of
    # the same integer are both correctly rounded, hence bit-identical
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        (F.expr("CAST(s_base_c2 AS DOUBLE)") / 100.0).alias("sum_base_price"),
        (F.expr("(s_disc_c4 + 50) div 100") / 100.0).alias(
            "sum_disc_price"
        ),
        (F.expr("(s_chg_c6 + 5000) div 10000") / 100.0).alias(
            "sum_charge"
        ),
        F.round(F.col("sum_qty") / n, 4).alias("avg_qty"),
        F.round(
            F.expr("CAST(s_base_c2 AS DOUBLE)") / 100.0 / n, 4
        ).alias("avg_price"),
        F.round((F.col("s_disc_b2") / 100.0) / n, 4).alias("avg_disc"),
        "count_order",
    )


@query(
    "b10_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_orders,
           count(DISTINCT l_partkey)  AS n_parts,
           count(DISTINCT l_suppkey)  AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def b10_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: multi-column count-distinct (Spark expands to a partial
    dedup + final count — two shuffles, both on low-skew keys)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query("b10_approx_distinct")  # approximate → rows-only check (SURVEY §2 B10)
def b10_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10: HLL++ approx distinct — the 100 TB path for cardinality
    (single pass, constant memory, no dedup shuffle).  No exact oracle by
    construction; tests assert relative error < 5% vs exact."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.02).alias("n_orders_approx")
    )


@query(
    "b11_rollup",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def b11_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: hierarchical rollup (flag, flag+status, grand total)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@query(
    "b11_grouping_id",
    oracle="""
    SELECT CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
                AS BIGINT) AS gid,
           COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def b11_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 completeness: grouping_id() — the bitmask that tells a cube
    consumer WHICH aggregation level each row came from, required the
    moment a grouped column can itself be NULL (COALESCE sentinels
    alone can't distinguish 'NULL value' from 'rolled up').  Oracle
    builds the same mask from per-column GROUPING() bits (DuckDB has no
    combined grouping_id)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "gid",
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
        )
    )


@query(
    "b11_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           sum(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def b11_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: full cube — all grouping-set combinations."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


# ------------------------------------------------------- B12-B14 windows

@query(
    "b12_window_rank",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(row_number() OVER w_tb AS INTEGER) AS rn,
           CAST(rank()       OVER w   AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w   AS INTEGER) AS drnk,
           CAST(ntile(4)     OVER w_tb AS INTEGER) AS quartile
    FROM customer
    WINDOW w    AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC),
           w_tb AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def b12_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12: ranking windows.  row_number/ntile use a unique tiebreaker
    (custkey) for determinism; rank/dense_rank are tie-stable by
    definition.  Scale: single shuffle on c_nationkey; skewed partition
    keys would need pre-aggregation or two-level ranking."""
    c = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    w_tb = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.row_number().over(w_tb).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w_tb).alias("quartile"),
    )


@query(
    "b13_window_frames",
    oracle="""
    SELECT o_orderkey,
           CAST(round(lag(o_totalprice)  OVER w, 2) AS DOUBLE) AS prev_price,
           CAST(round(lead(o_totalprice) OVER w, 2) AS DOUBLE) AS next_price,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE)
               AS mov_sum_3,
           count(*) OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                          RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
               AS n_last_30d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def b13_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B13: analytic windows (lag/lead) + ROWS frame moving sum + RANGE
    frame over epoch seconds (30-day trailing count)."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_rows = w.rowsBetween(-2, 0)
    w_range = (
        W.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2592000, 0)
    )
    return o.select(
        "o_orderkey",
        F.round(F.lag("o_totalprice").over(w), 2).cast("double").alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).cast("double").alias("next_price"),
        F.round(F.sum(dec("o_totalprice")).over(w_rows), 2)
        .cast("double")
        .alias("mov_sum_3"),
        F.count(F.lit(1)).over(w_range).alias("n_last_30d"),
    )


@query(
    "b14_topk_global",
    oracle="""
    SELECT c_custkey, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 10
    """,
)
def b14_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14: global top-k.  Spark plans TakeOrderedAndProject — per
    partition top-k then a k-row merge at the driver; no full sort at any
    scale.  Unique tiebreaker (custkey) makes the k-set deterministic."""
    c = table(spark, sf_dir, "customer")
    return (
        c.orderBy(F.desc("c_acctbal"), "c_custkey")
        .limit(10)
        .select("c_custkey", "c_acctbal")
    )


@query(
    "b14_topk_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)
def b14_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14: top-k per group via row_number ≤ k.  Scale: Spark 3.5+
    inserts a WindowGroupLimit (partial top-k before the shuffle), so the
    shuffle carries ≤ k rows per group per map task."""
    o = table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


# ------------------------------------------------------------ B15 set ops

@query(
    "b15_setops",
    oracle="""
    WITH k96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate <  TIMESTAMP '1997-01-01'),
         k97 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate <  TIMESTAMP '1998-01-01')
    SELECT o_custkey, 'both_years' AS op FROM (SELECT * FROM k96 INTERSECT SELECT * FROM k97)
    UNION ALL
    SELECT o_custkey, 'only_1996' AS op FROM (SELECT * FROM k96 EXCEPT SELECT * FROM k97)
    UNION ALL
    SELECT o_custkey, 'either' AS op FROM (SELECT * FROM k96 UNION SELECT * FROM k97)
    """,
)
def b15_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B15: INTERSECT / EXCEPT / UNION(distinct) branches tagged and
    union-all'd into one result."""
    o = table(spark, sf_dir, "orders")

    def keys(y0: str, y1: str) -> DataFrame:
        return (
            o.filter((F.col("o_orderdate") >= y0) & (F.col("o_orderdate") < y1))
            .select("o_custkey")
            .distinct()
        )

    k96, k97 = keys("1996-01-01", "1997-01-01"), keys("1997-01-01", "1998-01-01")
    return (
        k96.intersect(k97).withColumn("op", F.lit("both_years"))
        .unionByName(k96.subtract(k97).withColumn("op", F.lit("only_1996")))
        .unionByName(k96.union(k97).distinct().withColumn("op", F.lit("either")))
    )


# ------------------------------------------- B16-B20 function families

@query(
    "b16_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substr(p_name, 1, 8) AS name_prefix,
           concat(p_brand, '#', p_type) AS brand_type,
           string_split(p_type, ' ')[1] AS type_first,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels,
           CAST(length(p_name) AS INTEGER) AS name_len,
           (p_name LIKE '%a%') AS has_a,
           trim(lower(p_brand)) AS brand_norm
    FROM part
    """,
)
def b16_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B16: string family — the reference's own concat/split/regex
    (task.ts:110-118,127) plus case/substr/like/trim."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat("p_brand", F.lit("#"), "p_type").alias("brand_type"),
        F.split("p_type", " ").getItem(0).alias("type_first"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowels"),
        F.length("p_name").alias("name_len"),
        F.col("p_name").like("%a%").alias("has_a"),
        F.trim(F.lower("p_brand")).alias("brand_norm"),
    )


@query(
    "b17_date_funcs",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(extract(year FROM o_orderdate) AS INTEGER) AS order_year,
           CAST(extract(quarter FROM o_orderdate) AS INTEGER) AS order_quarter,
           strftime(o_orderdate, '%Y-%m-%d') AS date_str,
           o_orderdate + INTERVAL 30 DAY AS plus_30d,
           CAST(datediff('day', o_orderdate, TIMESTAMP '2000-01-01') AS INTEGER)
               AS days_to_2000
    FROM orders
    """,
)
def b17_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B17: date family — trunc/extract/format/interval arithmetic
    (the reference's A9/A10 date handling, task.ts:109-118).  Session TZ
    pinned UTC so formatting is stable (SURVEY.md §2.1.3)."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.year("o_orderdate").alias("order_year"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_str"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("plus_30d"),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date"))
        .alias("days_to_2000"),
    )


@query(
    "b18_math_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(round(abs(l_extendedprice - 30000.0), 2) AS DOUBLE) AS abs_delta,
           CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
           CAST(ceil(l_extendedprice)  AS BIGINT) AS price_ceil,
           CAST(round(sqrt(l_quantity), 6) AS DOUBLE) AS qty_sqrt,
           CAST(round(ln(l_extendedprice), 6) AS DOUBLE) AS price_ln,
           l_orderkey % 7 AS key_mod7,
           TRY_CAST(l_returnflag AS DOUBLE) AS flag_as_num,
           TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty_roundtrip
    FROM lineitem
    """,
)
def b18_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18: math family + cast-with-null (try_cast ≡ the reference's
    Number() null-on-garbage semantics, task.ts:122-123,138)."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 30000.0), 2)
        .cast("double")
        .alias("abs_delta"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.round(F.sqrt("l_quantity"), 6).alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.col("l_returnflag").try_cast("double").alias("flag_as_num"),
        F.col("l_quantity").cast("string").try_cast("double").alias("qty_roundtrip"),
    )


@query(
    "b19_array_funcs",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           string_split(text, ' ')[1]  AS first_tok,
           string_split(text, ' ')[-1] AS last_tok,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
           list_contains(string_split(text, ' '), 'spark') AS has_spark,
           array_to_string(string_split(text, ' ')[1:5], '_') AS first5
    FROM documents
    """,
)
def b19_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19: array family over tokenized text (split/size/element_at/
    distinct/contains/slice/join) — all higher-order-function territory,
    fully JVM-side."""
    d = table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(toks, -1).alias("last_tok"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.array_join(F.slice(toks, 1, 5), "_").alias("first5"),
    )


@query(
    "b20_json_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_struct
    FROM events
    """,
)
def b20_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B20: JSON family — path extraction and schema-full from_json (the
    reference's typed envelope decode, task.ts:88-91)."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        F.from_json("props", "k INT").getField("k").alias("k_struct"),
    )


@query(
    "b11_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
               AS gid,
           sum(l_quantity) AS sum_qty, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def b11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: explicit GROUPING SETS (not just rollup/cube) with the
    grouping-id disambiguator — one pass, Spark expands the sets into a
    single aggregate (the 100 TB alternative to N separate groupBys)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
                   AS gid,
               sum(l_quantity) AS sum_qty, count(*) AS n
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "b11_pivot",
    oracle="""
    SELECT o_orderpriority,
           count(*) FILTER (o_orderstatus = 'O') AS status_o,
           count(*) FILTER (o_orderstatus = 'F') AS status_f,
           count(*) FILTER (o_orderstatus = 'P') AS status_p
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def b11_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: pivot — groupBy().pivot(col, values).  Passing the value
    list explicitly matters at scale: without it Spark first runs a
    distinct-collect job over the pivot column."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("status_o"),
            F.coalesce("F", F.lit(0)).alias("status_f"),
            F.coalesce("P", F.lit(0)).alias("status_p"),
        )
    )


@query(
    "b11_unpivot",
    oracle="""
    SELECT o_orderkey, metric, val
    FROM (SELECT o_orderkey,
                 CAST(o_totalprice AS DOUBLE) AS totalprice,
                 CAST(o_custkey AS DOUBLE) AS custkey
          FROM orders WHERE o_orderkey <= 2000)
    UNPIVOT (val FOR metric IN (totalprice, custkey))
    """,
)
def b11_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 inverse: UNPIVOT / melt — wide metric columns to (key,
    metric, value) long form, the reshaping step feeding generic
    metric stores and plotting layers.  ``DataFrame.unpivot`` plans as
    an Expand node: a narrow per-row fan-out (one output row per
    metric), zero shuffles, fully codegen'd — at 100 TB the cost is
    exactly the output write, same class as chunking."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    wide = o.select(
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return wide.unpivot(
        ["o_orderkey"], ["totalprice", "custkey"], "metric", "val"
    )


@query(
    "b18_width_bucket",
    oracle="""
    -- DuckDB has no width_bucket; this replays Spark's exact formula
    -- (floor((x - lo) / ((hi - lo) / n)) + 1, clamped to [0, n+1]) with
    -- the same operation order so float boundaries agree bit-for-bit.
    SELECT CASE WHEN x < 0.0 THEN 0
                WHEN x >= 600000.0 THEN 21
                ELSE CAST(floor(x / 30000.0) AS BIGINT) + 1 END AS bucket,
           count(*) AS n_orders,
           min(o_orderkey) AS min_key
    FROM (SELECT CAST(o_totalprice AS DOUBLE) AS x, o_orderkey FROM orders)
    GROUP BY 1
    """,
)
def b18_width_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B18 companion: equi-width histogram binning via width_bucket —
    the SQL-standard binning primitive behind distribution dashboards.
    Bucket boundaries are compile-time constants, so the bin id is a
    pure scan-side expression: one map-side-combining groupBy over at
    most n_buckets+2 groups regardless of data volume."""
    o = table(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "bucket",
            F.width_bucket(
                F.col("o_totalprice").cast("double"),
                F.lit(0.0),
                F.lit(600000.0),
                F.lit(20),
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
        )
    )


@query(
    "b06_scalar_subquery",
    oracle="""
    SELECT p_partkey, p_name,
           (SELECT count(*) FROM lineitem WHERE l_partkey = p_partkey) AS n_lineitems
    FROM part
    WHERE p_partkey <= 500
    """,
)
def b06_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B6 companion: correlated scalar subquery — Catalyst decorrelates
    it into an aggregate + left outer join (visible in the plan; no
    per-row re-execution, which is what makes it viable at scale)."""
    table(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_sq_v")
    return spark.sql(
        """
        SELECT p_partkey, p_name,
               (SELECT count(*) FROM lineitem_sq_v WHERE l_partkey = p_partkey)
                   AS n_lineitems
        FROM part_v
        WHERE p_partkey <= 500
        """
    )


@query(
    "b55_lateral_topk",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
    LATERAL (SELECT c_name, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_name LIMIT 2) t
    """,
)
def b55_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated subquery with per-row LIMIT — the 'top-N of
    the related table for each outer row' idiom in its SQL-standard
    spelling (both engines speak it verbatim).  Catalyst decorrelates
    the lateral into a hash join + per-key ranking: the executed plan
    is a BroadcastHashJoin, NOT a per-outer-row re-execution — the
    property that makes lateral viable at scale (verified: zero
    nested-loop nodes, covered by the engine-wide plan sweep).
    Deterministic via the (acctbal DESC, name) total order."""
    table(spark, sf_dir, "nation").createOrReplaceTempView("nation_lat_v")
    table(spark, sf_dir, "customer").createOrReplaceTempView("customer_lat_v")
    return spark.sql(
        """
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation_lat_v n,
        LATERAL (SELECT c_name, c_acctbal FROM customer_lat_v c
                 WHERE c.c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        """
    )


@query(
    "b07_join_range_banded",
    oracle="""
    SELECT s_suppkey, count(*) AS n_richer_customers
    FROM supplier JOIN customer ON s_acctbal < c_acctbal
    GROUP BY s_suppkey
    """,
)
def b07_join_range_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B7 scale path: the banded range join b07_join_range's docstring
    promises — hash-checked identical to the naive theta join's oracle,
    with NO nested-loop and NO pair-space materialization anywhere.

    Band on integer cents (acctbal is exact 2-decimal money, so
    ``round(x*100)`` is a lossless total-order embedding; integer floor
    division makes band boundaries exact — no float-edge misclassifies).
    Then split the predicate by band distance:

      * band(c) > band(s) ⟹ c > s unconditionally — those customers are
        counted from a ≤66-row per-band suffix-sum table (broadcast
        equi-join; the aggregate is pushed THROUGH the join, so the
        cross-band pair space is never built);
      * band(c) = band(s) — the only exact-predicate work left, an
        equi-join on band whose pair space is 1/n_bands of the naive
        join's.

    At 100 TB: the fact sides shuffle once each on band; the band
    dimension is O(n_bands) rows regardless of data volume.  The two
    driver-visible scalars (domain min/max) are metadata aggregates —
    the same class of statistic AQE already collects."""
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", F.round(F.col("s_acctbal") * 100).cast("bigint").alias("s_cents")
    )
    c = table(spark, sf_dir, "customer").select(
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("c_cents")
    )
    return banded_richer_counts(spark, s, c)


def banded_richer_counts(spark, s: DataFrame, c: DataFrame, nb: int = 64) -> DataFrame:
    """Core of the banded range join over exact integer keys: for every
    (s_suppkey, s_cents) count c_cents rows strictly greater, via
    cross-band suffix counts + a same-band exact equi-join.  Boundary
    exactness is property-tested in tests/test_banded_join.py against
    brute force on adversarial datasets (band-edge values, negatives,
    ties, out-of-domain suppliers, single-value domains)."""
    lo, hi = c.agg(F.min("c_cents"), F.max("c_cents")).first()
    width = max(1, (hi - lo) // nb + 1)
    max_band = (hi - lo) // width

    def band_of(col: F.Column) -> F.Column:
        return F.floor((col - F.lit(lo)) / F.lit(width))

    c_b = c.withColumn("band", band_of(F.col("c_cents")))
    counts = c_b.groupBy("band").agg(F.count(F.lit(1)).alias("cnt"))
    # dense band dimension incl. a -1 floor bucket for suppliers poorer
    # than every customer band; suffix[b] = customers in bands > b
    bands = spark.range(-1, max_band + 1).select(F.col("id").alias("band"))
    suffix = (
        bands.join(counts, "band", "left")
        .withColumn("cnt", F.coalesce("cnt", F.lit(0)))
        .withColumn(
            "richer_above",
            F.coalesce(
                F.sum("cnt").over(
                    W.orderBy(F.desc("band")).rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .select("band", "richer_above")
    )
    s_b = s.withColumn(
        "band", F.greatest(band_of(F.col("s_cents")), F.lit(-1))
    )
    cross = s_b.join(F.broadcast(suffix), "band", "left")
    diag = (
        s_b.join(
            c_b,
            (s_b.band == c_b.band) & (s_b.s_cents < c_b.c_cents),
        )
        .groupBy("s_suppkey")
        .agg(F.count(F.lit(1)).alias("diag_cnt"))
    )
    return (
        cross.join(diag, "s_suppkey", "left")
        .select(
            "s_suppkey",
            (
                F.coalesce("richer_above", F.lit(0))
                + F.coalesce("diag_cnt", F.lit(0))
            ).cast("bigint").alias("n_richer_customers"),
        )
        .filter(F.col("n_richer_customers") > 0)
    )


@query(
    "b10_percentile",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.50) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           median(CAST(round(l_extendedprice * 100) AS BIGINT))
             AS med_price_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def b10_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B10 companion: exact per-group percentiles (linear
    interpolation — Spark `percentile` ≡ DuckDB `quantile_cont`).
    Exact percentile sorts within each group; at 100 TB the scale path
    is `approx_percentile` (t-digest-style sketch, mergeable map-side,
    bounded memory) — kept exact here because the oracle can hash-check
    exactness; the approx twin gets a rows-only check like
    b10_approx_distinct.  Interpolated values on integer inputs are
    exact halves → bit-identical cross-engine: l_quantity is
    integer-valued as stored, and the price median runs over integer
    CENTS (round(price·100)) for the same reason — an even-count
    median of raw doubles interpolates (x₁+x₂)/2 with a last-ulp
    engine skew, and round(·, 2) flips at a .005 boundary exactly
    where that skew lands (caught by the sf0.001 size-sensitivity
    sweep: 52724.245 → .24 vs .25)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
        F.percentile("l_quantity", F.lit(0.50)).alias("q50"),
        F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
        F.median(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
        ).alias("med_price_cents"),
    )


@query(
    "b19_map_funcs",
    oracle="""
    SELECT o_orderkey,
           MAP(['status','priority'],[o_orderstatus,o_orderpriority])['status'][1]
               AS status_v,
           CAST(cardinality(MAP(['status','priority'],
                                [o_orderstatus,o_orderpriority])) AS INT) AS n_keys,
           array_to_string(map_keys(MAP(['status','priority'],
                                        [o_orderstatus,o_orderpriority])), ',')
               AS keys_csv,
           list_contains(map_keys(MAP(['status','priority'],
                                      [o_orderstatus,o_orderpriority])), 'status')
               AS has_status
    FROM orders
    WHERE o_orderkey <= 1000
    """,
)
def b19_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 companion: MAP-typed column surface — construction
    (create_map), lookup (element_at), cardinality (size), key listing
    (map_keys), membership (array_contains over keys).  Outputs are
    scalars so the cross-engine hash never depends on map rendering;
    maps stay JVM-side in whole-stage codegen like arrays."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    return o.select(
        "o_orderkey",
        F.element_at(m, "status").alias("status_v"),
        F.size(m).alias("n_keys"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        F.array_contains(F.map_keys(m), "status").alias("has_status"),
    )


_HYPER_BODY = """
SELECT event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP)    AS g_day,
       CAST(date_trunc('hour', ts) AS TIMESTAMP)   AS g_hour,
       CAST(date_trunc('minute', ts) AS TIMESTAMP) AS g_minute,
       grouping(date_trunc('hour', ts))   AS coarser_than_hour,
       grouping(date_trunc('minute', ts)) AS coarser_than_minute,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_value
FROM {e}
GROUP BY event_type,
         ROLLUP(date_trunc('day', ts),
                date_trunc('hour', ts),
                date_trunc('minute', ts))
"""


@query(
    "b11_time_rollup",
    # finite-value quarantine applied in each engine's own dialect
    # (isfinite is DuckDB-only; the Spark side filters the view input)
    oracle=_HYPER_BODY.format(
        e="(SELECT * FROM events WHERE isfinite(value)) qev"
    ),
)
def b11_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11 variant: hypertable-style continuous-aggregate shape — one
    pass over the event stream producing minute, hour, day, and total
    grains per event type via ROLLUP over truncated timestamps (what a
    timeseries store maintains as materialized rollups; here it is a
    single grouping-sets aggregate, map-side combined to the finest
    grain before one shuffle).  grouping() flags disambiguate grain
    levels exactly like a rollup table's grain column.  At 100 TB this
    is the incremental-maintenance shape: each micro-batch aggregates
    to the finest grain and the coarser grains re-aggregate from it,
    never from raw rows."""
    from ..functions.exact import finite

    table(spark, sf_dir, "events").filter(
        finite("value")
    ).createOrReplaceTempView("hyper_events")
    return spark.sql(_HYPER_BODY.format(e="hyper_events"))


@query(
    "b20_variant_funcs",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 AS k_mod,
           CAST(json_extract_string(props, '$.missing') AS INTEGER) AS absent,
           json_valid(props) AS is_obj
    FROM events
    """,
)
def b20_variant_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B20 (Spark 4): semi-structured access through VARIANT —
    parse_json once, then typed variant_get path extraction.  Variant
    keeps the parsed binary representation, so repeated path reads skip
    re-tokenizing the JSON text (the from_json/get_json_object paths in
    b20_json_funcs re-parse per expression); at 100 TB with many-field
    telemetry payloads this is the difference between one decode and k
    decodes per row.  try_variant_get returns NULL for missing paths /
    failed casts instead of erroring — the PERMISSIVE twin of the typed
    decode.  Same VARIANT type carries the WildWeb ``resources``
    pass-through (ingest/wildweb.py)."""
    e = table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "int").alias("k"),
        (F.variant_get(v, "$.k", "bigint") % 5).alias("k_mod"),
        F.try_variant_get(v, "$.missing", "int").alias("absent"),
        F.try_parse_json("props").isNotNull().alias("is_obj"),
    )


@query("b60_hll_mergeable_rollup")  # sketch bytes → estimates; rows-only
def b60_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg / hll_union_agg): build one sketch per (event_type,
    day), then roll WEEKS up from the day sketches WITHOUT touching raw
    rows again — the property approx_count_distinct (b10) lacks, and
    the entire point of sketch columns in a 100 TB rollup hierarchy:
    daily partials persist, every coarser grain is a cheap union over
    sketch bytes (presized, ~KB each), never a recount.

    Accuracy vs the exact count is pinned in
    tests/test_new_ops_invariants.py (±5% at lgK=12).  Rows-only: the
    estimates are approximate by design, so no SQL oracle."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.withColumn("day", F.date_trunc("day", F.col("ts")))
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"))
    )
    weekly = (
        daily.withColumn("week", F.date_trunc("week", F.col("day")))
        .groupBy("event_type", "week")
        .agg(F.hll_union_agg("sk").alias("sk"))
    )
    return weekly.select(
        "event_type",
        "week",
        F.hll_sketch_estimate("sk").alias("approx_users"),
    )


@query("b140_kll_quantile_rollup")  # sketch bytes → estimates; rows-only
def b140_kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketches — b60's sibling, completing the
    mergeable-sketch pair an incremental 100 TB rollup hierarchy needs
    (cardinality ✓ b60, quantiles here): build one KLL sketch of
    ``value`` per (event_type, day) with Apache DataSketches
    kll_sketch_agg_double, then roll WEEKS up by merging DAY SKETCH
    BYTES (kll_merge_agg_double) — raw rows are touched exactly once,
    every coarser grain is a union over ~KB sketches.  percentile_approx
    (b10) can't do this: its partials aren't a persistable column.

    KLL guarantees bounded RANK error (~1.65% at the default k=200),
    not value error; tests/test_new_ops_invariants.py pins each
    reported band's exact rank (from b63's exact histogram walk) within
    ±4% of its target.  Rows-only: approximate by design, no SQL
    oracle."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.withColumn("day", F.date_trunc("day", F.col("ts")))
        .groupBy("event_type", "day")
        .agg(F.kll_sketch_agg_double("value").alias("sk"))
    )
    weekly = (
        daily.withColumn("week", F.date_trunc("week", F.col("day")))
        .groupBy("event_type", "week")
        .agg(F.kll_merge_agg_double("sk").alias("sk"))
    )
    return weekly.select(
        "event_type",
        "week",
        F.kll_sketch_get_n_double("sk").alias("n"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.95)).alias("p95"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.99)).alias("p99"),
    )


@query("b141_theta_retention_sketch")  # sketch set-algebra; rows-only
def b141_theta_retention_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKETCH SET ALGEBRA (Apache DataSketches Theta) — the operation
    HLL fundamentally cannot do: intersections and differences over
    sketch bytes.  Build one theta sketch of user_id per (event_type,
    week), then answer retention-style set expressions between
    CONSECUTIVE weeks without re-touching raw rows: retained =
    |A ∩ B|, churned = |A \\ B|, new = |B \\ A|.  This is the 100 TB
    audience-overlap / user-retention pattern: weekly partials persist
    as a sketch column, every pairwise (or k-way) overlap question is
    driver-free set algebra over ~KB payloads.

    Accuracy pinned in tests/test_new_ops_invariants.py: each estimate
    within 5% (or ±2) of the exact distinct-set arithmetic.  Rows-only:
    approximate by design.  Scale: one groupBy over raw rows, then a
    self-join keyed on (event_type, week→week+7d) whose both sides are
    |groups| rows — dimension-sized, broadcast at any corpus scale."""
    e = table(spark, sf_dir, "events")
    weekly = (
        e.withColumn("week", F.date_trunc("week", F.col("ts")))
        .groupBy("event_type", "week")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )
    nxt = weekly.select(
        "event_type",
        (F.col("week") - F.expr("INTERVAL 7 DAYS")).alias("week"),
        F.col("sk").alias("sk_next"),
    )
    pairs = weekly.join(nxt, ["event_type", "week"])
    return pairs.select(
        "event_type",
        "week",
        F.theta_sketch_estimate("sk").alias("wau"),
        F.theta_sketch_estimate(
            F.theta_intersection("sk", "sk_next")
        ).alias("retained"),
        F.theta_sketch_estimate(
            F.theta_difference("sk", "sk_next")
        ).alias("churned"),
        F.theta_sketch_estimate(
            F.theta_difference("sk_next", "sk")
        ).alias("new_users"),
    )


@query(
    "b65_map_hof",
    oracle="""
    WITH m AS (
      SELECT l_orderkey, l_linenumber,
             list_filter(
               [struct_pack(k := 'qty',
                            v := CAST(l_quantity AS DOUBLE) * 2),
                struct_pack(k := 'price',
                            v := CAST(l_extendedprice AS DOUBLE) * 2)],
               e -> e.v > 50.0) AS entries
      FROM lineitem WHERE l_orderkey <= 500)
    SELECT l_orderkey, l_linenumber, e.k AS key, e.v AS value
    FROM (SELECT l_orderkey, l_linenumber, unnest(entries) AS e FROM m)
    """,
)
def b65_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B19 completeness: map HIGHER-ORDER functions —
    transform_values rewrites every value in place, map_filter prunes
    entries by predicate, and the result explodes to scalar (key,
    value) rows so the check stays canonicalizable (map cells are the
    b32 pandas-sort trap).  DuckDB has no map HOFs, so the oracle
    replays the pipeline on lists of structs — same semantics,
    different spelling, which is exactly what makes it a real parity
    check.  All narrow in-row transforms: zero shuffles."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity").cast("double"),
        F.lit("price"), F.col("l_extendedprice").cast("double"),
    )
    doubled = F.transform_values(m, lambda k, v: v * 2)
    kept = F.map_filter(doubled, lambda k, v: v > 50.0)
    return li.select(
        "l_orderkey", "l_linenumber", F.explode(kept).alias("key", "value")
    )


@query(
    "b78_null_safe_join",
    oracle="""
    WITH c AS (
      SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg,
             c_acctbal
      FROM customer),
    dim AS (
      SELECT DISTINCT NULLIF(c_mktsegment, 'BUILDING') AS seg,
             CASE WHEN c_mktsegment = 'BUILDING' THEN 'unsegmented'
                  ELSE lower(c_mktsegment) END AS seg_label
      FROM customer)
    SELECT d.seg_label,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(floor(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS acctbal_cents
    FROM c JOIN dim d ON c.seg IS NOT DISTINCT FROM d.seg
    GROUP BY d.seg_label
    """,
)
def b78_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-SAFE equi-join (``<=>`` / IS NOT DISTINCT FROM): NULL keys
    match each other instead of silently dropping — the semantics a
    dimension join needs when "unknown" is itself a dimension member.
    NULLs are derived deterministically (segment BUILDING → NULL), the
    dim side maps NULL to an explicit 'unsegmented' label, and every
    BUILDING customer must land there — cardinality conservation is
    asserted in tests (a plain equi-join would lose them all).

    Scale: Spark plans ``<=>`` as a HASH join (null-safe keys hash
    like ordinary keys — Coalesce(key) bucketing), NOT a nested loop;
    the 5-row dim broadcasts.  One narrow scan, zero corpus shuffles,
    then a segment-cardinality aggregation.  Exact integer cents."""
    c = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
        "c_acctbal",
    )
    dim = (
        table(spark, sf_dir, "customer")
        .select(
            F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg"),
            F.when(
                F.col("c_mktsegment") == "BUILDING", F.lit("unsegmented")
            )
            .otherwise(F.lower("c_mktsegment"))
            .alias("seg_label"),
        )
        .distinct()
    )
    j = c.join(F.broadcast(dim), c["seg"].eqNullSafe(dim["seg"]), "inner")
    return j.groupBy("seg_label").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.floor(F.col("c_acctbal") * 100).cast("bigint"))
        .cast("bigint")
        .alias("acctbal_cents"),
    )


@query(
    "b85_grouped_mode",
    oracle="""
    SELECT user_id, event_type AS mode_event, CAST(n AS BIGINT) AS n
    FROM (
      SELECT user_id, event_type, count(*) AS n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type) AS rk
      FROM events GROUP BY user_id, event_type)
    WHERE rk = 1
    """,
)
def b85_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE with a DETERMINISTIC tie-break (highest count,
    then lexicographically smallest value — Spark's built-in mode()
    leaves ties arbitrary, which is unusable for a differential
    check or a reproducible pipeline).

    Implementation: count per (user, event_type), then ONE max_by over
    a (count, reversed-value) ordering struct — a partial aggregate,
    not a window, so the per-user pick combines map-side.  The value
    ordering is inverted via unbase64-free trick: order by (n, neg
    lexicographic) can't be structed directly, so the pick uses
    min_by over (-n, value) — both components ascending.

    Scale: one (user, type)-keyed exchange for the counts (map-side
    combined), then one user-keyed exchange for the pick; output is
    group-sized.  No sorts, no windows."""
    e = table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    picked = counts.groupBy("user_id").agg(
        F.min_by(
            F.struct(F.col("event_type").alias("mode_event"), F.col("n")),
            F.struct((-F.col("n")).alias("a"), F.col("event_type").alias("b")),
        ).alias("_m")
    )
    return picked.select(
        "user_id",
        F.col("_m.mode_event").alias("mode_event"),
        F.col("_m.n").cast("bigint").alias("n"),
    )


@query(
    "b87_skyline",
    oracle="""
    WITH pts AS (
      SELECT s_suppkey,
             CAST(floor(s_acctbal * 100) AS BIGINT) AS bal_cents,
             CAST(s_nationkey AS BIGINT) AS dist
      FROM supplier)
    SELECT s_suppkey, bal_cents, dist FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.bal_cents >= p.bal_cents AND q.dist <= p.dist
        AND (q.bal_cents > p.bal_cents OR q.dist < p.dist))
    """,
)
def b87_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D SKYLINE (Pareto frontier): suppliers not dominated on
    (maximize acctbal, minimize nationkey-as-distance) — the
    multi-criteria shortlist operator.  The textbook formulation is a
    quadratic NOT EXISTS self-join (the oracle runs exactly that);
    the engine instead uses the sort-scan identity: order points by
    dist and a point is on the frontier iff its bal strictly exceeds
    the running max over all strictly-closer points AND equals the
    running max including its own dist tie-group (a same-dist point
    with strictly higher bal dominates; an exact duplicate does not —
    both frames are RANGE frames on dist, so tie groups are handled
    exactly).

    Scale: a naive global-ORDER-BY window would collapse to ONE
    partition (WindowExec warns exactly that) — instead the running
    max is distributed by the two-phase prefix-scan pattern: bucket
    points by dist value range (bucketing is internal — ANY monotonic
    assignment preserves semantics), run both RANGE-frame windows
    PER BUCKET in parallel, aggregate one max per bucket (tiny), take
    the exclusive prefix max across that B-row summary (the only
    single-partition window, over ~64 rows), and broadcast it back.
    global_excl = max(prefix, local_excl); global_incl = max(prefix,
    local_incl) — exact because earlier buckets hold strictly smaller
    dist.  Replaces the O(n²) anti-join with one bucket-keyed
    exchange + linear scans; dominated points drop row-locally."""
    pts = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.floor(F.col("s_acctbal") * 100).cast("bigint").alias("bal_cents"),
        F.col("s_nationkey").cast("bigint").alias("dist"),
    )
    lo, hi = pts.agg(F.min("dist"), F.max("dist")).first()
    n_buckets = 64
    width = max(1, (hi - lo + n_buckets) // n_buckets)
    pts = pts.withColumn("_b", ((F.col("dist") - F.lit(lo)) / width).cast("int"))

    w_excl = (
        W.partitionBy("_b").orderBy("dist").rangeBetween(W.unboundedPreceding, -1)
    )
    w_incl = (
        W.partitionBy("_b").orderBy("dist").rangeBetween(W.unboundedPreceding, 0)
    )
    local = pts.withColumn(
        "loc_excl", F.max("bal_cents").over(w_excl)
    ).withColumn("loc_incl", F.max("bal_cents").over(w_incl))

    summary = pts.groupBy("_b").agg(F.max("bal_cents").alias("bmax"))
    wp = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    prefix = summary.select(
        "_b", F.max("bmax").over(wp).alias("prefix_max")
    )

    j = local.join(F.broadcast(prefix), "_b")
    best_closer = F.greatest(
        F.coalesce("loc_excl", F.lit(-(1 << 62))),
        F.coalesce("prefix_max", F.lit(-(1 << 62))),
    )
    best_here = F.greatest(
        F.col("loc_incl"), F.coalesce("prefix_max", F.lit(-(1 << 62)))
    )
    return (
        j.filter(
            (F.col("bal_cents") == best_here)
            & (F.col("bal_cents") > best_closer)
        )
        .select("s_suppkey", "bal_cents", "dist")
    )


@query(
    "b92_string_agg",
    oracle="""
    SELECT c_nationkey AS nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS names,
           CAST(count(*) AS BIGINT) AS n
    FROM customer
    WHERE c_custkey % 100 = 0
    GROUP BY c_nationkey
    """,
)
def b92_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / string_agg with a DETERMINISTIC element order —
    collect_list alone is partition-order-dependent, which silently
    breaks replica comparison and caching; sorting inside the
    aggregate (sort_array ∘ collect_list ∘ array_join) pins the
    output byte-for-byte to the oracle's ORDER BY string_agg.

    Scale: one key shuffle; collect_list is the rare agg with no
    map-side combine (the list must see every row), so the filter
    keeps group payloads bounded — at 100 TB a listagg over unbounded
    groups is a design error regardless of engine, and this operator
    documents the bound instead of hiding it."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 100 == 0)
    return c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.array_join(F.sort_array(F.collect_list("c_name")), ",").alias(
            "names"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "b93_window_distribution",
    oracle="""
    SELECT s_suppkey,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM supplier
    WINDOW w AS (ORDER BY CAST(floor(s_acctbal * 100) AS BIGINT), s_suppkey)
    """,
)
def b93_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B12 completeness: the DISTRIBUTION window functions —
    percent_rank (=(rank−1)/(n−1)), cume_dist, ntile(4) — over a
    total order made deterministic by the (integer-cents, key)
    tie-break.  Both percent_rank and cume_dist are single IEEE
    divisions of small integers, so cross-engine bit-equality holds
    (no float accumulation anywhere).

    Scale: a GLOBAL-order window like this is legitimate only on
    bounded relations (a ranking report); the per-group variant
    (partitionBy before orderBy) is the corpus-scale shape — b12
    covers it.  Registered globally here precisely to pin the
    distribution-function semantics, supplier-sized."""
    s = table(spark, sf_dir, "supplier")
    w = W.orderBy(
        F.floor(F.col("s_acctbal") * 100).cast("bigint"), F.col("s_suppkey")
    )
    return s.select(
        "s_suppkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )
