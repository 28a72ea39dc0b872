"""Adapted TPC-H suite — the canonical decision-support query *shapes*
over the driver's TPC-H-ish testdata (TESTDATA.md).

The reference implements none of this (SURVEY.md §2 Part B: its sole
dataflow is /root/reference/task.ts); these queries demonstrate the
complete relational engine the north star mandates.  The testdata omits
``partsupp`` and several canonical columns (l_shipmode, l_commitdate,
o_shippriority, c_phone, p_container ...), so each query keeps the
canonical *plan shape* — the thing that matters for engine coverage —
with predicates adapted to the available schema:

  q2   correlated scalar-min over derived catalog (min-cost supplier)
  q3   multi-join + group + top-k             (shipping priority)
  q4   correlated EXISTS semi join            (order priority check)
  q5   6-table snowflake join, 2-key supplier (local supplier volume)
  q6   scan-heavy single-table aggregate      (forecast revenue)
  q7   self-joined dimension (nation x2), year split (volume shipping)
  q8   conditional-sum market share ratio     (national market share)
  q9   5-table join, computed profit by year  (product-type profit)
  q10  returned-item revenue, top 20          (returned items)
  q11  agg + HAVING vs uncorrelated scalar    (important stock)
  q12  conditional-count classification       (shipping modes)
  q13  outer join w/ join-cond filter, 2-level agg (customer distribution)
  q14  CASE ratio over join                   (promo revenue)
  q15  agg view + max-of-agg scalar subquery  (top supplier)
  q16  anti join + count-distinct per class   (supplier diversity)
  q17  correlated avg subquery per part       (small-quantity revenue)
  q18  HAVING-filtered IN-subquery            (large-volume customer)
  q19  disjunctive mixed-side predicates      (discounted revenue)
  q20  nested IN + correlated aggregate       (part promotion)
  q21  EXISTS + NOT EXISTS double correlation (laggard supplier)
  q22  scalar-avg threshold + NOT EXISTS      (dormant high balance)

(Q1 is registered as ``b09_agg_q1`` — the canonical pricing summary.)

Scale notes (100 TB): every shape here is shuffle-partitioned on its
join/group keys; nation/region/supplier/part dims broadcast (see the
plan assertions in tests/test_plans.py for the same patterns); the
correlated subqueries (q15/q17/q21/q22) are decorrelated by Catalyst
into joins over re-aggregations — never per-row re-execution.

Cross-engine determinism per SURVEY.md §7.3.1: money sums via
DECIMAL(18,6) (functions/exact.py); top-k orderings carry a unique-key
tiebreaker so LIMIT selects an identical row set in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import DEC, dec, dsum, sql_cents2, sql_dsum, sql_dsum_c4
from ..io import table
from ..registry import query

REV = "l_extendedprice * (1 - l_discount)"

#: REV pre-scaled ×10⁴ as exact long-cents products — the
#: input shape of sql_dsum_c4, dsum's bit-identical fast path (see
#: functions/exact.py; applied to the BENCHED revenue aggregations —
#: q5/q6/q9 and the flagship; the sub-second non-headline queries keep
#: plain dsum).
REV_C4 = (
    f"{sql_cents2('l_extendedprice')} * (100 - {sql_cents2('l_discount')})"
)


def _rev(li: DataFrame) -> F.Column:
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@query(
    "tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum(REV)} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer, orders, lineitem
    WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
      AND l_orderkey = o_orderkey
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping priority (o_orderpriority stands in for the absent
    o_shippriority).  Segment filter prunes customer before the join;
    the two date predicates push to the orders/lineitem scans; l_orderkey
    tiebreaks the LIMIT so both engines pick the same 10."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(_rev(li)).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "tpch_q5",
    oracle=f"""
    SELECT n_name, {sql_dsum(REV)} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local supplier volume — the full 6-table snowflake with the
    double nationkey equality (customer and supplier in the same
    nation).  region→nation→supplier broadcast down the snowflake; the
    only big shuffle is lineitem⋈orders on orderkey."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.expr(sql_dsum_c4(REV_C4)).alias("revenue"))
    )


@query(
    "tpch_q6",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice * l_discount")} AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecast revenue — pure scan+filter+aggregate, the pushdown
    showcase: all three predicates reach the parquet reader as
    PushedFilters; no shuffle at all (partial aggregates → single
    final row)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        # price·discount is exact ×10⁴ in long cents — the
        # sql_dsum_c4 fast path (bit-identical; see functions/exact.py)
        F.expr(
            sql_dsum_c4(
                f"{sql_cents2('l_extendedprice')} * {sql_cents2('l_discount')}"
            )
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum("volume")} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             {REV} AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey
        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01'
                           AND TIMESTAMP '1997-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping — the same dimension joined twice under
    different roles (supplier nation vs customer nation) plus a
    disjunctive cross-pair predicate.  Both nation copies broadcast;
    year() extraction stays in whole-stage codegen."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31 00:00:00")
    )
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("int"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(_rev(li)).alias("revenue"))
    )


@query(
    "tpch_q8",
    oracle=f"""
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_3'
                               THEN CAST(volume AS {DEC})
                               ELSE CAST(0 AS {DEC}) END) AS DOUBLE)
                 / CAST(sum(CAST(volume AS {DEC})) AS DOUBLE), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS o_year,
             {REV} AS volume, n2.n_name AS nation
      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2,
           region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                            AND TIMESTAMP '1997-12-31'
        AND p_type = 'ECONOMY'
    ) all_nations
    GROUP BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share — conditional-sum ratio.  Numerator and
    denominator accumulate as exact decimals in ONE aggregate pass
    (no second scan), divided as doubles (engine-independent) and
    rounded."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1996-01-01", "1997-12-31 00:00:00")
    )
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    zero = F.lit(0).cast(DEC)
    vol = dec(_rev(li))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_3", vol).otherwise(zero)).cast(
                    "double"
                )
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name, {sql_dsum(REV)} AS revenue, c_acctbal,
           n_name, c_mktsegment
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item revenue, top 20 customers (c_mktsegment stands
    in for the absent address/phone/comment columns).  Group keys ride
    the customer row through the aggregate; c_custkey tiebreaks the
    LIMIT."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment")
        .agg(dsum(_rev(li)).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name", "c_mktsegment")
    )


@query(
    "tpch_q14",
    oracle=f"""
    SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                       THEN CAST({REV} AS {DEC})
                                       ELSE CAST(0 AS {DEC}) END) AS DOUBLE)
                 / CAST(sum(CAST({REV} AS {DEC})) AS DOUBLE), 6)
               AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promo revenue percentage — CASE ratio over a broadcast join
    (part is the small side), single aggregate pass."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = table(spark, sf_dir, "part")
    vol = dec(_rev(li))
    zero = F.lit(0).cast(DEC)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(zero)).cast(
                    "double"
                )
                / F.sum(vol).cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


_Q15_REV = f"""
SELECT l_suppkey AS supplier_no,
       {sql_dsum(REV)} AS total_revenue
FROM {{li}}
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1996-04-01'
GROUP BY l_suppkey
"""


@query(
    "tpch_q15",
    oracle=f"""
    WITH revenue0 AS ({_Q15_REV.format(li="lineitem")})
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier, revenue0
    WHERE s_suppkey = supplier_no
      AND total_revenue = (SELECT max(total_revenue) FROM revenue0)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier — aggregate view + max-of-aggregate scalar
    subquery.  Catalyst evaluates the scalar subquery once (a 2-row
    exchange), then broadcasts the constant into the filter; the
    revenue view is computed a single time at 100 TB if cached — here
    the SQL form lets the optimizer reuse the CTE."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("tpch15_lineitem")
    table(spark, sf_dir, "supplier").createOrReplaceTempView("tpch15_supplier")
    return spark.sql(
        f"""
        WITH revenue0 AS ({_Q15_REV.format(li="tpch15_lineitem")})
        SELECT s_suppkey, s_name, total_revenue
        FROM tpch15_supplier, revenue0
        WHERE s_suppkey = supplier_no
          AND total_revenue = (SELECT max(total_revenue) FROM revenue0)
        """
    )


@query(
    "tpch_q17",
    oracle=f"""
    SELECT {sql_dsum("l_extendedprice", 6)} AS total_price,
           count(*) AS n
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
      AND p_type = 'MEDIUM'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey)
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue (p_type stands in for the
    absent p_container).  The correlated avg subquery is decorrelated
    by Catalyst into a per-part aggregate joined back on partkey —
    visible as one extra shuffle, not per-row re-execution.
    l_quantity is integer-valued so avg() is exact cross-engine."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("tpch17_lineitem")
    table(spark, sf_dir, "part").createOrReplaceTempView("tpch17_part")
    return spark.sql(
        f"""
        SELECT {sql_dsum("l_extendedprice", 6)} AS total_price,
               count(*) AS n
        FROM tpch17_lineitem, tpch17_part
        WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
          AND p_type = 'MEDIUM'
          AND l_quantity < (
            SELECT 0.2 * avg(l_quantity) FROM tpch17_lineitem l2
            WHERE l2.l_partkey = p_partkey)
        """
    )


@query(
    "tpch_q18",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           sum(l_quantity) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customer — HAVING-filtered IN subquery
    (threshold 250 fits this SF's ≤7-line orders; canonical 300 at
    50/line × 7 lines barely triggers).  sum(l_quantity) is
    integer-valued → exact in double.

    Optimization (guide §2.4): the oracle keeps the canonical
    IN-subquery form, but every output group is ORDER-level (all five
    group keys are functions of o_orderkey), so the outer re-aggregation
    over lineitem recomputes exactly the subquery's per-order sum.
    Aggregate lineitem ONCE, filter > 250, and join the (selective)
    order-quantity table to orders and customer — one lineitem scan
    and one row-scale shuffle instead of two of each (plan: the
    left-semi + re-aggregation pair collapses; the post-filter table
    broadcasts)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    oq = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        oq.join(o, oq.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            F.col("l_orderkey").alias("o_orderkey"),
            "o_orderdate",
            "o_totalprice",
            "total_qty",
        )
    )


_Q21_BODY = """
SELECT s_name, count(*) AS numwait
FROM {s} , {li} l1, {o}
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM {li} l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM {li} l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate >= l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


@query(
    "tpch_q21",
    oracle=_Q21_BODY.format(s="supplier", li="lineitem", o="orders"),
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 laggard supplier (l_shipdate stands in for the absent
    commit/receipt dates): in finished multi-supplier orders, find the
    supplier whose line shipped strictly after every other supplier's.
    The canonical EXISTS + NOT-EXISTS double correlation — Catalyst
    turns them into a semi and an anti join on orderkey, both
    shuffle-partitioned; no nested-loop fallback."""
    table(spark, sf_dir, "supplier").createOrReplaceTempView("tpch21_supplier")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("tpch21_lineitem")
    table(spark, sf_dir, "orders").createOrReplaceTempView("tpch21_orders")
    return spark.sql(
        _Q21_BODY.format(
            s="tpch21_supplier", li="tpch21_lineitem", o="tpch21_orders"
        )
    )


_Q22_BODY = f"""
SELECT c_mktsegment, count(*) AS numcust,
       {sql_dsum("c_acctbal")} AS totacctbal
FROM {{c}} cust
WHERE c_acctbal > (
    SELECT CAST(sum(CAST(c_acctbal AS {DEC})) AS DOUBLE) / count(*)
    FROM {{c}} WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM {{o}}
    WHERE o_custkey = cust.c_custkey
      AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_mktsegment
"""


@query(
    "tpch_q22",
    oracle=_Q22_BODY.format(c="customer", o="orders"),
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 dormant high-balance customers (every customer has orders at
    this SF, so 'no orders at all' is adapted to 'no orders since
    1999'; c_mktsegment stands in for the phone country code).  Scalar
    avg threshold (exact decimal sum / count) + NOT EXISTS anti join —
    the uncorrelated scalar evaluates once and broadcasts."""
    table(spark, sf_dir, "customer").createOrReplaceTempView("tpch22_customer")
    table(spark, sf_dir, "orders").createOrReplaceTempView("tpch22_orders")
    return spark.sql(_Q22_BODY.format(c="tpch22_customer", o="tpch22_orders"))


_Q4_BODY = """
SELECT o_orderpriority, count(*) AS order_count
FROM {o}
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM {li}
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


@query("tpch_q4", oracle=_Q4_BODY.format(o="orders", li="lineitem"))
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking (l_shipdate > o_orderdate + 60 days
    stands in for the absent l_commitdate < l_receiptdate): correlated
    EXISTS whose predicate references BOTH sides (outer o_orderdate and
    inner l_shipdate) — plans as a left-semi join on orderkey with the
    date comparison as join condition, never a per-order probe."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("tpch4_orders")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("tpch4_lineitem")
    return spark.sql(_Q4_BODY.format(o="tpch4_orders", li="tpch4_lineitem"))


@query(
    "tpch_q12",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping-mode priority classification (l_returnflag stands in
    for the absent l_shipmode): conditional counts split one pass over
    the join by a priority-class predicate — the canonical
    sum(CASE WHEN ...) pivot-free classification."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


_Q2_BODY = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, min(l_extendedprice) AS supplycost
  FROM {li} GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM {p}, ps, {s}, {n}, {r}
WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey
  AND p_size = 15 AND p_type = 'LARGE'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND supplycost = (
    SELECT min(ps2.supplycost)
    FROM ps ps2, {s} s2, {n} n2, {r} r2
    WHERE ps2.l_partkey = p_partkey AND s2.s_suppkey = ps2.l_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@query(
    "tpch_q2",
    oracle=_Q2_BODY.format(
        li="lineitem", p="part", s="supplier", n="nation", r="region"
    ),
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier.  The testdata has no partsupp, so the
    part-supplier catalog is derived: min(l_extendedprice) per
    (partkey, suppkey) stands in for ps_supplycost (min over doubles is
    order-independent, so it is hash-stable cross-engine).  The shape is
    canonical: region-filtered 5-way join + correlated scalar-min
    subquery, which Catalyst decorrelates into a re-aggregation joined
    on partkey — one extra shuffle, never a per-part probe.  The CTE is
    referenced twice; at 100 TB you'd materialize it once (it is tiny:
    |part|×|suppliers-per-part|) or let AQE reuse the exchange."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("tpch2_lineitem")
    table(spark, sf_dir, "part").createOrReplaceTempView("tpch2_part")
    table(spark, sf_dir, "supplier").createOrReplaceTempView("tpch2_supplier")
    table(spark, sf_dir, "nation").createOrReplaceTempView("tpch2_nation")
    table(spark, sf_dir, "region").createOrReplaceTempView("tpch2_region")
    return spark.sql(
        _Q2_BODY.format(
            li="tpch2_lineitem",
            p="tpch2_part",
            s="tpch2_supplier",
            n="tpch2_nation",
            r="tpch2_region",
        )
    )


@query(
    "tpch_q9",
    oracle=f"""
    SELECT nation, o_year,
           {sql_dsum("amount")} AS sum_profit
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.6 * p_retailprice * l_quantity AS amount
      FROM part, supplier, lineitem, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%') profit
    GROUP BY nation, o_year
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit (0.6 * p_retailprice stands in for the
    absent ps_supplycost).  Five-table join where part (name-filtered),
    supplier, and nation broadcast; lineitem⋈orders is the only big
    shuffle.  The profit expression folds into the scan projection, so
    the aggregate sees one column."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    # amount's exact value has ≤4 decimals (2-dp price ×
    # 2-dp discount; 0.6 × 2-dp retail × integer qty is exact 3-dp),
    # and the double computes it within ~10⁻⁹ — far inside dsum's
    # 5·10⁻⁷ decimal(18,6) recovery band — so the ×10⁴ long-cents
    # product path is bit-identical (sql_dsum_c4; 0.6·retail·qty ×10⁴
    # = 60·retail_cents·qty).  Negative amounts exercise the helper's
    # sign-aware HALF_UP branch.
    amount_c4 = (
        f"{REV_C4} - 60 * {sql_cents2('p_retailprice')}"
        f" * CAST(round(l_quantity) AS BIGINT)"
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.expr(amount_c4).alias("amount_c4"),
        )
        .groupBy("nation", "o_year")
        .agg(F.expr(sql_dsum_c4("amount_c4")).alias("sum_profit"))
    )


_Q11_BODY = f"""
SELECT l_partkey,
       {sql_dsum("l_extendedprice * l_quantity")} AS value
FROM {{li}}, {{s}}, {{n}}
WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND n_name = 'NATION_7'
GROUP BY l_partkey
HAVING CAST(sum(CAST(l_extendedprice * l_quantity AS {DEC})) AS DOUBLE) > (
  SELECT CAST(sum(CAST(l_extendedprice * l_quantity AS {DEC})) AS DOUBLE) * 0.001
  FROM {{li}}, {{s}}, {{n}}
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = 'NATION_7')
ORDER BY value DESC
"""


@query(
    "tpch_q11",
    oracle=_Q11_BODY.format(li="lineitem", s="supplier", n="nation"),
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important-stock identification (lineitem value per part for
    one nation's suppliers stands in for partsupp stock value).  Group
    aggregate + HAVING against an uncorrelated scalar subquery over the
    same join: the scalar evaluates once and broadcasts into the filter.
    Both sides of the comparison go through exact DECIMAL(18,6) sums
    cast to double, so the threshold cut is bit-identical cross-engine
    (a raw double sum could land a group on either side of it)."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("tpch11_lineitem")
    table(spark, sf_dir, "supplier").createOrReplaceTempView("tpch11_supplier")
    table(spark, sf_dir, "nation").createOrReplaceTempView("tpch11_nation")
    return spark.sql(
        _Q11_BODY.format(
            li="tpch11_lineitem", s="tpch11_supplier", n="tpch11_nation"
        )
    )


@query(
    "tpch_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) c_orders
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer order-count distribution (the priority exclusion
    stands in for the absent o_comment NOT LIKE filter).  Left outer
    join with the exclusion folded into the join condition — NOT a
    post-filter, which would turn customers whose orders are all urgent
    into dropped rows instead of c_count=0 — then a two-level aggregate.
    count(o_orderkey) counts only matched rows, exactly the canonical
    NULL-skipping semantics."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey)
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "tpch_q16",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem, part
    WHERE p_partkey = l_partkey
      AND p_brand <> 'Brand#4' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 supplier diversity per part class (s_acctbal < 0 stands in
    for the 'complaints' comment filter).  The NOT IN is expressed as a
    broadcast anti join against the (tiny) bad-supplier set — s_suppkey
    is non-nullable here so anti-join and NOT IN agree; count(DISTINCT)
    shuffles on the group keys with partial dedup map-side."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45)
    )
    li = table(spark, sf_dir, "lineitem")
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "tpch_q19",
    oracle=f"""
    SELECT {sql_dsum(REV)} AS revenue
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND (
         (p_brand = 'Brand#4'  AND p_type IN ('SMALL', 'MEDIUM')
          AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
      OR (p_brand = 'Brand#19' AND p_type IN ('STANDARD', 'LARGE')
          AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
      OR (p_brand = 'Brand#2'  AND p_type IN ('ECONOMY', 'PROMO')
          AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue (p_type stands in for the absent
    p_container).  Disjunction of three conjunctive branches across the
    join: Catalyst extracts the common p_partkey = l_partkey equi-key so
    this stays a hash join (part side broadcasts), with the OR evaluated
    as a post-join filter plus derived per-side implied filters — the
    classic test that an engine doesn't fall back to nested-loop on
    mixed-side predicates."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    branch = (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_type").isin("SMALL", "MEDIUM")
        & F.col("l_quantity").between(1, 11)
        & F.col("p_size").between(1, 5)
    ) | (
        (F.col("p_brand") == "Brand#19")
        & F.col("p_type").isin("STANDARD", "LARGE")
        & F.col("l_quantity").between(10, 20)
        & F.col("p_size").between(1, 10)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_type").isin("ECONOMY", "PROMO")
        & F.col("l_quantity").between(20, 30)
        & F.col("p_size").between(1, 15)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(branch)
        .agg(dsum(_rev(li)).alias("revenue"))
    )


_Q20_BODY = """
SELECT s_name, s_acctbal
FROM {s}, {n}
WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT t.l_suppkey
    FROM (
      SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty96
      FROM {li}
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey) t
    WHERE t.l_partkey IN (
        SELECT p_partkey FROM {p} WHERE p_name LIKE 'red%')
      AND t.qty96 > 0.5 * (
        SELECT sum(l2.l_quantity) FROM {li} l2
        WHERE l2.l_partkey = t.l_partkey
          AND l2.l_suppkey = t.l_suppkey))
ORDER BY s_name
"""


@query(
    "tpch_q20",
    oracle=_Q20_BODY.format(s="supplier", n="nation", li="lineitem", p="part"),
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 potential part promotion, adapted: suppliers in one nation
    who shipped more than half of their all-time volume of some red part
    during 1996 ('recent concentration' stands in for the partsupp
    availqty > 0.5 * yearly-demand test).  Preserves the canonical
    nesting: IN-subquery containing another IN plus a correlated
    aggregate — Catalyst decorrelates the inner sum into a
    re-aggregation joined on (partkey, suppkey) and plans both INs as
    semi joins.  l_quantity is whole-valued, so its double sums are
    FP-exact and the 0.5× threshold is deterministic cross-engine."""
    table(spark, sf_dir, "supplier").createOrReplaceTempView("tpch20_supplier")
    table(spark, sf_dir, "nation").createOrReplaceTempView("tpch20_nation")
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("tpch20_lineitem")
    table(spark, sf_dir, "part").createOrReplaceTempView("tpch20_part")
    return spark.sql(
        _Q20_BODY.format(
            s="tpch20_supplier",
            n="tpch20_nation",
            li="tpch20_lineitem",
            p="tpch20_part",
        )
    )


from .relational import b09_agg_q1 as _q1_impl
from ..registry import ORACLES as _ORACLES


@query("tpch_q1", oracle=_ORACLES["b09_agg_q1"])
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary — canonical registration of the same plan as
    ``b09_agg_q1`` (operators/relational.py), so the TPC-H suite is
    addressable as tpch_q1..q22 without hunting the B-series name."""
    return _q1_impl(spark, sf_dir)
