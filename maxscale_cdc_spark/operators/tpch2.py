"""Adapted TPC-H anchors, part 2 — the remaining query shapes.

The driver's star schema is a trimmed TPC-H (TESTDATA.md): there is no
partsupp table, no comment/phone/address columns, no
commitdate/receiptdate/shipmode on lineitem, and the dictionary values
are synthetic (nations NATION_0..24, part colors red/blue/hot/cold/…,
brands Brand#0..24).  Each query keeps the ORIGINAL's plan shape — the
thing these anchors exist to exercise — and documents its adaptation:

- partsupp-based queries (q2, q11, q16, q20) derive the part↔supplier
  relation from lineitem (the observed supply relation);
- receipt/commit lateness (q4, q12, q21) becomes shipping delay
  relative to o_orderdate;
- q13's comment filter becomes an order-status filter, q22's phone
  country code becomes c_custkey % 10.

All money math follows the DECIMAL(18,4)-cast discipline (tpch.py):
exact-decimal sums, round(2) BEFORE the double cast, divisions only
between already-double values so both engines bit-match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from maxscale_cdc_spark.operators.tpch import _REV_SQL, _rev
from maxscale_cdc_spark.registry import register
from maxscale_cdc_spark.session import stage
from maxscale_cdc_spark.tables import table

DEC18 = "decimal(18,4)"


def _dec(col: str) -> F.Column:
    return F.col(col).cast(DEC18)


# ---------------------------------------------------------------------------
# q6 — forecasting revenue change: the pure scan-filter-agg anchor.
# ---------------------------------------------------------------------------


@register(
    "tpch_q6",
    """
    SELECT CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(l_discount AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 (revenue forecast): single scan, three pushed predicates, one
    global sum — every filter reaches the parquet scan and the agg is a
    single partial+final pair.  The fastest possible plan shape; any
    regression here is a pushdown regression."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount")), 2)
        .cast("double")
        .alias("revenue")
    )


# ---------------------------------------------------------------------------
# q7 — volume shipping between two nations: the n1/n2 dual-dim anchor.
# ---------------------------------------------------------------------------


@register(
    "tpch_q7",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS l_year,
           CAST(round(SUM({_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM supplier
    JOIN lineitem ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 (volume shipping): the same dimension table joined twice under
    different roles (supplier nation vs customer nation) with a
    symmetric pair predicate.  Both nation joins broadcast; the
    fact-side shuffles are lineitem⋈orders⋈customer only.  Nation names
    adapted to the synthetic NATION_k dictionary."""
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01")
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
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(_rev()), 2).cast("double").alias("revenue"))
        .select(
            "supp_nation",
            "cust_nation",
            F.col("l_year").cast("long").alias("l_year"),
            "revenue",
        )
    )


# ---------------------------------------------------------------------------
# q8 — national market share: conditional share of a grouped total.
# ---------------------------------------------------------------------------


@register(
    "tpch_q8",
    f"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN n2.n_name = 'NATION_1' THEN {_REV_SQL}
                         ELSE CAST(0 AS DECIMAL(12,4)) END) AS DOUBLE)
           / CAST(SUM({_REV_SQL}) AS DOUBLE) AS mkt_share
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN region    ON n1.n_regionkey = r_regionkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    WHERE r_name = 'AMERICA'
      AND p_type = 'ECONOMY'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY year(o_orderdate)
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 (national market share): the conditional-numerator /
    unconditional-denominator share over an 8-table join.  Part filters
    to ~1/6 of the fact rows BEFORE the join chain (pushdown through a
    broadcast join), region prunes the customer side, and the share
    division happens on already-exact doubles.  Nation/part-type values
    adapted to the synthetic dictionary."""
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    c = table(spark, sf_dir, "customer")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    nation_rev = F.when(
        F.col("supp_nation") == "NATION_1", _rev()
    ).otherwise(F.lit(0).cast("decimal(12,4)"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.sum(nation_rev).cast("double") / F.sum(_rev()).cast("double")
            ).alias("mkt_share")
        )
        .select(F.col("o_year").cast("long").alias("o_year"), "mkt_share")
    )


# ---------------------------------------------------------------------------
# q9 — product-type profit: profit = revenue − supply cost, by nation/year.
# ---------------------------------------------------------------------------


@register(
    "tpch_q9",
    f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(round(SUM({_REV_SQL}
                 - CAST(p_retailprice AS DECIMAL(12,4))
                   * CAST(l_quantity AS DECIMAL(12,4))
                   * CAST(0.5 AS DECIMAL(12,4))), 2) AS DOUBLE) AS sum_profit
    FROM part
    JOIN lineitem ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE 'red%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 (product-type profit): profit per supplier nation per year for
    one part color.  ADAPTATION: no partsupp ⇒ no ps_supplycost; unit
    cost is modeled as half the part's retail price (deterministic,
    decimal-exact in both engines).  Shape preserved: the p_name LIKE
    prefix filter prunes part before the fact join, supplier/nation
    broadcast, and the agg groups on (nation, year)."""
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    cost = (
        F.col("p_retailprice").cast("decimal(12,4)")
        * F.col("l_quantity").cast("decimal(12,4)")
        * F.lit(0.5).cast("decimal(12,4)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(_rev() - cost), 2).cast("double").alias("sum_profit"))
        .select("nation", F.col("o_year").cast("long").alias("o_year"), "sum_profit")
    )


# ---------------------------------------------------------------------------
# q2 — minimum-cost supplier: correlated-min over the supply relation.
# ---------------------------------------------------------------------------


@register(
    "tpch_q2",
    """
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(l_extendedprice AS DECIMAL(18,4))) AS supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
      SELECT s_suppkey, s_acctbal, s_name, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    ec AS (
      SELECT cost.*, eu.s_acctbal, eu.s_name, eu.n_name
      FROM cost JOIN eu ON cost.l_suppkey = eu.s_suppkey
    ),
    mn AS (
      SELECT l_partkey, min(supplycost) AS min_cost FROM ec GROUP BY l_partkey
    )
    SELECT ec.s_acctbal, ec.s_name, ec.n_name, p_partkey, p_name,
           CAST(ec.supplycost AS DOUBLE) AS supplycost
    FROM ec
    JOIN mn ON ec.l_partkey = mn.l_partkey AND ec.supplycost = mn.min_cost
    JOIN part ON p_partkey = ec.l_partkey
    WHERE p_size = 11 AND p_type = 'ECONOMY'
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 (minimum-cost supplier): the correlated-min anchor — for each
    qualifying part, keep only the European supplier(s) whose cost
    equals the per-part minimum.  ADAPTATION: no partsupp ⇒ the supply
    relation is derived from lineitem as min observed extendedprice per
    (part, supplier) — same correlated-subquery plan shape (agg, then
    join back on the min).  Ties keep all rows, as in the original.
    The min-per-part agg and the join back to it share the l_partkey
    shuffle key, so AQE reuses the exchange."""
    li = table(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(_dec("l_extendedprice")).alias("supplycost")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_acctbal", "s_name", "n_name")
    )
    ec = cost.join(F.broadcast(eu), cost.l_suppkey == eu.s_suppkey)
    mn = ec.groupBy(F.col("l_partkey").alias("mn_partkey")).agg(
        F.min("supplycost").alias("min_cost")
    )
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 11) & (F.col("p_type") == "ECONOMY")
    )
    return (
        ec.join(
            mn,
            (ec.l_partkey == mn.mn_partkey)
            & (ec.supplycost == mn.min_cost),
        )
        .join(F.broadcast(p), ec.l_partkey == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("supplycost").cast("double").alias("supplycost"),
        )
    )


# ---------------------------------------------------------------------------
# q4 — order-priority checking: EXISTS semi-join with a correlated predicate.
# ---------------------------------------------------------------------------


@register(
    "tpch_q4",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 (order-priority checking): orders in one quarter with at least
    one slow lineitem, counted per priority.  ADAPTATION: no
    commitdate/receiptdate ⇒ "late" means shipped more than 60 days
    after the order date — still a correlated EXISTS whose predicate
    references both sides, which Spark plans as a left-semi join with a
    post-join condition.  The quarter filter prunes orders before the
    semi-join probe."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1997-10-01")
    )
    li = table(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("long").alias("order_count"))
    )


# ---------------------------------------------------------------------------
# q11 — important stock: group-agg vs scalar-subquery global threshold.
# ---------------------------------------------------------------------------


@register(
    "tpch_q11",
    """
    WITH supply AS (
      SELECT l_partkey, CAST(l_extendedprice AS DECIMAL(18,4)) AS v
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_0'
    )
    SELECT l_partkey AS ps_partkey,
           CAST(round(SUM(v), 2) AS DOUBLE) AS part_value
    FROM supply
    GROUP BY l_partkey
    HAVING CAST(SUM(v) AS DOUBLE) >
           (SELECT CAST(SUM(v) AS DOUBLE) * 0.001 FROM supply)
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 (important stock): parts representing a significant fraction
    of one nation's total supply value.  ADAPTATION: no partsupp ⇒
    value is the summed extendedprice of the nation's lineitems per
    part.  Shape preserved: a grouped agg HAVING-compared against a
    scalar subquery over the same relation — the single-row total goes
    broadcast, so the threshold compare is a map-side filter, and the
    decimal sums are exact before the one double multiply both engines
    perform identically."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_0")
    supply = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", _dec("l_extendedprice").alias("v"))
    )
    per_part = supply.groupBy("l_partkey").agg(F.sum("v").alias("sv"))
    # The grand total is the exact decimal sum of the per-part sums, so
    # derive the threshold FROM per_part (~|parts| rows) instead of
    # re-running the lineitem⋈supplier⋈nation join a second time — at
    # 100 TB that second fact-table pass is the whole query's cost.
    per_part = stage(per_part)
    total = per_part.agg((F.sum("sv").cast("double") * F.lit(0.001)).alias("thr"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("sv").cast("double") > F.col("thr"))
        .select(
            F.col("l_partkey").alias("ps_partkey"),
            F.round("sv", 2).cast("double").alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# q12 — shipping delay vs priority: conditional counts over a fact join.
# ---------------------------------------------------------------------------

_Q12_CLASS_SQL = """CASE WHEN date_diff('day', o_orderdate, l_shipdate) >= 120
                         THEN 'VERY_LATE'
                         WHEN date_diff('day', o_orderdate, l_shipdate) >= 60
                         THEN 'LATE' ELSE 'ONTIME' END"""


@register(
    "tpch_q12",
    f"""
    SELECT {_Q12_CLASS_SQL} AS delay_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY delay_class
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 (shipping delay vs priority): ADAPTATION — no l_shipmode or
    receipt/commit dates, so lineitems bucket by shipping delay
    (days from order date to ship date) instead of by ship mode; the
    conditional high/low-priority counts are the original's.  One fact
    join on the orderkey, integer day arithmetic (identical in both
    engines for midnight timestamps), one small-cardinality agg."""
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    cls = (
        F.when(delay >= 120, "VERY_LATE").when(delay >= 60, "LATE").otherwise("ONTIME")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(cls.alias("delay_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(hi, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# q13 — customer order-count distribution: outer join + double aggregation.
# ---------------------------------------------------------------------------


@register(
    "tpch_q13",
    """
    WITH co AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderstatus <> 'P'
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM co GROUP BY c_count
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 (customer distribution): LEFT OUTER join with an extra join
    condition (so customers keep their zero row), then two stacked
    aggregations — per-customer order count, then the histogram of
    those counts.  ADAPTATION: the o_comment NOT LIKE filter becomes an
    order-status filter (no comment column).  count(o_orderkey) counts
    only matched rows, preserving the zero bucket.  The second agg's
    key (c_count) has tiny cardinality, so it collapses map-side."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    co = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderstatus != "P"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count("*").cast("long").alias("custdist"))


# ---------------------------------------------------------------------------
# q15 — top supplier: grouped revenue vs its own max (scalar subquery).
# ---------------------------------------------------------------------------


@register(
    "tpch_q15",
    f"""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             CAST(round(SUM({_REV_SQL}), 2) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 (top supplier): one quarter's revenue per supplier, keeping
    the supplier(s) that hit the maximum — the view-vs-its-own-aggregate
    shape.  The revenue CTE is computed once and reused for both the
    max (1-row broadcast) and the join; comparing the ROUNDED doubles on
    both sides keeps the equality exact cross-engine.  Ties keep all
    rows, as the original specifies."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(F.sum(_rev()), 2).cast("double").alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_rev"))
    s = table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


# ---------------------------------------------------------------------------
# q16 — parts/supplier relationship: COUNT DISTINCT over the supply bridge.
# ---------------------------------------------------------------------------


@register(
    "tpch_q16",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#3'
      AND p_type <> 'PROMO'
      AND p_size IN (5, 11, 17, 23, 29, 35, 41, 47)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 (parts/supplier relationship): how many distinct suppliers
    serve each (brand, type, size) bucket, excluding one brand and one
    type.  ADAPTATION: the part↔supplier relation comes from lineitem
    (no partsupp), and the supplier-complaint NOT IN subquery is
    dropped (no s_comment column).  The NOT-EQUAL + IN-list predicates
    all push to the part scan, which then broadcasts; the distinct
    count expands to a two-phase agg keyed on the group + suppkey."""
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(5, 11, 17, 23, 29, 35, 41, 47))
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# q17 — small-quantity-order revenue: correlated avg threshold per part.
# ---------------------------------------------------------------------------


@register(
    "tpch_q17",
    """
    SELECT CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE)
           / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#5'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p_partkey
      )
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 (small-quantity-order revenue): lineitems far below their
    part's average order quantity.  The correlated scalar average
    becomes a per-part aggregate joined back on partkey (what Catalyst
    decorrelates to anyway).  Quantities are whole numbers ≤ 50, so the
    double sum is exact in any order and avg = sum/n is bit-identical
    cross-engine — the 0.2× threshold compare is therefore safe.  The
    per-part avg agg and the fact join share the l_partkey shuffle."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    avg_q = li.groupBy(F.col("l_partkey").alias("aq_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("q_thr")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_q, li.l_partkey == F.col("aq_partkey"))
        .filter(F.col("l_quantity") < F.col("q_thr"))
        .agg(
            (
                F.round(F.sum(_dec("l_extendedprice")), 2).cast("double") / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


# ---------------------------------------------------------------------------
# q19 — discounted revenue: disjunctive multi-attribute predicate groups.
# ---------------------------------------------------------------------------


@register(
    "tpch_q19",
    f"""
    SELECT CAST(round(SUM({_REV_SQL}), 2) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 (discounted revenue): three OR-ed predicate groups that each
    reference BOTH join sides — the disjunction cannot fully push to
    either scan, so it rides the join as a residual condition.  The
    part side still broadcasts.  ADAPTATION: the container/shipmode
    conjuncts are dropped (columns absent); brand/size/quantity bands
    are kept per group."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    sz = F.col("p_size")
    groups = (
        ((F.col("p_brand") == "Brand#1") & sz.between(1, 5) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & sz.between(1, 10) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & sz.between(1, 15) & q.between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(groups)
        .agg(F.round(F.sum(_rev()), 2).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# q20 — potential part promotion: nested semi-join chain.
# ---------------------------------------------------------------------------


@register(
    "tpch_q20",
    """
    SELECT s_name, s_suppkey
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_name LIKE 'red%'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey
        HAVING SUM(l_quantity) > 50
      )
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 (potential part promotion): suppliers in one nation who moved
    real volume of one part color in a year.  ADAPTATION: no partsupp
    availqty ⇒ the half-of-stock threshold becomes an absolute shipped-
    quantity threshold over the same year window; the plan shape — an
    aggregated subquery feeding an IN (left-semi) join into the
    supplier⋈nation probe — is the original's.  Quantity sums are exact
    (whole numbers in double)."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    movers = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(movers, s.s_suppkey == movers.l_suppkey, "left_semi")
        .select("s_name", "s_suppkey")
    )


# ---------------------------------------------------------------------------
# q21 — suppliers who kept orders waiting: EXISTS + NOT EXISTS self-joins.
# ---------------------------------------------------------------------------


@register(
    "tpch_q21",
    """
    WITH ol AS (
      SELECT l_orderkey, l_suppkey,
             (l_shipdate > o_orderdate + INTERVAL 90 DAY) AS late
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ),
    agg AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS nsupp,
             count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nlate
      FROM ol GROUP BY l_orderkey
    )
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM ol
    JOIN agg USING (l_orderkey)
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5' AND ol.late AND nsupp > 1 AND nlate = 1
    GROUP BY s_name
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 (suppliers who kept orders waiting): late lineitems in
    multi-supplier finished orders where theirs was the ONLY late
    supplier.  The original's EXISTS/NOT-EXISTS self-join pair is
    expressed as one per-order aggregate (distinct suppliers, distinct
    late suppliers) joined back — one shuffle on l_orderkey serves the
    aggregate and the join-back, vs two more self-shuffles for the
    literal EXISTS pair.  ADAPTATION: lateness is ship-vs-order-date
    +90d (no receipt/commit dates)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    ol = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("late"),
    )
    agg = ol.groupBy(F.col("l_orderkey").alias("agg_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("nsupp"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("nlate"),
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    return (
        ol.join(agg, ol.l_orderkey == F.col("agg_orderkey"))
        .filter(F.col("late") & (F.col("nsupp") > 1) & (F.col("nlate") == 1))
        .join(F.broadcast(s), ol.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("long").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# q22 — global sales opportunity: anti-join + above-average threshold.
# ---------------------------------------------------------------------------


@register(
    "tpch_q22",
    """
    WITH pos AS (
      SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS s, count(*) AS n
      FROM customer
      WHERE c_acctbal > 0.0 AND c_custkey % 10 IN (1, 3, 5, 7, 9)
    )
    SELECT CAST(c_custkey % 10 AS BIGINT) AS cntrycode,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(round(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS totacctbal
    FROM customer, pos
    WHERE c_custkey % 10 IN (1, 3, 5, 7, 9)
      AND CAST(c_acctbal AS DECIMAL(18,4)) * n > s
      AND NOT EXISTS (
        SELECT 1 FROM orders WHERE o_custkey = c_custkey
      )
    GROUP BY c_custkey % 10
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 (global sales opportunity): rich customers with no orders, by
    country code.  ADAPTATIONS: no c_phone ⇒ country code is
    c_custkey % 10; the above-average-balance comparison is multiplied
    through (acctbal·n > Σ) so it runs entirely in exact decimal/integer
    math — no cross-engine double-average divergence — with the 1-row
    (Σ, n) aggregate broadcast.  The no-orders condition is a left-anti
    join, the original's NOT EXISTS."""
    c = table(spark, sf_dir, "customer").filter(
        (F.col("c_custkey") % 10).isin(1, 3, 5, 7, 9)
    )
    pos = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(_dec("c_acctbal")).alias("s"),
            F.count("*").alias("n"),
        )
    )
    o = table(spark, sf_dir, "orders")
    return (
        c.join(F.broadcast(pos))
        .filter(_dec("c_acctbal") * F.col("n") > F.col("s"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy((F.col("c_custkey") % 10).cast("long").alias("cntrycode"))
        .agg(
            F.count("*").cast("long").alias("numcust"),
            F.round(F.sum(_dec("c_acctbal")), 2).cast("double").alias("totacctbal"),
        )
    )
