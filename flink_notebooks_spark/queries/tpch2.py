"""TPC-H subquery-shape queries (Q4/Q7/Q13/Q15/Q17/Q18/Q22 adaptations).

The reference's notebook surface is full Flink SQL (reference
flink-runtime/build.gradle:37, notebook examples pass arbitrary SELECTs), so
the engine must handle the classic decision-support subquery shapes TPC-H
exercises beyond the plain join/agg forms already registered (q30–q32):
correlated EXISTS / NOT EXISTS, correlated scalar aggregates, uncorrelated
scalar subqueries, and IN + HAVING. The fixture schema lacks partsupp and a
few columns (shippriority, phone, commitdate), so each query keeps the
original's PLAN SHAPE on the columns that exist — the point is the operator
coverage, not benchmark-kit fidelity.

Correlated forms run through ``spark.sql`` on temp views ON PURPOSE: Catalyst
de-correlates them (EXISTS → left-semi hash join with the correlated predicate
as join condition; a correlated scalar aggregate → grouped aggregate +
equi-join), which is exactly the distributed plan you would hand-write — and
the SQL path proves the engine accepts the notebook user's original text.
Plan-shape tests pin the decorrelation (no CartesianProduct anywhere).

Float determinism: every money sum goes through exact decimals per the
registry contract; every threshold compares against a decimal-sum-derived
value, so filters can't flip on partitioning order.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import load_table
from ._registry import query, session_cache, sql_dsum

_REV = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"


# --- Q38: TPC-H Q4 (order priority checking — correlated EXISTS) -------------
@query(
    "q38_tpch_q4",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q38_tpch_q4(spark, sf_dir):
    """TPC-H Q4 shape (l_shipdate > o_orderdate stands in for the fixture-less
    commitdate/receiptdate pair). Scale plan: the date filter is pushed into
    the orders scan (one quarter of one year), the correlated EXISTS
    decorrelates to a LEFT SEMI hash join on l_orderkey with the
    l_shipdate > o_orderdate predicate evaluated inside the join, and the
    final aggregate has 5 groups — constant-size shuffle at any SF. Lineitem
    is never widened: the semi join reads only (l_orderkey, l_shipdate)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q4")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q4")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders_q4
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem_q4
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    )


# --- Q39: TPC-H Q13 (customer order-count distribution) ----------------------
@query(
    "q39_tpch_q13",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
          FROM customer LEFT JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) t
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC
    """,
)
def q39_tpch_q13(spark, sf_dir):
    """TPC-H Q13 shape (priority filter stands in for the comment LIKE the
    fixture lacks). Scale plan: COUNT(o_orderkey) over a LEFT join keeps the
    zero-order customers (NULL matches count as 0); the first aggregate
    shuffles on c_custkey (same key as the join — AQE reuses the exchange),
    the second on c_count whose domain is tiny (≤ max orders/customer), so
    the distribution aggregate is a constant-size shuffle at any SF."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    return (
        cust.join(ords, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --- Q40: TPC-H Q15 (top supplier — uncorrelated scalar MAX subquery) ---------
@query(
    "q40_tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM({_REV}) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q40_tpch_q15(spark, sf_dir):
    """TPC-H Q15 (top supplier by quarterly revenue; the view + scalar MAX
    form). Scale plan: revenue aggregates once on l_suppkey (date filter
    pushed to the scan); the scalar MAX is a 1-row broadcast the filter
    compares against — the revenue subplan is shared between the two uses via
    a persisted temp view, not computed twice. Revenue values are exact
    decimal sums cast to double once, so the MAX-equality cannot split
    float-equal groups across engines."""
    revenue = _q15_revenue(spark, sf_dir)
    top = revenue.agg(F.max("total_revenue").alias("mx"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(top), F.col("total_revenue") == F.col("mx"))
        .join(sup, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def _q15_revenue(spark, sf_dir):
    """The quarterly per-supplier revenue view, PERSISTED + session-cached
    per dataset: the scalar-MAX branch and the equality filter both read
    it, and notebook re-runs / the test suite call the query many times per
    session — the session cache hands every call the same persisted view
    instead of a fresh copy whose blocks would leak for the session's
    lifetime (see ``_registry.session_cache``)."""
    from pyspark import StorageLevel

    def build():
        li = (
            load_table(spark, sf_dir, "lineitem")
            .filter(
                (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
                & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
            )
            .select("l_suppkey", "l_extendedprice", "l_discount")
        )
        rev_expr = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(18,6)"
        )
        return (
            li.groupBy(F.col("l_suppkey").alias("supplier_no"))
            .agg(F.sum(rev_expr).cast("double").alias("total_revenue"))
        )

    return session_cache(
        spark, "q15_revenue", sf_dir, build, StorageLevel.MEMORY_AND_DISK
    )


# --- Q41: TPC-H Q17 (small-quantity revenue — correlated scalar AVG) ----------
@query(
    "q41_tpch_q17",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem l JOIN part ON p_partkey = l.l_partkey
    WHERE p_brand = 'Brand#1'
      AND l.l_quantity < (SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                                        / COUNT(*))
                          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
    """,
)
def q41_tpch_q17(spark, sf_dir):
    """TPC-H Q17 (brand filter only; the fixture has no container column).
    Scale plan: Catalyst decorrelates the per-part scalar AVG into ONE grouped
    aggregate over lineitem (partial+final on l_partkey) joined back on
    l_partkey — lineitem is scanned twice but never joined to itself row-wise;
    part's brand filter broadcasts (part is the small side after filtering).
    The threshold is a decimal-sum-derived double, so the < comparison is
    partitioning-independent on both engines.

    Name-resolution trap (found live): the outer reference MUST be qualified
    (``l.l_partkey``) — a bare ``l_partkey`` inside the subquery binds to the
    INNER scope's l2 in Spark AND DuckDB, silently turning the correlation
    into a tautology (= one global average). Both engines agree on the wrong
    semantics, so an oracle hash-match alone cannot catch it; the plan test
    pins the decorrelated per-part aggregate join instead."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q17")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_q17")
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                 AS avg_yearly
        FROM lineitem_q17 l JOIN part_q17 ON p_partkey = l.l_partkey
        WHERE p_brand = 'Brand#1'
          AND l.l_quantity < (SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                                            / COUNT(*))
                              FROM lineitem_q17 l2 WHERE l2.l_partkey = l.l_partkey)
        """
    )


# --- Q42: TPC-H Q18 (large-volume customers — IN subquery with HAVING) --------
@query(
    "q42_tpch_q18",
    oracle=f"""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS odate, o_totalprice,
           {sql_dsum("l_quantity", "sum_qty")}
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def q42_tpch_q18(spark, sf_dir):
    """TPC-H Q18 (threshold 250 ≈ the fixture's p99 order size, same
    selectivity role as the kit's 300). Scale plan: the IN subquery
    decorrelates to a left-semi join against the grouped-HAVING aggregate —
    lineitem aggregates on l_orderkey ONCE for the filter and once for the
    output sum (same key, AQE-coalesced exchanges); orders/customer join on
    their keys after the semi join has cut orders to the top ~1%; the top-100
    is TakeOrderedAndProject. The HAVING sum is exact decimal, so membership
    of boundary orders is engine-independent."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_q18")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q18")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q18")
    return spark.sql(
        """
        SELECT c_name, c_custkey, o_orderkey,
               date_format(o_orderdate, 'yyyy-MM-dd') AS odate, o_totalprice,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        FROM customer_q18
        JOIN orders_q18 ON c_custkey = o_custkey
        JOIN lineitem_q18 ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem_q18
                             GROUP BY l_orderkey
                             HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
        """
    )


# --- Q43: TPC-H Q22 (global-avg scalar subquery + correlated NOT EXISTS) ------
@query(
    "q43_tpch_q22",
    oracle=f"""
    SELECT cntrycode, COUNT(*) AS numcust, {sql_dsum("c_acctbal", "totacctbal")}
    FROM (SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal, c_custkey
          FROM customer
          WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                    / COUNT(*)
                             FROM customer WHERE c_acctbal > 0.0)) t
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = t.c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY cntrycode ORDER BY cntrycode
    """,
)
def q43_tpch_q22(spark, sf_dir):
    """TPC-H Q22 shape (cntrycode from c_nationkey instead of the phone
    prefix the fixture lacks; 'no urgent orders' stands in for 'no orders' —
    every fixture customer has at least one order). Scale plan: the global
    average is ONE scalar (broadcast into the filter, computed with a
    decimal-exact sum); the NOT EXISTS decorrelates to a LEFT ANTI hash join
    on custkey against the priority-filtered orders scan; the final aggregate
    has ≤10 groups. No subplan scans customer twice at full width — the
    scalar subquery prunes to the single c_acctbal column."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_q22")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q22")
    return spark.sql(
        """
        SELECT cntrycode, COUNT(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM (SELECT CAST(c_nationkey % 10 AS INT) AS cntrycode, c_acctbal, c_custkey
              FROM customer_q22
              WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                        / COUNT(*)
                                 FROM customer_q22 WHERE c_acctbal > 0.0)) t
        WHERE NOT EXISTS (SELECT 1 FROM orders_q22
                          WHERE o_custkey = t.c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY cntrycode ORDER BY cntrycode
        """
    )


# --- Q44: TPC-H Q7 (volume shipping between nation pairs) ---------------------
@query(
    "q44_tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
                 {_REV} AS volume
          FROM supplier, lineitem, orders, customer, nation n1, nation n2
          WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
            AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
            AND c_nationkey = n2.n_nationkey
            AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01') shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q44_tpch_q7(spark, sf_dir):
    """TPC-H Q7 (volume shipping between a nation pair, grouped by year).
    Scale plan: nation is schema-fixed (25 rows) → both sides of the pair
    filter broadcast; the OR-of-pairs predicate evaluates after the two
    broadcast joins (2 candidate nations each side — near-total pruning before
    the fact joins' shuffles); lineitem⨝orders⨝customer/supplier shuffle on
    their keys with the 2-year shipdate filter pushed to the lineitem scan;
    the final aggregate has (2 pairs × years) groups. Decimal volume makes
    the year sums order-independent."""
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pair = ("NATION_1", "NATION_2")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    ords = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    )
    n1 = F.broadcast(nat.filter(F.col("n_name").isin(*pair)).withColumnRenamed("n_name", "supp_nation"))
    n2 = F.broadcast(
        nat.filter(F.col("n_name").isin(*pair))
        .withColumnRenamed("n_name", "cust_nation")
        .withColumnRenamed("n_nationkey", "n2_nationkey")
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(n2, F.col("c_nationkey") == F.col("n2_nationkey"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(vol).cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --- Q45: TPC-H Q10 (returned-item reporting — 4-table join + top-k) ----------
@query(
    "q45_tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({_REV}) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
)
def q45_tpch_q10(spark, sf_dir):
    """TPC-H Q10 (returned-item reporting: which customers returned the most
    revenue last quarter). Scale plan: the quarter filter pushes into the
    orders scan and the R-flag filter into the lineitem scan BEFORE either
    join; lineitem⨝orders shuffles on the order key, the customer join on
    the customer key; nation (25 rows at any SF) broadcasts; the top-20 is
    TakeOrderedAndProject over the aggregate — per-partition heaps, no
    global sort. Revenue is the exact decimal sum, ties break on c_custkey."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    nat = F.broadcast(load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    ords = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        li.join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nat, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --- Q46: TPC-H Q21 (suppliers who kept orders waiting) -----------------------
# EXISTS and NOT EXISTS over the SAME table inside a 4-way join — the hardest
# decorrelation in the kit. "Late" = shipped > 60 days after the order date
# (the fixture lacks commitdate/receiptdate).
@query(
    "q46_tpch_q21",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
    GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
    """,
)
def q46_tpch_q21(spark, sf_dir):
    """TPC-H Q21 (suppliers who kept multi-supplier orders waiting while every
    OTHER supplier shipped on time). Scale plan: both correlated subqueries
    decorrelate against the SAME lineitem table — the EXISTS to a LEFT SEMI
    and the NOT EXISTS to a LEFT ANTI hash join on l_orderkey, each with the
    suppkey-inequality (and for l3 the lateness bound, which references the
    OUTER orders' o_orderdate) evaluated inside the join condition; no
    per-row subquery, no Cartesian. nation (25 rows) broadcasts; lineitem is
    pruned to (orderkey, suppkey, shipdate) on every branch. The three
    lineitem reads shuffle on the same l_orderkey, so AQE lines their
    exchanges up.

    Correlated-reference trap (see q41): every outer reference in both
    subqueries is alias-qualified (l1./l2./l3.) — an unqualified l_suppkey
    binds to the INNER scope in both engines and silently voids the
    correlation; the plan test pins the semi+anti pair instead."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_q21")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q21")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_q21")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_q21")
    return spark.sql(
        """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier_q21, lineitem_q21 l1, orders_q21, nation_q21
        WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
          AND o_orderstatus = 'F'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem_q21 l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem_q21 l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
          AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
        """
    )


# --- Q47: TPC-H Q20 (potential part promotion — nested IN chains) -------------
# partsupp doesn't exist in the fixture; its analog is the per-(part, supplier)
# shipped-quantity rollup of lineitem, with "availqty" = the all-time total and
# the correlated threshold = 2.5× the 1997 shipments for that same pair.
@query(
    "q47_tpch_q20",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ps_availqty
      FROM lineitem GROUP BY 1, 2)
    SELECT s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
      AND s_suppkey IN (
        SELECT ps.ps_suppkey FROM ps
        WHERE ps.ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
          AND ps.ps_availqty > (
            SELECT 2.5 * CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            FROM lineitem l
            WHERE l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
              AND l.l_shipdate >= TIMESTAMP '1997-01-01'
              AND l.l_shipdate < TIMESTAMP '1998-01-01'))
    ORDER BY s_name
    """,
)
def q47_tpch_q20(spark, sf_dir):
    """TPC-H Q20 (suppliers holding excess stock of promoted parts): an IN
    inside an IN, with a TWO-COLUMN-correlated scalar aggregate in the inner
    WHERE. Scale plan: the name-filtered part list broadcasts into a LEFT
    SEMI against the (part, supplier) rollup; the correlated 1997-quantity
    scalar decorrelates to ONE grouped aggregate on (l_partkey, l_suppkey)
    (the same key as the rollup, so the two aggregates ride one exchange
    lineage) joined back pairwise; the surviving supplier keys feed a second
    LEFT SEMI into the supplier⨝nation probe. Both quantity sums are exact
    decimals cast to double once — the 2.5× threshold compare cannot flip
    with partitioning. NULL semantics carry the selectivity: a pair with no
    1997 shipments yields a NULL threshold, and NULL > filters it out in
    both engines (matching the kit's intent — no demand history, no
    promotion)."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_q20")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q20")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_q20")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_q20")
    return spark.sql(
        """
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS ps_availqty
          FROM lineitem_q20 GROUP BY 1, 2)
        SELECT s_name, s_acctbal
        FROM supplier_q20 JOIN nation_q20 ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
          AND s_suppkey IN (
            SELECT ps.ps_suppkey FROM ps
            WHERE ps.ps_partkey IN (SELECT p_partkey FROM part_q20
                                    WHERE p_name LIKE 'red%')
              AND ps.ps_availqty > (
                SELECT 2.5 * CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                FROM lineitem_q20 l
                WHERE l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
                  AND l.l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l.l_shipdate < TIMESTAMP '1998-01-01'))
        ORDER BY s_name
        """
    )


# --- Q48: TPC-H Q2 (minimum-cost supplier — correlated scalar MIN over joins) -
# "Supply cost" of a (part, supplier) pair = MIN(l_extendedprice) across its
# lineitems (exact — no arithmetic, so the double equality below is safe); the
# correlated subquery re-runs the whole 4-way join per part, which is exactly
# the decorrelation stress the kit intends.
@query(
    "q48_tpch_q2",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
             MIN(l_extendedprice) AS ps_supplycost
      FROM lineitem GROUP BY 1, 2)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
    FROM part, ps, supplier, nation, region
    WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
      AND p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND ps_supplycost = (
        SELECT MIN(ps2.ps_supplycost)
        FROM ps ps2, supplier s2, nation n2, region r2
        WHERE ps2.ps_partkey = part.p_partkey AND s2.s_suppkey = ps2.ps_suppkey
          AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
          AND r2.r_name = 'ASIA')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
    """,
)
def q48_tpch_q2(spark, sf_dir):
    """TPC-H Q2 (cheapest regional supplier per part): a correlated scalar
    MIN whose subquery spans FOUR joins (ps⨝supplier⨝nation⨝region). Scale
    plan: Catalyst decorrelates the subquery into one region-filtered
    (part → min cost) aggregate joined back on p_partkey — the 4-way join
    runs ONCE over all parts, not once per part; nation and region (25/5
    rows at any SF) broadcast on both the outer and inner branches; the
    size/type filters push into the part scan before any join; top-100 is
    TakeOrderedAndProject. ps_supplycost is a MIN of raw doubles (no
    arithmetic), so the min-equality join matches bit-identically on both
    engines. The inner region filter is NOT redundant with the outer one:
    a part whose ASIA-minimum differs from its global minimum must compare
    against the ASIA-scoped value, which is why the subquery carries its own
    supplier⨝nation⨝region chain."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView("supplier_q2")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_q2")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_q2")
    load_table(spark, sf_dir, "region").createOrReplaceTempView("region_q2")
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_q2")
    return spark.sql(
        """
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 MIN(l_extendedprice) AS ps_supplycost
          FROM lineitem_q2 GROUP BY 1, 2)
        SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost
        FROM part_q2, ps, supplier_q2, nation_q2, region_q2
        WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
          AND p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND ps_supplycost = (
            SELECT MIN(ps2.ps_supplycost)
            FROM ps ps2, supplier_q2 s2, nation_q2 n2, region_q2 r2
            WHERE ps2.ps_partkey = part_q2.p_partkey AND s2.s_suppkey = ps2.ps_suppkey
              AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
              AND r2.r_name = 'ASIA')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
        """
    )
