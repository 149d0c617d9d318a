"""Composite multi-operator queries (TPC-H-shaped end-to-end demos).

These exercise the relational core as *compositions* — filter + star
join + aggregate + top-k in one plan — the way a user of the library
strings operators together. Correctness of each piece is covered by
the per-operator queries; these pin the interactions (join reordering,
partial aggregation under a join, TakeOrderedAndProject on top).

Scale posture: the queries follow the star-join discipline:
dimension filters applied before the join so pushdown
shrinks the build sides, fact-side shuffles only on the join keys,
final top-k is TakeOrderedAndProject (no global sort materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import load_tables


@query(
    "query_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_query_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-revenue top-10 for one market segment.

    Filters land before the joins (so the customer side arrives
    pre-pruned and broadcastable), revenue aggregates with map-side
    partials, and the final ORDER BY+LIMIT compiles to
    TakeOrderedAndProject. Ties broken by (o_orderdate, l_orderkey)
    for a total order (SURVEY.md §5.3.3).
    """
    t = load_tables(spark, sf_dir)
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].filter(F.col("o_orderdate") < cutoff)
    li = t["lineitem"].filter(F.col("l_shipdate") > cutoff)
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "query_returned_items",
    oracle="""
    SELECT c_custkey, c_name, n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q_query_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns.

    lineitem⋈orders shuffles on the order key; customer and nation are
    dimension joins (nation explicitly broadcast — 25 rows at any
    scale factor). Top-k tie-broken by the unique customer key.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "query_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_query_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order counts per priority where at least one
    line item was returned (EXISTS → left-semi join).

    The semi-join probes with the filtered orders side and never
    materializes lineitem columns, so the shuffle carries only
    l_orderkey; at 100 TB the semi side is further shrunk by the
    returnflag filter reaching the parquet scan.
    """
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    returned = t["lineitem"].filter(F.col("l_returnflag") == "R").select("l_orderkey")
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "query_forecast_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_query_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-table filter + global aggregate.

    The entire predicate set is scan-level (PushedFilters on
    l_shipdate / l_discount / l_quantity) and only three columns are
    read; the aggregate is a one-row partial+final — the cheapest
    possible plan shape at any scale.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias(
                "revenue"
            )
        )
    )


@query(
    "query_priority_shipping",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q_query_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional counts by priority class.

    The date filter reaches the lineitem scan before the shuffle; the
    conditional SUM(CASE ...) pair aggregates map-side, so the final
    exchange moves only (linestatus, two longs) per partition.
    """
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        t["orders"]
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "query_promo_revenue",
    oracle="""
    SELECT ROUND(
               100.0 * SUM(CASE WHEN p_type = 'PROMO'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0 END)
                     / SUM(l_extendedprice * (1 - l_discount)), 4
           ) AS promo_revenue_pct
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-03-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
    """,
)
def q_query_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one month.

    part is the small side and broadcast explicitly — the month of
    lineitem streams through a broadcast-hash join with no shuffle at
    all, then collapses to a single conditional ratio row.
    """
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", net).otherwise(0.0))
                / F.sum(net),
                4,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "query_large_volume",
    oracle="""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
           SUM(l_quantity) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_query_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest-volume orders
    (HAVING subquery → aggregate, then semi-join back to the facts).

    The qualifying-orderkey set is tiny after HAVING (hundreds of keys
    out of millions), so it is broadcast into a left-semi join against
    orders — the big lineitem re-join then only touches qualifying
    orders. Top-k tie-broken by the unique order key.
    """
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        .select("l_orderkey")
    )
    orders = t["orders"].join(
        F.broadcast(big), F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    return (
        t["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("o_orderkey") == t["lineitem"].l_orderkey)
        .groupBy("c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "query_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year,
           ROUND(SUM(volume), 4) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               l_extendedprice * (1 - l_discount) AS volume
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
           OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_query_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year (two independent roles of the same dimension table).

    Both nation copies and supplier broadcast; the only shuffles are
    lineitem⋈orders and orders⋈customer on their keys. The
    nation-pair disjunction is applied after both dimension joins but
    Catalyst pushes each half into the respective broadcast build.

    The pair NATION_3/NATION_8 is load-bearing for attestation: the
    sf0.001 fixture has only 10 suppliers spread over 10 nations, and
    a pair without a supplier there compares two vacuously-empty
    results.  NATION_3 and NATION_8 both have suppliers at every
    fixture SF; the result is 14 (supp, cust, year) groups at sf0.001,
    sf0.01 AND sf0.1.
    """
    t = load_tables(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8")
    ) | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
    return (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum("volume"), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "query_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q_query_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the quarter's max revenue
    (aggregate view + scalar-subquery max).

    The revenue aggregate is computed once and reused for both the
    max and the final filter via a single-row broadcast cross join —
    no driver-side collect, no recomputation of the view.
    """
    t = load_tables(spark, sf_dir)
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("total_revenue")
        )
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        t["supplier"]
        .join(revenue, F.col("s_suppkey") == F.col("supplier_no"))
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "query_dormant_balance",
    oracle="""
    SELECT n_name,
           COUNT(*) AS numcust,
           ROUND(SUM(c_acctbal), 4) AS totacctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (
        SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0.0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
    )
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q_query_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich customers with no *recent* orders, by
    nation (scalar-subquery threshold + NOT EXISTS anti-join; every
    fixture customer has at least one lifetime order, so dormancy is
    defined against a recency cutoff to keep the check non-vacuous).

    The positive-balance average is a one-row broadcast (never a
    collect); the anti-join probes orders on o_custkey only. Both
    heavy inputs are pruned to single columns before any exchange.
    """
    t = load_tables(spark, sf_dir)
    avg_bal = (
        t["customer"]
        .filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    rich = (
        t["customer"]
        .join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
    )
    recent = (
        t["orders"]
        .filter(
            F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    dormant = rich.join(recent, rich.c_custkey == F.col("o_custkey"), "left_anti")
    return (
        dormant.join(
            F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


@query(
    "query_cust_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey
                        AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_query_cust_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    with the priority filter in the JOIN condition (not WHERE) so
    customers whose only orders are urgent still count as zero.

    Two aggregations, two shuffles: orders pre-filtered then counted
    per customer (left join keeps orderless customers), then the
    count-of-counts.  COUNT(o_orderkey) skips the nulls a left-join
    miss produces — the standard Q13 trick.
    """
    t = load_tables(spark, sf_dir)
    orders = t["orders"].filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        t["customer"]
        .join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "query_small_qty_revenue",
    oracle="""
    WITH pq AS (
        SELECT l_partkey AS pq_partkey,
               0.2 * AVG(l_quantity) AS qty_thresh
        FROM lineitem
        GROUP BY l_partkey
    )
    SELECT ROUND(SUM(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pq   ON pq_partkey = l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity < qty_thresh
    """,
)
def q_query_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders of one
    brand's parts, threshold = 0.2 x that part's average quantity
    (the correlated scalar subquery decorrelated into an aggregate
    join — exactly what Catalyst/DuckDB do under the hood).

    Scale: the brand's partkeys broadcast into the lineitem scan, the
    per-part average shuffles only the brand-filtered rows (quantity
    is integral, so 0.2 x AVG is an exact double on both engines —
    no boundary flakiness in the `<` comparison).
    """
    t = load_tables(spark, sf_dir)
    parts = (
        t["part"].filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    )
    li = t["lineitem"].join(
        F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey")
    )
    pq = li.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thresh")
    )
    return (
        li.join(pq, F.col("l_partkey") == F.col("pq_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@query(
    "query_disjunct_revenue",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3'  AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_query_disjunct_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate mixing
    both join sides.  The disjunction cannot be pushed below the join
    whole, but Catalyst derives the implied single-side prefilters
    (brand IN (...), quantity <= 30) and pushes THOSE into both scans
    — the join then evaluates only the residual.  One broadcast join,
    no shuffle on the fact side.
    """
    t = load_tables(spark, sf_dir)
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((b == "Brand#12") & s.between(1, 15) & q.between(1, 11))
        | ((b == "Brand#23") & s.between(10, 30) & q.between(10, 20))
        | ((b == "Brand#3") & s.between(20, 50) & q.between(20, 30))
    )
    return (
        t["lineitem"]
        .join(F.broadcast(t["part"]), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@query(
    "query_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders     ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    LIMIT 10
    """,
)
def q_query_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to the fixture schema: returnflag
    stands in for the missing receipt/commit dates): suppliers who
    were the SOLE returner on a finished multi-supplier order.

    The double correlation compiles to one semi- and one anti-join,
    both hash-partitioned on l_orderkey with the `<> suppkey`
    inequality as a post-probe residual — no cartesian pair space,
    and all three lineitem branches reuse one scan (Spark plans them
    as an in-memory exchange reuse where possible).
    """
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            t["orders"].filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    waiting = l1.join(
        l2,
        (F.col("o2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("o3") == F.col("l_orderkey")) & (F.col("s3") != F.col("l_suppkey")),
        "left_anti",
    )
    return (
        waiting.join(
            t["supplier"], F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@query(
    "query_market_share",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN nation = 'NATION_7' THEN volume ELSE 0 END)
                 / SUM(volume), 6) AS mkt_share
    FROM (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               l_extendedprice * (1 - l_discount) AS volume,
               n2.n_name AS nation
        FROM lineitem
        JOIN orders    ON l_orderkey = o_orderkey
        JOIN customer  ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN supplier  ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
    )
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q_query_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one supplier nation's share of ASIA-customer
    revenue per order year (conditional-sum ratio over a 7-way star).

    The two fact joins (orders, supplier keys) shuffle once each; all
    four dim hops (customer->nation->region, supplier->nation) stay
    broadcast.  The share is a single grouped pass — the CASE lands
    in the partial aggregate, so the numerator costs nothing extra.
    """
    t = load_tables(spark, sf_dir)
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    asia_cust = (
        t["customer"]
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n1_region") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(asia_cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            F.col("nation"),
        )
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_7", F.col("volume")).otherwise(0.0))
                / F.sum("volume"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "query_nation_profit",
    oracle="""
    SELECT nation, o_year, ROUND(SUM(amount), 4) AS sum_profit
    FROM (
        SELECT n_name AS nation,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               l_extendedprice * (1 - l_discount)
                   - 0.4 * p_retailprice * l_quantity AS amount
        FROM lineitem
        JOIN part     ON p_partkey = l_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN orders   ON o_orderkey = l_orderkey
        WHERE p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    ORDER BY nation, o_year
    """,
)
def q_query_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: the fixture has no partsupp, so
    supply cost is modeled as 0.4 x retail price): profit on red
    parts by supplier nation and order year.

    part is name-filtered BEFORE its broadcast (LIKE prunes ~7/8 of
    parts scan-side), lineitem shuffles once on l_orderkey for the
    orders join; supplier/nation ride as broadcasts.  (nation, year)
    is a unique grouping so the ORDER BY is total.
    """
    t = load_tables(spark, sf_dir)
    green = t["part"].filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.4 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        t["lineitem"]
        .join(F.broadcast(green), F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount"), 4).alias("sum_profit"))
        .orderBy("nation", "o_year")
    )


@query(
    "query_parts_supplier_count",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#23'
      AND p_size IN (1, 5, 9, 13)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q_query_parts_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many suppliers can provide parts of each
    (brand, type, size), excluding flagged suppliers (negative balance
    stands in for the missing complaints text).  The fixture carries
    no partsupp table, but lineitem's distinct (partkey, suppkey)
    pairs ARE the observed supply relation — the same trick a lakehouse
    uses when the dimension is implicit in the facts.

    Distinct-pair extraction shuffles once; the flagged-supplier set
    is a broadcast anti-join (NOT IN on a 6-row side); part is a
    broadcast.  COUNT(DISTINCT) re-shuffles only the surviving pairs.
    """
    t = load_tables(spark, sf_dir)
    ps = t["lineitem"].select("l_partkey", "l_suppkey").distinct()
    flagged = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#23") & F.col("p_size").isin(1, 5, 9, 13)
    )
    return (
        ps.join(F.broadcast(flagged), ps.l_suppkey == flagged.s_suppkey, "left_anti")
        .join(F.broadcast(parts), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@query(
    "query_important_stock",
    oracle="""
    WITH value_by_part AS (
        SELECT l_partkey,
               SUM(l_extendedprice * l_quantity) AS val
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
        GROUP BY l_partkey
    )
    SELECT l_partkey, ROUND(val, 4) AS stock_value
    FROM value_by_part
    WHERE ROUND(val, 4) > (SELECT ROUND(AVG(val) * 2.0, 4) FROM value_by_part)
    ORDER BY stock_value DESC, l_partkey
    """,
)
def q_query_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts representing a significant share of one
    nation's observed supply value (lineitem value stands in for the
    missing partsupp stock), HAVING-against-scalar-subquery.

    The per-part aggregate is computed ONCE and reused for both the
    grand total (one-row broadcast) and the filter — no recompute, no
    collect.  Both sides of the significance comparison are rounded
    first, so a last-bit summation-order difference between engines
    can never flip a borderline part in or out.

    Threshold and nation are load-bearing for attestation.  A fixed
    fraction of the TOTAL (0.002×SUM) is the Q11 trap real TPC-H avoids
    by scaling its fraction 1/SF: part count grows with SF, so at sf0.1
    the max per-part share is 0.0004 and the result is EMPTY.  2×AVG is
    scale-invariant in the
    part count (selects the distribution's upper tail: 20/195 parts
    at sf0.001, 155/1,204 at sf0.01, 1,627/13,437 at sf0.1).  And
    NATION_7 has no supplier in the 10-supplier sf0.001 fixture;
    NATION_3 has one at every SF.
    """
    t = load_tables(spark, sf_dir)
    nat = t["nation"].filter(F.col("n_name") == "NATION_3").select("n_nationkey")
    supp = (
        t["supplier"]
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey")
    )
    value_by_part = (
        t["lineitem"]
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("val"))
    )
    thresh = value_by_part.agg(
        F.round(F.avg("val") * 2.0, 4).alias("thresh")
    )
    return (
        value_by_part.join(F.broadcast(thresh))
        .filter(F.round(F.col("val"), 4) > F.col("thresh"))
        .select("l_partkey", F.round(F.col("val"), 4).alias("stock_value"))
        .orderBy(F.desc("stock_value"), "l_partkey")
    )


@query(
    "query_avg_order_gap",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey,
               date_diff('day',
                         LAG(o_orderdate) OVER (
                             PARTITION BY o_custkey
                             ORDER BY o_orderdate, o_orderkey),
                         o_orderdate) AS gap_days
        FROM orders
    )
    SELECT o_custkey AS c_custkey,
           CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
           ROUND(AVG(gap_days), 4) AS avg_gap_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    ORDER BY c_custkey
    """,
)
def q_query_avg_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase cadence per customer: average and max days
    between consecutive orders (lag over the customer's order
    timeline, then a rollup on the SAME partitioning key — the second
    shuffle is avoided because groupBy o_custkey reuses the window's
    hash partitioning).  Day gaps on timestamps count calendar-day
    boundaries identically in both engines (same rule as
    win_lag_lead's second deltas)."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = t["orders"].select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    )
    return (
        gaps.filter(F.col("gap_days").isNotNull())
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.count("gap_days").alias("n_gaps"),
            F.round(F.avg("gap_days"), 4).alias("avg_gap_days"),
            F.max("gap_days").cast("bigint").alias("max_gap_days"),
        )
        .orderBy("c_custkey")
    )
