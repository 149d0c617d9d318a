"""SQL-entrypoint surface (SURVEY.md §2 SQL API parity).

Capability parity: the reference's query-language entry points
(snapshot empty — SURVEY.md §0.1; the §2 registry is the contract).
Everything else in the package declares plans through the DataFrame
API; this module pins the *other* public entry point — ``spark.sql``
over the temp views ``io.register_views`` exposes — plus the
relational shapes that are only natural in SQL: scalar subqueries,
correlated subqueries, and wide→long UNPIVOT.

Scale posture: ``spark.sql`` text compiles into the same Catalyst
logical plans as the DataFrame API (scalar subqueries become
broadcast-joined single-row aggregates; correlated subqueries are
de-correlated into aggregate+join by the optimizer), so nothing here
trades performance for syntax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import load_tables, register_views


#: One SQL text, two engines: this exact string runs unmodified on
#: Spark (over the temp views) AND on DuckDB (over the parquet views) —
#: the portability contract a reference user migrating SQL workloads
#: cares about most.  Restricted to the shared ANSI surface: TIMESTAMP
#: literals, BETWEEN, ROUND, COUNT/SUM/AVG, CAST/DECIMAL, GROUP BY,
#: ORDER BY.  revenue is the shared-dialect spelling of §5.3 rule 12
#: (decimal-exact money sum): at sf≈1 it measures 3.0e10 — within 1.5
#: decimal orders of double summation-order noise crossing the 2-dp
#: grid.
SHARED_ANSI_SQL = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                ), 2) AS DOUBLE) AS revenue,
           ROUND(AVG(l_quantity), 4) AS avg_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.02 AND 0.08
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
"""


@query("sql_ansi_shared", oracle=SHARED_ANSI_SQL)
def q_sql_ansi_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle string IS the query: one shared-dialect SQL text
    executed by both engines.  Catalyst plans it identically to the
    equivalent DataFrame chain (pushed filter, partial agg, sort)."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(SHARED_ANSI_SQL)


@query(
    "sql_subquery_scalar",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
    ORDER BY o_orderkey
    """,
)
def q_sql_subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: orders above 1.5× the global mean.

    Catalyst executes the subquery once as a single-row aggregate and
    broadcasts the scalar into the filter — at 100 TB that is one
    reduce to one row plus a map-only filtered scan, no join shuffle.

    The 1.5 multiplier is load-bearing for attestation: the synthetic
    orders table has max/avg ≈ 2.0, so any threshold ≥ 2× selects ZERO
    rows at every fixture SF and the oracle hash compares nothing
    (both engines vacuously agree on empty).  1.5× keeps ~25 % of
    orders in the result (measured: 380/1,500 at sf0.001, 3,717/15,000
    at sf0.01, 37,430/150,000 at sf0.1), making
    the driver's value hash a real check.
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
        ORDER BY o_orderkey
        """
    )


@query(
    "sql_subquery_correlated",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 2.5 * (
        SELECT AVG(o2.o_totalprice) FROM orders o2
        WHERE o2.o_custkey = o.o_custkey
    )
    ORDER BY o.o_orderkey
    """,
)
def q_sql_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: orders 2.5× above the CUSTOMER's own
    average — each outer row probes an aggregate over its own key.

    Catalyst de-correlates this into groupBy(o_custkey)+join rather
    than executing the subquery per row, so the plan is one map-side
    partial aggregate and one equi-join on the correlation key — the
    rewrite that makes correlated SQL viable at scale.
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM orders o
        WHERE o.o_totalprice > 2.5 * (
            SELECT AVG(o2.o_totalprice) FROM orders o2
            WHERE o2.o_custkey = o.o_custkey
        )
        ORDER BY o.o_orderkey
        """
    )


@query(
    "sql_unpivot_melt",
    oracle="""
    WITH src AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
               l_discount, l_tax
        FROM lineitem WHERE l_orderkey % 500 = 0
    )
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
           l_quantity AS val FROM src
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM src
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM src
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM src
    """,
)
def q_sql_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via the native UNPIVOT operator (one row in, four
    rows out, no join).  Unpivot is generated row expansion inside the
    scan stage — shuffle-free, scales linearly, and keeps column
    pruning (only the melted columns are read).  The oracle spells it
    as the equivalent UNION ALL, which is what engines without UNPIVOT
    run.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .filter("l_orderkey % 500 = 0")
        .unpivot(
            ids=["l_orderkey", "l_linenumber"],
            values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
            variableColumnName="metric",
            valueColumnName="val",
        )
    )
