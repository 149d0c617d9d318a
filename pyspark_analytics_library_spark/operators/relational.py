"""Relational core: projections, filters, joins, sorts (SURVEY.md §2.2/2.3/2.6).

Capability parity: the reference's relational surface (snapshot empty —
SURVEY.md §0.1).  Everything here is declarative DataFrame API, so
Catalyst performs predicate pushdown, column pruning and join-strategy
selection (broadcast vs shuffled-hash vs sort-merge, AQE-adjusted) —
nothing in this module schedules execution by hand.

100 TB posture, per operator family:
- Filters/projections compile into the Parquet scan (PushedFilters /
  ReadSchema) — asserted by tests/test_plans.py.
- Dimension joins take explicit ``F.broadcast`` hints; fact-fact joins
  shuffle on their equi keys and rely on AQE for skew splitting.
- The theta/band join buckets the range key and broadcasts the tiny
  side — never a full cross product.
- The as-of join is the union+window formulation: ONE shuffle on the
  join key, no row-multiplying pre-join (the join+filter+rank
  formulation multiplies every left row by all earlier right rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.functions.coercion import ensure_column, ensure_columns
from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import load_tables, register_views


# ---------------------------------------------------------------------------
# Reusable operator API (str | Column accepted everywhere — §1.4 idiom)
# ---------------------------------------------------------------------------


def project(df: DataFrame, *cols: str | Column) -> DataFrame:
    return df.select(*ensure_columns(cols))


def filter_rows(df: DataFrame, predicate: str | Column) -> DataFrame:
    """Filter by a Column predicate or a SQL boolean expression string."""
    if isinstance(predicate, str):
        return df.filter(predicate)
    return df.filter(ensure_column(predicate))


def sample_rows(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Deterministic-under-seed Bernoulli sample (no oracle: RNG differs
    per engine — SURVEY.md §2.2 `filter_sample`)."""
    return df.sample(fraction=fraction, seed=seed)


def join_asof(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_cols: list[str],
    tie_break: str | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right_time <= left_time`` within the same ``on`` key.

    Spark has no native as-of join (SURVEY.md §2.3 `join_asof`); this is
    the union+window formulation: tag both inputs, union them, and take
    ``F.last(..., ignorenulls=True)`` over a running frame ordered by
    (time, side, tie_break).  Exactly one shuffle (by key), state is
    O(1) per row — at 100 TB this beats the join-then-rank formulation,
    which materializes |left| × |matching right| intermediate rows.
    """
    lcols = left.columns
    order_keys = [F.col("_asof_t"), F.col("_asof_side")] + (
        [F.col(tie_break)] if tie_break else []
    )
    tagged_r = right.select(
        F.col(on).alias("_asof_k"),
        F.col(right_time).alias("_asof_t"),
        F.lit(0).alias("_asof_side"),  # right sorts before left at equal time (<=)
        *[F.col(c) for c in right_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols],
    )
    tagged_l = left.select(
        F.col(on).alias("_asof_k"),
        F.col(left_time).alias("_asof_t"),
        F.lit(1).alias("_asof_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_cols],
        *[F.col(c) for c in lcols],
    )
    w = (
        Window.partitionBy("_asof_k")
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged_r.unionByName(tagged_l).select(
        *lcols,
        F.col("_asof_side"),
        *[F.last(c, ignorenulls=True).over(w).alias(f"_asof_{c}") for c in right_cols],
    )
    out = filled.filter(F.col("_asof_side") == 1).select(
        *lcols, *[F.col(f"_asof_{c}").alias(c) for c in right_cols]
    )
    return out


def band_join(
    fact: DataFrame,
    bands: DataFrame,
    value: str | Column,
    lo: str | Column,
    hi: str | Column,
) -> DataFrame:
    """Non-equi band join: ``lo <= value < hi``.  The band table is
    broadcast, so the physical plan is BroadcastNestedLoopJoin over a
    tiny build side — the scale-correct shape for banding a fact table
    (never shuffle the fact, never cross-join two big inputs)."""
    v, lo_c, hi_c = ensure_column(value), ensure_column(lo), ensure_column(hi)
    return fact.join(F.broadcast(bands), on=(v >= lo_c) & (v < hi_c))


# ---------------------------------------------------------------------------
# Declared queries
# ---------------------------------------------------------------------------


@query(
    "project_select",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS net_price,
           l_returnflag || '/' || l_linestatus AS flag_status
    FROM lineitem
    """,
)
def q_project_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return project(
        t["lineitem"],
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        F.concat_ws("/", "l_returnflag", "l_linestatus").alias("flag_status"),
    )


@query(
    "filter_pred",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R')
      AND l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1998-12-31 00:00:00'
      AND (l_quantity < 10 OR l_discount BETWEEN 0.02 AND 0.06)
      AND NOT (l_linestatus = 'O')
    """,
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    pred = (
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_shipdate").between("1996-01-01", "1998-12-31")
        & ((F.col("l_quantity") < 10) | F.col("l_discount").between(0.02, 0.06))
        & ~(F.col("l_linestatus") == "O")
    )
    return filter_rows(li, pred).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@query("filter_sample", tags=("rows-only",))  # RNG differs per engine
def q_filter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return sample_rows(t["orders"], fraction=0.1, seed=42)


@query(
    "join_inner_star",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC
    """,
)
def q_join_inner_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape. lineitem⋈orders is the only fact-fact shuffle;
    customer/supplier/nation/region are planner-broadcast dims."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(
            t["orders"].filter(
                (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["nation"], F.col("s_nationkey") == F.col("n_nationkey"))
        .join(t["region"].filter(F.col("r_name") == "ASIA"), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc())
    )


@query(
    "join_left",
    oracle="""
    SELECT n_name, COUNT(s_suppkey) AS n_supp,
           ROUND(COALESCE(SUM(s_acctbal), 0), 4) AS total_bal
    FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT JOIN null semantics: nations without suppliers keep a row
    (real at sf0.001 — supplier covers only a subset of nations)."""
    t = load_tables(spark, sf_dir)
    return (
        t["nation"]
        .join(t["supplier"], F.col("s_nationkey") == F.col("n_nationkey"), "left")
        .groupBy("n_name")
        .agg(
            F.count("s_suppkey").alias("n_supp"),
            F.round(F.coalesce(F.sum("s_acctbal"), F.lit(0.0)), 4).alias("total_bal"),
        )
    )


@query(
    "join_right",
    oracle="""
    SELECT c_custkey, COUNT(o_orderkey) AS n_orders
    FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"), "right")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@query(
    "join_full",
    oracle="""
    WITH c AS (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
         s AS (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(c.k, s.k) AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp
    FROM c FULL JOIN s ON c.k = s.k
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    c = t["customer"].groupBy(F.col("c_nationkey").alias("ck")).agg(F.count("*").alias("n_cust"))
    s = t["supplier"].groupBy(F.col("s_nationkey").alias("sk")).agg(F.count("*").alias("n_supp"))
    return c.join(s, F.col("ck") == F.col("sk"), "full").select(
        F.coalesce("ck", "sk").alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    recent = t["orders"].filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
    return (
        t["customer"]
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no order in 2001+ (window chosen so the result is
    non-empty at every sf — an all-customers-have-orders anti join would
    match the oracle trivially on an empty set)."""
    t = load_tables(spark, sf_dir)
    recent = t["orders"].filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
    return (
        t["customer"]
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


@query(
    "join_cross",
    oracle="SELECT n_name, r_name FROM nation CROSS JOIN region",
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — only ever sane between tiny dims (25×5)."""
    t = load_tables(spark, sf_dir)
    return t["nation"].crossJoin(t["region"]).select("n_name", "r_name")


@query(
    "join_broadcast",
    oracle="""
    SELECT r_name,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                ), 4) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit F.broadcast hints on every dim: the fact table is never
    shuffled for the join at any scale (result identical to planner
    choice; strategy is physical — SURVEY.md §2.3).

    revenue is money_sum (§5.3 rule 12): 5 region groups over ALL of
    lineitem reach ~6e10 at sf≈1, where the raw double sum flips its
    4-dp digit (…111.3918 vs …111.392)."""
    from pyspark_analytics_library_spark.operators.aggregates import (
        money,
        money_sum,
        one,
        rate,
    )

    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            money_sum(
                money("l_extendedprice") * (one() - rate("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "join_theta_range",
    oracle="""
    SELECT band, COUNT(*) AS n_cust, ROUND(SUM(c_acctbal), 4) AS total_bal
    FROM customer
    JOIN (SELECT range AS band, range * 1000.0 AS lo, (range + 1) * 1000.0 AS hi
          FROM range(-1, 11)) bands
      ON c_acctbal >= lo AND c_acctbal < hi
    GROUP BY band
    """,
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    bands = spark.range(-1, 11).select(
        F.col("id").alias("band"),
        (F.col("id") * 1000.0).alias("lo"),
        ((F.col("id") + 1) * 1000.0).alias("hi"),
    )
    return (
        band_join(t["customer"], bands, "c_acctbal", "lo", "hi")
        .groupBy("band")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 4).alias("total_bal"),
        )
    )


@query(
    "join_asof",
    oracle="""
    SELECT event_id, user_id, ts,
           COALESCE(o_orderkey, -1) AS last_orderkey,
           COALESCE(o_orderdate, TIMESTAMP '1970-01-01 00:00:00') AS last_orderdate
    FROM (
        SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
               ROW_NUMBER() OVER (
                   PARTITION BY e.event_id
                   ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
               ) AS rn
        FROM events e
        LEFT JOIN orders o
          ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
    ) WHERE rn = 1
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via union+window (one shuffle — see join_asof()).  The
    oracle states the same semantics as a rank-1 lateral, which DuckDB
    executes fine at oracle scale.  Nulls (events whose user has no
    prior order) are coalesced to sentinels so output types stay stable
    across both engines' pandas bridges."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_id", "user_id", "ts")
    orders = t["orders"].select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    out = join_asof(
        ev,
        orders,
        on="user_id",
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_orderdate"],
        tie_break="o_orderkey",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce("o_orderkey", F.lit(-1)).alias("last_orderkey"),
        F.coalesce("o_orderdate", F.lit("1970-01-01").cast("timestamp")).alias(
            "last_orderdate"
        ),
    )


@query(
    "join_interval",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
              AND l_shipdate >= o_orderdate
              AND l_shipdate < o_orderdate + INTERVAL 90 DAY
    GROUP BY l_returnflag
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval containment join: equi key + range predicate, so Spark
    runs it as a hash join with a post-filter — no nested loop."""
    t = load_tables(spark, sf_dir)
    cond = (
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    )
    return (
        t["lineitem"]
        .join(t["orders"], cond)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_items"))
    )


@query(
    "sort_multi",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice
    FROM orders
    ORDER BY o_orderpriority ASC, o_totalprice DESC
    """,
)
def q_sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["orders"].select("o_orderkey", "o_orderpriority", "o_totalprice").sort(
        F.col("o_orderpriority").asc(), F.col("o_totalprice").desc()
    )


@query(
    "limit_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: compiles to TakeOrderedAndProject (per-partition
    heap + driver merge of k rows — no global sort at any scale).  Sort
    key includes the unique o_orderkey so the selected set is total
    (SURVEY.md §5.3.3)."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@query(
    "sort_within_partitions",
    oracle="SELECT l_orderkey, l_linenumber FROM lineitem",
)
def q_sort_within_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-local sort — a physical op (write-optimization for
    clustered parquet).  Full oracle (upgraded from rows-only in round
    5): only the ORDER is partition-dependent; the row multiset is the
    source projection unchanged, and the driver's compare is
    order-insensitive — so the oracle verifies the op lost/duplicated
    nothing, which is exactly its contract."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].sortWithinPartitions("l_orderkey").select(
        "l_orderkey", "l_linenumber"
    )


@query(
    "join_lateral",
    oracle="""
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders
             WHERE o_custkey = c_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC
             LIMIT 2) t
    ORDER BY c_custkey, o_totalprice DESC, o_orderkey
    """,
)
def q_join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join: top-2 orders per customer phrased as a
    per-row subquery (SQL entry point B) — identical SQL runs on both
    engines.  Catalyst decorrelates the LIMIT-per-key subquery into a
    window-rank under the hood, so the physical plan is the same
    one-shuffle rank as win_topk_per_group, not a nested loop per
    customer row."""
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_custkey, o_orderkey, o_totalprice
        FROM customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC
                 LIMIT 2)
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey
        """
    )


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (
        SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg
        FROM customer WHERE c_custkey <= 100
    ), b AS (
        SELECT c_custkey AS b_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg_b
        FROM customer WHERE c_custkey <= 100
    )
    SELECT c_custkey, b_custkey, COALESCE(seg, 'NULL') AS seg
    FROM a JOIN b ON seg IS NOT DISTINCT FROM seg_b
                 AND c_custkey < b_custkey
    ORDER BY c_custkey, b_custkey
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics you need
    when the join key legitimately contains unknowns (here BUILDING is
    nulled out on both sides, so its customers still pair up).  Plans
    as a hash join exactly like `=`; a plain equality would silently
    drop every NULL-keyed row."""
    t = load_tables(spark, sf_dir)
    seg = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    a = (
        t["customer"]
        .filter(F.col("c_custkey") <= 100)
        .select("c_custkey", seg.alias("seg"))
    )
    b = (
        t["customer"]
        .filter(F.col("c_custkey") <= 100)
        .select(F.col("c_custkey").alias("b_custkey"), seg.alias("seg_b"))
    )
    return (
        a.join(
            b,
            a["seg"].eqNullSafe(b["seg_b"]) & (a["c_custkey"] < b["b_custkey"]),
        )
        .select(
            "c_custkey", "b_custkey", F.coalesce("seg", F.lit("NULL")).alias("seg")
        )
        .orderBy("c_custkey", "b_custkey")
    )


@query("sample_stratified", tags=("rows-only",))  # sampling is seeded-random
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample (sampleBy): per-language sampling fractions —
    downsample the over-represented strata, keep the tails whole (the
    data-mixing step of corpus curation).  Seeded Bernoulli per row:
    no shuffle, no global sort, embarrassingly scan-parallel; exact
    per-stratum counts vary run to run (rows-only), the fraction map
    is the contract.  Content-deterministic alternatives (hash-mod
    gates) live in pipeline_train_split."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    # sampleBy's fraction map must enumerate every stratum (absent keys
    # are dropped, not passed through).  The stratum vocabulary is given
    # EXPLICITLY — FIXTURES.md pins documents.lang to exactly these five
    # values — rather than enumerated by collecting distinct values: a
    # value-enumeration collect is the classic unbounded-cardinality
    # trap (fine at 5 langs, a driver materialization at 5M user ids).
    # Callers with an open-ended stratum column must pass their own
    # fixed value list; there is no safe way to infer one at scale.
    fractions = {"en": 0.2, "de": 0.5, "fr": 0.5, "es": 1.0, "zh": 1.0}
    sampled = docs.sampleBy("lang", fractions=fractions, seed=42)
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
    )
