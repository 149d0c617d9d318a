"""Aggregation operators (SURVEY.md §2.4).

Capability parity: the reference's aggregation surface (snapshot empty —
SURVEY.md §0.1; §2.4 is the contract).  All aggregates are expressed as
native ``pyspark.sql.functions`` so they execute as Tungsten hash
aggregates with map-side partial aggregation — at 100 TB each groupBy
here shuffles only the partially-aggregated per-key state, not rows.

Oracle-parity discipline (SURVEY.md §5.3): every double aggregate is
ROUND()ed identically on both engines; integer sums are cast to BIGINT
on the DuckDB side (DuckDB widens SUM(int) to HUGEINT, which its pandas
bridge then renders as float64).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_analytics_library_spark import conf
from pyspark_analytics_library_spark.functions.coercion import ensure_column
from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import load_tables, local_frame, register_views


def _r(col: Column | str, scale: int = 4) -> Column:
    """Round a double column for cross-engine comparison (SURVEY.md §5.3.2)."""
    return F.round(col, scale)


def money(col: Column | str) -> Column:
    """Cast a 2-dp money column (price/balance, |x| < 1e10) to
    DECIMAL(12,2) — EXACT and engine-identical for 2-dp source data.

    The fixture money columns (FIXTURES.md) hold doubles that are the
    nearest-double of k/100; that double is always within ~1e-11 of
    k/100 and never at a 3-dp half point, so rounding it to 2 dp
    recovers k/100 on BOTH engines regardless of their tie rules.
    (A COMPUTED double like price*(1-disc) cast to decimal can land
    exactly between two 8-dp decimals, where Spark's HALF_UP on the
    shortest-repr string and DuckDB's ties-to-even on the binary value
    disagree on ~6e-4 of rows by ±1e-8 — hence rule 12 casts OPERANDS,
    not products.)
    """
    return ensure_column(col).cast("decimal(12,2)")


def rate(col: Column | str) -> Column:
    """Cast a 2-dp rate column (discount/tax, |x| < 10) to
    DECIMAL(3,2) — exact and engine-identical; see :func:`money`."""
    return ensure_column(col).cast("decimal(3,2)")


def one() -> Column:
    """Exact decimal literal 1 for (1 − discount) / (1 + tax) factors.

    DECIMAL(3,2) keeps the product precision small enough that the
    full price*(1−disc)*(1+tax) chain stays far from Spark's 38-digit
    cap (12,2 × 4,2 × 4,2 → DECIMAL(22,6); SUM widens +10 → 1e26
    headroom — any conceivable scale)."""
    return F.lit(1).cast("decimal(3,2)")


def money_sum(col: Column, scale: int = 4) -> Column:
    """Order-independent, cross-engine-EXACT money sum (SURVEY.md §5.3 rule
    12).  ``col`` must be a DECIMAL expression built from :func:`money` /
    :func:`rate` / :func:`one` operands (e.g. ``money("l_extendedprice") *
    (one() - rate("l_discount"))``): the operands are 2-dp source data
    whose double→decimal cast has no ties, every later step is exact, and
    decimal SUM is associative, so the total is bit-identical across
    partition order, threads and engines at ANY scale (per-row check:
    tests/test_properties.py::test_money_decimal_cross_engine_exact).

    The final ROUND(…, scale) is engine-identical too: Spark and DuckDB
    both round decimals half-AWAY from zero (2.5→3, −2.5→−3,
    0.000050→0.0001).  The cast back to double keeps the compare surface
    atomic.  DuckDB spelling, e.g.: ``CAST(ROUND(SUM(CAST(x AS
    DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(d AS
    DECIMAL(3,2)))), 4) AS DOUBLE)``.

    The pre-SUM cast to DECIMAL(27,8) is an exact no-op for
    operand-decimal expressions (at most DECIMAL(22,6) per row), and gives
    a raw DOUBLE expression order-independent decimal summation (~6 orders
    of margin) instead of partition-order-sensitive double accumulation."""
    return F.round(F.sum(col.cast("decimal(27,8)")), scale).cast("double")


# ---------------------------------------------------------------------------
# agg_pricing_summary — TPC-H Q1 shape; the flagship `entry()` query.
# ---------------------------------------------------------------------------


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """Filter → groupBy(returnflag, linestatus) → 8 aggregates → sort.

    The filter lands in the Parquet scan (PushedFilters) and the two
    low-cardinality group keys make the shuffle tiny after map-side
    partial aggregation — this shape scales linearly with input size.
    """
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # sum_qty stays a double sum: l_quantity is all-integer in
            # the fixture, and integer float64 sums are EXACT below
            # 2^53 (~9e15 — far past 100 TB's ~3.75e10).  The three
            # price sums are money_sum (§5.3 rule 12): their raw
            # double sums flip a 4-dp digit at sf≈1
            # (sum_disc_price …289.7999 vs …289.8).
            _r(F.sum("l_quantity")).alias("sum_qty"),
            money_sum(money("l_extendedprice")).alias("sum_base_price"),
            money_sum(
                money("l_extendedprice") * (one() - rate("l_discount"))
            ).alias("sum_disc_price"),
            money_sum(
                money("l_extendedprice")
                * (one() - rate("l_discount"))
                * (one() + rate("l_tax"))
            ).alias("sum_charge"),
            _r(F.avg("l_quantity")).alias("avg_qty"),
            _r(F.avg("l_extendedprice")).alias("avg_price"),
            _r(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def mode_deterministic(df: DataFrame, key: str, value: str) -> DataFrame:
    """Mode with a total tie-break (smallest value among the most
    frequent) — built-in ``mode()`` is tie-nondeterministic in BOTH
    engines, so the portable algorithm is count + rank (SURVEY.md §2.4)."""
    from pyspark.sql import Window

    counts = df.groupBy(key, value).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy(key).orderBy(F.col("cnt").desc(), F.col(value).asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(key, F.col(value).alias(f"mode_{value}"))
    )


@query(
    "agg_pricing_summary",
    oracle="""
    SELECT
        l_returnflag,
        l_linestatus,
        ROUND(SUM(l_quantity), 4)                                          AS sum_qty,
        CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))), 4)
             AS DOUBLE)                                                    AS sum_base_price,
        CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
             ), 4) AS DOUBLE)                                              AS sum_disc_price,
        CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
             * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))
             ), 4) AS DOUBLE)                                              AS sum_charge,
        ROUND(AVG(l_quantity), 4)                                          AS avg_qty,
        ROUND(AVG(l_extendedprice), 4)                                     AS avg_price,
        ROUND(AVG(l_discount), 4)                                          AS avg_disc,
        COUNT(*)                                                           AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return pricing_summary(t["lineitem"])


# ---------------------------------------------------------------------------
# Distinct aggregates
# ---------------------------------------------------------------------------


@query(
    "agg_distinct",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query("agg_approx_distinct", tags=("rows-only",))  # HLL impls differ per engine
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ count-distinct — the 100 TB path (constant memory
    per key vs a full hash set for the exact variant)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
    )


# ---------------------------------------------------------------------------
# Rollup / cube / grouping sets / pivot
# ---------------------------------------------------------------------------


@query(
    "agg_rollup",
    oracle="""
    SELECT COALESCE(n_name, '[ALL]') AS n_name,
           COALESCE(o_orderstatus, '[ALL]') AS o_orderstatus,
           GROUPING(n_name) * 2 + GROUPING(o_orderstatus) AS gid,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 4)
                AS DOUBLE) AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, o_orderstatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """total_price is money_sum (§5.3 rule 12): the rollup's grand
    total sums EVERY order — ~3.75e11 at sf≈1, where double
    summation-order noise flips the 4-dp digit (…585.5996 vs
    …585.6007)."""
    t = load_tables(spark, sf_dir)
    joined = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.rollup("n_name", "o_orderstatus")
        .agg(
            (F.grouping("n_name") * 2 + F.grouping("o_orderstatus")).alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(money("o_totalprice")).alias("total_price"),
        )
        .select(
            F.coalesce("n_name", F.lit("[ALL]")).alias("n_name"),
            F.coalesce("o_orderstatus", F.lit("[ALL]")).alias("o_orderstatus"),
            "gid",
            "n_orders",
            "total_price",
        )
    )


@query(
    "agg_cube",
    oracle="""
    SELECT COALESCE(l_returnflag, '[ALL]') AS l_returnflag,
           COALESCE(l_linestatus, '[ALL]') AS l_linestatus,
           GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
           COUNT(*) AS n_items,
           ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .cube("l_returnflag", "l_linestatus")
        .agg(
            (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")).alias("gid"),
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("[ALL]")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("[ALL]")).alias("l_linestatus"),
            "gid",
            "n_items",
            "sum_qty",
        )
    )


_GROUPING_SETS_SQL = """
    SELECT COALESCE(n_name, '[ALL]') AS n_name,
           COALESCE(c_mktsegment, '[ALL]') AS c_mktsegment,
           COUNT(*) AS n_cust,
           ROUND(SUM(c_acctbal), 4) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
"""


@query("agg_grouping_sets", oracle=_GROUPING_SETS_SQL)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS is SQL-only surface in Spark — entry point B
    (SURVEY.md §3): identical SQL text runs on both engines."""
    register_views(spark, sf_dir, "customer", "nation")
    return spark.sql(_GROUPING_SETS_SQL)


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(
    "agg_pivot",
    oracle="""
    SELECT date_trunc('day', ts) AS day,
           COUNT(*) FILTER (event_type = 'click')    AS click,
           COUNT(*) FILTER (event_type = 'error')    AS error,
           COUNT(*) FILTER (event_type = 'purchase') AS purchase,
           COUNT(*) FILTER (event_type = 'signup')   AS signup,
           COUNT(*) FILTER (event_type = 'view')     AS view
    FROM events
    GROUP BY day
    """,
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot: day × event_type counts.  Pivot values are passed
    explicitly — omitting them adds a blocking distinct scan over the
    full table before planning (never acceptable at 100 TB)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _EVENT_TYPES)
    )


# ---------------------------------------------------------------------------
# Statistical aggregates
# ---------------------------------------------------------------------------


@query(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(MIN(l_extendedprice), 4) AS min_price,
           ROUND(MAX(l_extendedprice), 4) AS max_price,
           ROUND(AVG(l_extendedprice), 4) AS mean_price,
           ROUND(STDDEV_SAMP(l_extendedprice), 4) AS std_price,
           ROUND(VAR_SAMP(l_extendedprice), 2) AS var_price,
           -- DuckDB returns SAMPLE skewness/kurtosis; Spark returns the
           -- POPULATION (method-of-moments) versions.  De-bias with the
           -- exact conversion factors so both engines agree:
           --   g1 = G1 * (n-2) / sqrt(n*(n-1))
           --   g2 = (G2 * (n-2)*(n-3)/(n-1) - 6) / (n+1)
           ROUND(skewness(l_extendedprice) * (COUNT(*) - 2)
                 / SQRT(COUNT(*) * (COUNT(*) - 1.0)), 4) AS skew_price,
           ROUND((kurtosis(l_extendedprice) * (COUNT(*) - 2.0) * (COUNT(*) - 3.0)
                  / (COUNT(*) - 1.0) - 6) / (COUNT(*) + 1.0), 4) AS kurt_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    p = F.col("l_extendedprice")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r(F.min(p)).alias("min_price"),
            _r(F.max(p)).alias("max_price"),
            _r(F.avg(p)).alias("mean_price"),
            _r(F.stddev_samp(p)).alias("std_price"),
            F.round(F.var_samp(p), 2).alias("var_price"),
            _r(F.skewness(p)).alias("skew_price"),
            _r(F.kurtosis(p)).alias("kurt_price"),
        )
    )


@query("agg_describe", tags=("rows-only",))  # describe() returns stringified stats
def q_agg_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.describe / df.summary surface (string-typed output by design).

    No oracle can hash the stringly cells, so
    tests/test_driver_contract.py parses the count, mean, min and max
    rows back and compares them with the same aggregates computed
    directly."""
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    return (
        load_tables(spark, sf_dir)["lineitem"]
        .select(*cols)
        .summary("count", "mean", "stddev", "min", "25%", "50%", "75%", "max")
    )


#: Estimated bytes per exact-percentile hash-map entry (double key +
#: long count + OpenHashMap load-factor/array overhead), deliberately
#: conservative.
_QUANTILE_BYTES_PER_ENTRY = 64


def exact_quantile_guard(
    spark: SparkSession, df: DataFrame, cols: list[str] | dict[str, int]
) -> set[str]:
    """Columns whose exact percentile state would OOM the JVM.

    ``percentile()``/``median()`` keep a hash map of every distinct value
    SEEN BY EACH TASK, so concurrent single-JVM state is ~``min(distinct ×
    parallelism, total_rows) × 64 B``.  Calibration: lineitem prices are
    ~97 % unique, so at 6 M rows / local[8] the estimate is
    min(583 k × 8, 6 M) × 64 ≈ 300 MB — which killed a 1 g JVM — while
    sf0.1's 600 k rows estimate ~38 MB and run fine.  (A distinct-count
    cap alone misses this: the distinct count is the SAME at both scales;
    the rows-per-task term grows.)

    ONE cheap aggregate (count + HLL approx_count_distinct per column)
    feeds the estimate; columns over
    ``spark.analytics.quantile.maxLocalStateBytes`` (default 256 MB ≈ the
    OOM cliff of a 1 g executor with the merge phase's transient doubling;
    about a quarter of executor heap) are returned.  The estimate models
    ONE JVM, so on a multi-executor cluster the default is conservative.
    Callers compute over-cap columns via :func:`binned_exact_percentiles`;
    an empty set means the native exact path is safe."""
    # cols maps column -> number of exact-percentile EXPRESSIONS over
    # it (Spark's Percentile/Median buffers are per
    # expression, not shared per column — three percentiles over one
    # column hold three maps of the same values).  A plain list means
    # one expression each.
    mult = cols if isinstance(cols, dict) else {c: 1 for c in cols}
    cap = conf.get(spark, "spark.analytics.quantile.maxLocalStateBytes")
    probe = df.agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.approx_count_distinct(c, rsd=0.05).alias(c) for c in mult],
    ).collect()[0]
    n_rows = probe["_n"]
    par = max(spark.sparkContext.defaultParallelism, 1)
    est = {
        c: min(probe[c] * par, n_rows) * _QUANTILE_BYTES_PER_ENTRY * k
        for c, k in mult.items()
    }
    return {c for c, b in est.items() if b > cap}


def binned_exact_percentiles(
    df: DataFrame,
    by: list[str],
    col: str,
    probs: list[float],
    bins: int = 4096,
    leaf_limit: int = 65536,
    max_rounds: int = 40,
) -> dict[tuple, dict[float, float | None]]:
    """EXACT grouped percentiles with BOUNDED state at any input size — the
    over-cap path behind :func:`exact_quantile_guard`.  Iterative RANGE
    BINNING (distributed selection, the shape of t-digest's exact
    fallback):

    1. one aggregate per round bins each search unit's candidate interval
       into ``bins`` equal-width ranges — per-task state is a fixed
       ``units x bins`` count array (map-side combinable);
    2. the driver walks the (<= units x bins rows) histogram to the ONE
       bin holding the unit's target rank, accumulates the count below it,
       and narrows the interval to that bin's OBSERVED [min, max];
    3. once a unit has <= ``leaf_limit`` candidates, ONE filtered pass
       collects them (the only value-sized collect) and the order
       statistic is read off the sorted leaf.

    A unit hunts a SINGLE order statistic (a unit covering two bracketing
    ranks can stall on an interval the ranks straddle).  Its range is one
    bin, at most ~1/bins of the interval, so every round resolves the unit
    or shrinks it >= bins-fold: rounds <= ceil(log_bins(span / ULP)) ~ 6
    at bins=4096.  An interval so narrow that the bin width UNDERFLOWS to
    0.0 holds at most ~bins doubles and resolves through an exact
    per-VALUE histogram.  Group keys join null-safely.

    Returns ``{group_key_tuple: {prob: value}}`` for EVERY group
    (all-NULL-value groups yield ``None``, matching native percentile)
    with ``percentile_cont`` interpolation; NULLs are ignored."""
    import math

    spark = df.sparkSession
    pre = df.select(*by, F.col(col).cast("double").alias("_v"))
    base = pre.filter(F.col("_v").isNotNull())
    g0 = (
        pre.groupBy(*by)
        .agg(
            F.count("_v").alias("_n"),  # non-null count; 0 => None cells
            F.min("_v").alias("_mn"),
            F.max("_v").alias("_mx"),
        )
        .collect()  # bounded: one row per group
    )

    # One search unit per (group, ORDER STATISTIC): adjacent probs
    # share ranks, integral ranks need only one.
    units: list[dict] = []
    group_n: dict[tuple, int] = {}
    found: dict[tuple, dict[int, float]] = {}
    for r in g0:
        key = tuple(r[c] for c in by)
        n = r["_n"]
        group_n[key] = n
        found[key] = {}
        if n == 0:
            continue
        lo, hi = float(r["_mn"]), float(r["_mx"])
        needed = sorted(
            {
                k
                for p in probs
                for k in (math.floor(p * (n - 1)), math.ceil(p * (n - 1)))
            }
        )
        for k in needed:
            if lo == hi:
                found[key][k] = lo
            else:
                units.append(
                    {"key": key, "k": k, "lo": lo, "hi": hi, "below": 0, "cand": n}
                )

    key_schema = pre.select(*by).schema

    def _bounds_join(active: list[dict]):
        """base rows matched to their unit's interval — group-key match
        is NULL-SAFE (a NULL group key is one ordinary group)."""
        from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

        uschema = StructType(
            [StructField("_uid", IntegerType(), False)]
            + [StructField(f"_k{i}", f.dataType) for i, f in enumerate(key_schema.fields)]
            + [StructField(c, DoubleType(), False) for c in ("_lo", "_hi")]
        )
        rows = [(i, *u["key"], u["lo"], u["hi"]) for i, u in enumerate(active)]
        bounds = local_frame(spark, rows, uschema)
        cond = F.lit(True)
        for i, c in enumerate(by):
            cond = cond & base[c].eqNullSafe(bounds[f"_k{i}"])
        return (
            base.join(F.broadcast(bounds), cond)
            .filter(F.col("_v").between(F.col("_lo"), F.col("_hi")))
        )

    def _resolve_degenerate(degen: list[dict]) -> None:
        """Bin width underflowed to 0.0: the interval holds at most
        ~bins representable doubles, so an exact per-VALUE histogram is
        bounded — resolve the rank from it directly."""
        rows = (
            _bounds_join(degen)
            .groupBy("_uid", "_v")
            .agg(F.count("_v").alias("_c"))
            .collect()
        )
        per_unit: dict[int, list] = {}
        for row in rows:
            per_unit.setdefault(row["_uid"], []).append(row)
        for uid, u in enumerate(degen):
            cum = u["below"]
            for row in sorted(per_unit.get(uid, []), key=lambda r: r["_v"]):
                if u["k"] < cum + row["_c"]:
                    found[u["key"]][u["k"]] = row["_v"]
                    break
                cum += row["_c"]

    for _ in range(max_rounds):
        pending = [
            u
            for u in units
            if u["k"] not in found[u["key"]] and u["cand"] > leaf_limit
        ]
        degen = [u for u in pending if (u["hi"] - u["lo"]) / bins == 0.0]
        if degen:
            _resolve_degenerate(degen)
            pending = [u for u in pending if u["k"] not in found[u["key"]]]
        if not pending:
            break
        w = (F.col("_hi") - F.col("_lo")) / F.lit(float(bins))
        b = F.least(
            F.floor((F.col("_v") - F.col("_lo")) / w).cast("int"),
            F.lit(bins - 1),
        )
        hist = (
            _bounds_join(pending)
            .groupBy("_uid", b.alias("_b"))
            .agg(
                F.count("_v").alias("_c"),
                F.min("_v").alias("_bmn"),
                F.max("_v").alias("_bmx"),
            )
            .collect()  # bounded: <= units x bins rows
        )
        per_unit: dict[int, list] = {}
        for row in hist:
            per_unit.setdefault(row["_uid"], []).append(row)
        for uid, u in enumerate(pending):
            cum = u["below"]
            for row in sorted(per_unit.get(uid, []), key=lambda r: r["_b"]):
                if u["k"] < cum + row["_c"]:
                    if row["_bmn"] == row["_bmx"]:
                        found[u["key"]][u["k"]] = row["_bmn"]
                    else:
                        u["lo"], u["hi"] = row["_bmn"], row["_bmx"]
                        u["below"], u["cand"] = cum, row["_c"]
                    break
                cum += row["_c"]

    # Leaf pass: collect candidate values for every unresolved unit —
    # genuinely <= units x leaf_limit by the loop's exit condition.
    leaves = [u for u in units if u["k"] not in found[u["key"]]]
    if any(u["cand"] > leaf_limit for u in leaves):  # defensive: see above
        raise RuntimeError(
            "binned_exact_percentiles failed to converge within "
            f"max_rounds={max_rounds}; raise max_rounds (rounds needed "
            "~ log_bins(value span / ULP) ~ 6 at bins=4096)"
        )
    if leaves:
        got = (
            _bounds_join(leaves)
            .select("_uid", "_v")
            .collect()  # bounded: <= len(leaves) x leaf_limit values
        )
        by_uid: dict[int, list[float]] = {}
        for row in got:
            by_uid.setdefault(row["_uid"], []).append(row["_v"])
        for uid, u in enumerate(leaves):
            vals = sorted(by_uid.get(uid, []))
            found[u["key"]][u["k"]] = vals[u["k"] - u["below"]]

    results: dict[tuple, dict[float, float | None]] = {}
    for key, n in group_n.items():
        results[key] = {}
        for p in probs:
            if n == 0:
                results[key][p] = None
                continue
            rank = p * (n - 1)
            k1, k2 = math.floor(rank), math.ceil(rank)
            v1, v2 = found[key][k1], found[key][k2]
            if k1 == k2:
                results[key][p] = v1
            else:
                # Spark Percentile's exact float expression
                # ((higher-pos)*lower + (pos-lower)*higher) — NOT the
                # algebraically-equal v1 + frac*(v2-v1), which differs
                # in the last ULP and would diverge pre-rounding.
                results[key][p] = (k2 - rank) * v1 + (rank - k1) * v2
    return results


@query(
    "agg_quantile",
    oracle="""
    SELECT l_returnflag,
           ROUND(median(l_quantity), 4) AS med_qty,
           ROUND(quantile_cont(l_quantity, 0.25), 4) AS q25_qty,
           ROUND(quantile_cont(l_quantity, 0.75), 4) AS q75_qty,
           ROUND(median(l_extendedprice), 4) AS med_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/percentiles.  The native path uses Spark's
    ``percentile()``/``median()`` (O(distinct) per-task hash-map
    state); :func:`exact_quantile_guard` estimates that state first
    and, past the conf cap, the query COMPUTES the same exact answer
    through :func:`binned_exact_percentiles` (bounded-state iterative
    range binning) instead of OOMing.  The 100 TB cheap default is
    `agg_approx_quantile` below."""
    t = load_tables(spark, sf_dir)
    df = t["lineitem"]
    # 3 exact-percentile expressions over l_quantity (median + two
    # percentiles), 1 over l_extendedprice — each holds its own map.
    over = exact_quantile_guard(
        spark, df, {"l_quantity": 3, "l_extendedprice": 1}
    )
    if over:
        return _binned_agg_quantile(spark, df)
    q = F.col("l_quantity")
    return (
        df.groupBy("l_returnflag")
        .agg(
            _r(F.median(q)).alias("med_qty"),
            _r(F.percentile(q, F.lit(0.25))).alias("q25_qty"),
            _r(F.percentile(q, F.lit(0.75))).alias("q75_qty"),
            _r(F.median("l_extendedprice")).alias("med_price"),
        )
    )


def _binned_agg_quantile(spark: SparkSession, df: DataFrame) -> DataFrame:
    """agg_quantile's over-cap spelling: same result shape and values
    via :func:`binned_exact_percentiles`, assembled driver-side from
    the (groups x probs)-bounded result map.  Rounding matches the
    native plan's ROUND half-up (Python's ``round`` is banker's —
    using it would diverge on exact .00005 ties)."""
    from decimal import ROUND_HALF_UP, Decimal

    def r4(v: float | None) -> float | None:
        if v is None:
            return None
        return float(
            Decimal(repr(v)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )

    qty = binned_exact_percentiles(
        df, ["l_returnflag"], "l_quantity", [0.5, 0.25, 0.75]
    )
    price = binned_exact_percentiles(df, ["l_returnflag"], "l_extendedprice", [0.5])
    rows = [
        (
            flag,
            r4(qv[0.5]),
            r4(qv[0.25]),
            r4(qv[0.75]),
            r4(price[key][0.5]),
        )
        for key, qv in sorted(qty.items())
        for flag in [key[0]]
    ]
    return local_frame(
        spark, rows, "l_returnflag string, med_qty double, q25_qty double, "
        "q75_qty double, med_price double"
    )


@query("agg_approx_quantile", tags=("rows-only",))  # sketch algorithms differ
def q_agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
                "approx_median_price"
            )
        )
    )


@query(
    "agg_corr",
    oracle="""
    WITH spend AS (
        SELECT o_custkey, SUM(o_totalprice) AS total_spend
        FROM orders GROUP BY o_custkey
    )
    SELECT ROUND(CORR(c_acctbal, total_spend), 5) AS corr_bal_spend,
           ROUND(COVAR_SAMP(c_acctbal, total_spend), 2) AS covar_samp_bal_spend,
           ROUND(COVAR_POP(c_acctbal, total_spend), 2) AS covar_pop_bal_spend
    FROM customer JOIN spend ON c_custkey = o_custkey
    """,
)
def q_agg_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    spend = t["orders"].groupBy("o_custkey").agg(F.sum("o_totalprice").alias("total_spend"))
    joined = t["customer"].join(spend, F.col("c_custkey") == F.col("o_custkey"))
    return joined.agg(
        F.round(F.corr("c_acctbal", "total_spend"), 5).alias("corr_bal_spend"),
        F.round(F.covar_samp("c_acctbal", "total_spend"), 2).alias("covar_samp_bal_spend"),
        F.round(F.covar_pop("c_acctbal", "total_spend"), 2).alias("covar_pop_bal_spend"),
    )


@query(
    "agg_crosstab",
    oracle="""
    SELECT l_returnflag AS l_returnflag_l_linestatus,
           COUNT(*) FILTER (l_linestatus = 'F') AS F,
           COUNT(*) FILTER (l_linestatus = 'O') AS O
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_agg_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table via df.stat.crosstab (CASE-pivot in the oracle
    — one semantics, two engines)."""
    t = load_tables(spark, sf_dir)
    ct = t["lineitem"].crosstab("l_returnflag", "l_linestatus")
    # crosstab returns counts as LongType with value-named columns.
    return ct.select(
        "l_returnflag_l_linestatus", F.col("F").alias("F"), F.col("O").alias("O")
    )


@query("agg_freqitems", tags=("rows-only",))  # approximate by design
def q_agg_freqitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.stat.freqItems (Karp-Papadimitriou-Shenker heavy hitters).
    The raw output is one row of ARRAY columns whose element order is
    a nondeterministic artifact of partial-merge order, so the declared
    boundary serializes each array as ``to_json(sort_array(...))`` —
    SURVEY §5.3 rule 11 (a driver canonicalizer cannot hash bare list
    cells)."""
    t = load_tables(spark, sf_dir)
    fi = t["lineitem"].freqItems(["l_quantity", "l_returnflag"], support=0.1)
    return fi.select(
        *[
            F.to_json(F.sort_array(F.col(c))).alias(c.lower())
            for c in fi.columns
        ]
    )


@query(
    "agg_count_if_mode",
    oracle="""
    WITH e AS (
        SELECT event_type, event_id, value,
               MAX(value) OVER (PARTITION BY event_type) AS mxv,
               MIN(value) OVER (PARTITION BY event_type) AS mnv
        FROM events
    )
    SELECT event_type,
           CAST(count_if(value > 100) AS BIGINT) AS n_big,
           MAX(CASE WHEN value = mxv THEN event_id END) AS max_value_event,
           MAX(CASE WHEN value = mnv THEN event_id END) AS min_value_event,
           ROUND(SUM(value), 4) AS total_value
    FROM e
    GROUP BY event_type
    """,
)
def q_agg_count_if_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates: count_if + argmax/argmin of event_id by
    value.  A bare max_by(event_id, value) is NOT deterministic when
    two events tie on value — the sf0.1 sweep caught exactly that
    (each engine returned a different tied event) — so the extremum
    event is taken as MAX(event_id) among the rows equal to the
    group's max/min value: window-max then conditional aggregate, a
    total order on both engines.  The window partitions by the same
    key the groupBy uses, so both run on ONE exchange."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("event_type")
    e = t["events"].select(
        "event_type",
        "event_id",
        "value",
        F.max("value").over(w).alias("mxv"),
        F.min("value").over(w).alias("mnv"),
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count_if(F.col("value") > 100).alias("n_big"),
            F.max(
                F.when(F.col("value") == F.col("mxv"), F.col("event_id"))
            ).alias("max_value_event"),
            F.max(
                F.when(F.col("value") == F.col("mnv"), F.col("event_id"))
            ).alias("min_value_event"),
            _r(F.sum("value")).alias("total_value"),
        )
    )


@query(
    "agg_mode",
    oracle="""
    WITH c AS (
        SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ), r AS (
        SELECT l_returnflag, l_quantity,
               ROW_NUMBER() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY cnt DESC, l_quantity ASC
               ) AS rn
        FROM c
    )
    SELECT l_returnflag, l_quantity AS mode_l_quantity FROM r WHERE rn = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return mode_deterministic(t["lineitem"], "l_returnflag", "l_quantity")


@query("agg_hll_sketch", tags=("rows-only",))  # sketch binary differs per impl
def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches): per-day user
    sketches unioned into a total estimate — the 100 TB pattern for
    distinct counts across partitions/time (constant-memory partials,
    re-aggregable without rescanning, unlike exact countDistinct whose
    shuffle carries every key).  Rows-only: sketch estimates are
    implementation-specific; accuracy vs exact is property-tested
    (tests/test_properties.py::test_hll_sketch_close_to_exact).
    """
    ev = load_tables(spark, sf_dir)["events"]
    per_day = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per_day.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("n_events"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_total_users"),
    )


@query(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_discount * l_quantity) / SUM(l_quantity), 6)
               AS wavg_discount,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 4)
               AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted averages per return flag — the ratio-of-sums
    formulation, which partial-aggregates map-side (two sums per
    group) instead of carrying per-row weights to the reducer.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(
                F.sum(F.col("l_discount") * F.col("l_quantity"))
                / F.sum("l_quantity"),
                6,
            ).alias("wavg_discount"),
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_quantity"))
                / F.sum("l_quantity"),
                4,
            ).alias("wavg_price"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_argmax",
    oracle="""
    WITH ranked AS (
        SELECT c_nationkey, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal DESC, c_custkey ASC) AS rmax,
               ROW_NUMBER() OVER (
                   PARTITION BY c_nationkey
                   ORDER BY c_acctbal ASC, c_custkey ASC) AS rmin
        FROM customer
    )
    SELECT c_nationkey,
           MAX(CASE WHEN rmax = 1 THEN c_custkey END) AS richest_cust,
           MAX(CASE WHEN rmin = 1 THEN c_custkey END) AS poorest_cust,
           ROUND(MAX(c_acctbal), 4) AS max_bal,
           ROUND(MIN(c_acctbal), 4) AS min_bal
    FROM ranked
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregates (max_by / min_by): which customer
    holds each nation's extreme balance — one pass, no self-join, no
    window. Partial-aggregates map-side like any other agg pair.

    Tie discipline: max_by/min_by pick an ARBITRARY arg among tied
    values, so the Spark ordering key is a lexicographic
    [value, ±custkey] array — on a balance tie the result is the
    SMALLEST custkey, deterministically, even on regenerated or larger
    fixtures.  DuckDB's MAX_BY takes only scalar keys, so the oracle
    states the same tie-break as an explicit ROW_NUMBER window.
    """
    t = load_tables(spark, sf_dir)
    ck = F.col("c_custkey").cast("double")
    bal = F.col("c_acctbal").cast("double")
    return (
        t["customer"]
        .groupBy("c_nationkey")
        .agg(
            F.max_by("c_custkey", F.array(bal, -ck)).alias("richest_cust"),
            F.min_by("c_custkey", F.array(bal, ck)).alias("poorest_cust"),
            F.round(F.max("c_acctbal"), 4).alias("max_bal"),
            F.round(F.min("c_acctbal"), 4).alias("min_bal"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "agg_regression",
    oracle="""
    SELECT l_returnflag,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4)
               AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (regr_slope, regr_intercept,
    regr_r2, regr_count): price-vs-quantity fit per return flag in ONE grouped pass — the
    moment sums partial-aggregate map-side like any sum/count, so the
    fit costs the same shuffle as a plain groupBy at any scale.
    Both engines define slope = covar_pop/var_pop; results rounded
    (4 dp; regr_r2 at 6 dp) under the §5.3 float discipline."""
    t = load_tables(spark, sf_dir)
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.round(F.regr_slope(y, x), 4).alias("slope"),
            F.round(F.regr_intercept(y, x), 4).alias("intercept"),
            F.round(F.regr_r2(y, x), 6).alias("r2"),
            F.regr_count(y, x).cast("bigint").alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_any_all",
    oracle="""
    SELECT o_orderstatus,
           bool_and(o_totalprice > 5000.0) AS all_over_5k,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           bool_and(o_orderdate >= TIMESTAMP '1995-01-01 00:00:00')
               AS all_in_range,
           bool_or(o_totalprice > 400000.0) AS any_jumbo
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q_agg_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean quantifier aggregates (bool_and / bool_or — SQL's
    EVERY/ANY): predicate summaries per group in one pass.  Short-
    circuit-friendly partials: a single false (true) settles an AND
    (OR) partition map-side."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.bool_and(F.col("o_totalprice") > 5000.0).alias("all_over_5k"),
            F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
            F.bool_and(
                F.col("o_orderdate")
                >= F.lit("1995-01-01 00:00:00").cast("timestamp")
            ).alias("all_in_range"),
            F.bool_or(F.col("o_totalprice") > 400000.0).alias("any_jumbo"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "agg_collect",
    oracle="""
    SELECT c_nationkey,
           array_to_string(list_sort(list_distinct(list(c_mktsegment))), ',')
               AS segments,
           CAST(COUNT(DISTINCT c_mktsegment) AS INT) AS n_segments
    FROM customer
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-collecting aggregate with DETERMINISTIC output:
    collect_set's order is partition-dependent, so the result is
    sort_array'd before it leaves the query — the only way an
    array-valued aggregate can be reproducible across cluster sizes
    (same rule as any top-k tie-break, §5.3.3).  The sorted array is
    comma-joined at the compare boundary (mm_struct_bundle's
    flatten-before-compare discipline: engine bridges disagree on
    container representation — ndarray vs list — not on values)."""
    t = load_tables(spark, sf_dir)
    return (
        t["customer"]
        .groupBy("c_nationkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("c_mktsegment")), ","
            ).alias("segments"),
            F.countDistinct("c_mktsegment").cast("int").alias("n_segments"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "agg_product",
    oracle="""
    SELECT l_returnflag,
           ROUND(product(1.0 - l_discount), 6) AS compound_keep,
           ROUND(SUM(LN(1.0 + l_tax)), 4) AS compound_tax_ln
    FROM lineitem
    WHERE l_linenumber = 1 AND l_quantity >= 49
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_agg_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiplicative aggregates: native product() and its log-space
    twin SUM(LN x) — compounding factors per group (the
    compound-growth / survival-probability pattern).  Log-space is the
    100 TB-safe form (sums partial-aggregate and never under/overflow)
    and is REPORTED in log-space: exponentiating first makes the value's
    magnitude grow with the row count, so a fixed decimal rounding can
    no longer absorb summation-order ulps (a 2-ulp mismatch at 9.1e17
    at sf0.1).  The bounded product() column rounds
    fine at any scale (≤1 by construction)."""
    t = load_tables(spark, sf_dir)
    keep = 1.0 - F.col("l_discount")
    tax = 1.0 + F.col("l_tax")
    return (
        t["lineitem"]
        .filter((F.col("l_linenumber") == 1) & (F.col("l_quantity") >= 49))
        .groupBy("l_returnflag")
        .agg(
            F.round(F.product(keep), 6).alias("compound_keep"),
            F.round(F.sum(F.log(tax)), 4).alias("compound_tax_ln"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "agg_histogram",
    oracle="""
    SELECT CAST(LEAST(FLOOR(o_totalprice / 50000.0), 11) AS BIGINT) AS bucket,
           ROUND(LEAST(FLOOR(o_totalprice / 50000.0), 11) * 50000.0, 2)
               AS bucket_lo,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(12,2))), 2)
                AS DOUBLE) AS total_price
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (12 × 50k buckets, top bucket open-ended)
    over order value — the profiling primitive behind data-quality
    dashboards.

    Bucketing is pure scan-side arithmetic (FLOOR of a division — no
    width_bucket dependency, identical semantics on both engines), so
    the groupBy shuffles at most 12 partially-aggregated rows per task
    at any input scale.  Fixed bounds avoid the two-pass min/max scan
    a data-dependent histogram would need; the clamp keeps outliers in
    the last bucket instead of an unbounded bucket id space.

    total_price is money_sum (§5.3 rule 12): at sf≈1 the hottest bucket
    measures 7.1e10 — within 1.5 decimal orders of summation noise
    crossing the 2-dp grid.
    """
    t = load_tables(spark, sf_dir)
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000.0), F.lit(11)).cast(
        "long"
    )
    return (
        t["orders"]
        .groupBy(
            bucket.alias("bucket"),
            F.round(bucket * 50000.0, 2).alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money_sum(money("o_totalprice"), scale=2).alias("total_price"),
        )
        .orderBy("bucket")
    )


@query(
    "agg_moments",
    oracle="""
    WITH raw AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               AVG(l_extendedprice / 1000.0) AS m1,
               AVG(POW(l_extendedprice / 1000.0, 2)) AS m2r,
               AVG(POW(l_extendedprice / 1000.0, 3)) AS m3r,
               AVG(POW(l_extendedprice / 1000.0, 4)) AS m4r
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND(m1, 4) AS mean_k,
           ROUND(m2r - m1 * m1, 4) AS variance_k,
           ROUND((m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1)
                 / POW(m2r - m1 * m1, 1.5), 4) AS skewness,
           ROUND((m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r
                  - 3 * POW(m1, 4))
                 / POW(m2r - m1 * m1, 2) - 3.0, 4) AS kurtosis_excess
    FROM raw
    ORDER BY l_returnflag
    """,
)
def q_agg_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per group, derived from
    raw moments so both engines run the SAME arithmetic (builtin
    skewness()/kurtosis() differ in sample-vs-population convention
    across engines — deriving from E[x^k] removes the ambiguity).

    One hash aggregate computes four raw moments (map-side partial:
    each task ships 5 doubles per group); the central-moment algebra is
    a scalar projection afterwards.  Prices are rescaled by 1e-3 before
    the 4th power to keep Σx⁴ well-conditioned in float64 — skewness
    and kurtosis are scale-invariant, so the output is unchanged.
    """
    t = load_tables(spark, sf_dir)
    x = F.col("l_extendedprice") / 1000.0
    raw = (
        t["lineitem"]
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(x).alias("m1"),
            F.avg(F.pow(x, 2)).alias("m2r"),
            F.avg(F.pow(x, 3)).alias("m3r"),
            F.avg(F.pow(x, 4)).alias("m4r"),
        )
    )
    m1, m2r, m3r, m4r = (F.col(c) for c in ("m1", "m2r", "m3r", "m4r"))
    var = m2r - m1 * m1
    m3 = m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1
    m4 = m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * F.pow(m1, 4)
    return raw.select(
        "l_returnflag",
        "n",
        F.round(m1, 4).alias("mean_k"),
        F.round(var, 4).alias("variance_k"),
        F.round(m3 / F.pow(var, 1.5), 4).alias("skewness"),
        F.round(m4 / F.pow(var, 2) - 3.0, 4).alias("kurtosis_excess"),
    ).orderBy("l_returnflag")


@query(
    "agg_entropy",
    oracle="""
    WITH c AS (
        SELECT lang, source, COUNT(*) AS n
        FROM documents GROUP BY lang, source
    ), tot AS (
        SELECT lang, SUM(n) AS total FROM c GROUP BY lang
    )
    SELECT c.lang,
           CAST(tot.total AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           ROUND(SUM(-(CAST(c.n AS DOUBLE) / tot.total)
                     * LN(CAST(c.n AS DOUBLE) / tot.total)), 4)
               AS source_entropy
    FROM c JOIN tot ON c.lang = tot.lang
    GROUP BY c.lang, tot.total
    ORDER BY c.lang
    """,
)
def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the source distribution within each language
    — the corpus-diversity diagnostic a mixing pipeline watches (a lang
    whose tokens come from one dominant source has entropy ≈ 0 and
    likely needs rebalancing; pipeline_domain_mix computes the fix,
    this computes the alarm).

    Shape: one (lang, source) count aggregate — map-side combined, the
    only shuffle that touches full data — then per-lang totals joined
    back broadcast (the counts table is |lang|×|source| rows no matter
    the corpus size) and a final tiny per-lang rollup.  Σ −p·ln p is
    evaluated on identical c/total doubles on both engines; round(4)
    absorbs summation-order ulps.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    c = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("lang").agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("total")
    return (
        c.join(F.broadcast(tot), "lang")
        .groupBy("lang", "total")
        .agg(
            F.count(F.lit(1)).alias("n_sources"),
            F.round(F.sum(-p * F.log(p)), 4).alias("source_entropy"),
        )
        .select(
            "lang",
            F.col("total").alias("n_docs"),
            "n_sources",
            "source_entropy",
        )
        .orderBy("lang")
    )
