"""UDF / UDAF / UDTF surface (SURVEY.md §2.10) — the reference's
signature pattern: grouped pandas-UDF application (``gapply``), per
SNIPPETS.md snippets 1–3 (string-or-Column coercion + grouped-map
wrapping; reference snapshot itself is empty, SURVEY.md §0.1).

Scale posture: every pandas UDF crosses boundary №4 (executor JVM →
Python worker over Arrow, per batch — SURVEY.md §3-C).  That is the
slow path by design; these operators exist for semantics that built-in
expressions can't say.  Each query here whose logic IS expressible in
SQL carries a full oracle — the check covers the Arrow round-trip
machinery, not just the arithmetic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_analytics_library_spark.functions.coercion import ensure_columns
from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import load_tables, register_views


def gapply(df: DataFrame, keys, func, schema) -> DataFrame:
    """Apply ``func(pandas.DataFrame) -> pandas.DataFrame`` per group.

    The reference's ``gapply(grouped_data, func, schema, *cols)``
    rebuilt on ``GroupedData.applyInPandas``: one shuffle on ``keys``,
    then per-group Arrow batches stream through a Python worker.  At
    100 TB the constraint is the largest single group must fit in one
    worker's memory — callers with skewed keys should pre-split (salt)
    or move to a built-in expression.
    """
    return df.groupBy(*ensure_columns(keys)).applyInPandas(func, schema)


_BAND_SQL_CASE = """
    CASE WHEN l_discount < 0.02 THEN 'low'
         WHEN l_discount < 0.06 THEN 'mid'
         ELSE 'high' END
"""


def _band(d: float) -> str:
    if d < 0.02:
        return "low"
    if d < 0.06:
        return "mid"
    return "high"


@query(
    "udf_scalar",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, {_BAND_SQL_CASE} AS disc_band
    FROM lineitem
    """,
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (the documented slow path — serde per
    row; the oracle CASE checks the semantics AND the UDF machinery)."""
    t = load_tables(spark, sf_dir)
    band = F.udf(_band, T.StringType(), useArrow=False)
    return t["lineitem"].select(
        "l_orderkey", "l_linenumber", band("l_discount").alias("disc_band")
    )


@query(
    "udf_pandas_scalar",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, {_BAND_SQL_CASE} AS disc_band
    FROM lineitem
    """,
)
def q_udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same logic as udf_scalar but vectorized over Arrow batches
    (~10-100× less serde overhead; still off the codegen fast path)."""
    t = load_tables(spark, sf_dir)

    @F.pandas_udf(T.StringType())
    def band(d: pd.Series) -> pd.Series:
        return pd.cut(
            d, bins=[-float("inf"), 0.02, 0.06, float("inf")],
            labels=["low", "mid", "high"], right=False,
        ).astype(str)

    return t["lineitem"].select(
        "l_orderkey", "l_linenumber", band("l_discount").alias("disc_band")
    )


@query(
    "udf_gapply",
    oracle="""
    SELECT event_id, user_id,
           ROUND(CASE WHEN STDDEV_SAMP(value) OVER w IS NULL
                           OR STDDEV_SAMP(value) OVER w = 0 THEN 0.0
                      ELSE (value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w
                 END, 4) AS z_score
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def q_udf_gapply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gapply clone: per-user z-score of `value` via a per-group
    pandas function.  SQL-expressible on purpose — the oracle checks
    the whole grouped-Arrow pipeline."""
    t = load_tables(spark, sf_dir)

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        std = pdf["value"].std(ddof=1)
        mean = pdf["value"].mean()
        if pd.isna(std) or std == 0:
            z = pd.Series(0.0, index=pdf.index)
        else:
            z = (pdf["value"] - mean) / std
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "z_score": z.round(4)}
        )

    return gapply(
        t["events"],
        ["user_id"],
        zscore,
        "event_id long, user_id long, z_score double",
    )


@query(
    "udf_cogrouped",
    oracle="""
    WITH o AS (
        SELECT o_custkey AS k, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS total_spend
        FROM orders GROUP BY o_custkey
    ), e AS (
        SELECT user_id AS k, COUNT(*) AS n_events FROM events GROUP BY user_id
    )
    SELECT CAST(COALESCE(o.k, e.k) AS BIGINT) AS custkey,
           CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           COALESCE(total_spend, 0.0) AS total_spend
    FROM o FULL OUTER JOIN e ON o.k = e.k
    """,
)
def q_udf_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: per customer, join their orders stats
    with their event stats in Python (pd.merge per key).

    Full oracle: the per-key
    pandas function computes deterministic counts + a 4dp-rounded sum,
    exactly a FULL OUTER JOIN of the two per-key aggregates — the
    oracle verifies the cogrouped result, not its mechanism.  Sum
    magnitudes (~1e6 at sf0.1) keep summation-order noise far below
    the 4dp rounding threshold (§5.3 rule 8)."""
    t = load_tables(spark, sf_dir)

    def summarize(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        key = (
            left["o_custkey"].iloc[0]
            if len(left)
            else (right["user_id"].iloc[0] if len(right) else -1)
        )
        return pd.DataFrame(
            {
                "custkey": [key],
                "n_orders": [len(left)],
                "n_events": [len(right)],
                "total_spend": [round(float(left["o_totalprice"].sum()), 4)],
            }
        )

    grouped = t["orders"].groupBy("o_custkey").cogroup(
        t["events"].groupBy("user_id")
    )
    return grouped.applyInPandas(
        summarize, "custkey long, n_orders long, n_events long, total_spend double"
    )


@query(
    "udf_map_batches",
    oracle="""
    SELECT event_id, ROUND(value * 2 + 1, 4) AS transformed
    FROM events
    """,
)
def q_udf_map_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas: whole-partition batch iterator (the custom-scan /
    custom-operator escape hatch).  Deterministic row-wise logic, so it
    still carries a full oracle."""
    t = load_tables(spark, sf_dir)

    def transform(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "event_id": pdf["event_id"],
                    "transformed": (pdf["value"] * 2 + 1).round(4),
                }
            )

    return t["events"].mapInPandas(transform, "event_id long, transformed double")


@query(
    "udaf_via_aggregator",
    oracle="""
    SELECT event_type,
           ROUND(EXP(AVG(LN(value))), 4) AS geo_mean_value,
           COUNT(*) AS n
    FROM events
    WHERE value > 0
    GROUP BY event_type
    """,
)
def q_udaf_via_aggregator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (geometric mean) — PySpark has no Python UDAF,
    so the idiomatic forms are (a) expression algebra EXP(AVG(LN x)) on
    the fast path — used here — or (b) applyInPandas with one-row
    output (exercised by udf_cogrouped)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .filter(F.col("value") > 0)
        .groupBy("event_type")
        .agg(
            F.round(F.exp(F.avg(F.log("value"))), 4).alias("geo_mean_value"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query(
    "udtf_table_fn",
    oracle="""
    SELECT doc_id, word, CAST(length(word) AS INT) AS word_len
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents WHERE doc_id < 20)
    WHERE word <> ''
    """,
)
def q_udtf_table_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF exploding each document into (word, length) rows
    (lateral join over the table).

    Full oracle: the UDTF is
    deterministic — single-space split, empties dropped — so the
    relational unnest computes the identical row set; the oracle
    verifies the UDTF *result*, not its mechanism (same stance as the
    udf_* CASE oracles)."""
    register_views(spark, sf_dir, "documents")

    @F.udtf(returnType="word: string, word_len: int")
    class SplitWords:
        def eval(self, text: str):
            for w in (text or "").split(" "):
                if w:
                    yield w, len(w)

    spark.udtf.register("split_words_udtf", SplitWords)
    return spark.sql(
        """
        SELECT d.doc_id, s.word, s.word_len
        FROM documents d, LATERAL split_words_udtf(d.text) s
        WHERE d.doc_id < 20
        """
    )


@query(
    "udf_arrow_scalar",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, {_BAND_SQL_CASE} AS disc_band
    FROM lineitem
    """,
)
def q_udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (useArrow=True): row-at-a-time
    author experience, Arrow-batch transfer underneath — the modern
    default between the pickled scalar UDF and a full pandas UDF.
    Same banding semantics as udf_scalar/udf_pandas_scalar, so the
    three UDF flavors are oracle-checked against one CASE."""
    t = load_tables(spark, sf_dir)
    band = F.udf(_band, T.StringType(), useArrow=True)
    return t["lineitem"].select(
        "l_orderkey", "l_linenumber", band("l_discount").alias("disc_band")
    )
