"""Scalar function families (SURVEY.md §2.9): one declared query per
family, each computing several functions in a single projection so the
whole family hash-checks at once.

All pure projections — zero shuffles, fully inside whole-stage codegen;
at 100 TB these are scan-rate-bound.  Dialect deltas handled per
SURVEY.md §5.3.6 (split→string_split, explode→unnest, dayofweek offset,
FLOOR's DECIMAL return type, try_divide→x/NULLIF(y,0), …).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.functions.coercion import scaled_int_text
from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import load_tables


@query(
    "fn_string",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS lname,
           upper(p_brand) AS ubrand,
           substring(p_name, 1, 5) AS sub5,
           p_type || '|' || p_brand AS cat,
           CAST(length(p_name) AS INT) AS name_len,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word,
           string_split(p_name, ' ')[1] AS first_token,
           replace(p_name, 'a', '@') AS replaced,
           lpad(p_brand, 12, '.') AS padded,
           trim('  ' || p_name || '  ') AS trimmed,
           CAST(levenshtein(p_type, p_brand) AS INT) AS lev_dist,
           CASE WHEN p_name LIKE '%er%' THEN 1 ELSE 0 END AS has_er
    FROM part
    """,
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return t["part"].select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_brand").alias("ubrand"),
        F.substring("p_name", 1, 5).alias("sub5"),
        F.concat_ws("|", "p_type", "p_brand").alias("cat"),
        F.length("p_name").alias("name_len"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
        F.split("p_name", " ").getItem(0).alias("first_token"),
        F.replace(F.col("p_name"), F.lit("a"), F.lit("@")).alias("replaced"),
        F.lpad("p_brand", 12, ".").alias("padded"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("trimmed"),
        F.levenshtein("p_type", "p_brand").alias("lev_dist"),
        F.when(F.col("p_name").like("%er%"), 1).otherwise(0).alias("has_er"),
    )


@query(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT)
               AS days_since_epoch_start,
           CAST(epoch(o_orderdate) AS BIGINT) AS unix_ts,
           o_orderdate + INTERVAL 3 MONTH AS plus_3mo,
           o_orderdate + INTERVAL 30 DAY AS plus_30d,
           last_day(o_orderdate)::TIMESTAMP AS month_end,
           CAST(quarter(o_orderdate) AS INT) AS qtr
    FROM orders
    """,
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family.  Dialect deltas: Spark dayofweek is 1-based
    Sunday, DuckDB 0-based (+1 in oracle); add_months/last_day return
    DATE in Spark — cast back to timestamp; both engines clamp
    month-end arithmetic identically (Jan 31 + 1 mo = Feb 28/29)."""
    t = load_tables(spark, sf_dir)
    o = F.col("o_orderdate")
    return t["orders"].select(
        "o_orderkey",
        F.date_trunc("month", o).alias("month_start"),
        F.year(o).alias("yr"),
        F.month(o).alias("mo"),
        F.dayofweek(o).alias("dow"),
        F.datediff(o, F.lit("1995-01-01").cast("timestamp")).alias(
            "days_since_epoch_start"
        ),
        F.unix_timestamp(o).alias("unix_ts"),
        F.add_months(o, 3).cast("timestamp").alias("plus_3mo"),
        F.date_add(o.cast("date"), 30).cast("timestamp").alias("plus_30d"),
        F.last_day(o).cast("timestamp").alias("month_end"),
        F.quarter(o).alias("qtr"),
    )


@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(sqrt(l_extendedprice), 4) AS sqrt_price,
           ROUND(ln(l_extendedprice), 6) AS ln_price,
           ROUND(log10(l_extendedprice), 6) AS log10_price,
           ROUND(exp(l_discount), 6) AS exp_disc,
           ROUND(pow(1 + l_discount, 3), 6) AS pow_disc,
           CAST(FLOOR(l_extendedprice) AS BIGINT) AS floor_price,
           CAST(CEIL(l_extendedprice) AS BIGINT) AS ceil_price,
           ROUND(abs(l_discount - 0.05), 4) AS abs_disc_delta,
           CAST(l_quantity AS INT) % 7 AS qty_mod7,
           ROUND(COALESCE(l_extendedprice / NULLIF(l_discount, 0), -1), 4)
               AS price_per_disc,
           ROUND(greatest(l_tax, l_discount), 4) AS max_rate,
           ROUND(least(l_tax, l_discount), 4) AS min_rate,
           CAST(sign(l_discount - 0.05) AS INT) AS disc_sign
    FROM lineitem
    """,
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family.  try_divide maps to x/NULLIF(y,0) (absent in DuckDB
    1.0); crc32/xxhash64 are Spark-only and therefore live in the
    rows-only hash surfaces (dedup_simhash / minhash)."""
    t = load_tables(spark, sf_dir)
    p, d = F.col("l_extendedprice"), F.col("l_discount")
    return t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.sqrt(p), 4).alias("sqrt_price"),
        F.round(F.log(p), 6).alias("ln_price"),
        F.round(F.log10(p), 6).alias("log10_price"),
        F.round(F.exp(d), 6).alias("exp_disc"),
        F.round(F.pow(1 + d, 3), 6).alias("pow_disc"),
        F.floor(p).alias("floor_price"),
        F.ceil(p).alias("ceil_price"),
        F.round(F.abs(d - 0.05), 4).alias("abs_disc_delta"),
        (F.col("l_quantity").cast("int") % 7).alias("qty_mod7"),
        F.round(F.coalesce(F.try_divide(p, d), F.lit(-1.0)), 4).alias("price_per_disc"),
        F.round(F.greatest("l_tax", "l_discount"), 4).alias("max_rate"),
        F.round(F.least("l_tax", "l_discount"), 4).alias("min_rate"),
        F.signum(d - 0.05).cast("int").alias("disc_sign"),
    )


@query(
    "fn_array",
    oracle="""
    SELECT vec_id,
           CAST(array_length(embedding) AS INT) AS dim,
           array_to_string(list_transform(embedding[1:4],
               x -> CAST(CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5)
                              AS BIGINT) AS VARCHAR)), ',') AS head4,
           CAST(embedding[1] AS DOUBLE) AS first_val,
           ROUND(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS sum_sq,
           CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS max_val,
           CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS min_val,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive
    FROM embeddings
    """,
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order family over the embedding column: size,
    slice, element access, transform+aggregate fold, filter.

    The float32 slice is serialized to floor-scaled-integer text at
    the compare boundary (flatten-before-compare, §5.3 rules 4+7:
    engine bridges disagree on array CONTAINERS — ndarray vs list —
    and float→string formatting, while FLOOR(x*1e6+0.5) over the
    exactly-widened float32 is identical IEEE arithmetic on both)."""
    t = load_tables(spark, sf_dir)
    e = F.col("embedding")
    sum_sq = F.aggregate(
        F.transform(e, lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    )
    head4 = F.array_join(F.transform(F.slice(e, 1, 4), scaled_int_text), ",")
    return t["embeddings"].select(
        "vec_id",
        F.size(e).alias("dim"),
        head4.alias("head4"),
        F.element_at(e, 1).cast("double").alias("first_val"),
        F.round(sum_sq, 4).alias("sum_sq"),
        F.array_max(e).cast("double").alias("max_val"),
        F.array_min(e).cast("double").alias("min_val"),
        F.size(F.filter(e, lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "fn_struct",
    oracle="""
    SELECT event_id,
           (struct_pack(et := event_type, val := value)).et AS et,
           ROUND((struct_pack(et := event_type, val := value)).val, 4) AS val
    FROM events
    """,
)
def q_fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct bundle + field access, flattened before compare (struct
    literals differ across engine bridges — SURVEY.md §2.9)."""
    t = load_tables(spark, sf_dir)
    s = F.struct(F.col("event_type").alias("et"), F.col("value").alias("val"))
    return t["events"].select(
        "event_id",
        s.getField("et").alias("et"),
        F.round(s.getField("val"), 4).alias("val"),
    )


@query(
    "fn_map",
    oracle="""
    SELECT event_id,
           event_type AS type_val,
           'type,uid' AS keys,
           2 AS n_entries
    FROM events
    """,
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + key/value access surface.

    Full oracle: the map is
    built from two literal keys, so key access, key listing, and entry
    count have closed-form relational values — the oracle verifies the
    map-function RESULTS (DuckDB's map[k]-returns-LIST quirk only
    blocked oracling the map expressions themselves).  The key array
    is comma-joined per §5.3 rule 11."""
    t = load_tables(spark, sf_dir)
    m = F.create_map(F.lit("type"), F.col("event_type"), F.lit("uid"), F.col("user_id").cast("string"))
    return t["events"].select(
        "event_id",
        m.getItem("type").alias("type_val"),
        F.array_join(F.map_keys(m), ",").alias("keys"),
        F.size(F.map_entries(m)).alias("n_entries"),
    )


@query(
    "fn_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_path,
           CAST(json_extract(props, '$.k') AS INT) AS k_typed
    FROM events
    """,
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family over events.props: path extraction (string) and a
    typed from_json parse — CAST to int on both sides (§2.9)."""
    t = load_tables(spark, sf_dir)
    return t["events"].select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_path"),
        F.from_json("props", "k INT").getField("k").alias("k_typed"),
    )


@query(
    "fn_explode",
    oracle="""
    SELECT doc_id,
           CAST(generate_subscripts(string_split(lower(text), ' '), 1) - 1 AS INT)
               AS pos,
           unnest(string_split(lower(text), ' ')) AS word
    FROM documents
    """,
)
def q_fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode of the token array (0-based positions, as Spark
    emits; oracle shifts generate_subscripts down by one)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "word")
    )


@query(
    "fn_explode_outer",
    oracle="""
    SELECT doc_id,
           unnest(CASE WHEN len(regexp_extract_all(text, '[0-9]+')) = 0
                       THEN ['[NONE]']
                       ELSE regexp_extract_all(text, '[0-9]+') END) AS digit_token
    FROM documents
    """,
)
def q_fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode_outer keeps rows whose array is empty (null element) —
    DuckDB's unnest drops them, so the oracle substitutes a sentinel
    list; the Spark side coalesces its null to the same sentinel."""
    t = load_tables(spark, sf_dir)
    digits = F.regexp_extract_all(F.col("text"), F.lit("[0-9]+"), 0)
    return t["documents"].select(
        "doc_id", F.explode_outer(digits).alias("digit_token")
    ).withColumn("digit_token", F.coalesce("digit_token", F.lit("[NONE]")))


@query(
    "fn_null_handling",
    oracle="""
    SELECT n_nationkey,
           s_suppkey IS NULL AS supp_missing,
           COALESCE(s_acctbal, -1.0) AS bal_or_default,
           NULLIF(n_regionkey, 0) AS regionkey_nullable_as_int,
           COALESCE(NULLIF(n_regionkey, 0), -1) AS regionkey_or_default,
           (s_nationkey IS NOT DISTINCT FROM n_nationkey) AS null_safe_eq,
           CASE WHEN s_acctbal IS NOT NULL THEN 'present' ELSE 'absent' END
               AS presence
    FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
    """,
)
def q_fn_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics family (fixtures are null-free, so the nulls are
    manufactured by an outer join): IS NULL, COALESCE, NULLIF,
    null-safe equality (<=> / IS NOT DISTINCT FROM), CASE on nullity.
    NULLIF output is COALESCEd in a companion column; the nullable int
    column itself stays to exercise null hashing."""
    t = load_tables(spark, sf_dir)
    j = t["nation"].join(
        t["supplier"], F.col("s_nationkey") == F.col("n_nationkey"), "left"
    )
    return j.select(
        "n_nationkey",
        F.col("s_suppkey").isNull().alias("supp_missing"),
        F.coalesce("s_acctbal", F.lit(-1.0)).alias("bal_or_default"),
        F.nullif(F.col("n_regionkey"), F.lit(0)).alias("regionkey_nullable_as_int"),
        F.coalesce(F.nullif(F.col("n_regionkey"), F.lit(0)), F.lit(-1)).alias(
            "regionkey_or_default"
        ),
        F.col("s_nationkey").eqNullSafe(F.col("n_nationkey")).alias("null_safe_eq"),
        F.when(F.col("s_acctbal").isNotNull(), "present")
        .otherwise("absent")
        .alias("presence"),
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT p_partkey,
           p_partkey & 255 AS band,
           p_partkey | 4096 AS bor,
           xor(p_partkey, CAST(p_size AS BIGINT)) AS bxor,
           CAST(p_size AS BIGINT) << 2 AS shl,
           p_partkey >> 3 AS shr,
           CAST(bit_count(p_partkey) AS INTEGER) AS nbits
    FROM part
    """,
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family: AND/OR/XOR, shifts, popcount.  All JVM codegen
    expressions (Spark SQL `&`/`|`/`^`, shiftleft/shiftright,
    bit_count); DuckDB spells XOR as xor() and popcount as bit_count.
    Shift operands cast to BIGINT on both sides (Spark shiftleft
    returns the operand type; DuckDB `<<` on INTEGER can overflow to
    error, BIGINT semantics match)."""
    t = load_tables(spark, sf_dir)
    return t["part"].select(
        "p_partkey",
        F.expr("p_partkey & 255").alias("band"),
        F.expr("p_partkey | 4096").alias("bor"),
        F.expr("p_partkey ^ CAST(p_size AS BIGINT)").alias("bxor"),
        F.shiftleft(F.col("p_size").cast("long"), 2).alias("shl"),
        F.shiftright(F.col("p_partkey"), 3).alias("shr"),
        F.bit_count(F.col("p_partkey")).alias("nbits"),
    )


@query(
    "fn_conditional",
    oracle="""
    SELECT o_orderkey,
           GREATEST(o_totalprice, 100000.0) AS price_floor,
           LEAST(o_totalprice, 100000.0) AS price_cap,
           CASE WHEN o_orderstatus = 'F' THEN 'final'
                WHEN o_orderstatus = 'O' THEN 'open'
                ELSE 'other' END AS status_label,
           CASE WHEN o_totalprice > 200000 THEN 'big' ELSE 'small' END
               AS size_label
    FROM orders
    """,
)
def q_fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expression family: greatest/least, multi-branch
    CASE (F.when chains), binary IF — all JVM codegen; DuckDB spells
    IF as CASE."""
    t = load_tables(spark, sf_dir)
    return t["orders"].select(
        "o_orderkey",
        F.greatest("o_totalprice", F.lit(100000.0)).alias("price_floor"),
        F.least("o_totalprice", F.lit(100000.0)).alias("price_cap"),
        F.when(F.col("o_orderstatus") == "F", "final")
        .when(F.col("o_orderstatus") == "O", "open")
        .otherwise("other")
        .alias("status_label"),
        F.expr("IF(o_totalprice > 200000, 'big', 'small')").alias("size_label"),
    )


@query(
    "fn_cast",
    oracle="""
    SELECT o_orderkey,
           CAST(trunc(o_totalprice) AS INTEGER) AS price_int,
           TRY_CAST(o_orderstatus AS INTEGER) AS status_as_int,
           CAST(o_orderkey AS VARCHAR) AS key_str,
           CAST('3.5' AS DOUBLE) + o_totalprice AS price_plus,
           strftime(o_orderdate, '%Y-%m-%d') AS date_str
    FROM orders
    """,
)
def q_fn_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cast / coercion family. Engine-semantics trap pinned here:
    Spark CAST(double AS INT) truncates toward zero while DuckDB's
    rounds half-even, so the oracle spells the truncation explicitly
    (trunc → INT); TRY_CAST of a non-numeric string is NULL in both.
    """
    t = load_tables(spark, sf_dir)
    return t["orders"].select(
        "o_orderkey",
        F.col("o_totalprice").cast("int").alias("price_int"),
        F.expr("TRY_CAST(o_orderstatus AS INT)").alias("status_as_int"),
        F.col("o_orderkey").cast("string").alias("key_str"),
        (F.lit("3.5").cast("double") + F.col("o_totalprice")).alias("price_plus"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("date_str"),
    )


@query(
    "fn_trig",
    oracle="""
    SELECT p_partkey,
           ROUND(sin(radians(p_size)), 6) AS sin_v,
           ROUND(cos(radians(p_size)), 6) AS cos_v,
           ROUND(atan2(p_size, 10.0), 6) AS atan2_v,
           ROUND(degrees(atan(p_size)), 6) AS deg_v,
           ROUND(pi(), 6) AS pi_v
    FROM part
    """,
)
def q_fn_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric function family — all JVM-codegen builtins,
    rounded to 6 dp on both engines (libm vs JVM Math agree well
    inside that tolerance)."""
    t = load_tables(spark, sf_dir)
    sz = F.col("p_size")
    return t["part"].select(
        "p_partkey",
        F.round(F.sin(F.radians(sz)), 6).alias("sin_v"),
        F.round(F.cos(F.radians(sz)), 6).alias("cos_v"),
        F.round(F.atan2(sz, F.lit(10.0)), 6).alias("atan2_v"),
        F.round(F.degrees(F.atan(sz)), 6).alias("deg_v"),
        F.expr("round(pi(), 6)").alias("pi_v"),
    )


@query(
    "fn_try",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice / NULLIF(l_discount, 0.0), 4)
               AS price_per_discount,
           TRY_CAST(l_returnflag AS INTEGER) AS flag_as_int,
           TRY_CAST(CAST(l_linenumber AS VARCHAR) AS INTEGER) AS line_rt,
           l_orderkey + 1 AS next_key
    FROM lineitem
    """,
)
def q_fn_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe try_* family: errors become NULLs instead of job
    failures — at 100 TB one malformed row must not kill a 6-hour
    job.  try_divide(x, 0) and try_cast('R' as int) both yield NULL;
    the round-trip cast proves values survive.  DuckDB twin uses
    NULLIF for the division (same NULL semantics) and TRY_CAST."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide(F.col("l_extendedprice"), F.nullif(F.col("l_discount"), F.lit(0.0))), 4
        ).alias("price_per_discount"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
        F.col("l_linenumber").cast("string").try_cast("int").alias("line_rt"),
        F.try_add(F.col("l_orderkey"), F.lit(1)).alias("next_key"),
    )


@query(
    "fn_edit_distance",
    oracle="""
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS edit_dist
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.n_name, b.n_name) <= 4
    ORDER BY name_a, name_b
    """,
)
def q_fn_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance as a fuzzy-match predicate: nation
    name pairs within distance 4 (catches ALGERIA~NIGERIA,
    IRAN~IRAQ-style near-misses) — the string-similarity primitive
    behind entity resolution and typo-tolerant dedup.

    Both engines implement classic Wagner-Fischer edit distance, so
    the values are integers with no FP parity concerns.  Scale: edit
    distance is O(len²) per pair and the self-join here is the small-n
    validation path — at corpus scale the same predicate runs AFTER a
    blocking stage (length bucket / first-letter / LSH candidates),
    exactly the dedup_ngram_jaccard discipline.
    """
    n = load_tables(spark, sf_dir)["nation"]
    a = n.select(F.col("n_nationkey").alias("k_a"), F.col("n_name").alias("name_a"))
    b = n.select(F.col("n_nationkey").alias("k_b"), F.col("n_name").alias("name_b"))
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, F.col("k_a") < F.col("k_b"))
        .select("name_a", "name_b", dist.cast("long").alias("edit_dist"))
        .filter(F.col("edit_dist") <= 4)
        .orderBy("name_a", "name_b")
    )


@query(
    "fn_regexp_extract_all",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[aeiou][a-z]{4,}'))
               AS BIGINT) AS n_matches,
           COALESCE(array_to_string(
               list_slice(regexp_extract_all(lower(text),
                                             '[aeiou][a-z]{4,}'), 1, 3),
               ','), '') AS first_matches
    FROM documents
    ORDER BY doc_id
    """,
)
def q_fn_regexp_extract_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract_all: every non-overlapping match as an array —
    the multi-match sibling of regexp_extract (text_regex_extract
    mines one match per row; this keeps them all).

    The pattern sticks to character classes + bounded quantifiers so
    Java regex (Spark) and RE2 (DuckDB) produce identical match sets
    (leftmost-earliest non-overlapping semantics agree for patterns
    without backtracking-dependent constructs).  Pure scan-side
    expression — zero shuffles except the output sort.  The match
    slice is comma-joined at the compare boundary
    (flatten-before-compare, §5.3 rule 4; matches are [a-z]+ so the
    separator cannot collide).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    matches = F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiou][a-z]{4,}"), 0)
    return docs.select(
        "doc_id",
        F.size(matches).cast("long").alias("n_matches"),
        F.array_join(F.slice(matches, 1, 3), ",").alias("first_matches"),
    ).orderBy("doc_id")
