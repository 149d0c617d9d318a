"""Declared scan/sink queries (SURVEY.md §2.1).

Sink round-trips are real oracles: write → re-read → compare the
re-read rows against the oracle run on the ORIGINAL table, so the check
covers the writer+reader pair end-to-end, not just a row count.

Scale posture: sinks write partitioned directories (one file per task);
the parquet round-trip uses partitionBy to produce the prunable layout
a 100 TB fact table needs.  Sinks, merge targets and the Derby
database live under the process's scratch root (``sources/io.py``) —
nothing touches the read-only fixtures.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_analytics_library_spark import conf
from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources import io as io_mod
from pyspark_analytics_library_spark.sources.io import load_tables


def _scratch(spark: SparkSession, name: str) -> str:
    """A cleared scratch leaf for one round-trip sink."""
    path = io_mod.local_scratch_path(spark, name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def _staged_overwrite(df: DataFrame, target: str) -> str:
    """Crash-safe parquet overwrite; returns the path
    readers should scan.  Writes the new table to
    ``<target>.staging-<uuid>``, then swaps it in with filesystem
    renames, so a failure at ANY point leaves the previous target
    readable instead of half-written:

    - crash DURING the staging write (the data-sized window, where a
      mid-job failure actually lands) → target untouched; the orphaned
      staging dir is reclaimed here on the error path and by the
      dead-pid janitor otherwise;
    - crash BETWEEN the two renames (a metadata-sized window) → target
      briefly absent but the old table is intact under ``.old-<uuid>``
      — recoverable by hand until dead-pid reclamation (for the merge
      queries here the backup lives inside the process's scratch root,
      which the scratch janitor deletes once the owning process has
      been dead for its grace period; a target outside scratch keeps
      its backup until an operator removes it).

    POSIX ``rename`` within one filesystem is atomic, which covers
    local/HDFS deployments; on object stores (S3A et al.) "rename" is
    copy+delete and this protocol does NOT buy atomicity there.  The
    object-store-safe alternative is the manifest-table commit in
    :mod:`~pyspark_analytics_library_spark.sources.commit` (one atomic
    pointer-file swap, no directory rename): ``commit.table_init`` then
    ``commit.table_merge``, as ``examples/14_manifest_table.py`` shows.
    """
    staging = f"{target}.staging-{uuid.uuid4().hex[:8]}"
    try:
        df.write.mode("overwrite").parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    backup = None
    if os.path.exists(target):
        backup = f"{target}.old-{uuid.uuid4().hex[:8]}"
        os.rename(target, backup)
    os.rename(staging, target)
    if backup is not None:
        shutil.rmtree(backup, ignore_errors=True)
    return target


def _insert_key_offset(orders: DataFrame) -> int:
    """Synthetic-insert key offset for the merge queries, derived from
    the ACTUAL key domain: a fixed 100000000 offset collides with real
    o_orderkey above ~SF 17 (TPC-H orderkeys reach ~6M × SF), silently
    closing out unrelated base rows.  The offset is the next power of
    10 above max(o_orderkey) — spelled as 10^len(str(max)) so both
    engines compute it integer-exactly — FLOORED at 100000000 so every
    fixture SF (max key ≪ 1e8) keeps its attested results.  The oracle
    derives the same value with
    GREATEST/POWER/LENGTH over the same table.  The collect is one
    1-row scalar aggregate (parquet column statistics make it a
    metadata-speed scan) — the PageRank-scalar size class."""
    mx = orders.agg(F.max("o_orderkey")).collect()[0][0] or 0
    return max(100_000_000, 10 ** len(str(mx)))


#: DuckDB spelling of :func:`_insert_key_offset` — inlined into both
#: merge oracles so Spark and the oracle share the derivation formula.
_INSERT_KEY_OFFSET_SQL = """GREATEST(100000000, CAST(POWER(10,
        LENGTH(CAST((SELECT MAX(o_orderkey) FROM orders) AS VARCHAR)))
        AS BIGINT))"""


_SINK_FILTER_SQL = """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity >= 40
"""


@query("sink_parquet_roundtrip", oracle=_SINK_FILTER_SQL)
def q_sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a filtered projection to partitioned parquet, re-read it,
    return the re-read rows — oracle compares against the source table,
    so writer+reader must both preserve values exactly."""
    t = load_tables(spark, sf_dir)
    subset = t["lineitem"].filter(
        (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 40)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    path = _scratch(spark, "sink_parquet")
    io_mod.sink_parquet(subset, path, partition_by=["l_returnflag"])
    back = spark.read.parquet(path)
    # partitionBy moves the partition col last and reads it as string;
    # restore column order/types for the compare.
    return back.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
    )


@query("sink_csv_roundtrip", oracle=_SINK_FILTER_SQL)
def q_sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip with explicit re-read schema (inference is an
    extra full pass — never at scale)."""
    t = load_tables(spark, sf_dir)
    subset = t["lineitem"].filter(
        (F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 40)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    path = _scratch(spark, "sink_csv")
    io_mod.sink_csv(subset, path)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
        ]
    )
    return io_mod.scan_csv(spark, path, schema=schema, header=True)


@query(
    "scan_json_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_scan_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON round-trip with explicit re-read schema.  Full oracle: with
    the schema pinned on read, int/string columns survive JSON text
    encoding losslessly — the oracle compares against the SOURCE table, so writer+reader
    must both preserve values exactly (same pattern as the
    parquet/csv sinks above; only float columns would be at the mercy
    of JSON number formatting, and none are on this surface)."""
    t = load_tables(spark, sf_dir)
    subset = t["nation"]
    path = _scratch(spark, "sink_json")
    subset.write.mode("overwrite").json(path)
    return io_mod.scan_json(
        spark, path, schema="n_nationkey int, n_name string, n_regionkey int"
    )


@query("scan_orc_roundtrip", oracle="SELECT r_regionkey, r_name FROM region")
def q_scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip.  Full oracle: ORC is a typed binary format, so
    the int/string region table round-trips exactly; the oracle compares
    against the source table."""
    t = load_tables(spark, sf_dir)
    path = _scratch(spark, "sink_orc")
    t["region"].write.mode("overwrite").orc(path)
    return io_mod.scan_orc(spark, path)


@query(
    "scan_partition_pruning",
    oracle="""
    SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE lang = 'en'
    GROUP BY source
    ORDER BY source
    """,
)
def q_scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition-pruned re-read: the
    100 TB table-layout pattern in miniature.

    documents is written partitioned by lang (one directory per
    value); the re-read filters lang='en', which Spark resolves
    against directory names alone (PartitionFilters in the scan — see
    tests/test_plans.py), so the other languages' files are never
    opened. At 100 TB this is the difference between scanning one
    partition and scanning the lake; the oracle aggregates the
    ORIGINAL table so the check also proves the layout lost no rows.
    """
    t = load_tables(spark, sf_dir)
    path = _scratch(spark, "part_by_lang")
    t["documents"].select("doc_id", "source", "n_chars", "lang").write.mode(
        "overwrite"
    ).partitionBy("lang").parquet(path)
    back = spark.read.parquet(path).filter(F.col("lang") == "en")
    return (
        back.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("source")
    )


@query(
    "scan_dpp",
    oracle="""
    WITH dim AS (
        SELECT lang, COUNT(*) AS lang_docs
        FROM documents GROUP BY lang HAVING COUNT(*) >= 40
    )
    SELECT d.lang, COUNT(*) AS n_docs, CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
    FROM documents d JOIN dim ON d.lang = dim.lang
    GROUP BY d.lang
    ORDER BY d.lang
    """,
)
def q_scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact scan's partition filter is
    only known at RUNTIME — it comes from a filtered dimension joined
    on the partition column, not from a literal predicate.

    The lang-partitioned documents layout (same layout as
    scan_partition_pruning) is joined to a dim of "high-volume"
    languages (≥ 40 docs, computed from the original table).  Catalyst
    inserts a DynamicPruningExpression into the fact scan's
    PartitionFilters, reusing the dim's broadcast exchange as the
    subquery (tests/test_plans.py pins `dynamicpruning` in the plan) —
    so only the qualifying langs' directories are ever opened.  At
    100 TB this is the other half of the pruning story: static pruning
    covers literal predicates, DPP covers the star-join-on-partition-
    key shape ("this quarter's fact files only", where "this quarter"
    is itself a query result).

    REFUSAL CONDITION (PySpark 4.1.2): PartitionPruning
    only fires when the dim side carries a selective FILTER predicate
    (here the HAVING).  A dim derived purely by JOIN — e.g. argmax via
    self-join on max(n) — gets NO dynamicpruning subquery and the fact
    scan opens every partition (verified at scan-metrics level:
    numFiles stayed 5/5 and no staticFilesNum metric was registered).
    Pipelines needing DPP must shape the dim as filter-over-relation,
    or pre-materialize the key list and filter literally.
    tests/test_plans.py::test_dpp_scan_reads_fewer_files_than_static
    pins the engaged path's numFiles < staticFilesNum at fixture scale.
    """
    t = load_tables(spark, sf_dir)
    path = _scratch(spark, "dpp_by_lang")
    t["documents"].select("doc_id", "n_chars", "lang").write.mode(
        "overwrite"
    ).partitionBy("lang").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        t["documents"]
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("lang_docs"))
        .filter(F.col("lang_docs") >= 40)
        .select(F.col("lang").alias("dim_lang"))
    )
    return (
        fact.join(F.broadcast(dim), fact.lang == dim.dim_lang)
        .groupBy(F.col("lang").cast("string").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(
    "sink_partition_overwrite",
    oracle="""
    SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'en'
    UNION ALL
    SELECT doc_id, lang, n_chars FROM documents
    WHERE lang = 'en' AND n_chars >= 200
    """,
)
def q_sink_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: rewrite ONE partition of a
    lang-partitioned table in place, leaving sibling partitions'
    files untouched — the idempotent-backfill primitive of a 100 TB
    warehouse (a day's re-run replaces that day only, never
    truncate-and-reload).

    partitionOverwriteMode=dynamic replaces exactly the partitions
    present in the incoming write (here: lang='en', re-filtered to
    n_chars >= 200); `static` mode would wipe the whole root first.
    The oracle states the expected final table, so the check proves
    both that 'en' was replaced and that every other partition
    survived byte-for-byte.
    """
    t = load_tables(spark, sf_dir)
    base = t["documents"].select("doc_id", "n_chars", "lang")
    path = _scratch(spark, "dyn_overwrite")
    base.write.mode("overwrite").partitionBy("lang").parquet(path)
    with conf.scoped_conf(
        spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        (
            base.filter((F.col("lang") == "en") & (F.col("n_chars") >= 200))
            .write.mode("overwrite")
            .partitionBy("lang")
            .parquet(path)
        )
    back = spark.read.parquet(path)
    return back.select(
        "doc_id", F.col("lang").cast("string").alias("lang"), "n_chars"
    )


@query(
    "scan_schema_evolution",
    oracle="""
    SELECT doc_id, lang, NULL AS quality FROM documents WHERE lang = 'en'
    UNION ALL
    SELECT doc_id, lang, CAST(n_chars AS DOUBLE) / 1000.0 AS quality
    FROM documents WHERE lang = 'de'
    """,
)
def q_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (mergeSchema): two generations of a
    table — the old files lack the later-added `quality` column — read
    as ONE table with NULLs filling the gap.  At 100 TB you never
    rewrite history to add a column; the reader must reconcile
    per-file schemas (parquet mergeSchema is the footer-union that
    makes additive evolution free)."""
    t = load_tables(spark, sf_dir)
    path = _scratch(spark, "schema_evo")
    old_gen = t["documents"].filter(F.col("lang") == "en").select("doc_id", "lang")
    new_gen = (
        t["documents"]
        .filter(F.col("lang") == "de")
        .select(
            "doc_id",
            "lang",
            (F.col("n_chars").cast("double") / 1000.0).alias("quality"),
        )
    )
    old_gen.write.mode("overwrite").parquet(os.path.join(path, "gen=0"))
    new_gen.write.mode("overwrite").parquet(os.path.join(path, "gen=1"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "gen=0"), os.path.join(path, "gen=1")
    )
    return back.select("doc_id", "lang", "quality")


@query(
    "scan_csv_options",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer WHERE c_acctbal < 0
    """,
)
def q_scan_csv_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-default-dialect CSV round-trip: ';' delimiter, quoted
    fields, custom nullValue — the messy-ingest path.  Written
    executor-side with the same options the reader must honor; the
    oracle compares against the ORIGINAL table, so delimiter/quote/null
    handling must survive the full writer→reader loop.

    Scale: CSV options are per-task stream settings (no global pass);
    explicit read schema avoids the inference scan, and the negative-
    balance filter is pushed into the CSV reader's row pruning.
    """
    t = load_tables(spark, sf_dir)
    subset = t["customer"].filter(F.col("c_acctbal") < 0).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    path = _scratch(spark, "sink_csv_options")
    opts = {"header": "true", "sep": ";", "quoteAll": "true", "nullValue": "\\N"}
    subset.write.mode("overwrite").options(**opts).csv(path)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    return (
        spark.read.options(**opts)
        .schema(schema)
        .csv(path)
    )


def scd1_merged(base: DataFrame, updates: DataFrame, key: str = "o_orderkey") -> DataFrame:
    """Priority-union + keeper-window SCD-1 merge core, extracted (like
    :func:`scd2_history`) so tests can pin both the plan shape and the
    NULL-key semantics on the pre-sink frame.

    NULL merge keys: ``Window.partitionBy`` treats
    NULL as one ordinary grouping value, so ALL NULL-key rows — base
    and update alike — land in a single merge group and exactly ONE row
    survives (an update row when any exists, by the priority order).
    That is the pinned, documented semantic
    (tests/test_merge_safety.py); a production merge whose NULL rows
    must each survive independently has to filter or surrogate NULL
    keys upstream — the same rule every SQL MERGE engine applies, where
    NULL never equi-matches and NULL-key sources fall through to the
    NOT MATCHED branch."""
    from pyspark.sql import Window

    return (
        updates.withColumn("_prio", F.lit(0))
        .unionByName(base.withColumn("_prio", F.lit(1)))
        .withColumn(
            "_rn",
            F.row_number().over(Window.partitionBy(key).orderBy("_prio")),
        )
        .filter(F.col("_rn") == 1)
        .drop("_prio", "_rn")
    )


@query(
    "sink_merge_upsert",
    oracle=f"""
    WITH updates AS (
        SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
               FLOOR(o_totalprice * 1.1 * 100 + 0.5) / 100 AS o_totalprice
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT o_orderkey + {_INSERT_KEY_OFFSET_SQL},
               o_custkey, 'N', 42.0
        FROM orders WHERE o_orderkey % 101 = 0
    ), merged AS (
        SELECT * FROM updates
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    )
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice) / 1000000.0, 4) AS total_price_m
    FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def q_sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-1 merge (upsert) into a parquet target WITHOUT a lakehouse
    format: updates win over base rows by key, inserts append — the
    copy-on-write MERGE INTO pattern, spelled as priority-union +
    keeper-window.

    Mechanics: union the update batch (priority 0) with the base
    (priority 1), keep row_number()=1 per key ordered by priority —
    ONE shuffle on the merge key, no join at all (the anti-join
    formulation shuffles both sides twice).  The merged table is
    written and RE-READ — crash-safely, via :func:`_staged_overwrite`'s
    staged-write + rename swap — so the oracle comparison covers the
    writer+reader loop.  At 100 TB the same plan works per partition
    (copy-on-write rewrites only partitions containing updated keys —
    pair with sink_partition_overwrite's dynamic mode).  Insert keys
    are offset by :func:`_insert_key_offset` (collision-free at any
    SF); NULL-key semantics are pinned on the :func:`scd1_merged` core.
    """
    t = load_tables(spark, sf_dir)
    base = t["orders"].select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    offset = _insert_key_offset(base)
    updates = (
        base.filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            # floor-based rounding: price*1.1 lands on exact .xx5 halves
            # (2-dp inputs), where ROUND() halfway behavior differs across
            # engines; floor(x*100+0.5) is identical IEEE arithmetic on both.
            (F.floor(F.col("o_totalprice") * 1.1 * 100 + F.lit(0.5)) / 100).alias(
                "o_totalprice"
            ),
        )
        .unionByName(
            base.filter(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + F.lit(offset)).alias("o_orderkey"),
                "o_custkey",
                F.lit("N").alias("o_orderstatus"),
                F.lit(42.0).alias("o_totalprice"),
            )
        )
    )
    path = io_mod.local_scratch_path(spark, "sink_merge")
    merged = scd1_merged(base, updates)
    merged_read = spark.read.parquet(_staged_overwrite(merged, path))
    return (
        merged_read
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # Reported in millions: at 15 M rows the raw ~1e12 sum's
            # cross-engine summation-order noise (~1e-1 absolute)
            # crosses a /1e3 4-dp rounding threshold; /1e6 restores ~5
            # orders of margin.
            F.round(F.sum("o_totalprice") / 1e6, 4).alias("total_price_m"),
        )
        .orderBy("o_orderstatus")
    )


def _SCD2_EFF_DATE() -> Column:
    """The SCD-2 batch's effective date — single spelling."""
    return F.lit("1998-12-01").cast("date")


def _scd2_update_batch(orders: DataFrame) -> DataFrame:
    """The ONE Python spelling of the SCD-2 update batch (several
    hand-synchronized copies would silently drift).  Columns:
    o_orderkey, o_orderstatus, o_totalprice, valid_from.  Same %97
    update / %101 insert predicates, floor-based half-up price
    rounding, and collision-free insert offset the oracle states."""
    offset = _insert_key_offset(orders)
    eff = _SCD2_EFF_DATE()
    return (
        orders.filter(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (F.floor(F.col("o_totalprice") * 1.1 * 100 + F.lit(0.5)) / 100).alias(
                "o_totalprice"
            ),
            eff.alias("valid_from"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 101 == 0).select(
                (F.col("o_orderkey") + F.lit(offset)).alias("o_orderkey"),
                F.lit("N").alias("o_orderstatus"),
                F.lit(42.0).alias("o_totalprice"),
                eff.alias("valid_from"),
            )
        )
    )


def scd2_history(orders: DataFrame) -> DataFrame:
    """The SCD-2 merge frame before the sink: base + update batch
    unioned, superseded base rows closed out via ONE window over the
    merge key.  Extracted so tests/test_plans.py can pin the plan
    invariant — zero join operators, the close-out is window-only —
    the same way join_asof's single-Exchange shape is pinned.

    NULL merge keys: a NULL-key base row is NEVER
    superseded here — the update batch is derived through
    ``o_orderkey % k == 0`` predicates, and ``NULL % k`` is NULL (not
    0), so NULL keys generate no update row; the base row passes
    through open (``valid_to`` NULL, ``is_current`` true).  That
    mirrors SQL MERGE, where NULL never equi-matches ON conditions.
    The residual hazard sits one level down: the ``has_upd`` window
    groups NULL as ONE ordinary key, so if a caller-supplied update
    batch ever carried a NULL key it would close out EVERY NULL base
    row at once — the same single-group collapse :func:`scd1_merged`
    documents.  Both behaviors are pinned in
    tests/test_merge_safety.py; production merges should filter or
    surrogate NULL keys upstream."""
    from pyspark.sql import Window

    eff = _SCD2_EFF_DATE()
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit("1990-01-01").cast("date").alias("valid_from"),
        F.lit("b").alias("_src"),
    )
    updates = _scd2_update_batch(orders).withColumn("_src", F.lit("u"))
    has_upd = F.max((F.col("_src") == "u").cast("int")).over(
        Window.partitionBy("o_orderkey")
    )
    superseded = (F.col("_src") == "b") & (has_upd == 1)
    return base.unionByName(updates).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "valid_from",
        F.when(superseded, eff).alias("valid_to"),
        (~superseded).alias("is_current"),
    )


@query(
    "sink_merge_scd2",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice,
               DATE '1990-01-01' AS valid_from, 'b' AS src
        FROM orders
    ), upd AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               FLOOR(o_totalprice * 1.1 * 100 + 0.5) / 100 AS o_totalprice,
               DATE '1998-12-01' AS valid_from, 'u' AS src
        FROM orders WHERE o_orderkey % 97 = 0
        UNION ALL
        SELECT o_orderkey + {_INSERT_KEY_OFFSET_SQL}, 'N', 42.0,
               DATE '1998-12-01', 'u'
        FROM orders WHERE o_orderkey % 101 = 0
    ), allr AS (
        SELECT * FROM base UNION ALL SELECT * FROM upd
    ), hist AS (
        SELECT *,
               MAX(CASE WHEN src = 'u' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY o_orderkey) AS has_upd
        FROM allr
    ), final AS (
        SELECT o_orderstatus, o_totalprice, valid_from,
               CASE WHEN src = 'b' AND has_upd = 1
                    THEN DATE '1998-12-01' END AS valid_to,
               NOT (src = 'b' AND has_upd = 1) AS is_current
        FROM hist
    )
    SELECT o_orderstatus, is_current,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN valid_to IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_closed,
           ROUND(SUM(o_totalprice) / 1000000.0, 4) AS total_price_m
    FROM final
    GROUP BY o_orderstatus, is_current
    ORDER BY o_orderstatus, is_current
    """,
)
def q_sink_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 (history-preserving) merge into plain parquet — the
    companion to :func:`q_sink_merge_upsert`'s SCD-1:
    instead of updates WINNING over base rows, updated keys keep both
    rows — the superseded version closed out (``valid_to`` = the
    batch's effective date, ``is_current`` = false) and the new
    version appended open-ended (``valid_from`` = effective date,
    ``valid_to`` NULL, ``is_current`` = true).  Inserts get one open
    row; untouched keys keep their original open row.

    Mechanics: union base + update batch, then ONE window over the
    merge key — ``max(is_update)`` per key marks which base rows are
    superseded; close-out columns are pure CASE expressions off that
    flag.  No join: same single-shuffle discipline as SCD-1's
    priority-union (an outer-join formulation shuffles both sides and
    loses the append rows' nullability for free).  The history table
    is written and RE-READ, so the oracle covers the writer+reader
    loop.  At 100 TB the window is per-key (every row is kept, so
    map-side there is nothing to combine) and copy-on-write rewrites
    only partitions containing touched keys, like SCD-1; row-level
    MERGE + time travel without the rewrite is
    :mod:`~pyspark_analytics_library_spark.sources.commit`.  Same
    floor-based price rounding, :func:`_staged_overwrite` sink and
    :func:`_insert_key_offset` insert keys as SCD-1.
    """
    orders = load_tables(spark, sf_dir)["orders"]
    path = io_mod.local_scratch_path(spark, "sink_merge_scd2")
    hist = scd2_history(orders)
    hist_read = spark.read.parquet(_staged_overwrite(hist, path))
    return (
        hist_read
        .groupBy("o_orderstatus", "is_current")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("valid_to").isNotNull().cast("int"))
            .cast("long")
            .alias("n_closed"),
            # Reported in millions: see q_sink_merge_upsert.
            F.round(F.sum("o_totalprice") / 1e6, 4).alias("total_price_m"),
        )
        .orderBy("o_orderstatus", "is_current")
    )


@query(
    "scan_jdbc",
    oracle="""
    SELECT n_regionkey,
           COUNT(*) AS n_nations,
           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def q_scan_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC source surface driven end-to-end against Spark's bundled
    EMBEDDED Derby.  Pipeline:
    nation → ``DataFrame.write.jdbc`` into a fresh scratch Derby
    database → re-read through :func:`scan_jdbc` with the PARTITIONED
    options (partitionColumn/lowerBound/upperBound/numPartitions=4),
    the 100 TB-relevant half: a production JDBC ingest must shard
    across connections or the whole table funnels through one
    executor.  The oracle compares the re-read aggregate against the
    ORIGINAL nation table, so the JDBC writer+reader pair must
    preserve every value exactly — full hash strength, not rows-only.

    The returned frame stays LAZY (the driver collects after we
    return), so the Derby database must outlive this call: each call
    boots its own uuid-leafed database in the process's scratch root (a
    shared leaf would be cleared by the NEXT call, yanking the files out
    from under any still-uncollected prior frame); the scratch janitor
    reclaims the root after the process exits.  Embedded Derby is
    single-JVM — exactly the local[N] shape — while a cluster
    run would point the same options at a networked RDBMS; the plan is
    identical either way (JDBCRelation with 4 range-sharded
    partitions).
    """
    path = io_mod.local_scratch_path(spark, f"derby_jdbc_{uuid.uuid4().hex[:8]}")
    # Keep derby.log inside the scratch dir (no-op after the engine
    # first boots in this JVM; the DB path itself is absolute).
    spark._jvm.java.lang.System.setProperty("derby.system.home", path)
    url = f"jdbc:derby:{path}/db"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    t = load_tables(spark, sf_dir)
    nation = t["nation"].select("n_nationkey", "n_regionkey")
    n = nation.count()  # bounds for the range shards (25 rows: cheap)
    nation.write.jdbc(
        url=url + ";create=true", table="nation_jdbc", mode="overwrite",
        properties=props,
    )
    back = io_mod.scan_jdbc(
        spark,
        url,
        "nation_jdbc",
        driver=props["driver"],
        partitionColumn="n_nationkey",
        lowerBound="0",
        upperBound=str(n),
        numPartitions="4",
    )
    return (
        back.groupBy("n_regionkey")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("n_nationkey").alias("key_sum"),
        )
        .orderBy("n_regionkey")
    )
