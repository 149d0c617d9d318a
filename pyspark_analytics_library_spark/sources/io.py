"""Table loading and IO surface (SURVEY.md §2.1 `scan_*` / `sink_*`).

Capability parity target: the reference's source/sink surface (reference
snapshot is empty — SURVEY.md §0.1 — so the contract is the §2.1 table).

Scale posture (100 TB): the loader is declarative — `spark.read.parquet`
feeds Catalyst's vectorized Parquet scan, so predicate pushdown, column
pruning and (on a partitioned layout) partition pruning all apply to
every downstream operator for free.  Nothing is collected to the driver.
At cluster scale the same entry point accepts a directory of many files
or a partitioned table root; nothing here assumes a single file.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
import time
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_analytics_library_spark import conf

#: The ten fixture tables (TESTDATA.md / FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Cache of loaded (lazy) DataFrames keyed by (applicationId, sf_dir).
# Spark DataFrames are plans, not data, so this only saves schema-read and
# plan-build overhead when many declared queries hit the same sf_dir.
# applicationId, not id(spark): id() values are recycled after a session
# is garbage-collected, which would hand a fresh session plans bound to a
# dead one.
_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


#: Shuffle partitions the loader sets on a local master that left Spark's
#: 200 default untouched (see :func:`_configure`).
LOADER_SHUFFLE_PARTITIONS = "32"

#: applicationIds the package zip has already been shipped to.
_SHIPPED: set[str] = set()

#: Zip built by THIS process (in-memory flag, not file existence: a stale
#: same-named file from a recycled pid would otherwise ship outdated code).
_ZIP_PATH: str | None = None


def _package_zip() -> str:
    """Build (once per process) a zip of this package for addPyFile.

    The source zip must outlive the call that ships it: local-mode
    executors re-fetch and byte-compare it against the file server's copy
    at task time, so a deleted-on-exit tempdir breaks the first job.  It
    lives in a per-process directory shaped like a scratch root
    (``pyspark_analytics_<pid>_pyfiles``), so :func:`_sweep_dead_roots`
    reclaims it once this process is gone; no other process writes
    there, so the zip is written in place.  The build sweeps the
    tempdir itself: on a cluster master no scratch base is the tempdir,
    so no scratch request would ever reclaim dead processes' zips.
    """
    global _ZIP_PATH
    if _ZIP_PATH is not None and os.path.exists(_ZIP_PATH):
        return _ZIP_PATH
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _sweep_dead_roots([tempfile.gettempdir()])
    out_dir = os.path.join(
        tempfile.gettempdir(), f"{_ROOT_PREFIX}{os.getpid()}_pyfiles"
    )
    os.makedirs(out_dir, exist_ok=True)
    _ZIP_PATH = shutil.make_archive(
        os.path.join(out_dir, os.path.basename(pkg_root)),
        "zip",
        root_dir=os.path.dirname(pkg_root),
        base_dir=os.path.basename(pkg_root),
    )
    return _ZIP_PATH


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Module-level UDF callables are cloudpickled *by reference*, so the
    worker must be able to ``import pyspark_analytics_library_spark`` —
    true under pytest (cwd is the repo) but NOT when an external driver
    imports ``__spark_entry__`` from an arbitrary cwd with only a
    driver-side ``sys.path`` tweak (worker processes don't inherit
    that).  ``addPyFile`` ships a zip of the package to every executor
    and prepends it to the workers' ``sys.path`` — the same mechanism a
    real cluster submit uses (``spark-submit --py-files``), so this is
    exactly the 100 TB deployment path, not a test shim.
    """
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED.add(sc.applicationId)


def _configure(spark: SparkSession) -> None:
    """Session confs every query depends on (runtime-settable).

    - ``nanosAsLong``: `events.ts` is Parquet TIMESTAMP(NANOS), which the
      Spark 4.x reader rejects outright ([PARQUET_TYPE_ILLEGAL]); with
      this legacy flag it arrives as LongType nanoseconds (FIXTURES.md).
    - UTC session timezone: DuckDB timestamps are UTC-naive; without
      this, every timestamp comparison against the oracle is shifted.
    - Shuffle partitions: an external LOCAL driver on Spark's untouched
      200 default pays 200 tasks per exchange that AQE cannot always
      save (streaming state partitioning never coalesces; Python-worker
      ops pay per-task startup).  Trim ONLY on a local[*] master AND
      only the exact 200 default — a deliberately sized session passes
      through untouched, and a *cluster* session is never touched at
      all: silently pinning 32 reducers under a 1000-executor job would
      be a petabyte-shuffle bottleneck, so cluster admins keep their own
      sizing (2-3x total cores, or AQE coalescing from a high initial
      count).  Measured on the bare-session local replay: whole-suite
      sf0.01 wall time drops ~30%, single worst query 13.3 s -> 3.5 s.

    All three stay set after the loader returns (not scoped): the lazy
    frames it returns read them when they execute.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if (
        conf.is_local_master(spark)
        and spark.conf.get("spark.sql.shuffle.partitions", "200") == "200"
    ):
        spark.conf.set("spark.sql.shuffle.partitions", LOADER_SHUFFLE_PARTITIONS)
    _ship_package(spark)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with canonical column types."""
    _configure(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col, target in _TS_CANON.get(name, {}).items():
        df = _normalize_ts(df, col, target)
    return df


#: Timestamp-bearing fixture columns and their canonical Spark dtype.
#: The generator has emitted these as int64 nanos and as timestamp[us]
#: without timezone, so the loader owns a schema contract instead of
#: trusting the files.
#: ``events.ts`` must be TIMESTAMP (LTZ): NTZ rejects both
#: `CAST(ts AS BIGINT)` and `withWatermark`.  The date columns stay
#: TIMESTAMP_NTZ — that is today's validated-green dtype, and all
#: downstream use is date comparison/truncation, which is
#: timezone-independent under the pinned-UTC session.
_TS_CANON: dict[str, dict[str, str]] = {
    "events": {"ts": "timestamp"},
    "lineitem": {"l_shipdate": "timestamp_ntz"},
    "orders": {"o_orderdate": "timestamp_ntz"},
}


def _normalize_ts(df: DataFrame, col: str = "ts", target: str = "timestamp") -> DataFrame:
    """Canonicalize one timestamp column to ``target`` regardless of the
    fixture's physical encoding (the generator has produced both of the
    first two shapes):

    - Parquet TIMESTAMP(NANOS) read as int64 under ``nanosAsLong``:
      ns → µs with *integer* division (`div` keeps LongType; a double
      roundtrip would lose precision above 2^53 ns).  DuckDB reads the
      same file truncated to µs — identical values (SURVEY.md §1.3).
    - TIMESTAMP_NTZ ↔ TIMESTAMP off-target: cast.  With the session tz
      pinned UTC (`_configure`) the wall-clock fields — and therefore
      the µs epoch values — are preserved bit-for-bit in both
      directions, matching DuckDB's naive read of the same file.
    - Already on target: untouched (no Project node inserted, so scan
      pushdown on other columns is unaffected).
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        dtype = "timestamp"
    if dtype in ("timestamp", "timestamp_ntz") and dtype != target:
        df = df.withColumn(col, F.col(col).cast(target))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load all fixture tables as lazy DataFrames, cached per (session,
    sf_dir).  Changes no catalog state: SQL text that reads a fixture
    table names it through :func:`register_views`."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CACHE:
        _CACHE[key] = {name: load_table(spark, sf_dir, name) for name in TABLES}
    return _CACHE[key]


def register_views(spark: SparkSession, sf_dir: str, *tables: str) -> None:
    """Expose the named fixture tables to SQL text as session temp views
    under their canonical names, so one SQL string runs on Spark and on
    DuckDB alike.  Re-registered on every call: the session-global view
    names must track the *requested* sf_dir even when callers alternate
    between scale factors (entry() at sf0.001, queries at sf0.01)."""
    t = load_tables(spark, sf_dir)
    for name in tables:
        t[name].createOrReplaceTempView(name)


def sf_digest(sf_dir: str) -> str:
    """Stable 8-hex-digit key for artifacts staged per fixture dir (scratch
    leaves, bucketed table names): a digest of the full normalized path, so
    two dirs sharing a basename never share an artifact, and not builtin
    ``hash()``, which varies per process unless PYTHONHASHSEED is fixed."""
    return hashlib.sha256(os.path.normpath(sf_dir).encode()).hexdigest()[:8]


# ---------------------------------------------------------------------------
# Generic scan surface (`scan_csv` / `scan_json` / `scan_orc` / `scan_jdbc`)
# ---------------------------------------------------------------------------


def scan_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV scan with explicit schema (schema inference is an extra pass
    over the data — never acceptable at 100 TB, so callers pass one)."""
    reader = spark.read.options(header=header, **options)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def scan_json(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None, **options
) -> DataFrame:
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def scan_orc(spark: SparkSession, path: str, **options) -> DataFrame:
    return spark.read.options(**options).orc(path)


def scan_jdbc(
    spark: SparkSession, url: str, table: str, **properties
) -> DataFrame:
    """JDBC connector surface.  Declared as the full-oracle driver
    query ``scan_jdbc`` (sources/scan_queries.py), which writes nation
    into a fresh embedded Derby database and reads it back partitioned.
    tests/test_jdbc.py drives the plain and partitioned paths directly.

    At scale, callers should pass ``partitionColumn``/``lowerBound``/
    ``upperBound``/``numPartitions`` so the read parallelizes across
    that many connections instead of funneling through one (the
    partitioned test pins that these options shard the RDD).
    """
    return spark.read.jdbc(url=url, table=table, properties=properties)


# ---------------------------------------------------------------------------
# Sink surface
# ---------------------------------------------------------------------------


def sink_parquet(
    df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None
) -> None:
    """Parquet writer.  ``partition_by`` produces the hive-style layout
    that enables partition pruning on re-read — the 100 TB default for
    fact tables (partition by a low-cardinality time bucket).

    Operational note: keep row groups
    bounded (``parquet.block.size``; Spark's 128 MB default is fine —
    the hazard is single-row-group compaction jobs).  A file whose rows
    live in ONE giant row group is read by ONE effective scan task no
    matter how many byte-range splits Spark makes, which serializes the
    scan AND disables AQE's skew-join split downstream: the split can
    only cut a hot shuffle partition at map-output boundaries, and a
    one-map stage leaves it a single unsplittable block."""
    writer = df.write.mode(mode)
    if partition_by:
        # a bare name is ONE partition column, not characters
        if isinstance(partition_by, str):
            partition_by = [partition_by]
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def sink_csv(df: DataFrame, path: str, mode: str = "overwrite", header: bool = True) -> None:
    df.write.mode(mode).option("header", header).csv(path)


# ---------------------------------------------------------------------------
# Scratch storage
# ---------------------------------------------------------------------------

#: Grace window before a DEAD pid's root is reclaimed.  Pid liveness is
#: namespace-local: a driver in a sibling container sharing the base
#: probes a pid from ANOTHER namespace and gets a false
#: ProcessLookupError; the grace keeps that mistake from destroying a
#: sink minutes after a concurrent driver created it.
_DEAD_GRACE_S = 300

#: Age gate for roots whose pid liveness cannot be probed.
_MAX_AGE_S = 6 * 3600

_ROOT_PREFIX = "pyspark_analytics_"

#: Janitor latch: each local base is swept once per process, at the
#: first scratch request or package-zip build that names it, not at
#: import (imports stay side-effect free).
_SWEPT: set[str] = set()


def _scratch_bases(spark: SparkSession) -> list[str]:
    """Every base scratch can live under, in resolution order: the
    ``spark.analytics.scratchDir`` conf (any Hadoop-visible URI), the OS
    tempdir on local masters (a driver-local path is only correct when
    driver and executors share a filesystem), then the checkpoint dir."""
    bases = [conf.get(spark, "spark.analytics.scratchDir")]
    if conf.is_local_master(spark):
        bases.append(tempfile.gettempdir())
    try:
        bases.append(spark.sparkContext.getCheckpointDir())
    except Exception:  # best-effort: an unreadable checkpoint dir is no base
        pass
    return [b for b in bases if b]


def _root_name(spark: SparkSession) -> str:
    # pid AND application id: pids collide across hosts (containerized
    # drivers are routinely pid 1), application ids across restarts of
    # one process do not.
    return f"{_ROOT_PREFIX}{os.getpid()}_{spark.sparkContext.applicationId}"


def scratch_path(spark: SparkSession, *parts: str) -> str:
    """``<base>/pyspark_analytics_<pid>_<applicationId>/<parts...>`` — the
    one place the package stages files.  The base is the first of
    :func:`_scratch_bases`; with none (a cluster master with neither the
    conf nor a checkpoint dir) this raises before any job runs, since
    executor-unreachable local paths would corrupt the caller mid-flight.
    The first call in a process also sweeps dead processes' roots."""
    bases = _scratch_bases(spark)
    if not bases:
        raise ValueError(
            "staging files on a cluster needs durable scratch storage: set "
            "spark.analytics.scratchDir to a shared URI (hdfs://, s3a://, ...) "
            "or call sparkContext.setCheckpointDir() first"
        )
    _sweep_dead_roots(bases)
    return os.path.join(bases[0], _root_name(spark), *parts)


def iteration_scratch(spark: SparkSession) -> str:
    """A fresh generation ``<root>/iter/<uuid>`` for one iterative call:
    a second call must not overwrite the files backing the first call's
    returned DataFrame."""
    return scratch_path(spark, "iter", uuid.uuid4().hex[:12])


def _local(uri: str) -> str | None:
    """The local path of a plain path or ``file:`` URI, else None."""
    parsed = urlparse(uri)
    if parsed.scheme == "":
        return uri
    return parsed.path if parsed.scheme == "file" else None


def local_scratch_path(spark: SparkSession, name: str) -> str:
    """:func:`scratch_path` leaf as a local path, for stagers that use OS
    file calls (symlink, rename, rmtree); the root is created."""
    root = scratch_path(spark)
    local = _local(root)
    if local is None:
        raise ValueError(
            f"staging with local file calls needs a local scratch root, not "
            f"{root!r}: set spark.analytics.scratchDir to a path or file: URI"
        )
    os.makedirs(local, exist_ok=True)
    return os.path.join(local, name)


def _pid_state(pid_s: str) -> str | None:
    """'dead' | 'alive' | 'unknown' for a pid segment, or None when the
    segment is not a sane pid at all: the ascii+digit guard rejects
    Unicode 'digits' that pass isdigit() but fail int(), and the range
    cap rejects values past the C-long range that make os.kill raise
    OverflowError."""
    if not (pid_s.isascii() and pid_s.isdigit()):
        return None
    pid = int(pid_s)
    if pid > 2**31 - 1:
        return None
    try:
        os.kill(pid, 0)
        return "alive"
    except ProcessLookupError:
        return "dead"
    except PermissionError:
        # EPERM from kill(pid, 0) proves the process EXISTS (we lack
        # signal permission) — POSIX kill(2).  'unknown' would subject a
        # live other-uid process's root to the age-gate rmtree while its
        # returned DataFrames may still be backed by files inside.
        return "alive"
    except OSError:  # anything else — can't probe liveness
        return "unknown"


def _sweep_dead_roots(bases: list[str]) -> None:
    """Once per process and base, delete other processes' roots under
    the local bases: a dead pid's root past ``_DEAD_GRACE_S``, an
    unprobeable pid's root past ``_MAX_AGE_S``.  A live pid's root is
    kept at any age (a long-lived session never refreshes its mtime);
    other names are skipped; remote bases are left to their storage's
    lifecycle rules."""
    now = time.time()
    for base in filter(None, map(_local, bases)):
        if base in _SWEPT:
            continue
        _SWEPT.add(base)
        for path in glob.glob(os.path.join(glob.escape(base), f"{_ROOT_PREFIX}*_*")):
            state = _pid_state(os.path.basename(path)[len(_ROOT_PREFIX):].split("_")[0])
            try:
                age = now - os.path.getmtime(path)
            except OSError:  # deleted by a racing sweeper
                continue
            if (state == "dead" and age > _DEAD_GRACE_S) or (
                state == "unknown" and age > _MAX_AGE_S
            ):
                shutil.rmtree(path, ignore_errors=True)


def _hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for any URI Spark can write."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hpath


def fs_delete(spark: SparkSession, path: str) -> None:
    """Best-effort recursive delete through the Hadoop FileSystem API."""
    try:
        fs, hpath = _hadoop_fs(spark, path)
        fs.delete(hpath, True)
    except Exception:  # cleanup must never fail the computation
        pass


def local_frame(spark: SparkSession, data, schema) -> DataFrame:
    """``data`` (row tuples, or a pandas frame with ``schema``'s columns)
    as a frame typed by ``schema`` (a StructType or a DDL string).

    Driver literals become an Arrow local relation (``LocalTableScan``):
    no Spark job, no pickled Python RDD and no executor-side Python, with
    ``spark.sql.execution.arrow.pyspark.enabled`` on or off.  A row-list
    ``createDataFrame`` is a pickled RDD whose first action forks a Python
    daemon and workers, even for one row or none.  Values go in as
    ``DataType.toInternal`` gives them, so a timestamp is the instant the
    row path and an ``isin`` use (a naive datetime is OS-local time), not
    Arrow's reading of it in the session time zone."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = None if hasattr(data, "columns") else list(data)
    arrays = []
    for i, f in enumerate(schema.fields):
        col = data[f.name] if rows is None else [r[i] for r in rows]
        if f.dataType.needConversion():
            col = [f.dataType.toInternal(v) for v in col]
        arrays.append(pa.array(col, to_arrow_type(f.dataType)))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, names=schema.names), schema)


def materialize(df: DataFrame, path: str, files: int | None = None) -> DataFrame:
    """Write ``df`` to parquet at ``path`` (overwriting), coalesced to
    ``files`` files when given, and re-read it.  The re-read frame cuts
    the plan and carries exact size statistics, so an iterative or
    multi-consumer stage runs the caller's plan once.  It is read with
    ``df``'s own schema, which skips the reader's footer-based schema
    inference (~70 ms of driver work per reader build)."""
    (df if files is None else df.coalesce(files)).write.mode("overwrite").parquet(path)
    return df.sparkSession.read.schema(df.schema).parquet(path)


def reclaim_iteration_scratch(
    spark: SparkSession, keep_latest: bool = True
) -> list[str]:
    """Prune THIS process's superseded iteration-scratch generations.

    :func:`~pyspark_analytics_library_spark.operators.dedup.connected_components`'s
    loop writes a fresh generation under ``<root>/iter/`` per call, so
    generations accumulate in a long-lived application.  This lists
    ``iter/`` under every base :func:`scratch_path` could have used and
    deletes through the Hadoop FileSystem API, so remote deletes are
    real.  Only ``iter/`` is touched: the root's other leaves (sinks,
    bucketed tables) stay.

    ``keep_latest=True`` keeps the most recently modified generation per
    base (backing the LAST returned frame).  ``keep_latest=False`` deletes
    every generation and ``iter/``; frames returned earlier become
    invalid, so persist or collect them first.

    Returns the URIs deleted; unreachable bases and race-lost deletes are
    skipped (reclaim must never fail the computation)."""
    deleted: list[str] = []
    for base in dict.fromkeys(_scratch_bases(spark)):
        try:
            fs, hpath = _hadoop_fs(spark, os.path.join(base, _root_name(spark), "iter"))
            if not fs.exists(hpath):
                continue
            gens = sorted(
                (s for s in fs.listStatus(hpath) if s.isDirectory()),
                key=lambda s: (s.getModificationTime(), str(s.getPath())),
            )
            for gen in gens[:-1] if keep_latest else gens:
                if fs.delete(gen.getPath(), True):
                    deleted.append(str(gen.getPath()))
            if not keep_latest:
                fs.delete(hpath, True)
        except Exception:  # best-effort, like fs_delete
            continue
    return deleted
