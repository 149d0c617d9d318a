"""Manifest-pointer table commits — the object-store-safe sink mode.

:func:`~pyspark_analytics_library_spark.sources.scan_queries._staged_overwrite`'s
rename swap is crash-safe only where directory ``rename`` is atomic
(POSIX local FS, HDFS).  On object stores "rename" is copy+delete: a
crash mid-"rename" leaves a half-copied table that reads as if whole.
This module's committer works there:

* a table is hash-bucketed parquet data files plus one small JSON ROOT
  manifest per committed generation; nothing is ever renamed;
* the commit point is an atomic swap of ONE pointer file
  ``<target>/_CURRENT`` naming the live root — ``os.replace`` locally,
  a single-object PUT on an object store;
* readers resolve pointer → root → file list (:func:`resolve_table`)
  and scan exactly those files, so a reader sees the complete old
  generation or the complete new one, never a mixture.

A failure anywhere before the pointer swap leaves every reader on the
old root; the commit's unreferenced files are reclaimed by
:func:`table_vacuum`.  The table is never absent or truncated.

Layout — Iceberg's manifest-list core, keyed on (partition, bucket): the
root lists one ``manifests/part-*.json`` ref per non-empty group, and
each part holds that group's data-file and tombstone entries.  A commit
rewrites only the parts (and data files) of the groups it touches and
carries every other part BY REFERENCE, so commit-path driver I/O is
O(touched buckets), metered by :data:`MANIFEST_IO`.

Surface: :func:`table_init`, :func:`table_merge` (copy-on-write,
touched buckets only), :func:`table_read`, :func:`table_lookup`,
:func:`table_append`, :func:`table_merge_mor` / :func:`table_delete`
(merge-on-read key tombstones, see :func:`_masked_scan`),
:func:`table_compact`, metadata-only schema evolution
(:func:`table_add_columns`, :func:`table_rename_column`,
:func:`table_drop_column`), a declared partition spec with
:func:`table_drop_partition`, per-file min/max stats pruning,
intra-bucket and z-order clustering, retention
(:func:`table_set_retention`, :func:`table_vacuum`),
:func:`table_stats` and :func:`with_commit_retry`."""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame

from pyspark_analytics_library_spark import conf
from pyspark_analytics_library_spark.sources.io import local_frame

#: Pointer file naming the live root manifest.  The leading underscore
#: keeps Spark/Hadoop readers from picking it up as data if someone
#: scans the target root by mistake.
CURRENT_POINTER = "_CURRENT"

#: Default retention: committed generations kept readable — the live
#: one plus one superseded (readers' grace window + instant rollback).
KEEP_GENERATIONS = 2


def _swap_pointer(target: str, name: str) -> None:
    """Atomically repoint ``_CURRENT`` at root ``name``: write a temp
    file, ``os.replace`` over the pointer.  This is the ONLY mutation of
    shared state in the protocol — one small-file atomic swap, the
    operation object stores provide natively (single-object PUT), so
    nothing here depends on directory rename being atomic."""
    tmp = os.path.join(target, f".{CURRENT_POINTER}.{uuid.uuid4().hex[:8]}")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(name + "\n")
    os.replace(tmp, os.path.join(target, CURRENT_POINTER))


def resolve_table(target: str) -> str:
    """Path of the live root manifest when ``target`` is a manifest
    table, else ``target`` itself (rename-mode tables and plain parquet
    dirs pass through untouched)."""
    ptr = os.path.join(target, CURRENT_POINTER)
    try:
        with open(ptr, encoding="utf-8") as f:
            name = f.read().strip()
    except OSError:
        return target
    # The pointer names a relative child file by contract; reject
    # anything else rather than resolve outside the table root.
    if not name or os.sep in name or name != os.path.basename(name):
        raise ValueError(f"corrupt {CURRENT_POINTER} in {target}: {name!r}")
    return os.path.join(target, name)


# ---------------------------------------------------------------------------
# Per-FILE manifests.  Data files live under
# ``<target>/data/<commit-id>/bucket=<b>/``, hash-bucketed by the merge
# key (``pmod(xxhash64(key), n_buckets)``), so "which files can contain
# key k" is pure arithmetic.  A generation is a ROOT
# ``<target>/manifest-<seq>-<uuid>.json`` (bucket spec, schema,
# properties, one part ref per non-empty (partition, bucket)); parts
# under ``<target>/manifests/`` list each data file and tombstone.
# n_buckets (``table_init``, default 16) is the rewrite granularity:
# size it so a bucket is a few GB (100 TB / 32k buckets ≈ 3 GB).
# ---------------------------------------------------------------------------

MANIFEST_PREFIX = "manifest-"
DATA_DIR = "data"

#: Directory holding manifest part files (one per (partition, bucket)).
PARTS_DIR = "manifests"

#: Observability/test counter for driver-side manifest I/O: every JSON
#: read of a root manifest or part file adds here.  The manifest-list
#: contract — merges/lookups/pruned reads parse O(touched buckets),
#: not O(table files) — is asserted against ``part_reads``/``bytes``
#: (reset it, run the op, inspect).  Driver-side only, test scoped; a
#: concurrent in-process reader would share it, which is fine for its
#: purpose.
MANIFEST_IO = {"reads": 0, "part_reads": 0, "bytes": 0}


def _read_json(path: str) -> dict:
    """A manifest/part JSON document, with driver-side I/O accounted
    in :data:`MANIFEST_IO` — the manifest-list layout exists exactly
    to bound this I/O, so it is measured, not assumed."""
    import json

    with open(path, encoding="utf-8") as f:
        raw = f.read()
    MANIFEST_IO["reads"] += 1
    MANIFEST_IO["bytes"] += len(raw)
    if os.path.basename(path).startswith("part-"):
        MANIFEST_IO["part_reads"] += 1
    return json.loads(raw)


def _bucket_expr(key: str, n_buckets: int):
    """Deterministic bucket id for a merge key — identical arithmetic
    writer- and reader-side, so bucket routing needs no lookup."""
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets))


# ---------------------------------------------------------------------------
# PARTITION SPEC — declared table partitioning.  Per-file min/max stats
# prune well only under time-ordered ingest, while a declared partition
# drops whole directories from planning BEFORE any stats pass, survives
# compaction reshuffles and late data, and gives retention a
# partition-granular drop primitive.
#
# Layout: data files gain one directory level —
# ``data/<commit>/_part=<value>/bucket=<b>/part-*.parquet`` — and every
# manifest entry / part ref carries its partition value, so the grouping
# key everywhere is (partition, bucket) (:func:`_gkey`; ``part`` is None
# on unpartitioned tables).
#
# Tombstones are deliberately PARTITION-LESS (gkey (None, bucket)):
# masking is keyed on the bucket key and an update may MOVE a row's
# partition value, so a tombstone must mask the old row in whatever
# partition it lies.  Compaction of a tombstoned bucket is therefore
# bucket-wide; pure small-file packing stays partition-local.
# ---------------------------------------------------------------------------

#: Directory/manifest encoding of a NULL partition value (Hive's).
NULL_PART = "__HIVE_DEFAULT_PARTITION__"

#: Supported partition transforms (Iceberg's core three).
_TRANSFORMS = ("identity", "day", "month")


def _gkey(e: dict) -> tuple:
    """The (partition, bucket) grouping key of a manifest entry or
    part ref — THE unit of incremental rewrite.
    ``part`` is absent/None on unpartitioned tables and tombstones."""
    return (e.get("part"), e["bucket"])


def _part_spec(man: dict):
    """The table's recorded (partition column, transform), or None."""
    col = man.get("partition_by")
    return (col, man.get("partition_transform") or "identity") if col else None


def _cluster_cols(man: dict) -> list[str]:
    """The table's recorded clustering columns; a single column may be
    recorded as a string, which counts as a 1-list."""
    cb = man.get("cluster_by")
    return [cb] if isinstance(cb, str) else list(cb or ())


def _part_expr(df: DataFrame, col: str, transform: str):
    """The ``_part`` helper column: the TRANSFORMED partition value as
    a string (directory-safe for day/month; identity is cast).  NULL
    source values map to :data:`NULL_PART` explicitly so the manifest
    records the same token the directory layout uses."""
    from pyspark.sql import functions as F

    dt = df.schema[col].dataType.typeName()
    if transform == "day":
        if dt not in ("date", "timestamp", "timestamp_ntz"):
            raise ValueError(
                f"partition transform 'day' needs a date/timestamp column; "
                f"{col!r} is {dt}"
            )
        v = F.date_format(F.col(col), "yyyy-MM-dd")
    elif transform == "month":
        if dt not in ("date", "timestamp", "timestamp_ntz"):
            raise ValueError(
                f"partition transform 'month' needs a date/timestamp column; "
                f"{col!r} is {dt}"
            )
        v = F.date_format(F.col(col), "yyyy-MM")
    elif transform == "identity":
        if dt in ("array", "map", "struct", "binary"):
            raise ValueError(
                f"identity partitioning needs an atomic column; {col!r} is {dt}"
            )
        v = F.col(col).cast("string")
    else:
        raise ValueError(
            f"unknown partition transform {transform!r}; supported: "
            f"{_TRANSFORMS}"
        )
    return F.coalesce(v, F.lit(NULL_PART))


def _part_value(transform: str, v) -> str | None:
    """A predicate bound mapped into partition-value space (the same
    encoding :func:`_part_expr` writes), for partition pruning.  None =
    unmappable → do not prune on this bound."""
    import datetime

    if v is None:
        return None
    if transform in ("day", "month"):
        need = 10 if transform == "day" else 7
        if isinstance(v, datetime.datetime):
            s = v.strftime("%Y-%m-%d")
        elif isinstance(v, datetime.date):
            s = v.isoformat()
        elif isinstance(v, str) and len(v) >= need:
            # A shorter string bound (e.g. '2024-01' against a day
            # transform) would compare lossily against full-width
            # partition values — unmappable, don't prune.
            s = v
        else:
            return None
        return s[:need]
    if transform == "identity":
        # Only encodings PROVABLY identical to Spark's cast-to-string:
        # bool/int/str/date.  Floats (scientific-notation drift:
        # Python '1e-07' vs Spark '1.0E-7') and datetimes (separator /
        # zero-fraction drift) are unmappable → no pruning on them.
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, int) or isinstance(v, str):
            return str(v)
        if isinstance(v, datetime.datetime):
            return None
        if isinstance(v, datetime.date):
            return v.isoformat()
        return None
    return None


#: Identity transforms whose STRING encoding preserves the column's
#: value ordering — the only ones range-pruning may use (a numeric
#: identity partition is equality-prunable only: "10" < "9").
_IDENTITY_RANGE_OK = ("string", "date")


#: Max columns per file that get min/max stats in the manifest
#: (Iceberg's write.metadata.metrics default caps similarly): keeps a
#: wide table's manifest from bloating linearly in column count.
STATS_MAX_COLS = 16

#: JSON-safe stat encodings by Arrow type family.  Only types whose
#: encoded ordering equals the value ordering are recorded — pruning
#: compares encoded bounds, so a lossy encoding would skip live files.
_STATS_OK = ("int", "uint", "float", "double", "string", "large_string",
             "date", "timestamp")


#: Max recorded length for STRING bounds in manifest stats (Iceberg's
#: write.metadata.truncate): long comment-class bounds dominate manifest
#: size while pruning on them almost never fires past a short prefix.
#: 32 keeps the 26-char fixed-width datetime encodings intact.
_STR_BOUND_MAX = 32


def _trunc_lower(s: str) -> str:
    """A lower bound truncated to a prefix stays a valid lower bound
    (a proper prefix orders BEFORE the full string)."""
    return s[:_STR_BOUND_MAX]


def _successor(p: str) -> str | None:
    """The shortest string ordering after every string that starts with
    ``p``: its last char incremented, carrying left past U+10FFFF; None
    when no such string exists."""
    while p:
        c = ord(p[-1])
        if c < 0x10FFFF:
            return p[:-1] + chr(c + 1)
        p = p[:-1]
    return None


def _trunc_upper(s: str):
    """An upper bound must ROUND UP when truncated (the bare prefix
    would order below the true max — a lossy prune): the kept prefix's
    :func:`_successor`; None (= unknown, keep the file) if
    unrepresentable."""
    return s if len(s) <= _STR_BOUND_MAX else _successor(s[:_STR_BOUND_MAX])


def _json_stat(v):
    """A parquet footer statistic as a JSON value whose natural Python
    ordering matches the column ordering.  Datetimes are normalized to
    a FIXED-WIDTH tz-less UTC ISO string (bare ``isoformat()`` appends
    offsets and drops zero microseconds, so a tz-aware footer stat vs a
    naive query bound compared lexicographically could lossily prune a
    live file); naive inputs are taken as UTC, the session timezone."""
    import datetime

    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()  # already fixed-width YYYY-MM-DD
    if isinstance(v, bytes):
        return None  # undecoded binary: order not JSON-preservable
    return v


def _file_stats(full_path: str, key: str) -> dict[str, list]:
    """Per-column [min, max] from a parquet file's FOOTER (row-group stats
    merged), plus the row count under ``_rows`` and per-column NULL counts
    under ``_nulls`` (both popped by the caller: compaction's capacity rule
    needs rows, and the merge-on-read clean/dirty split needs the key's
    null count because [min, max] never covers NULLs).  Metadata-only.
    Columns beyond :data:`STATS_MAX_COLS` (except the bucket ``key``,
    always recorded: masking and point lookups prune on it),
    nested/binary columns, and columns with no footer stats are absent,
    which pruning treats as unknown → keep the file."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(full_path).metadata
    schema = md.schema.to_arrow_schema()
    nulls: dict[str, int] = {}
    out: dict[str, list] = {"_rows": md.num_rows, "_nulls": nulls}
    if md.num_columns != len(schema):
        # Nested columns flatten into extra footer leaves, breaking the
        # index correspondence below — record no stats rather than
        # mis-attribute bounds (pruning treats absent as keep).
        return out
    # Footer column index == arrow schema index for flat schemas.
    cols = [
        (i, f.name)
        for i, f in enumerate(schema)
        if any(str(f.type).startswith(t) for t in _STATS_OK)
    ]
    cols = [c for n, c in enumerate(cols) if n < STATS_MAX_COLS or c[1] == key]
    for ci, name in cols:
        mn = mx = None
        ok = True
        nc: int | None = 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None:
                ok = False
                nc = None
                break
            # Null counts accumulate independently of min/max success:
            # an ALL-NULL column legitimately has no min/max but its
            # null count is exactly what the MoR split must know.
            if nc is not None:
                nc = None if st.null_count is None else nc + st.null_count
            if not st.has_min_max:
                ok = False
                continue
            lo, hi = _json_stat(st.min), _json_stat(st.max)
            if lo is None or hi is None:
                ok = False
                continue
            mn = lo if mn is None or lo < mn else mn
            mx = hi if mx is None or hi > mx else mx
        if nc is not None:
            nulls[name] = nc
        if ok and mn is not None:
            if isinstance(mn, str) and isinstance(mx, str):
                mn, mx = _trunc_lower(mn), _trunc_upper(mx)
                if mx is None:
                    continue  # untruncatable upper bound: record none
            out[name] = [mn, mx]
    return out


#: Quantile cells per z-order dimension (6 bits).  Cell granularity
#: only needs to exceed files-per-bucket (the z-range slice count the
#: file splitter produces); 64 covers any sane max_records_per_file.
_Z_CELLS = 64


def _zorder_expr(df: DataFrame, cols: list[str]):
    """12-bit Z-value (bit-interleaved QUANTILE ranks) over 2 or 3
    numeric/temporal columns — the intra-bucket MULTI-column sort key
    (Delta's OPTIMIZE ZORDER).  Two columns interleave 6-bit ranks (64
    cells each); three interleave 4-bit ranks (16 cells), keeping the same
    12-bit budget.  Interleaving keeps locality on every dimension, where
    a lexicographic sort serves only the leading column.

    Ranks are quantile CELLS, not min/max scaling: a skewed distribution
    compresses most rows into a sliver of the min/max range (a 1.5 M-row
    probe kept 88 % of files on the price dimension under min/max vs
    ~30 % under quantile cells).  ONE tiny agg job computes 63 boundaries
    per column; the per-row rank is a 63-comparison fold over an array
    literal and the bits interleave as a static JVM expression — no UDF.
    The z-value orders the PHYSICAL layout only and is never stored, so
    per-commit normalization is harmless."""
    from pyspark.sql import functions as F

    def as_double(c):
        dt = df.schema[c].dataType.typeName()
        if dt in ("date", "timestamp", "timestamp_ntz"):
            return F.col(c).cast("timestamp").cast("double")
        if dt in ("string", "binary", "boolean", "array", "map", "struct"):
            raise ValueError(
                f"z-order clustering needs numeric/temporal columns; {c!r} "
                f"is {dt}"
            )
        return F.col(c).cast("double")

    cells = _Z_CELLS if len(cols) <= 2 else 16
    qs = [i / cells for i in range(1, cells)]
    brow = df.agg(
        *[
            F.percentile_approx(as_double(c), qs).alias(f"_q{i}")
            for i, c in enumerate(cols)
        ]
    ).first()
    ranks = []
    for i, c in enumerate(cols):
        bounds = [float(b) for b in (brow[i] or []) if b is not None]
        if not bounds or bounds[0] == bounds[-1]:
            ranks.append(F.lit(0).cast("long"))
            continue
        arr = F.array(*[F.lit(b) for b in bounds])
        v = as_double(c)
        rank = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc + F.when(v > b, 1).otherwise(0),
        )
        ranks.append(rank.cast("long"))
    bits = (cells - 1).bit_length()
    z = F.lit(0).cast("long")
    for bit in range(bits):
        for j, u in enumerate(ranks):
            z = z + F.shiftleft(
                F.shiftright(u, bit).bitwiseAND(F.lit(1)),
                bit * len(ranks) + j,
            )
    return z


#: Helper column names the bucketed write adds, so no table column may
#: take them.
_RESERVED = ("bucket", "_zorder", "_part")


def _write_bucketed(
    df: DataFrame, target: str, man: dict, layout: bool = True
) -> list[dict]:
    """Write ``df`` hash-bucketed by the table's bucket key under a fresh
    commit dir; return manifest entries
    [{"path": rel, "bucket": b, "gen": gen, "stats": {col: [mn, mx]}}].

    ``man`` is the root the commit builds on.  It gives the bucket key
    and count, the ``gen`` the entries are stamped with (the commit's
    sequence, :func:`_next_seq`; merge-on-read orders delta rows against
    tombstones by it) and, with ``layout``, the table's clustering and
    partition spec.  ``layout=False`` is the tombstone-only write: a
    key-only frame, partition-less by design (see the partition-spec
    banner).

    ``partitionBy`` lays files out as ``bucket=<b>/part-*.parquet``, under
    a ``_part=<value>/`` level on partitioned tables, and DROPS the
    helper columns; readers get the original schema back because
    :func:`table_read` passes explicit leaf files (no partition-column
    inference).  One hash repartition on those directory columns puts
    each (partition, bucket) group in one task, so every non-empty group
    gets one file (``max_records_per_file`` splits further).  The write
    runs one task per shuffle partition, not one per bucket: a small
    commit into many buckets pays a few tasks, each writing several
    buckets' files.

    ``stats`` carries per-file footer min/max for range pruning bucket
    arithmetic can't do; the bucket key always gets its stats (see
    :func:`_file_stats`), so :func:`table_merge_mor` can list these same
    entries as tombstones."""
    for reserved in _RESERVED:
        if reserved in df.columns:
            # The helper column would collide (partitionBy would route
            # on the caller's data instead of the key hash; the sort
            # key would shadow theirs) — refuse loudly.
            raise ValueError(
                f"per-file manifest tables reserve the column name "
                f"{reserved!r}; rename that column before "
                "table_init/table_merge"
            )
    key, gen = man["bucket_key"], _next_seq(man)
    props = man if layout else {}
    part_spec, cluster_by = _part_spec(props), _cluster_cols(props)
    commit_id = f"c-{uuid.uuid4().hex[:12]}"
    commit_dir = os.path.join(target, DATA_DIR, commit_id)
    try:
        staged = df.withColumn("bucket", _bucket_expr(key, int(man["n_buckets"])))
        part_dirs = ["bucket"]
        if part_spec is not None:
            staged = staged.withColumn("_part", _part_expr(df, *part_spec))
            part_dirs = ["_part", "bucket"]
        staged = staged.repartition(*part_dirs)
        if len(cluster_by) == 1:
            # Intra-bucket CLUSTERING: sort each group by the cluster
            # column and split on row count — consecutive files then
            # carry near-disjoint [min, max] for it, so the manifest
            # stats prune RANGE reads WITHIN a bucket.
            staged = staged.sortWithinPartitions(*part_dirs, cluster_by[0])
        elif cluster_by:
            # MULTI-column clustering: sort each group by the
            # bit-interleaved Z-value of the listed columns — locality on
            # every listed dimension, so per-file stats prune range reads
            # on ANY of them.  The helper column is sort-only: projected
            # away before the write (a narrow projection preserves the
            # per-partition order).
            if len(cluster_by) not in (2, 3):
                raise ValueError(
                    "z-order clustering supports 2 or 3 columns; got "
                    f"{cluster_by!r}"
                )
            staged = (
                staged.withColumn("_zorder", _zorder_expr(df, cluster_by))
                .sortWithinPartitions(*part_dirs, "_zorder")
                .drop("_zorder")
            )
        writer = staged.write.partitionBy(*part_dirs).mode("overwrite")
        if props.get("max_records_per_file") is not None:
            writer = writer.option("maxRecordsPerFile", props["max_records_per_file"])
        writer.parquet(commit_dir)
    except BaseException:
        shutil.rmtree(commit_dir, ignore_errors=True)
        raise
    from urllib.parse import unquote

    entries = []
    for dirpath, _dirnames, filenames in sorted(os.walk(commit_dir)):
        base = os.path.basename(dirpath)
        if not base.startswith("bucket="):
            continue
        b = int(base.split("=", 1)[1])
        # Partitioned layouts nest bucket dirs under ``_part=<value>``;
        # Spark percent-escapes special chars in partition dir names
        # (Hive style) — unquote restores the recorded value.
        parent = os.path.basename(os.path.dirname(dirpath))
        part = (
            unquote(parent.split("=", 1)[1])
            if parent.startswith("_part=")
            else None
        )
        rel_dir = os.path.relpath(dirpath, target).replace(os.sep, "/")
        for fn in sorted(filenames):
            if fn.endswith(".parquet"):
                full = os.path.join(dirpath, fn)
                stats = _file_stats(full, key)
                nulls = stats.pop("_nulls", {})
                e = {
                    "path": f"{rel_dir}/{fn}",
                    "bucket": b,
                    "gen": gen,
                    "rows": stats.pop("_rows"),
                    "bytes": os.path.getsize(full),
                    # NULL count of the bucket key: the
                    # clean/dirty MoR split needs it because footer
                    # [min, max] never covers NULLs — absent/None =
                    # unknown = assume NULLs present (never lossy).
                    "key_nulls": nulls.get(key),
                    "stats": stats,
                }
                if part is not None:
                    e["part"] = part
                entries.append(e)
    return entries


class ConcurrentCommitError(RuntimeError):
    """The table's live manifest moved between an op's read of it and its
    commit point — another writer committed in between.  Committing
    anyway would silently DROP the other writer's changes.  The op's data
    files are orphans (pruned later); re-read and retry — optimistic
    concurrency, as lakehouse formats run it.

    On a local FS the check-then-swap keeps a race window of microseconds
    (no portable compare-and-swap over ``os.replace``); an object store
    closes it with a conditional PUT (ETag/If-Match) on ``_CURRENT``,
    which is where this check sits."""


def _live_manifest_name(target: str) -> str:
    """Basename of the live manifest file (pointer contents)."""
    return os.path.basename(resolve_table(target))


#: ``expect_current`` sentinel for "the table had NO pointer when this
#: commit started" (a fresh table_init).
_ABSENT = "<absent>"

#: Age (seconds) below which a file referenced by NO manifest is left
#: alone by :func:`table_vacuum`: it may belong to an IN-FLIGHT commit
#: whose manifest has not been written yet (a concurrent writer's sweep
#: could otherwise unlink files another writer's Spark job is writing).
#: Crashed-commit orphans are reclaimed by the first vacuum past it.
ORPHAN_GRACE_S = 3600.0


def _commit_manifest(target: str, manifest: dict, expect_current: str) -> str:
    """Write a new root manifest and atomically repoint ``_CURRENT`` at it —
    the commit point.  Raise :class:`ConcurrentCommitError` if the pointer
    moved off ``expect_current`` (or appeared when :data:`_ABSENT` was
    expected).

    The candidate lives at a DOT-PREFIXED temp name (excluded from every
    ``MANIFEST_PREFIX`` listing) until the check passes: visible under its
    final name, an uncommitted manifest could win a retention slot in a
    CONCURRENT writer's ``_prune_manifests`` (it sorts by seq and carries
    the highest) and evict the genuine previous generation.  It is removed
    on every non-commit exit."""
    import json

    # The commit SEQUENCE rides the FILENAME: retention ordering then
    # needs a directory listing, not a JSON parse per root (the roots
    # are the table's largest JSON documents, and the pruner sorts them
    # on every commit).  Zero-padded so lexicographic = numeric.
    seq = int(manifest["seq"])
    name = f"{MANIFEST_PREFIX}{seq:010d}-{uuid.uuid4().hex[:12]}.json"
    tmp = os.path.join(target, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(manifest, f)
    try:
        ptr_exists = os.path.exists(os.path.join(target, CURRENT_POINTER))
        ok = (
            not ptr_exists
            if expect_current == _ABSENT
            else ptr_exists and _live_manifest_name(target) == expect_current
        )
        if not ok:
            raise ConcurrentCommitError(
                f"{target}: live manifest moved off {expect_current!r} "
                "during the commit — another writer committed; re-read "
                "and retry"
            )
        # Commit point: manifest becomes visible under its final name
        # only here, then the pointer swings to it.
        os.replace(tmp, os.path.join(target, name))
        _swap_pointer(target, name)
    except BaseException:
        for p in (tmp, os.path.join(target, name)):
            try:
                os.remove(p)
            except OSError:
                pass
        raise
    _prune_manifests(target, name, cur_man=manifest)
    return name


def _manifest_seq(path: str) -> int:
    """Commit sequence recorded in a manifest (−1 when unreadable or
    pre-seq) — the deterministic retention/time-travel order.  mtime
    is NOT used: its granularity (1 s on some filesystems) and clock
    skew on shared stores can misorder close commits.  The sequence is
    embedded in the filename (``manifest-<seq10>-<uuid>.json``) so
    ordering needs no JSON parse; other names fall back to reading the
    document."""
    import re as _re

    m = _re.match(rf"{MANIFEST_PREFIX}(\d{{10}})-", os.path.basename(path))
    if m:
        return int(m.group(1))
    try:
        return int(_read_json(path).get("seq", -1))
    except (OSError, ValueError, TypeError):
        return -1


def _retention(
    target: str, live: str, man: dict | None
) -> tuple[list[str], list[str]]:
    """(retained, expired) root names of ``target`` — THE retention
    rule :func:`table_history`, :func:`_prune_manifests` and
    :func:`table_vacuum` share: the live root ``live`` first, then the
    other roots newest first by commit sequence, split after the
    table's ``keep_generations`` (recorded in the live root ``man``;
    :data:`KEEP_GENERATIONS` when None)."""
    others = sorted(
        (n for n in os.listdir(target) if n.startswith(MANIFEST_PREFIX) and n != live),
        key=lambda n: _manifest_seq(os.path.join(target, n)),
        reverse=True,
    )
    keep_n = int((man or {}).get("keep_generations") or KEEP_GENERATIONS)
    return [live] + others[: keep_n - 1], others[keep_n - 1 :]


def _read_root(path: str) -> dict:
    """A ROOT manifest — the manifest LIST: table metadata plus one
    part ref per (partition, bucket), O(buckets) not O(files); entry
    listings load on demand through :func:`_man_entries`.  A document
    without a ``parts`` list (e.g. an inline-layout root written by an
    older version) is refused by name rather than misread."""
    man = _read_json(path)
    if not isinstance(man.get("parts"), list):
        raise ValueError(
            f"{path} is not a manifest-list root (no 'parts' list); "
            "re-seed the table with table_init() into a fresh target"
        )
    return man


def _load_manifest(target: str) -> tuple[str, dict]:
    """The live ROOT's (name, manifest dict) for a table, from ONE
    pointer read.  Every commit op checks its commit point against
    this name: a second read could see a newer root than the one the
    op builds on, and refuse a commit that raced nothing."""
    live = resolve_table(target)
    base = os.path.basename(live)
    if not base.startswith(MANIFEST_PREFIX):
        raise ValueError(
            f"{target} is not a per-file manifest table (pointer names "
            f"{base!r}); seed it with table_init() first"
        )
    return base, _read_root(live)


def _schema(man: dict):
    """The table schema ``man`` records — the one parse of it."""
    import json

    from pyspark.sql.types import StructType

    return StructType.fromJson(json.loads(man["schema"]))


def _schema_shape(st):
    """Comparable (name, type) list; nullability excluded — unions
    legitimately widen it and parquet self-describes it per file."""
    return [(f.name, f.dataType) for f in st.fields]


# ---------------------------------------------------------------------------
# Manifest list: root + per-(partition, bucket) parts.  A table of
# millions of files in one document would make every commit/lookup a
# several-hundred-MB driver-side JSON parse.  A merge/lookup/pruned
# read parses the root plus ONLY the touched groups' parts; untouched
# parts are carried into the next root BY REFERENCE.
# ---------------------------------------------------------------------------


def _write_part(
    target: str,
    bucket: int,
    files: list[dict],
    tombs: list[dict],
    part: str | None = None,
) -> dict:
    """Write one group's manifest PART file and return its root-level ref,
    which carries what commit-path planning needs (entry counts, summed
    rows/bytes) so the part loads only when its group is touched or
    scanned.  NO column stats at the ref level: hash routing mixes every
    bucket, so a part's column union spans the full domain — ref-level
    bounds would cost root bytes and never prune.  Parts are immutable and
    unreferenced until the root commits; a crash leaves an orphan for
    vacuum, never a visible state."""
    import json

    os.makedirs(os.path.join(target, PARTS_DIR), exist_ok=True)
    name = f"part-{uuid.uuid4().hex[:12]}.json"
    rel = f"{PARTS_DIR}/{name}"
    full = os.path.join(target, rel)
    tmp = full + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"bucket": bucket, "files": files, "tombstones": tombs}, f)
    os.replace(tmp, full)
    ref = {
        "path": rel,
        "bucket": bucket,
        "files": len(files),
        "tombstones": len(tombs),
        "rows": sum(e["rows"] for e in files),
        "bytes": sum(e["bytes"] for e in files),
    }
    if part is not None:
        # Partitioned tables key parts (partition, bucket) so a
        # partition-pruned read loads ONLY that partition's part files.
        ref["part"] = part
    return ref


def _man_entries(
    target: str, man: dict, buckets=None, partitions=None, gkeys=None
) -> tuple[list[dict], list[dict]]:
    """The (data files, tombstones) a manifest makes visible, restricted to
    ``buckets`` / ``partitions`` / exact ``gkeys`` when given — the ONE
    accessor every op reads listings through.  Only the parts surviving
    the filters are loaded; an unrestricted read parses all parts.

    TOMBSTONES are partition-less and mask rows in ANY partition of their
    bucket, so the ``partitions`` filter applies to data files only.  The
    exact-``gkeys`` filter (compaction's unit selector) is literal:
    tombstones are returned only when their own (None, bucket) gkey is
    listed."""
    if partitions is not None and not callable(partitions):
        partitions = (lambda s: (lambda p: p in s))(set(partitions))

    def want_file(e) -> bool:
        if buckets is not None and e["bucket"] not in buckets:
            return False
        if partitions is not None and not partitions(e.get("part")):
            return False
        if gkeys is not None and _gkey(e) not in gkeys:
            return False
        return True

    def want_tomb(t) -> bool:
        if buckets is not None and t["bucket"] not in buckets:
            return False
        if gkeys is not None and _gkey(t) not in gkeys:
            return False
        return True

    files, tombs = [], []
    for ref in man["parts"]:
        # A part holds one gkey's listings: data-file filters apply to
        # refs carrying data, tombstone filters to refs carrying
        # tombstones; a mixed (pre-partitioning) part loads if either
        # side wants it — the entry-level filters below still apply.
        load = (ref["files"] > 0 and want_file(ref)) or (
            ref["tombstones"] > 0 and want_tomb(ref)
        )
        if not load:
            continue
        doc = _read_json(os.path.join(target, ref["path"]))
        files.extend(e for e in doc["files"] if want_file(e))
        tombs.extend(t for t in doc["tombstones"] if want_tomb(t))
    return files, tombs


def _man_update(target: str, man: dict, touched: dict) -> dict:
    """A new manifest dict with each touched GKEY's — (partition,
    bucket); see :func:`_gkey` — (files, tombstones) listing replaced
    WHOLESALE by ``touched[gkey]``; untouched gkeys carry over by part
    REFERENCE (no reread, no rewrite).  Gkeys whose new listing is
    empty simply vanish (no empty parts)."""
    parts = [r for r in man["parts"] if _gkey(r) not in touched]
    for p, b in sorted(touched, key=lambda g: (g[0] or "", g[1])):
        fs, ts = touched[(p, b)]
        if fs or ts:
            parts.append(_write_part(target, b, fs, ts, part=p))
    parts.sort(key=lambda r: (r.get("part") or "", r["bucket"]))
    return dict(man, parts=parts)


def _next_seq(man: dict) -> int:
    """The commit sequence of the generation built on root ``man`` —
    the ``gen`` its data files are stamped with."""
    return int(man["seq"]) + 1


def _commit(
    target: str, base: str, man: dict, touched: dict | None = None, **props
) -> dict:
    """THE commit path of every op: the next root is ``man`` with
    ``props`` set, each ``touched`` gkey's listing rewritten
    (:func:`_man_update`) and the sequence advanced (:func:`_next_seq`);
    it lands only while ``_CURRENT`` still names ``base``, the root
    ``man`` was read from.  Returns the committed root."""
    new = dict(man, **props, seq=_next_seq(man))
    if touched is not None:
        new = _man_update(target, new, touched)
    _commit_manifest(target, new, expect_current=base)
    return new


def _listings(files=(), tombs=(), gkeys=()) -> dict:
    """Per-GKEY (files, tombstones) listings of ``files`` and ``tombs`` —
    the ``touched`` argument of :func:`_commit`, which replaces each
    listed group wholesale.  Every gkey in ``gkeys`` is listed even when
    no entry lands there, so a rewritten group with no new files
    vanishes from the root."""
    listing: dict[tuple, tuple[list, list]] = {g: ([], []) for g in gkeys}
    for e in files:
        listing.setdefault(_gkey(e), ([], []))[0].append(e)
    for t in tombs:
        listing.setdefault(_gkey(t), ([], []))[1].append(t)
    return listing


def _group_listings(target: str, man: dict, new_files=(), new_tombs=()) -> dict:
    """Per-GKEY (files, tombstones) listings composing the OLD
    listings — loaded only for the gkeys the new entries touch — with
    the new entries appended: the shared commit shape of append /
    merge-on-read / delete, none of which rewrites an existing
    entry."""
    gkeys = {_gkey(e) for e in new_files} | {_gkey(t) for t in new_tombs}
    old_files, old_tombs = _man_entries(target, man, gkeys=gkeys)
    return _listings([*old_files, *new_files], [*old_tombs, *new_tombs])


def _man_file_count(man: dict) -> int:
    """Total data files a manifest lists, without loading parts."""
    return sum(ref["files"] for ref in man["parts"])


def _man_tomb_count(man: dict) -> int:
    """Total tombstone files a manifest lists, without loading parts."""
    return sum(ref["tombstones"] for ref in man["parts"])


def table_init(
    df: DataFrame,
    target: str,
    bucket_key: str,
    n_buckets: int = 16,
    cluster_by: str | None = None,
    max_records_per_file: int | None = None,
    keep_generations: int = KEEP_GENERATIONS,
    partition_by: str | None = None,
    partition_transform: str = "identity",
) -> dict:
    """(Re)seed ``target`` as a v2 per-file manifest table from ``df``.

    A full bucketed write + manifest commit — the ONE whole-table write;
    later commits are incremental.  Re-seeding an existing v2 table is an
    ordinary commit with the same optimistic-concurrency check as
    :func:`table_merge`.  Refuses a pointerless non-empty target (a
    rename-mode parquet table): nesting a manifest layout inside a live
    flat table would leave bare-path readers seeing mixed content.

    ``keep_generations`` (default :data:`KEEP_GENERATIONS`) is the table's
    RETENTION property: how many committed generations (live included)
    stay readable for time travel / rollback; see
    :func:`table_set_retention`.

    ``partition_by`` + ``partition_transform`` (``identity`` | ``day`` |
    ``month``; day/month need a date/timestamp column) declare the
    PARTITION SPEC: data files gain a ``_part=<transform(col)>/`` level,
    entries and parts are keyed (partition, bucket), reads prune
    partitions BEFORE any file-stats pass, retention gains
    :func:`table_drop_partition`, and small-file compaction goes
    partition-local.  Fixed at init like the bucket spec."""
    ptr_exists = os.path.exists(os.path.join(target, CURRENT_POINTER))
    if os.path.isdir(target) and os.listdir(target) and not ptr_exists:
        raise ValueError(
            f"{target} holds a non-manifest (rename-mode) table; refusing "
            "to nest a manifest layout inside it — clear it or pick "
            "another target"
        )
    # A re-seed carries only the sequence of the root it replaces.
    expected, prev = _ABSENT, {"seq": -1}
    if ptr_exists:
        expected, cur = _load_manifest(target)
        prev = {"seq": cur["seq"]}
    if keep_generations < 1:
        raise ValueError("keep_generations must be >= 1 (the live manifest)")
    if partition_by is not None:
        if partition_transform not in _TRANSFORMS:
            raise ValueError(
                f"unknown partition transform {partition_transform!r}; "
                f"supported: {_TRANSFORMS}"
            )
        if partition_by not in df.columns:
            raise ValueError(
                f"partition_by column {partition_by!r} not in the table "
                f"schema {df.columns}"
            )
    # Clustering and the partition spec are TABLE PROPERTIES: recorded
    # here and honored by every later rewriting commit, which reads them
    # from the root it builds on (:func:`_write_bucketed`).
    man = dict(
        prev,
        version=2,
        bucket_key=bucket_key,
        n_buckets=n_buckets,
        cluster_by=cluster_by,
        max_records_per_file=max_records_per_file,
        keep_generations=int(keep_generations),
        partition_by=partition_by,
        partition_transform=partition_transform if partition_by else None,
        schema=df.schema.json(),
        parts=[],
    )
    os.makedirs(target, exist_ok=True)
    entries = _write_bucketed(df, target, man)
    _commit(target, expected, man, _listings(entries))
    return {"files": len(entries), "n_buckets": n_buckets}


def table_history(target: str) -> list[str]:
    """Manifest names retained for ``target``, newest first, live
    manifest first — the time-travel surface.  Bounded by the table's
    ``keep_generations`` RETENTION property (default
    :data:`KEEP_GENERATIONS` = live + one superseded) — raise it at init
    or with :func:`table_set_retention`."""
    retained, expired = _retention(target, _live_manifest_name(target), None)
    return retained + expired


def _scan_coalesce(spark, items: list[dict]) -> int:
    """Task count for scanning ``items``' files: enough partitions to
    fill the cluster and to keep ``spark.sql.files.maxPartitionBytes``
    (default 128 MiB) per task of the entries' recorded bytes, but
    never one task per tiny file, and never below the cluster's default
    parallelism."""
    max_bytes = conf.size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    )
    total = sum(e["bytes"] for e in items)
    return max(spark.sparkContext.defaultParallelism, -(-total // max_bytes))


def _ranges_may_intersect(a, b) -> bool:
    """May two manifest [min, max] ranges share a value?  True when
    either is unknown or the encodings are incomparable — the split
    below must never be lossy.  Both sides come from the SAME column
    of the same table, so the :func:`_json_stat` encodings are one
    family and compare faithfully."""
    if not a or not b:
        return True
    try:
        return not (a[0] > b[1] or b[0] > a[1])
    except TypeError:
        return True


def _may_mask(entry: dict, tomb: dict, key: str) -> bool:
    """May tombstone ``tomb`` mask any row of data file ``entry``?
    False only on PROOF of impossibility — the scan-pruning core of
    the merge-on-read read path:

    * gen ordering: a tombstone at gen <= the file's gen masks nothing
      in it (masking is strictly newest-wins);
    * key ranges: footer [min, max] of the bucket key disjoint →
      no shared non-NULL key;
    * NULLs: footer ranges never cover NULLs, so disjoint ranges prove
      nothing about a NULL-key row — both files must be null-FREE
      (``key_nulls == 0``; absent/None = unknown = may mask) for the
      range argument to close.
    """
    if int(tomb.get("gen", 0)) <= int(entry.get("gen", 0)):
        return False
    e_nulls, t_nulls = entry.get("key_nulls"), tomb.get("key_nulls")
    if (e_nulls is None or e_nulls > 0) and (t_nulls is None or t_nulls > 0):
        return True  # a NULL-key row could meet a NULL tombstone
    return _ranges_may_intersect(
        entry.get("stats", {}).get(key), tomb.get("stats", {}).get(key)
    )


def _mask_split(man: dict, entries: list[dict], tombstones: list[dict]):
    """Partition ``entries`` into (clean, dirty, relevant_tombstones):
    a file is CLEAN when no live tombstone :func:`_may_mask` it — it
    takes the plain-scan path, paying zero join; the anti-join runs
    only over the dirty files, against only the tombstones that can
    affect at least one of them.  Pure manifest arithmetic, no I/O:
    ``tombstones`` is the part-loaded list from :func:`_man_entries`."""
    key = man["bucket_key"]
    buckets = {e["bucket"] for e in entries}
    tomb_by_bucket: dict[int, list[dict]] = {}
    for t in tombstones:
        if t["bucket"] in buckets:
            tomb_by_bucket.setdefault(t["bucket"], []).append(t)
    clean: list[dict] = []
    dirty: list[dict] = []
    relevant: list[dict] = []
    seen_tombs: set[str] = set()
    for e in entries:
        maskers = [
            t for t in tomb_by_bucket.get(e["bucket"], ()) if _may_mask(e, t, key)
        ]
        (dirty if maskers else clean).append(e)
        for t in maskers:
            if t["path"] not in seen_tombs:
                seen_tombs.add(t["path"])
                relevant.append(t)
    return clean, dirty, relevant


def _rename_suffix(man: dict, gen) -> list[dict]:
    """The renames committed AFTER an entry's write (seq > gen) —
    the ones whose reverse mapping gives the entry's ON-DISK column
    names.  The renames log is append-only and seq-ordered."""
    return [
        r for r in (man.get("renames") or []) if int(r["seq"]) > int(gen or 0)
    ]


def _disk_name(col: str, suffix: list[dict]) -> str:
    """The on-disk name a currently-``col``-named column had before
    the renames in ``suffix`` (walked newest-first)."""
    for r in reversed(suffix):
        if col == r["to"]:
            col = r["from"]
    return col


def _read_paths(spark, schema, paths: list[str]) -> DataFrame:
    """``spark.read.schema(schema).parquet(*paths)`` with the file listing
    kept DRIVER-SIDE on local masters.

    Past ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (default 32) paths Spark launches a DISTRIBUTED LISTING JOB whose
    launch latency (~0.25 s) dwarfs listing 64 local files driver-side
    (~5 ms); the commit layer builds several readers per table op.  On an
    object store 1000 sequential HEADs cost far more than one listing job,
    so this applies to LOCAL masters only.  The threshold is raised to the
    path count under :func:`conf.scoped_conf` (reading it first, outside
    the lock, could see another thread's flip) and restored exactly; it
    only affects how paths are LISTED, never what is read."""
    if not conf.is_local_master(spark):
        return spark.read.schema(schema).parquet(*paths)
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    with conf.scoped_conf(spark, {key: len(paths)}):
        return spark.read.schema(schema).parquet(*paths)


def _scan_entries(spark, target: str, man: dict, schema, items):
    """Parquet scan of manifest entries in the table's CURRENT column
    names, honoring rename epochs: files written before a
    :func:`table_rename_column` store the column under its OLD name,
    and a single current-schema scan would
    silently read NULLs there.  Entries group by how many renames
    postdate their gen; each group scans with its epoch's names and
    aliases back to current — bounded by the rename count, and
    compaction naturally migrates files to the newest epoch."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    renames = man.get("renames") or []
    if not renames:
        return _read_paths(
            spark, schema, [os.path.join(target, e["path"]) for e in items]
        )
    groups: dict[int, list[dict]] = {}
    for e in items:
        groups.setdefault(len(_rename_suffix(man, e.get("gen"))), []).append(e)
    pieces = []
    for k in sorted(groups):
        suffix = renames[len(renames) - k :] if k else []
        fields = [
            StructField(_disk_name(f.name, suffix), f.dataType, f.nullable)
            for f in schema.fields
        ]
        df = _read_paths(
            spark,
            StructType(fields),
            [os.path.join(target, e["path"]) for e in groups[k]],
        )
        sel = [
            F.col(d.name).alias(f.name)
            for d, f in zip(fields, schema.fields)
        ]
        pieces.append(df.select(*sel))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _masked_scan(
    spark,
    target: str,
    man: dict,
    entries: list[dict],
    tombstones: list[dict],
) -> DataFrame:
    """Scan ``entries`` under ``man``'s schema with merge-on-read tombstones
    applied — the ONE read path of every v2 reader.  The manifest schema
    is enforced: taking it from an arbitrary file would turn per-file
    drift into silent layout skew.

    A row from a file committed at gen g is dropped when a tombstone
    committed at gen t > g holds its key (newest-wins).  The plan splits
    on :func:`_mask_split`:

    * CLEAN files — provably unmaskable — are one PLAIN parquet relation,
      no join (the newest delta commit always is; on a clustered table
      most of the base is too);
    * DIRTY files form ONE parquet relation (one per gen would cost plan
      overhead linear in commits since compaction), with ``_gen`` mapped
      from the commit id in the file path by a literal map;
    * the tombstones that can affect a dirty file are scanned key-only,
      reduced to per-key MAX gen and broadcast into the anti-join.  An MoR
      delta file is its own tombstone: its ``_tgen`` equals its rows'
      ``_gen``, so it never masks them.

    A tombstone's ``dv`` field (positional deletion vectors, written by
    older versions) is ignored: those commits also wrote the key
    tombstones this mask reads."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    schema = _schema(man)
    if not entries:
        return local_frame(spark, [], schema)
    clean, dirty, tombs = _mask_split(man, entries, tombstones)

    def plain(items):
        df = _scan_entries(spark, target, man, schema, items)
        # Small-file task collapse: when total
        # bytes are tiny, Spark's file bin-packing degenerates to ONE
        # file per task (maxSplitBytes bottoms out at openCostInBytes),
        # so a 275-small-file MoR backlog scheduled 275 tasks — pure
        # scheduler overhead.  The manifest knows the byte sizes, so
        # cap tasks at max(defaultParallelism, bytes/maxPartitionBytes)
        # via coalesce — a NARROW merge that never reduces a large
        # table's parallelism (the cap exceeds the natural partition
        # count there, and coalesce only ever shrinks).
        k = _scan_coalesce(spark, items)
        return df.coalesce(k) if k < len(items) else df

    if not dirty:
        return plain(entries)
    key = man["bucket_key"]

    def commit_gen_expr(items):
        """``_gen`` of the enclosing commit, derived from the file
        path: one literal map of commit-id → gen (bounded by commits
        since compaction), keyed by the ``data/<c-hex12>/`` path
        segment.  The greedy ``^.*`` anchors to the LAST such segment
        so a table rooted under a ``.../data/...`` directory cannot
        alias a commit id."""
        mapping: dict[str, int] = {}
        for e in items:
            cid = e["path"].split("/")[1]
            mapping[cid] = int(e.get("gen", 0))
        gen_map = F.create_map(
            *[F.lit(x) for cid, g in mapping.items() for x in (cid, g)]
        )
        cid = F.regexp_extract(
            F.input_file_name(), r"^.*/data/(c-[0-9a-f]{12})/", 1
        )
        return F.element_at(gen_map, cid)

    data = plain(dirty).withColumn("_gen", commit_gen_expr(dirty))
    key_field = next(f for f in schema.fields if f.name == key)
    tomb_scan = _read_paths(
        spark,
        StructType([key_field]),
        [os.path.join(target, t["path"]) for t in tombs],
    )
    tk = _scan_coalesce(spark, tombs)
    if tk < len(tombs):
        tomb_scan = tomb_scan.coalesce(tk)
    tomb = (
        tomb_scan.withColumn("_tgen", commit_gen_expr(tombs))
        .groupBy(F.col(key).alias("_tkey"))
        .agg(F.max("_tgen").alias("_tgen"))
    )
    masked = data.join(
        F.broadcast(tomb),
        # eqNullSafe: a NULL bucket key is one ordinary
        # merge group (bucket = pmod(xxhash64(NULL), n), same writer-
        # and reader-side), and CoW scd1 merges treat it that way — a
        # null-UNSAFE == here would never mask the old NULL-key base
        # row, leaving a silent duplicate after table_merge_mor /
        # table_delete on a NULL key.  EqualNullSafe is still a
        # broadcast-hash-joinable equi-condition.
        F.col(key).eqNullSafe(F.col("_tkey")) & (F.col("_tgen") > F.col("_gen")),
        "left_anti",
    ).drop("_gen")
    return masked.unionByName(plain(clean)) if clean else masked


def _manifest_at(target: str, at: str | None) -> dict:
    """The live manifest, or a retained one named by ``at``."""
    if at is None:
        return _load_manifest(target)[1]
    if at != os.path.basename(at) or not at.startswith(MANIFEST_PREFIX):
        raise ValueError(f"not a manifest name: {at!r}")
    path = os.path.join(target, at)
    if not os.path.exists(path):
        raise ValueError(
            f"manifest {at!r} not retained in {target} "
            f"(history: {table_history(target)})"
        )
    return _read_root(path)


def _partition_pred(man: dict, preds, where_in, explicit):
    """A partition-value predicate (str → keep?) composed from an
    explicit partition list, range predicates on the partition column,
    and an IN-list on it — or None when nothing can prune partitions
    (no spec, no predicate on the partition column, or unmappable
    bounds).  Pruning is sound by construction:

    * a range bound maps into partition-value space only when the
      encoding provably preserves order (day/month fixed-width
      formats; identity over string/date) — else that bound prunes
      nothing;
    * the NULL partition fails any non-trivial range (SQL comparison
      with NULL is never true) but is never dropped by an unmappable
      predicate;
    * IN-list pruning engages only when EVERY listed value maps
      exactly (one drifting encoding would lossily drop partitions).
    """
    pspec = _part_spec(man)
    if pspec is None:
        if explicit is not None:
            raise ValueError(
                "table has no partition spec; 'partitions=' needs "
                "table_init(partition_by=...)"
            )
        return None
    pcol, ptr = pspec
    conds = []
    if explicit is not None:
        want = set()
        for v in explicit:
            if v is None:
                want.add(NULL_PART)
            elif isinstance(v, str):
                want.add(v)
            else:
                pv = _part_value(ptr, v)
                want.add(pv if pv is not None else str(v))
        conds.append(lambda p, w=want: p in w)
    for c, lo, hi, dtype in preds:
        if c != pcol or (lo is None and hi is None):
            continue
        if ptr == "identity" and dtype not in _IDENTITY_RANGE_OK:
            continue  # e.g. numeric identity: "10" < "9" — never range-prune
        plo, phi = _part_value(ptr, lo), _part_value(ptr, hi)

        def band(p, plo=plo, phi=phi):
            if p == NULL_PART:
                return False
            if plo is not None and p < plo:
                return False
            if phi is not None and p > phi:
                return False
            return True

        conds.append(band)
    if where_in is not None and where_in[0] == pcol:
        vals = [v for v in where_in[1] if v is not None]
        mapped = [_part_value(ptr, v) for v in vals]
        if all(m is not None for m in mapped):
            conds.append(lambda p, w=set(mapped): p in w)
    if not conds:
        return None
    return lambda p: all(c(p) for c in conds)


def table_read(
    spark,
    target: str,
    at: str | None = None,
    where: tuple | None = None,
    where_in: tuple | None = None,
    partitions=None,
) -> DataFrame:
    """Scan a manifest's file list — the v2 reader.  Explicit leaf paths: a
    reader never globs, so orphaned files from an in-flight or crashed
    commit are invisible to it.  Merge-on-read tombstones are applied by
    :func:`_masked_scan`.

    ``at`` names a retained manifest from :func:`table_history` for a
    time-travel read; default: the live manifest.

    ``where`` = ``(col, lo, hi)`` — or a LIST of them, a conjunctive band
    (the read shape z-order clustering serves) — is a RANGE predicate
    (``lo``/``hi`` may be None) served with FILE-LEVEL stats pruning:
    files whose manifest [min, max] for ``col`` cannot intersect are never
    scanned.  A range read parses every part — O(buckets) — then prunes
    per entry; files without stats for ``col`` are kept.  The residual
    filters still apply row-level.

    ``where_in`` = ``(col, [v1, ...])`` is the IN-list twin: a file is kept
    if SOME value can fall inside its [min, max], under the same non-lossy
    rules.  NULL values never match (SQL ``IN``).  Composes with ``where``
    as a conjunction.  On the bucket key it is :func:`table_lookup`'s
    read: only the values' buckets' parts are parsed, so the values must
    be typed like that column.

    ``partitions`` (partitioned tables only) restricts the read to the
    listed partition VALUES (transformed encoding, e.g. ``"2024-01-05"``
    for a day transform; ``None`` is the NULL partition) with no residual
    row filter.  ``where`` / ``where_in`` predicates ON the partition
    column also prune partitions BEFORE any file-stats pass; pruned
    partitions' parts are never parsed (metered by :data:`MANIFEST_IO`)."""
    man = _manifest_at(target, at)
    # ``where`` may be one (col, lo, hi) tuple or a list of them; every
    # predicate prunes independently (conjunction: a file survives only
    # if it can satisfy ALL).
    preds = []
    if where is not None:
        preds = [where] if isinstance(where, tuple) else list(where)
    return _scan(spark, target, man, preds, where_in, partitions)


def _scan(spark, target: str, man: dict, preds=(), where_in=None, partitions=None):
    """The body of :func:`table_read` and :func:`table_lookup`: the
    manifest-pruned, tombstone-masked scan of ``man`` with the
    predicates applied row-level.

    Pruning runs before any file is scanned: partitions first
    (:func:`_partition_pred`), then, for an IN-list on the bucket key,
    the keys' buckets (:func:`_buckets_for_keys`), so only those parts
    are parsed; then file entries by their stats, a range per ``preds``
    entry and an any-value overlap for ``where_in``.  The residual
    filters are the exact predicates, so ``isin`` gives SQL ``IN``'s
    NULL semantics: a NULL value matches nothing."""
    from pyspark.sql import functions as F

    preds = [(c, lo, hi, _col_typename(man, c)) for (c, lo, hi) in preds]
    ppred = _partition_pred(man, preds, where_in, partitions)
    buckets = None
    if where_in is not None and where_in[0] == man["bucket_key"]:
        buckets = _buckets_for_keys(spark, man, list(where_in[1]))
    entries, tombs = _man_entries(target, man, buckets=buckets, partitions=ppred)

    def ecol(e, c):
        # Entry stats are keyed by the name the column had WHEN THE
        # FILE WAS WRITTEN: translate through the entry's
        # rename epoch, else pruning on a renamed column would consult
        # a key old files never recorded.
        return _disk_name(c, _rename_suffix(man, e.get("gen")))

    for c, lo, hi, dtype in preds:
        entries = [
            e for e in entries if _stats_overlap(e, ecol(e, c), lo, hi, dtype)
        ]
    if where_in is not None:
        in_col, in_vals = where_in
        in_vals = [v for v in in_vals if v is not None]
        in_dtype = _col_typename(man, in_col)
        entries = [
            e
            for e in entries
            if any(
                _stats_overlap(e, ecol(e, in_col), v, v, in_dtype)
                for v in in_vals
            )
        ]
    df = _masked_scan(spark, target, man, entries, tombs)
    for c, lo, hi, _ in preds:
        if lo is not None:
            df = df.filter(F.col(c) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(c) <= F.lit(hi))
    if where_in is not None:
        df = df.filter(F.col(where_in[0]).isin(list(where_in[1])))
    return df


def _col_typename(man: dict, col: str) -> str | None:
    """Spark type name of ``col`` from the manifest-recorded schema
    (None when absent) — feeds :func:`_stats_overlap`'s temporal
    encoding normalization."""
    for f in _schema(man).fields:
        if f.name == col:
            return f.dataType.typeName()
    return None


#: ``YYYY-MM-DD`` — the 10-char encoding :func:`_json_stat` emits for
#: ``datetime.date`` values (datetimes get the 26-char midnight form).
_DATE_SHAPED = None  # compiled lazily below (module import stays light)


def _widen_date_encoding(v):
    """A 10-char date encoding widened to the 26-char midnight
    timestamp encoding — exactly Spark's DATE→TIMESTAMP cast semantics
    (midnight, session-UTC), so date stats and datetime bounds compare
    in ONE fixed-width family."""
    global _DATE_SHAPED
    if _DATE_SHAPED is None:
        import re

        _DATE_SHAPED = re.compile(r"\d{4}-\d{2}-\d{2}")
    if isinstance(v, str) and len(v) == 10 and _DATE_SHAPED.fullmatch(v):
        return v + "T00:00:00.000000"
    return v


def prefix_range(prefix: str) -> tuple[str, str]:
    """A string ``LIKE 'prefix%'`` predicate as the [lo, hi] range
    ``table_read(where=(col, *prefix_range(p)))`` serves with stats
    pruning: lo = the prefix
    itself, hi = its :func:`_successor` — every string starting with
    ``prefix`` orders in [lo, hi), so the inclusive-range scan is a sound
    superset and the recorded (possibly truncated) file bounds compare
    correctly against both ends.  Callers keep their exact
    ``startswith``/``LIKE`` as the residual row filter (hi itself and
    the sliver between the prefix family and hi don't match it)."""
    if not prefix:
        raise ValueError("empty prefix matches everything — no range to prune")
    hi = _successor(prefix)
    if hi is None:
        raise ValueError(f"prefix {prefix!r} has no representable upper bound")
    return prefix, hi


def _stats_overlap(entry: dict, col: str, lo, hi, dtype: str | None = None) -> bool:
    """May ``entry``'s file hold rows with ``col`` in [lo, hi]?  True
    when unknown (no stats recorded) — pruning must never be lossy.

    ``dtype`` is the column's Spark type name from the manifest schema.
    For date/timestamp-family columns every compared encoding is
    widened to the fixed-width midnight-timestamp form first: a DATE
    column's 10-char stats against a datetime bound's 26-char encoding
    compare lexicographically — ``'2024-01-06' <
    '2024-01-06T00:00:00.000000'`` — and would lossily prune a file
    whose 2024-01-06 rows DO satisfy the row filter after Spark's
    date-to-timestamp cast.  Widening only under a known temporal
    dtype keeps string columns with date-shaped VALUES untouched;
    without a dtype, a mixed-width temporal-shaped comparison is
    treated as unknown → keep."""
    st = entry.get("stats", {}).get(col)
    if not st:
        return True
    mn, mx = st
    lo_e, hi_e = _json_stat(lo), _json_stat(hi)
    if dtype in ("date", "timestamp", "timestamp_ntz"):
        mn, mx, lo_e, hi_e = (
            _widen_date_encoding(v) for v in (mn, mx, lo_e, hi_e)
        )
    else:
        def _temporal_width(v):
            if isinstance(v, str) and _widen_date_encoding(v) != v:
                return 10  # date-shaped
            if isinstance(v, str) and len(v) == 26 and v[10:11] == "T":
                return 26  # datetime-shaped
            return None

        widths = {w for w in map(_temporal_width, (mn, mx, lo_e, hi_e)) if w}
        if len(widths) > 1:
            # Date-shaped vs datetime-shaped encodings with no declared
            # temporal dtype: ordering across widths is not trustworthy
            # — unknown → keep (never lossy).
            return True
    try:
        if hi_e is not None and mn > hi_e:
            return False
        if lo_e is not None and mx < lo_e:
            return False
    except TypeError:
        # Bound type incomparable with the recorded stat encoding
        # (e.g. a numeric bound against string stats): unknown → keep.
        return True
    return True


def table_merge(spark, target: str, updates: DataFrame, merge_fn) -> dict:
    """Incremental copy-on-write merge: rewrite ONLY the buckets the update
    batch touches; carry every other data file into the new manifest by
    reference.

    ``merge_fn(base_slice, updates) -> DataFrame`` supplies the merge
    semantics (e.g. scd1_merged) and must return the table schema.  It
    sees ONLY the touched-bucket slice of the base — sound because an
    update to key k can only affect files in bucket(k), which is touched
    by construction.

    Returns {"touched_buckets", "rewritten_files", "carried_files",
    "new_files"} so callers can assert the strict-subset rewrite.

    Concurrency: optimistic — the commit raises
    :class:`ConcurrentCommitError` if another writer moved the live
    manifest since this merge read it (the carried-file list would
    describe a superseded state).  Catch it, re-read, retry."""
    from pyspark.sql import functions as F

    base, man = _load_manifest(target)
    key, n_buckets = man["bucket_key"], int(man["n_buckets"])
    # One tiny collect: ≤ n_buckets ints — never data-sized.
    touched = sorted(
        r[0]
        for r in updates.select(_bucket_expr(key, n_buckets).alias("b"))
        .distinct()
        .collect()
    )
    touched_set = set(touched)
    # This loads ONLY the touched buckets' parts — the merge's
    # driver-side manifest parse is O(update footprint).
    rewritten, touched_tombs = _man_entries(target, man, buckets=touched_set)
    if touched_tombs:
        # A CoW merge's base_slice is the RAW file rows; live merge-on-
        # read tombstones in a touched bucket would resurrect masked
        # rows into merge_fn's input.  Compaction applies and clears
        # them; refusing here keeps the two write modes composable
        # without a second masking path inside the merge.
        raise ValueError(
            "table_merge: touched buckets carry merge-on-read tombstones "
            "(from table_merge_mor); run table_compact() first to apply "
            "them, then retry the copy-on-write merge"
        )
    n_carried = _man_file_count(man) - len(rewritten)
    schema = _schema(man)
    if rewritten:
        base_slice = _scan_entries(spark, target, man, schema, rewritten)
    else:
        base_slice = local_frame(spark, [], schema)
    merged = merge_fn(base_slice, updates)

    if _schema_shape(merged.schema) != _schema_shape(schema):
        # A column/type change would land only in the rewritten
        # buckets' files while carried files keep the old layout —
        # readers would then see per-file-inconsistent columns.
        # Refuse before any write; schema evolution is a whole-table
        # re-seed.
        raise ValueError(
            "table_merge: merge_fn changed the table schema "
            f"(got {merged.schema.simpleString()}, table is "
            f"{schema.simpleString()}); a merge may not evolve the "
            "schema — re-seed with table_init to change it"
        )
    entries = _write_bucketed(merged, target, man)
    stray = [e["bucket"] for e in entries if e["bucket"] not in touched_set]
    if stray:
        # merge_fn emitted rows outside the update batch's buckets —
        # would silently shadow carried files; refuse before commit.
        raise ValueError(
            f"table_merge: merge_fn produced rows in untouched buckets "
            f"{sorted(set(stray))}; a merge may only rewrite the touched "
            "slice (did merge_fn rekey rows?)"
        )
    # The replaced unit is every gkey that EXISTED in a touched bucket
    # (any partition — a CoW merge rewrites the whole bucket slice, and
    # a key's partition value may move) plus every gkey the rewrite
    # produced; pre-existing gkeys with no new files vanish.
    _commit(target, base, man, _listings(entries, gkeys={_gkey(e) for e in rewritten}))
    return {
        "touched_buckets": touched,
        "rewritten_files": len(rewritten),
        "carried_files": n_carried,
        "new_files": len(entries),
    }


def _prune_manifests(target: str, current: str, cur_man: dict | None = None) -> None:
    """Reclaim superseded roots and the data only they reference, keeping
    the live root plus the newest ``keep_generations - 1`` others by
    commit SEQUENCE (the retention recorded in the just-committed root).
    Runs after the pointer swap — a crash here costs disk, never
    correctness.

    Deletes only what is PROVABLY unreferenced.  DEAD parts (referenced
    by pruned roots only) are loaded to enumerate their data files; kept
    parts are loaded ONLY for those groups and their buckets' tombstone
    groups, the only places an overlap can exist (append/MoR carry old
    entries into the replacement part, and an MoR delta file is also a
    tombstone) — so the pruner stays O(changed buckets).  Files no
    manifest references (crashed or in-flight commits) are left to
    :func:`table_vacuum` — Iceberg's expire-snapshots vs
    remove-orphan-files split."""

    def _try_read(rel: str, read=_read_json) -> dict | None:
        try:
            return read(os.path.join(target, rel))
        except (OSError, ValueError, KeyError, TypeError):
            return None

    def data_refs(doc: dict) -> set[str] | None:
        # Tombstone files are live data too: a kept
        # manifest's merge-on-read masking breaks if the pruner
        # unlinks them.  None on a malformed document — callers on
        # the KEPT side must abort (never delete what can't be proven
        # unreferenced); the pruned side treats it as empty.
        try:
            return {e["path"] for e in doc["files"]} | {
                t["path"] for t in doc.get("tombstones", [])
            }
        except (KeyError, TypeError):
            return None

    try:
        if cur_man is None:  # the committer passes its dict; re-read otherwise
            cur_man = _try_read(current, _read_root)
        keep, pruned = _retention(target, current, cur_man)
        kept_refs: list[dict] = []
        for n in keep:
            man = cur_man if n == current else _try_read(n, _read_root)
            if man is None:
                # Unreadable kept manifest: skip pruning entirely —
                # never delete files we cannot prove unreferenced.
                return
            kept_refs.extend(man["parts"])
        kept_parts = {r["path"] for r in kept_refs}
        dead_parts: dict[str, tuple] = {}  # rel path -> gkey
        for n in pruned:
            man = _try_read(n, _read_root)
            for r in man["parts"] if man is not None else ():
                if r["path"] not in kept_parts:
                    dead_parts[r["path"]] = _gkey(r)
            try:
                os.remove(os.path.join(target, n))
            except OSError:
                pass
        dead_data: set[str] = set()
        for rel in dead_parts:
            doc = _try_read(rel)
            if doc is not None:
                dead_data |= data_refs(doc) or set()
        # Kept parts can share data files with dead parts only in the
        # dead parts' own (partition, bucket) groups (a gkey's listing
        # lives in exactly one part per root) and in their buckets'
        # partition-less tombstone groups, which list merge-on-read
        # delta files a second time — load just those.
        dead_gkeys = set(dead_parts.values())
        dead_gkeys |= {(None, b) for _p, b in dead_gkeys}
        kept_data: set[str] = set()
        loaded: set[str] = set()
        for r in kept_refs:
            if _gkey(r) in dead_gkeys and r["path"] not in loaded:
                loaded.add(r["path"])
                doc = _try_read(r["path"])
                d = data_refs(doc) if doc is not None else None
                if d is None:
                    return  # cannot prove unreferenced: delete nothing
                kept_data |= d
        for rel in sorted(dead_data - kept_data) + list(dead_parts):
            try:
                os.remove(os.path.join(target, rel))
            except OSError:
                pass
    except OSError:
        pass


def _key_frame(spark, man: dict, keys: list) -> DataFrame:
    """``keys`` as a one-column local frame typed as the table's bucket
    key column, so an expression over it collects without a Spark job."""
    from pyspark.sql.types import StructField, StructType

    key = man["bucket_key"]
    field = StructField(key, _schema(man)[key].dataType)
    return local_frame(spark, [(k,) for k in keys], StructType([field]))


def _buckets_for_keys(spark, man: dict, keys: list) -> set[int]:
    """Buckets that can contain one of ``keys`` — the read-side payoff
    of the bucketed layout: bucket membership is the same
    pmod(xxhash64(key), n) arithmetic the writer used, so a point
    lookup needs no index, just the manifest.  Evaluated with one
    Spark expression over the keys' local relation (xxhash64 is a JVM
    function; re-implementing it Python-side would be a second source
    of truth that could silently drift), which the driver evaluates
    without a job.  The ids are deduplicated on the driver: a Spark
    ``distinct`` would cost a job."""
    return {
        r["b"]
        for r in _key_frame(spark, man, keys)
        .select(_bucket_expr(man["bucket_key"], int(man["n_buckets"])).alias("b"))
        .collect()
    }


def table_lookup(spark, target: str, keys: list) -> DataFrame:
    """Point lookup: rows whose bucket key is in ``keys`` — the bucket-key
    IN-list read, ``table_read(where_in=(bucket_key, keys))`` on the live
    manifest.  It scans ONLY the keys' buckets' files whose per-file key
    [min, max] can contain a key (on banded-ingest tables a bucket holds
    one file per commit, most of whose ranges exclude the probe), and the
    driver parses only those buckets' parts.  Returns an empty,
    correctly-typed frame when nothing matches.  ``keys`` are typed like
    the bucket-key column.

    NULL keys follow SQL ``IN`` semantics: the residual ``isin`` never
    matches NULL (use :func:`table_read` + ``isNull`` for NULL rows)."""
    man = _load_manifest(target)[1]
    return _scan(spark, target, man, where_in=(man["bucket_key"], keys))


# ---------------------------------------------------------------------------
# Table maintenance — fast append, merge-on-read, compaction: the first
# maintenance jobs a CDC user reaches for; Delta/Iceberg ship all three.
# ---------------------------------------------------------------------------


def _check_batch(op: str, df: DataFrame, man: dict) -> None:
    """Refuse a batch whose columns differ from the table schema."""
    schema = _schema(man)
    if _schema_shape(df.schema) != _schema_shape(schema):
        raise ValueError(
            f"{op}: batch schema {df.schema.simpleString()} does not match "
            f"table schema {schema.simpleString()}"
        )


def _add_commit(
    target: str, base: str, man: dict, df: DataFrame, files: bool, tombs: bool
) -> tuple[int, dict]:
    """The ADDITIVE commit shared by append, merge-on-read and delete:
    write ``df`` once, list the written entries as data files, as
    tombstones or as both, and commit them into the parts of the groups
    they touch (:func:`_group_listings`) — no existing entry is rewritten.
    Returns (entries written, live root); an empty batch commits nothing
    (a no-op generation would evict a retained time-travel root).

    The write is :func:`_write_bucketed` on ``man`` with ``layout=files``:
    data files take the table's clustering and partition layout, and a
    tombstone-only write is a key-only frame that stays partition-less.
    A tombstone entry keeps only the bucket key's stats and no ``part``;
    :func:`_masked_scan` reads just its key column, and gen ordering
    keeps a delta file listed as both from masking its own rows."""
    key = man["bucket_key"]
    entries = _write_bucketed(df, target, man, layout=files)
    if not entries:
        return 0, man
    tomb_entries = [
        {k: e[k] for k in ("path", "bucket", "gen", "rows", "bytes", "key_nulls")}
        | {"stats": {c: v for c, v in e["stats"].items() if c == key}}
        for e in entries
    ] if tombs else []
    listing = _group_listings(target, man, entries if files else (), tomb_entries)
    return len(entries), _commit(target, base, man, listing)


def table_append(spark, target: str, rows: DataFrame) -> dict:
    """Fast append (Iceberg's append commit): write ``rows`` as NEW bucketed
    data files and commit a manifest that adds them; no base file is read
    or rewritten.  The high-rate ingest path — it accumulates small files,
    which :func:`table_compact` packs.  Duplicate keys coexist (a log,
    not an upsert); keyed updates are :func:`table_merge` /
    :func:`table_merge_mor`."""
    base, man = _load_manifest(target)
    _check_batch("table_append", rows, man)
    n, live = _add_commit(target, base, man, rows, files=True, tombs=False)
    return {"new_files": n, "total_files": _man_file_count(live)}


def table_merge_mor(spark, target: str, updates: DataFrame) -> dict:
    """MERGE-ON-READ upsert: commit cost is the UPDATE batch, even when its
    keys scatter across every bucket — where copy-on-write
    :func:`table_merge` degrades to a full rewrite (measured 102 % write
    amplification).

    Write side: ``updates`` lands as new data files (gen = this commit's
    seq) in ONE write; the manifest lists each file as a data file of its
    (partition, bucket) and as a TOMBSTONE of its bucket (its key column
    is exactly the update keys, never re-evaluated — a non-deterministic
    batch run twice could tombstone other keys than it wrote).  Read side
    (:func:`_masked_scan`): a base row is masked when a NEWER tombstone
    holds its key — newest-wins, deferred to scan time.  Reads pay a
    broadcast anti-join against the live tombstones until
    :func:`table_compact` applies them: the Delta deletion-vector /
    Iceberg merge-on-read trade.

    Batch contract: ``updates`` carries the table schema and at most one
    row per key (both rows of a duplicate would survive masking).
    Deletes are :func:`table_delete`."""
    base, man = _load_manifest(target)
    _check_batch("table_merge_mor", updates, man)
    n, live = _add_commit(target, base, man, updates, files=True, tombs=True)
    return {
        "delta_files": n,
        "tombstone_files": n,
        "live_tombstone_files": _man_tomb_count(live),
    }


def table_compact(
    spark, target: str, min_files: int = 2, max_buckets: int | None = None
) -> dict:
    """Bin-pack small files and apply merge-on-read tombstones — the OPTIMIZE
    maintenance op.

    A (partition, bucket) group is a candidate when it holds >=
    ``min_files`` data files; a BUCKET is a candidate when it holds ANY
    tombstone (compaction is also the MoR "apply" step — bucket-wide,
    because key-based masking crosses partitions).  Each candidate's
    MASKED content is read once and rewritten packed; other groups carry
    by reference, so cost scales with the small-file footprint, not the
    table.  Same optimistic-concurrency commit as :func:`table_merge`.

    ``max_buckets`` bounds one run's rewrite UNITS (one tombstoned bucket,
    or one packing group); remaining candidates keep their tombstones,
    which stays correct because masking is per-bucket.  No candidates ->
    no commit.  Returns {"compacted_buckets", "files_before",
    "files_after", "tombstones_cleared"}."""
    base, man = _load_manifest(target)
    mrpf = man.get("max_records_per_file")

    # Per-GKEY (n_files, rows, n_tombstones) from part refs WITHOUT
    # loading any part (candidate selection is O(parts) driver work).
    # Gkeys holding only tombstones are included: a tombstone can live
    # in a bucket with ZERO data files (table_delete of an absent key) —
    # skipping it would leave readers paying its anti-join and
    # table_merge refusing the bucket forever.
    meta: dict[tuple, list] = {}
    for ref in man["parts"]:
        m = meta.setdefault(_gkey(ref), [0, 0, 0])
        m[0] += ref["files"]
        m[1] += ref["rows"]
        m[2] += ref["tombstones"]

    def needs_packing(nf: int, rows: int) -> bool:
        if nf < min_files:
            return False
        if not mrpf:
            return True  # unclustered table: >1 file per gkey is slack
        # CLUSTERED table: multiple files per gkey is the NORMAL
        # state (the splitter caps rows per file), so "small files"
        # means MORE files than the rows need at capacity — otherwise
        # every compact run would rewrite every clustered bucket
        # forever.
        import math

        return nf > max(1, math.ceil(rows / int(mrpf)))

    # Rewrite UNITS: a bucket with live tombstones compacts
    # BUCKET-WIDE (masking is key-based and a masked row may sit in any
    # partition of its bucket — applying a tombstone to one partition
    # while leaving it live for another would resurrect rows when it
    # is later cleared); pure small-file packing is PARTITION-LOCAL
    # (one (partition, bucket) group per unit), so steady-state
    # maintenance on a partitioned table never rewrites beyond the
    # partitions that actually accumulated files.
    tomb_buckets = sorted({g[1] for g, m in meta.items() if m[2]})
    units: list[set] = [
        {g for g in meta if g[1] == b} for b in tomb_buckets
    ]
    for g in sorted(meta, key=lambda g: (g[0] or "", g[1])):
        nf, rows, _nt = meta[g]
        if g[1] not in set(tomb_buckets) and needs_packing(nf, rows):
            units.append({g})
    if max_buckets is not None:
        units = units[:max_buckets]
    files_before = _man_file_count(man)
    if not units:
        return {
            "compacted_buckets": [],
            "files_before": files_before,
            "files_after": files_before,
            "tombstones_cleared": 0,
        }
    cand_gkeys = set().union(*units)
    rewritten, cand_tombs = _man_entries(target, man, gkeys=cand_gkeys)
    masked = _masked_scan(spark, target, man, rewritten, cand_tombs)
    entries = _write_bucketed(masked, target, man)
    stray = sorted({_gkey(e) for e in entries} - cand_gkeys, key=str)
    if stray:
        # The rewrite is partition-stable (partition values derive
        # deterministically from row columns) — a stray gkey means a
        # bug that would shadow carried files; refuse pre-commit.
        raise RuntimeError(
            f"table_compact: rewrite produced unexpected groups {stray}; "
            f"candidates were {sorted(cand_gkeys, key=str)}"
        )
    live = _commit(target, base, man, _listings(entries, gkeys=cand_gkeys))
    return {
        "compacted_buckets": sorted({g[1] for g in cand_gkeys}),
        "files_before": files_before,
        "files_after": _man_file_count(live),
        "tombstones_cleared": len(cand_tombs),
    }


def table_delete(spark, target: str, keys: list) -> dict:
    """Keyed delete as a TOMBSTONE-ONLY merge-on-read commit: the keys land
    as tombstone files and every reader masks all OLDER rows with those
    keys; :func:`table_compact` later makes the deletion physical.  Commit
    cost is O(keys).  ``keys`` is a Python list typed like the bucket-key
    column (a predicate delete is ``table_read`` + a filter + this)."""
    base, man = _load_manifest(target)
    frame = _key_frame(spark, man, keys)
    n, live = _add_commit(target, base, man, frame, files=False, tombs=True)
    return {"tombstone_files": n, "live_tombstone_files": _man_tomb_count(live)}


def table_add_columns(spark, target: str, new_fields) -> dict:
    """ADDITIVE schema evolution as a METADATA-ONLY commit: append nullable
    columns without touching a data file.  Every v2 reader enforces the
    manifest schema on the scan and Spark's parquet reader fills absent
    fields with NULL, so old rows read NULL in the new column.

    ``new_fields`` is a list of ``StructField`` (or a ``StructType``); each
    must be nullable (existing rows HAVE no value) and pass
    :func:`_check_evolution`'s fresh-name rule.  Cost: one manifest write
    + pointer swap.  Optimistic concurrency as everywhere.

    Retyping stays a whole-table re-seed (``table_init``): it changes what
    existing BYTES mean, which a carried-by-reference layout cannot
    re-interpret safely."""
    from pyspark.sql.types import StructType

    base, man = _load_manifest(target)
    fields = list(new_fields.fields) if isinstance(new_fields, StructType) else list(new_fields)
    schema = _check_evolution("table_add_columns", man, new=[f.name for f in fields])
    if not fields:
        return {"added": [], "schema": schema.simpleString()}
    for f in fields:
        if not f.nullable:
            raise ValueError(
                f"table_add_columns: {f.name!r} must be nullable — "
                "existing rows have no value for it; backfill with a "
                "merge after adding it as nullable"
            )
    evolved = StructType(schema.fields + fields)
    _commit(target, base, man, schema=evolved.json())
    return {"added": [f.name for f in fields], "schema": evolved.simpleString()}


def _retired_names(man: dict) -> set[str]:
    """Names this table has EVER used and since retired (dropped, or
    the ``from`` side of a rename) — the re-use blacklist that stands
    in for Iceberg's field-ID indirection."""
    names = set(man.get("dropped_names") or [])
    for r in man.get("renames") or []:
        names.add(r["from"])
    return names


def _immutable_cols(man: dict) -> dict[str, str]:
    """Columns structural table properties depend on → why each is
    frozen (rename/drop would break the layout contract)."""
    out = {man["bucket_key"]: "the bucket key"}
    if man.get("partition_by"):
        out[man["partition_by"]] = "the partition column"
    for c in _cluster_cols(man):
        out[c] = "a clustering column"
    return out


def _check_evolution(op: str, man: dict, old: str | None = None, new=()):
    """``man``'s schema, once the change ``op`` makes is proven safe:
    ``old`` (a column to rename or drop) exists and no structural table
    property is keyed on it; each ``new`` name is neither a column,
    reserved, nor EVER used before — a dropped or renamed-away column's
    bytes still live in old files under its name, and re-using it would
    resurrect them on old-epoch scans (the hazard Iceberg's field IDs
    exist to prevent — here the name registry is the ID)."""
    schema = _schema(man)
    frozen = _immutable_cols(man)
    if old is not None and old not in schema.names:
        raise ValueError(f"{op}: no column {old!r} in {schema.names}")
    if old in frozen:
        raise ValueError(
            f"{op}: {old!r} is {frozen[old]} — structural table properties "
            "are name-frozen; re-seed to change them"
        )
    for name in new:
        if name in schema.names or name in _RESERVED:
            raise ValueError(
                f"{op}: {name!r} is already in use (a column already exists "
                "under it, or it is reserved for the layout)"
            )
        if name in _retired_names(man):
            raise ValueError(
                f"{op}: {name!r} was previously used by this table; old data "
                "files still carry bytes under that name — pick a fresh name"
            )
    return schema


def table_rename_column(target: str, old: str, new: str) -> dict:
    """RENAME a column as a METADATA-ONLY commit: the manifest schema gets the
    new name and the table's RENAMES log an entry; no data file is
    touched.  Readers scan older files under the old name and alias it
    (:func:`_scan_entries`), so pre- and post-rename snapshots read
    row-exact, and compaction migrates old files forward.  Refusals:
    :func:`_check_evolution`."""
    from pyspark.sql.types import StructField, StructType

    base, man = _load_manifest(target)
    schema = _check_evolution("table_rename_column", man, old, [new])
    evolved = StructType(
        [
            StructField(new, f.dataType, f.nullable) if f.name == old else f
            for f in schema.fields
        ]
    )
    renames = list(man.get("renames") or [])
    renames.append({"seq": _next_seq(man), "from": old, "to": new})
    _commit(target, base, man, schema=evolved.json(), renames=renames)
    return {"renamed": [old, new], "schema": evolved.simpleString()}


def table_drop_column(target: str, name: str) -> dict:
    """DROP a column as a METADATA-ONLY commit: the column
    leaves the manifest schema; old files keep its bytes (explicit-
    schema scans simply never read them — storage is reclaimed as
    compaction rewrites files) and the name joins the retired-name
    registry so it can never be re-added over live bytes.  Refusals:
    :func:`_check_evolution`, and the last column."""
    from pyspark.sql.types import StructType

    base, man = _load_manifest(target)
    schema = _check_evolution("table_drop_column", man, name)
    if len(schema.fields) == 1:
        raise ValueError("table_drop_column: cannot drop the last column")
    evolved = StructType([f for f in schema.fields if f.name != name])
    dropped = sorted(set(man.get("dropped_names") or []) | {name})
    _commit(target, base, man, schema=evolved.json(), dropped_names=dropped)
    return {"dropped": name, "schema": evolved.simpleString()}


def table_stats(target: str) -> dict:
    """Table summary from the root's part refs alone (no data I/O, no part
    loads): files, rows, bytes,
    live tombstone files, non-empty buckets, partitions, and the
    bucket-skew ratio (max bucket bytes / mean).  What a maintenance
    scheduler polls to decide WHEN to compact or vacuum."""
    man = _load_manifest(target)[1]
    per_bucket: dict[int, dict] = {}
    partitions: set = set()
    for r in man["parts"]:
        if r.get("part") is not None:
            partitions.add(r["part"])
        b = per_bucket.setdefault(
            r["bucket"], {"files": 0, "rows": 0, "bytes": 0, "tombstones": 0}
        )
        # Accumulate: a partitioned bucket has one part
        # ref PER partition, plus possibly a tombstone ref.
        b["files"] += r["files"]
        b["rows"] += r["rows"]
        b["bytes"] += r["bytes"]
        b["tombstones"] += r["tombstones"]
    bucket_bytes = [b["bytes"] for b in per_bucket.values()]
    mean_bytes = sum(bucket_bytes) / len(bucket_bytes) if bucket_bytes else 0
    return {
        "seq": int(man["seq"]),
        "n_buckets": int(man["n_buckets"]),
        "buckets_nonempty": len(per_bucket),
        "files": sum(b["files"] for b in per_bucket.values()),
        "rows": sum(b["rows"] for b in per_bucket.values()),
        "bytes": sum(bucket_bytes),
        "tombstone_files": sum(b["tombstones"] for b in per_bucket.values()),
        "bucket_skew": (
            round(max(bucket_bytes) / mean_bytes, 3) if mean_bytes else None
        ),
        "cluster_by": man.get("cluster_by"),
        "keep_generations": int(man.get("keep_generations") or KEEP_GENERATIONS),
        "partition_by": man.get("partition_by"),
        "partitions": len(partitions) if man.get("partition_by") else None,
    }


def with_commit_retry(fn, attempts: int = 5, backoff_s: float = 0.1):
    """Run a v2 commit op with the optimistic-concurrency recovery: on
    :class:`ConcurrentCommitError`, re-run ``fn`` (every table_* op
    re-reads the live manifest) with linear backoff, up to ``attempts``
    tries; then re-raise the last error.  A failed attempt's data files
    are orphans for the pruner / vacuum.

    Usage::

        with_commit_retry(lambda: table_merge_mor(spark, target, batch))"""
    import time

    if attempts < 1:
        # attempts=0 would end in ``raise None`` (an opaque TypeError).
        raise ValueError("with_commit_retry: attempts must be >= 1")
    last: ConcurrentCommitError | None = None
    for attempt in range(attempts):
        try:
            return fn()
        except ConcurrentCommitError as e:
            last = e
            if attempt < attempts - 1:
                time.sleep(backoff_s * (attempt + 1))
    raise last


def table_set_retention(target: str, keep_generations: int) -> dict:
    """Set the table's RETENTION property: how many committed generations —
    live included — stay readable for ``table_read(at=...)`` time travel
    before the pruner reclaims them.  A metadata-only commit.  Raising it
    takes effect immediately; LOWERING it reclaims the excess on the NEXT
    commit (the pruner runs after every commit, this one included), and
    :func:`table_vacuum` honors it when sweeping."""
    if int(keep_generations) < 1:
        raise ValueError("keep_generations must be >= 1 (the live manifest)")
    base, man = _load_manifest(target)
    _commit(target, base, man, keep_generations=int(keep_generations))
    return {"keep_generations": int(keep_generations)}


def table_drop_partition(target: str, value) -> dict:
    """Drop one PARTITION as a METADATA-ONLY commit: the new manifest omits
    the partition's parts; no data file is read, written or deleted (the
    files stay referenced by retained generations and are reclaimed as
    those age out).  The partition-granular retention primitive, and with
    a re-append an O(partition) idempotent backfill.

    ``value`` is the partition value in transformed encoding (e.g.
    ``"2024-01-05"`` for a day transform; ``None`` drops the NULL
    partition).  Dropping an absent partition commits nothing.  Live MoR
    tombstones are untouched: they are partition-less and may still mask
    rows in other partitions."""
    base, man = _load_manifest(target)
    if _part_spec(man) is None:
        raise ValueError(
            f"{target} has no partition spec; table_drop_partition needs "
            "table_init(partition_by=...)"
        )
    part = NULL_PART if value is None else str(value)
    keep = [r for r in man["parts"] if r.get("part") != part]
    if len(keep) == len(man["parts"]):
        return {"dropped_files": 0, "partition": part}
    dropped_files = sum(
        r["files"] for r in man["parts"] if r.get("part") == part
    )
    _commit(target, base, man, parts=keep)
    return {"dropped_files": dropped_files, "partition": part}


def table_vacuum(target: str, older_than_s: float = ORPHAN_GRACE_S) -> dict:
    """Full-sweep maintenance janitor (Iceberg's remove-orphan-files): delete
    every file under the table root that NO retained manifest references
    and that is older than ``older_than_s`` (the in-flight-commit grace).

    The one deliberately O(table-manifest) driver job: it loads every
    retained root AND part to build the full reference set, the cost the
    commit-path pruner avoids.  Run it as scheduled maintenance, not per
    commit.

    Reclaims crashed-commit data/part orphans, roots beyond the retention
    property, and empty data directories; never a file a retained manifest
    references.  Aborts (deleting nothing) if any retained manifest or part
    is unreadable.  Returns {"data_files_removed", "part_files_removed",
    "roots_removed", "kept_manifests"}."""
    import time

    live, man = _load_manifest(target)
    retained, excess_roots = _retention(target, live, man)
    refs: set[str] = set()
    for name in retained:
        doc = _read_root(os.path.join(target, name))  # raises → abort
        for r in doc["parts"]:
            refs.add(r["path"])
            part = _read_json(os.path.join(target, r["path"]))
            refs |= {e["path"] for e in part["files"]}
            refs |= {t["path"] for t in part["tombstones"]}
    now = time.time()
    removed = {"data": 0, "parts": 0}
    for sub, kind in ((DATA_DIR, "data"), (PARTS_DIR, "parts")):
        root = os.path.join(target, sub)
        for dirpath, _dirnames, filenames in os.walk(root, topdown=False):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, target).replace(os.sep, "/")
                if rel in refs:
                    continue
                try:
                    if now - os.path.getmtime(full) < older_than_s:
                        continue  # possibly in-flight — leave it
                    os.remove(full)
                    removed[kind] += 1
                except OSError:
                    continue
            try:
                os.rmdir(dirpath)  # only succeeds when emptied
            except OSError:
                pass
    for n in excess_roots:
        try:
            os.remove(os.path.join(target, n))
        except OSError:
            pass
    return {
        "data_files_removed": removed["data"],
        "part_files_removed": removed["parts"],
        "roots_removed": len(excess_roots),
        "kept_manifests": retained,
    }
