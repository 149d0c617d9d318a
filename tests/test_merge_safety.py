"""Crash-safety and NULL-key semantics for the merge sinks
(VERDICT r13 #4 and #7).

The staged-write tests simulate a mid-write failure with a frame that
raises during execution: the PREVIOUS target must stay byte-readable
and no staging residue may survive the error path.  The NULL-key tests
pin the window-merge semantics the docstrings document — Spark windows
group NULL as one ordinary key, so NULL-key rows collapse into a
single merge group — because at 100 TB a silent NULL-collapse is a
data-loss bug if the caller expected per-row survival.
"""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.sources.scan_queries import (
    _insert_key_offset,
    _staged_overwrite,
    scd1_merged,
    scd2_history,
)
from tests.conftest import manifest_listing, stamp_legacy_dv


def _residue(target: str) -> list[str]:
    parent, leaf = os.path.dirname(target), os.path.basename(target)
    return [
        f
        for f in os.listdir(parent)
        if f.startswith(leaf + ".staging-") or f.startswith(leaf + ".old-")
    ]


def test_staged_overwrite_preserves_target_on_write_failure(spark, tmp_path):
    target = str(tmp_path / "live_table")
    _staged_overwrite(spark.range(5).select(F.col("id").alias("k")), target)
    before = sorted(r["k"] for r in spark.read.parquet(target).collect())
    assert before == [0, 1, 2, 3, 4]

    # assert_true raises DURING the staging write — the data-sized
    # window where a real mid-job crash lands.
    bad = spark.range(5).select(
        F.assert_true(F.col("id") < 0).alias("x"), F.col("id").alias("k")
    )
    with pytest.raises(Exception):
        _staged_overwrite(bad, target)

    after = sorted(r["k"] for r in spark.read.parquet(target).collect())
    assert after == before, "failed write corrupted the live target"
    assert _residue(target) == [], "error path left staging/backup residue"


def test_staged_overwrite_swaps_and_cleans(spark, tmp_path):
    target = str(tmp_path / "live_table")
    _staged_overwrite(spark.range(3).select(F.col("id").alias("k")), target)
    _staged_overwrite(
        spark.range(10, 14).select(F.col("id").alias("k")), target
    )
    got = sorted(r["k"] for r in spark.read.parquet(target).collect())
    assert got == [10, 11, 12, 13], "swap did not install the new table"
    assert _residue(target) == [], "successful swap left staging/backup residue"


def test_staged_overwrite_simulated_stale_staging_is_ignored(spark, tmp_path):
    """A staging dir orphaned by a hard crash (no error path ran) must
    not shadow or corrupt the target: later overwrites use fresh uuid
    leaves and the janitor reclaims the orphan with the pid dir."""
    target = str(tmp_path / "live_table")
    _staged_overwrite(spark.range(2).select(F.col("id").alias("k")), target)
    orphan = target + ".staging-deadbeef"
    os.makedirs(orphan)
    (tmp_path / "live_table.staging-deadbeef" / "part-junk").write_bytes(b"\x00")
    _staged_overwrite(spark.range(7, 9).select(F.col("id").alias("k")), target)
    got = sorted(r["k"] for r in spark.read.parquet(target).collect())
    assert got == [7, 8]
    assert os.path.isdir(orphan), "unrelated orphan must be left to the janitor"


def test_merge_target_never_clears_existing_content(spark, tmp_path):
    """The merge queries resolve their live target with
    ``local_scratch_path``, the crash-safety PRECONDITION: unlike the
    round-trip sinks' ``_scratch`` it must NOT rmtree an existing target
    — clearing the live table before the staged write even starts
    would reopen exactly the window _staged_overwrite closes."""
    from pyspark_analytics_library_spark.sources.io import local_scratch_path

    with scoped_conf(spark, {"spark.analytics.scratchDir": str(tmp_path)}):
        path = local_scratch_path(spark, "pin_merge_target")
        os.makedirs(path)
        marker = os.path.join(path, "live-file")
        with open(marker, "w") as f:
            f.write("x")
        again = local_scratch_path(spark, "pin_merge_target")
    assert again == path
    assert os.path.exists(marker), "the merge target was cleared"


def test_scd1_null_keys_collapse_to_single_survivor(spark):
    """Window.partitionBy groups NULL as ONE key: all NULL-key rows form
    a single merge group and exactly one row survives — the update row,
    by priority.  Documented on scd1_merged; a production merge filters
    or surrogates NULL keys upstream."""
    base = spark.createDataFrame(
        [(1, "a"), (None, "b"), (None, "c")], "o_orderkey long, payload string"
    )
    updates = spark.createDataFrame(
        [(None, "u")], "o_orderkey long, payload string"
    )
    got = {
        (r["o_orderkey"], r["payload"]) for r in scd1_merged(base, updates).collect()
    }
    assert got == {(1, "a"), (None, "u")}


def test_scd2_null_key_base_rows_stay_open(spark):
    """NULL % k is NULL, so the derived update batch never contains a
    NULL key — the NULL base row passes through open (is_current true,
    valid_to NULL), mirroring SQL MERGE where NULL never equi-matches."""
    orders = spark.createDataFrame(
        [(97, "O", 10.0), (None, "O", 20.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    rows = {r["o_orderkey"]: r for r in scd2_history(orders).collect()
            if r["o_orderkey"] is None or r["o_orderkey"] == 97}
    null_row = rows[None]
    assert null_row["is_current"] is True and null_row["valid_to"] is None
    k97 = [r for r in scd2_history(orders).collect() if r["o_orderkey"] == 97]
    assert {r["is_current"] for r in k97} == {True, False}, "sanity: 97 was merged"


# ---------------------------------------------------------------------------
# Manifest-pointer commit protocol (VERDICT r14 #4): the object-store-safe
# protocol — commit = one atomic small-file pointer swap, never a
# directory rename.  The v2 tests below simulate the crash windows and
# forbid directory renames outright.
# ---------------------------------------------------------------------------

from pyspark_analytics_library_spark.conf import scoped_conf
from pyspark_analytics_library_spark.sources import commit as commit_mod

@pytest.mark.parametrize("name", ["sink_merge_upsert", "sink_merge_scd2"])
def test_merge_sinks_match_oracle(spark, oracle, tmp_path, name):
    """Each merge sink's staged-overwrite round trip must reproduce the
    query's DuckDB oracle."""
    from pyspark_analytics_library_spark.registry import (
        REGISTRY,
        load_all_query_modules,
    )
    from tests.conftest import TEST_SF_DIR, assert_query_matches_oracle

    load_all_query_modules()
    # A fresh scratch base per case: the merge target is a live table
    # that a previous run in this process may have left behind.
    spec = REGISTRY[name]
    with scoped_conf(spark, {"spark.analytics.scratchDir": str(tmp_path)}):
        assert_query_matches_oracle(
            spec.fn(spark, TEST_SF_DIR), oracle, spec.oracle, name=name
        )


def test_manifest_refuses_pointerless_nonempty_target(spark, tmp_path):
    """Nesting a manifest layout inside a live rename-mode parquet dir
    would leave bare-path readers seeing mixed content — refuse
    eagerly."""
    target = str(tmp_path / "flat_table")
    spark.range(2).select(F.col("id").alias("k")).write.parquet(target)
    with pytest.raises(ValueError, match="rename-mode"):
        commit_mod.table_init(
            spark.range(3).select(F.col("id").alias("k")), target, "k"
        )


def test_resolve_table_passthrough_and_corrupt_pointer(tmp_path):
    plain = str(tmp_path / "plain")
    os.makedirs(plain)
    assert commit_mod.resolve_table(plain) == plain  # no pointer → as-is
    bad = str(tmp_path / "bad")
    os.makedirs(bad)
    with open(os.path.join(bad, commit_mod.CURRENT_POINTER), "w") as f:
        f.write("../evil\n")
    with pytest.raises(ValueError, match="corrupt"):
        commit_mod.resolve_table(bad)


def test_insert_key_offset_floors_at_fixture_scale_and_grows_past_it(spark):
    """Fixture SFs (max key ≪ 1e8) keep the historical 1e8 offset —
    committed attestations stay bit-identical — while a key domain at
    or above 1e8 gets the next power of 10 (collision-free at any SF,
    ADVICE r13)."""
    small = spark.createDataFrame([(60_000,)], "o_orderkey long")
    assert _insert_key_offset(small) == 100_000_000
    big = spark.createDataFrame([(2_340_000_000,)], "o_orderkey long")
    assert _insert_key_offset(big) == 10_000_000_000
    edge = spark.createDataFrame([(99_999_999,)], "o_orderkey long")
    assert _insert_key_offset(edge) == 100_000_000


# ---------------------------------------------------------------------------
# v2 per-FILE manifests (VERDICT r15 #2): incremental merge commits.
# ---------------------------------------------------------------------------


def _v2_base(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 7).alias("o_custkey"),
        F.lit("O").alias("o_orderstatus"),
        (F.col("id") * 1.5).alias("o_totalprice"),
    )


def _v2_rows(spark, target):
    return sorted(
        tuple(r) for r in commit_mod.table_read(spark, str(target)).collect()
    )


def test_table_merge_rewrites_strict_subset_of_files(spark, tmp_path):
    """The VERDICT r15 #2 'done' criterion: a merge whose update batch
    touches few buckets must rewrite ONLY those buckets' files — every
    untouched data file carried into the new manifest BY REFERENCE
    (identical path) — and the merged content must equal the
    whole-table merge."""
    from pyspark_analytics_library_spark.sources.scan_queries import scd1_merged

    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=8)
    files1 = {e["path"]: e["bucket"] for e in manifest_listing(target)[0]}
    assert len(files1) == 8, "one file per non-empty bucket at this size"

    # An update batch confined to ONE bucket: take three keys that all
    # hash to the same bucket id (computed with the table's own expr).
    keyed = (
        base.select(
            "o_orderkey", commit_mod._bucket_expr("o_orderkey", 8).alias("b")
        )
        .filter(F.col("b") == 3)
        .limit(3)
        .collect()
    )
    keys = [r["o_orderkey"] for r in keyed]
    updates = base.filter(F.col("o_orderkey").isin(keys)).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    stats = commit_mod.table_merge(spark, target, updates, scd1_merged)
    assert stats["touched_buckets"] == [3]
    assert stats["rewritten_files"] == 1
    assert stats["carried_files"] == 7

    files2 = {e["path"]: e["bucket"] for e in manifest_listing(target)[0]}
    carried = set(files1) & set(files2)
    assert len(carried) == 7, "untouched files must be carried by path"
    assert all(files1[p] != 3 for p in carried)
    new_files = set(files2) - set(files1)
    assert new_files and all(files2[p] == 3 for p in new_files)

    # Content equivalence vs the whole-table merge.
    expect = sorted(tuple(r) for r in scd1_merged(base, updates).collect())
    assert _v2_rows(spark, target) == expect


def test_table_merge_crash_before_pointer_swap_keeps_old_manifest_live(
    spark, tmp_path, monkeypatch
):
    """The crash-before-commit window: a failure after the merge's data
    files are written but before the pointer swap must leave readers on
    the complete OLD file set — the rename protocol's 'target briefly
    absent' window must not exist at all here."""
    from pyspark_analytics_library_spark.sources.scan_queries import scd1_merged

    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    before = _v2_rows(spark, target)

    real_swap = commit_mod._swap_pointer

    def exploding_swap(t, g):
        raise OSError("simulated crash before pointer swap")

    monkeypatch.setattr(commit_mod, "_swap_pointer", exploding_swap)
    updates = base.limit(5).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    with pytest.raises(OSError, match="simulated crash"):
        commit_mod.table_merge(spark, target, updates, scd1_merged)
    monkeypatch.setattr(commit_mod, "_swap_pointer", real_swap)
    assert _v2_rows(spark, target) == before
    # The never-committed manifest must NOT be left on disk (review
    # r16: it would later win a retention slot by recency and evict
    # the genuine previous generation) — history stays just the seed.
    assert commit_mod.table_history(target) == [
        commit_mod._live_manifest_name(target)
    ]
    # And the interrupted commit replays cleanly afterwards.
    commit_mod.table_merge(spark, target, updates, scd1_merged)
    assert _v2_rows(spark, target) != before
    # Retention order is the commit SEQUENCE (not mtime): the seed is
    # the rollback target after the successful retry.
    hist = commit_mod.table_history(target)
    assert len(hist) == commit_mod.KEEP_GENERATIONS
    assert sorted(
        commit_mod._manifest_seq(str(tmp_path / "t" / n)) for n in hist
    ) == [0, 1]


def test_table_merge_performs_no_directory_rename(spark, tmp_path, monkeypatch):
    """Simulated object store: directory rename is NOT available, and
    the ONLY atomic primitive is the single small-file os.replace — no
    directory rename anywhere in init or merge."""
    import os as os_mod

    from pyspark_analytics_library_spark.sources.scan_queries import scd1_merged

    target = str(tmp_path / "t")
    base = _v2_base(spark)

    def no_rename(*a, **k):
        raise AssertionError("v2 manifest commit must not rename directories")

    real_replace = os_mod.replace

    def file_only_replace(src, dst):
        assert os_mod.path.isfile(src), "os.replace allowed on files only"
        return real_replace(src, dst)

    monkeypatch.setattr(os_mod, "rename", no_rename)
    monkeypatch.setattr(os_mod, "replace", file_only_replace)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    updates = base.limit(3).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    commit_mod.table_merge(spark, target, updates, scd1_merged)
    assert len(_v2_rows(spark, target)) == 400


def test_v2_prunes_superseded_manifests_and_unreferenced_files(spark, tmp_path):
    """After KEEP_GENERATIONS commits beyond it, an old manifest and
    any data file no kept manifest references are reclaimed; files the
    live manifest references survive every prune."""
    from pyspark_analytics_library_spark.sources.scan_queries import scd1_merged

    target = tmp_path / "t"
    base = _v2_base(spark)
    commit_mod.table_init(base, str(target), "o_orderkey", n_buckets=4)
    first_files = {e["path"] for e in manifest_listing(str(target))[0]}
    for i in range(3):
        updates = base.limit(2 + i).select(
            "o_orderkey",
            "o_custkey",
            F.lit("U").alias("o_orderstatus"),
            F.lit(float(i)).alias("o_totalprice"),
        )
        commit_mod.table_merge(spark, str(target), updates, scd1_merged)
    manifests = [p.name for p in target.glob("manifest-*.json")]
    assert len(manifests) == commit_mod.KEEP_GENERATIONS
    for e in manifest_listing(str(target))[0]:
        assert (target / e["path"]).exists()
    # Files superseded in every kept manifest are gone from disk.
    kept_refs = set()
    for name in manifests:
        import json

        kept_refs |= {
            e["path"]
            for e in manifest_listing(
                str(target), json.load(open(target / name))
            )[0]
        }
    on_disk = {
        str(p.relative_to(target)).replace("\\", "/")
        for p in target.rglob("*.parquet")
    }
    assert on_disk == kept_refs
    assert first_files - kept_refs, "some seed files should have been superseded"


def test_table_merge_refuses_rekeying_merge_fn(spark, tmp_path):
    """A merge_fn that moves rows into buckets the update batch never
    touched would silently shadow carried files — the commit must
    refuse before the pointer swap."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=8)
    before = _v2_rows(spark, target)
    keyed = (
        base.select(
            "o_orderkey", commit_mod._bucket_expr("o_orderkey", 8).alias("b")
        )
        .filter(F.col("b") == 1)
        .limit(1)
        .collect()
    )
    updates = base.filter(F.col("o_orderkey") == keyed[0]["o_orderkey"])

    def rekeying_fn(base_slice, upd):
        return base_slice.unionByName(upd).withColumn(
            "o_orderkey", F.col("o_orderkey") + 1_000_000
        )

    with pytest.raises(ValueError, match="untouched buckets"):
        commit_mod.table_merge(spark, target, updates, rekeying_fn)
    assert _v2_rows(spark, target) == before


@contextlib.contextmanager
def _process_tz(name: str):
    """Run the body with the OS-local zone of this process set to
    ``name`` (the zone naive datetimes are read in on the row path)."""
    import time

    old = os.environ.get("TZ")
    os.environ["TZ"] = name
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()


def test_lookup_bucket_routing_runs_no_spark_job(spark):
    """``_buckets_for_keys`` hashes the probe keys over an Arrow-built
    local relation: the bucket ids equal those of the same expression
    over a Python-list frame, for every key type and NULL, and the
    collect runs no Spark job where the list frame runs one.  The OS and
    session zones differ, so a naive timestamp hashed in the session
    zone instead of the OS zone would show as other bucket ids."""
    import datetime
    import uuid

    from pyspark.sql import types as T

    from pyspark_analytics_library_spark.conf import scoped_conf

    sc = spark.sparkContext
    naive = [
        datetime.datetime(2024, 1, 5, 3, 4, 5, 678),
        datetime.datetime(2024, 7, 1, 23, 59),
        datetime.datetime(1970, 1, 1),
    ]
    aware = datetime.datetime(2024, 3, 2, 12, tzinfo=datetime.timezone.utc)
    cases = [
        (T.LongType(), [5, 17, 123, 2**40, -3, None]),
        (T.IntegerType(), [0, 7, -1, 2**31 - 1, None]),
        (T.StringType(), ["a", "", "é-ß", "x" * 40, None]),
        (T.DateType(), [datetime.date(2024, 1, 5), datetime.date(1970, 1, 1), None]),
        (T.TimestampType(), [*naive, aware, None]),
        (T.TimestampNTZType(), [*naive, None]),
    ]

    def jobs(fn):
        group = f"routing-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, "bucket routing")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    with _process_tz("America/New_York"), scoped_conf(
        spark, {"spark.sql.session.timeZone": "Asia/Tokyo"}
    ):
        for dtype, keys in cases:
            schema = T.StructType([T.StructField("k", dtype)])
            man = {"bucket_key": "k", "n_buckets": 16, "schema": schema.json()}
            got, got_jobs = jobs(
                lambda: commit_mod._buckets_for_keys(spark, man, keys)
            )
            listed = spark.createDataFrame([(k,) for k in keys], schema)
            want, list_jobs = jobs(
                lambda: {
                    r.b
                    for r in listed.select(
                        commit_mod._bucket_expr("k", 16).alias("b")
                    ).collect()
                }
            )
            assert got == want, (dtype, got, want)
            assert (got_jobs, list_jobs) == (0, 1), dtype


def test_table_lookup_on_a_timestamp_key(spark, tmp_path):
    """A timestamp-keyed table answers a lookup by naive datetimes, and
    a delete by them masks exactly those rows, when the OS zone (the
    one naive datetimes are read in) differs from the session zone."""
    import datetime

    from pyspark.sql import types as T

    from pyspark_analytics_library_spark.conf import scoped_conf

    target = str(tmp_path / "t")
    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("v", T.LongType())]
    )
    t0 = datetime.datetime(2024, 3, 9, 20)
    rows = [(t0 + datetime.timedelta(hours=7 * i), i) for i in range(40)]
    with _process_tz("America/New_York"), scoped_conf(
        spark, {"spark.sql.session.timeZone": "Asia/Tokyo"}
    ):
        commit_mod.table_init(
            spark.createDataFrame(rows, schema), target, "ts", n_buckets=16
        )
        keys = [rows[i][0] for i in (1, 5, 33)]
        got = sorted(
            tuple(r) for r in commit_mod.table_lookup(spark, target, keys).collect()
        )
        assert got == [rows[i] for i in (1, 5, 33)]
        commit_mod.table_delete(spark, target, keys[:2])
        left = sorted(tuple(r) for r in commit_mod.table_read(spark, target).collect())
    assert left == [r for i, r in enumerate(rows) if i not in (1, 5)]


def test_table_lookup_scans_only_matching_buckets(spark, tmp_path):
    """Read-side payoff of the bucketed layout: a point lookup derives
    its file set from the manifest by bucket arithmetic — no index —
    scanning a strict subset of files, and returns exactly the rows a
    full-scan filter would."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=16)
    man = commit_mod._load_manifest(target)[1]
    keys = [5, 17, 123]
    entries = commit_mod._man_entries(
        target, man, buckets=commit_mod._buckets_for_keys(spark, man, keys)
    )[0]
    # <=3 keys -> <=3 buckets of 16; strictly fewer files than the table.
    assert 0 < len(entries) <= 3 < len(manifest_listing(target, man)[0])
    got = sorted(
        tuple(r) for r in commit_mod.table_lookup(spark, target, keys).collect()
    )
    want = sorted(
        tuple(r)
        for r in commit_mod.table_read(spark, target)
        .filter(F.col("o_orderkey").isin(keys))
        .collect()
    )
    assert got == want and len(got) == 3

    # Keys absent from the table: bucket files are scanned but the
    # residual filter returns nothing; type-stable empty frame either way.
    assert commit_mod.table_lookup(spark, target, [10**9]).count() == 0


def test_table_merge_supports_row_deletes(spark, tmp_path):
    """merge_fn defines the merge semantics, so a DELETE (training-data
    pipelines' right-to-be-forgotten case) is just a merge_fn that
    drops the keys — still rewriting only the touched buckets.  The
    'update batch' is the delete-key list; carried buckets keep their
    rows untouched by construction."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=8)

    doomed = [3, 7, 11]
    deletes = base.filter(F.col("o_orderkey").isin(doomed))

    def delete_fn(base_slice, del_rows):
        return base_slice.join(
            del_rows.select("o_orderkey"), "o_orderkey", "left_anti"
        )

    stats = commit_mod.table_merge(spark, target, deletes, delete_fn)
    assert stats["carried_files"] > 0, "deletes must not rewrite the table"
    remaining = commit_mod.table_read(spark, target)
    assert remaining.count() == 400 - len(doomed)
    assert (
        remaining.filter(F.col("o_orderkey").isin(doomed)).count() == 0
    ), "deleted keys must be gone"
    # And gone from a bucket-pruned lookup too (same manifest view).
    assert commit_mod.table_lookup(spark, target, doomed).count() == 0


def test_table_merge_detects_concurrent_commit(spark, tmp_path):
    """Optimistic concurrency: a writer that committed between this
    merge's manifest read and its commit point must NOT be silently
    overwritten (the merge's carried-file list describes a superseded
    state).  merge_fn runs exactly in that window, so it doubles as
    the deterministic interleave hook."""
    from pyspark_analytics_library_spark.sources.scan_queries import scd1_merged

    target = str(tmp_path / "t")
    commit_mod.table_init(_v2_base(spark), target, "o_orderkey", n_buckets=8)

    def racing_fn(base_slice, upd):
        # Competing writer lands a full re-seed while the merge is
        # in flight.
        commit_mod.table_init(
            _v2_base(spark, 100), target, "o_orderkey", n_buckets=8
        )
        return scd1_merged(base_slice, upd)

    updates = _v2_base(spark).limit(3).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    with pytest.raises(commit_mod.ConcurrentCommitError, match="retry"):
        commit_mod.table_merge(spark, target, updates, racing_fn)
    # The competing writer's commit is live and intact — nothing lost.
    assert commit_mod.table_read(spark, target).count() == 100
    # The refused merge's manifest was not left behind as a live file;
    # a follow-up retry (re-read + merge) succeeds against the new state.
    stats = commit_mod.table_merge(spark, target, updates, scd1_merged)
    assert commit_mod.table_read(spark, target).count() == 100
    assert stats["new_files"] >= 1


def test_bucket_routing_is_version_stable(spark):
    """Canary: manifests PERSIST bucket assignments across sessions, so
    the pmod(xxhash64(key), n) routing must be bit-stable across Spark
    upgrades — a changed hash would silently route merges and lookups
    to the wrong files of every existing v2 table.  Values pinned from
    Spark 4.1.2; if this ever fails, v2 needs a manifest-recorded hash
    version + migration path BEFORE shipping on the new Spark."""
    pinned = {
        0: (12, 108),
        1: (2, 50),
        2: (13, 205),
        5: (5, 69),
        97: (10, 26),
        101: (3, 51),
        12345: (14, 94),
        10_000_000: (12, 92),
    }
    kdf = spark.createDataFrame(
        [(k,) for k in pinned], "o_orderkey long"
    )
    got = {
        r["o_orderkey"]: (r["b16"], r["b256"])
        for r in kdf.select(
            "o_orderkey",
            commit_mod._bucket_expr("o_orderkey", 16).alias("b16"),
            commit_mod._bucket_expr("o_orderkey", 256).alias("b256"),
        ).collect()
    }
    assert got == pinned


def test_table_history_time_travel_read(spark, tmp_path):
    """KEEP_GENERATIONS retains the superseded manifest AND its files,
    so reading `at=` the previous manifest returns the exact pre-merge
    table — rollback/time-travel within the retention window.  A
    manifest pruned out of the window raises with the live history."""
    from pyspark_analytics_library_spark.sources.scan_queries import scd1_merged

    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    gen0 = commit_mod._live_manifest_name(target)
    before = _v2_rows(spark, target)

    updates = base.limit(4).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    commit_mod.table_merge(spark, target, updates, scd1_merged)
    hist = commit_mod.table_history(target)
    assert len(hist) == commit_mod.KEEP_GENERATIONS and hist[1] == gen0
    after = _v2_rows(spark, target)
    assert after != before
    # Time travel: the superseded generation reads back exactly.
    old = sorted(
        tuple(r)
        for r in commit_mod.table_read(spark, target, at=gen0).collect()
    )
    assert old == before

    # One more commit prunes gen0 out of the window → clear error.
    commit_mod.table_merge(spark, target, updates, scd1_merged)
    with pytest.raises(ValueError, match="not retained"):
        commit_mod.table_read(spark, target, at=gen0)


def test_table_merge_refuses_schema_evolution(spark, tmp_path):
    """A merge_fn that adds/retypes a column would write the new
    layout only into rewritten buckets while carried files keep the
    old one — per-file-inconsistent reads.  The commit must refuse
    before any write and point at table_init (schema evolution is a
    whole-table re-seed)."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    before = _v2_rows(spark, target)
    updates = base.limit(2)

    def widening_fn(base_slice, upd):
        return base_slice.unionByName(upd).withColumn("extra", F.lit(1))

    with pytest.raises(ValueError, match="re-seed with table_init"):
        commit_mod.table_merge(spark, target, updates, widening_fn)
    assert _v2_rows(spark, target) == before


# ---------------------------------------------------------------------------
# Round 17: table maintenance — append, merge-on-read, compaction, and
# file-level stats pruning (VERDICT r16 missing #1/#2/#3).
# ---------------------------------------------------------------------------


def test_table_append_adds_files_without_rewrite(spark, tmp_path):
    """Fast append: new files only — every pre-existing file carried by
    identical path; content = base UNION batch (duplicates included:
    append is a log, not an upsert)."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    files1 = {e["path"] for e in manifest_listing(target)[0]}

    batch = _v2_base(spark).filter(F.col("o_orderkey") < 10)
    stats = commit_mod.table_append(spark, target, batch)
    assert stats["new_files"] >= 1

    man2 = commit_mod._load_manifest(target)[1]
    files2 = {e["path"] for e in manifest_listing(target, man2)[0]}
    assert files1 <= files2, "append must never rewrite or drop a file"
    expect = sorted(tuple(r) for r in base.unionAll(batch).collect())
    assert _v2_rows(spark, target) == expect
    # Appended entries are gen-stamped with the commit seq.
    new_gens = {
        e["gen"]
        for e in manifest_listing(target, man2)[0]
        if e["path"] not in files1
    }
    assert new_gens == {int(man2["seq"])}

    with pytest.raises(ValueError, match="does not match table schema"):
        commit_mod.table_append(
            spark, target, batch.withColumn("extra", F.lit(1))
        )


def test_table_merge_mor_masks_old_rows_newest_wins(spark, tmp_path):
    """Merge-on-read upsert: the update batch lands as delta files +
    tombstones, NO base file is rewritten, and every v2 reader
    (table_read / table_lookup) sees newest-wins rows — equal to what
    a copy-on-write scd1 merge would have produced."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    files1 = {e["path"] for e in manifest_listing(target)[0]}

    updates = base.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    stats = commit_mod.table_merge_mor(spark, target, updates)
    assert stats["delta_files"] >= 1 and stats["tombstone_files"] >= 1
    files2 = {e["path"] for e in manifest_listing(target)[0]}
    assert files1 <= files2, "MoR must not rewrite base files"

    expect = sorted(tuple(r) for r in scd1_merged(base, updates).collect())
    assert _v2_rows(spark, target) == expect

    # Point lookup applies the same masking.
    got = commit_mod.table_lookup(spark, target, [0, 50, 3]).collect()
    by_key = {r["o_orderkey"]: r["o_orderstatus"] for r in got}
    assert by_key == {0: "U", 50: "U", 3: "O"}

    # Second MoR round over an overlapping key set: newest still wins.
    updates2 = updates.filter(F.col("o_orderkey") <= 100).select(
        "o_orderkey",
        "o_custkey",
        F.lit("V").alias("o_orderstatus"),
        F.lit(2.0).alias("o_totalprice"),
    )
    commit_mod.table_merge_mor(spark, target, updates2)
    expect2 = sorted(
        tuple(r) for r in scd1_merged(scd1_merged(base, updates), updates2).collect()
    )
    assert _v2_rows(spark, target) == expect2


def test_table_compact_binpacks_and_applies_tombstones(spark, tmp_path):
    """Compaction: multi-file buckets collapse to one file per bucket,
    tombstones are applied and cleared, untouched buckets carried by
    reference, content bit-identical before/after.  A second compact is
    a no-op that commits nothing."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    commit_mod.table_append(
        spark, target, _v2_base(spark).filter(F.col("o_orderkey") >= 395)
    )
    updates = base.filter(F.col("o_orderkey") % 100 == 7).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    commit_mod.table_merge_mor(spark, target, updates)

    before = _v2_rows(spark, target)
    tombs_before = manifest_listing(target)[1]
    assert tombs_before, "fixture must carry live tombstones"
    seq_before = int(commit_mod._load_manifest(target)[1]["seq"])

    stats = commit_mod.table_compact(spark, target)
    assert stats["compacted_buckets"]
    assert stats["files_after"] < stats["files_before"]
    assert stats["tombstones_cleared"] == len(tombs_before)

    files_after, tombs_after = manifest_listing(target)
    assert tombs_after == []
    per_bucket: dict[int, int] = {}
    for e in files_after:
        per_bucket[e["bucket"]] = per_bucket.get(e["bucket"], 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    assert _v2_rows(spark, target) == before, "compaction changes no row"

    # No-op second run: no candidates, no new commit.
    stats2 = commit_mod.table_compact(spark, target)
    assert stats2["compacted_buckets"] == []
    assert int(commit_mod._load_manifest(target)[1]["seq"]) == seq_before + 1


def test_table_compact_detects_concurrent_commit(spark, tmp_path, monkeypatch):
    """Compact-under-concurrent-merge (VERDICT r16 #3 'done' bar): a
    writer landing between compact's manifest read and its commit point
    must raise ConcurrentCommitError and leave the other writer's
    commit live (compact's files become aged-out orphans)."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    commit_mod.table_append(
        spark, target, _v2_base(spark).filter(F.col("o_orderkey") < 20)
    )

    real_write = commit_mod._write_bucketed
    raced = {"done": False}

    def racing_write(df, tgt, man, layout=True):
        entries = real_write(df, tgt, man, layout=layout)
        if not raced["done"]:
            raced["done"] = True
            monkeypatch.undo()
            commit_mod.table_append(
                spark,
                tgt,
                _v2_base(spark).filter(F.col("o_orderkey") == 399),
            )
        return entries

    monkeypatch.setattr(commit_mod, "_write_bucketed", racing_write)
    with pytest.raises(commit_mod.ConcurrentCommitError):
        commit_mod.table_compact(spark, target)
    # The racing append's row is live; the table stays readable.
    rows = _v2_rows(spark, target)
    assert sum(1 for r in rows if r[0] == 399) == 2


def test_table_merge_refuses_tombstoned_buckets(spark, tmp_path):
    """CoW merge over a bucket with live MoR tombstones would feed
    merge_fn RESURRECTED rows — must refuse, naming table_compact."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    updates = base.limit(3).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    commit_mod.table_merge_mor(spark, target, updates)
    with pytest.raises(ValueError, match="table_compact"):
        commit_mod.table_merge(spark, target, updates, scd1_merged)
    # After compaction the CoW merge composes again.
    commit_mod.table_compact(spark, target)
    stats = commit_mod.table_merge(spark, target, updates, scd1_merged)
    assert stats["new_files"] >= 1


def test_manifest_stats_prune_range_reads(spark, tmp_path):
    """File-level min/max stats (VERDICT r16 missing #3): a range
    predicate on a NON-bucket column must skip files whose recorded
    bounds cannot intersect it — checked by comparing the pruned
    entry list — while returning exactly the rows a full scan +
    filter returns."""
    target = str(tmp_path / "t")
    # o_totalprice = key * 1.5 and the key is the bucket key, so each
    # bucket holds an arbitrary key subset; sort by a SECOND column's
    # range instead: o_custkey = key % 7 is too uniform, so build a
    # frame where a range predicate is file-selective: one append per
    # disjoint price band.
    lo_band = _v2_base(spark).filter(F.col("o_orderkey") < 100)
    commit_mod.table_init(lo_band, target, "o_orderkey", n_buckets=2)
    hi_band = _v2_base(spark).filter(F.col("o_orderkey") >= 300)
    commit_mod.table_append(spark, target, hi_band)

    files = manifest_listing(target)[0]
    assert all(
        "o_totalprice" in e["stats"] for e in files
    ), "footer stats must be recorded for numeric columns"

    # Range that only the hi band can satisfy: price >= 500.
    kept = [
        e
        for e in files
        if commit_mod._stats_overlap(e, "o_totalprice", 500.0, None)
    ]
    assert 0 < len(kept) < len(files), "pruning must skip files"
    assert {e["gen"] for e in kept} == {1}, "only the hi-band append kept"

    got = sorted(
        tuple(r)
        for r in commit_mod.table_read(
            spark, target, where=("o_totalprice", 500.0, None)
        ).collect()
    )
    expect = sorted(
        tuple(r)
        for r in lo_band.unionAll(hi_band)
        .filter(F.col("o_totalprice") >= 500.0)
        .collect()
    )
    assert got == expect


def test_table_delete_masks_rows_and_compact_makes_physical(spark, tmp_path):
    """Tombstone-only delete: O(keys) commit, no data file touched;
    readers stop seeing the keys immediately; compaction afterwards
    physically removes the rows and clears the tombstones."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    files1 = {e["path"] for e in manifest_listing(target)[0]}

    stats = commit_mod.table_delete(spark, target, [5, 6, 7])
    assert stats["tombstone_files"] >= 1
    assert {e["path"] for e in manifest_listing(target)[0]} == files1, (
        "no data write"
    )

    expect = sorted(
        tuple(r) for r in base.filter(~F.col("o_orderkey").isin(5, 6, 7)).collect()
    )
    assert _v2_rows(spark, target) == expect
    assert commit_mod.table_lookup(spark, target, [5]).count() == 0

    commit_mod.table_compact(spark, target)
    assert manifest_listing(target)[1] == []
    assert _v2_rows(spark, target) == expect


def test_compact_clears_tombstone_in_fileless_bucket(spark, tmp_path):
    """Review r17: a tombstone can land in a bucket with ZERO data
    files (deleting an absent key).  Compaction must still select that
    bucket and clear the tombstone — otherwise reads pay its anti-join
    forever and CoW merges of that bucket deadlock on the refusal."""
    target = str(tmp_path / "t")
    # 3 keys into 64 buckets: almost every bucket is file-less.
    base = _v2_base(spark).filter(F.col("o_orderkey") < 3)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=64)
    data_buckets = {e["bucket"] for e in manifest_listing(target)[0]}
    # A key whose bucket holds no data file:
    probe = spark.range(1000).select(
        F.col("id").alias("k"),
        commit_mod._bucket_expr("k", 64).alias("b"),
    )
    absent = next(
        r["k"] for r in probe.collect() if r["b"] not in data_buckets
    )
    commit_mod.table_delete(spark, target, [int(absent)])
    tombs = manifest_listing(target)[1]
    assert tombs, "tombstone must be recorded"
    assert all(
        t["bucket"] not in data_buckets for t in tombs
    ), "fixture must hit a file-less bucket"

    stats = commit_mod.table_compact(spark, target, min_files=99)
    assert stats["tombstones_cleared"] == len(tombs)
    assert manifest_listing(target)[1] == []
    assert _v2_rows(spark, target) == sorted(tuple(r) for r in base.collect())


def test_empty_maintenance_batches_commit_nothing(spark, tmp_path):
    """Review r17: empty delete/append/MoR batches must be no-ops —
    committing a no-change generation would evict a retained
    time-travel manifest for nothing."""
    target = str(tmp_path / "t")
    commit_mod.table_init(_v2_base(spark), target, "o_orderkey", n_buckets=4)
    seq0 = int(commit_mod._load_manifest(target)[1]["seq"])

    assert commit_mod.table_delete(spark, target, [])["tombstone_files"] == 0
    empty = _v2_base(spark).filter(F.lit(False))
    assert commit_mod.table_append(spark, target, empty)["new_files"] == 0
    assert commit_mod.table_merge_mor(spark, target, empty)["delta_files"] == 0
    assert int(commit_mod._load_manifest(target)[1]["seq"]) == seq0


def test_json_stat_timestamp_encoding_is_ordering_safe():
    """Review r17: datetime stats must encode to a FIXED-WIDTH tz-less
    UTC string — aware vs naive representations of the same instant
    must encode identically, and zero microseconds must not shorten
    the string (lexicographic order == chronological order)."""
    import datetime as dt

    aware = dt.datetime(2020, 1, 1, 5, 0, 0, tzinfo=dt.timezone.utc)
    naive_same_instant = dt.datetime(2020, 1, 1, 5, 0, 0)
    a = commit_mod._json_stat(aware)
    b = commit_mod._json_stat(naive_same_instant)
    assert a == b == "2020-01-01T05:00:00.000000"
    # offset-bearing input normalizes to UTC before encoding
    est = dt.timezone(dt.timedelta(hours=-5))
    c = commit_mod._json_stat(dt.datetime(2020, 1, 1, 0, 0, 0, tzinfo=est))
    assert c == a
    # fixed width holds with microseconds
    d = commit_mod._json_stat(dt.datetime(2020, 1, 1, 5, 0, 0, 123))
    assert len(d) == len(a) and d > a


def test_table_add_columns_metadata_only_evolution(spark, tmp_path):
    """Round 17: additive schema evolution is a manifest-only commit —
    zero data files touched; old rows read NULL in the new column; the
    next append writes it; non-nullable or colliding adds refuse."""
    from pyspark.sql.types import DoubleType, StringType, StructField

    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    files1 = {e["path"] for e in manifest_listing(target)[0]}

    stats = commit_mod.table_add_columns(
        spark, target, [StructField("o_channel", StringType(), True)]
    )
    assert stats["added"] == ["o_channel"]
    assert {e["path"] for e in manifest_listing(target)[0]} == files1, (
        "metadata-only"
    )

    got = commit_mod.table_read(spark, target)
    assert got.columns[-1] == "o_channel"
    assert got.filter(F.col("o_channel").isNotNull()).count() == 0

    # The next append carries the evolved shape and writes the column.
    batch = _v2_base(spark).filter(F.col("o_orderkey") >= 398).withColumn(
        "o_channel", F.lit("web")
    )
    commit_mod.table_append(spark, target, batch)
    got2 = commit_mod.table_read(spark, target)
    assert got2.filter(F.col("o_channel") == "web").count() == 2
    assert got2.count() == 402

    # Refusals: non-nullable add; name collision; old-shape append.
    with pytest.raises(ValueError, match="nullable"):
        commit_mod.table_add_columns(
            spark, target, [StructField("x", DoubleType(), False)]
        )
    with pytest.raises(ValueError, match="already exists"):
        commit_mod.table_add_columns(
            spark, target, [StructField("o_channel", StringType(), True)]
        )
    with pytest.raises(ValueError, match="does not match table schema"):
        commit_mod.table_append(spark, target, _v2_base(spark).limit(1))


def test_table_compact_max_buckets_incremental_window(spark, tmp_path):
    """max_buckets bounds one maintenance run: remaining candidates
    keep their tombstones (masking is per-bucket so reads stay
    correct), and a follow-up compact finishes the job."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    updates = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    commit_mod.table_merge_mor(spark, target, updates)
    before = _v2_rows(spark, target)
    n_tombs = len(manifest_listing(target)[1])
    assert n_tombs >= 2

    s1 = commit_mod.table_compact(spark, target, max_buckets=1)
    assert len(s1["compacted_buckets"]) == 1
    assert manifest_listing(target)[1], "uncompacted buckets keep tombstones"
    assert _v2_rows(spark, target) == before, "reads correct mid-window"

    s2 = commit_mod.table_compact(spark, target)
    assert s1["tombstones_cleared"] + s2["tombstones_cleared"] == n_tombs
    assert manifest_listing(target)[1] == []
    assert _v2_rows(spark, target) == before


def test_table_clustering_enables_intra_bucket_pruning(spark, tmp_path):
    """Round 17: cluster_by + max_records_per_file sorts each bucket by
    the cluster column and splits files on row count — per-file stats
    become near-disjoint, so a range read prunes files WITHIN a bucket
    (the hash key can't order values; clustering can).  Compaction's
    capacity rule must treat the multi-file layout as packed (no-op),
    re-pack only after appends add slack, and preserve clustering."""
    target = str(tmp_path / "t")
    base = _v2_base(spark, n=2000)
    commit_mod.table_init(
        base,
        target,
        "o_orderkey",
        n_buckets=4,
        cluster_by="o_totalprice",
        max_records_per_file=100,
    )
    man = commit_mod._load_manifest(target)[1]
    assert man["cluster_by"] == "o_totalprice"
    files = manifest_listing(target, man)[0]
    per_bucket: dict[int, list] = {}
    for e in files:
        per_bucket.setdefault(e["bucket"], []).append(e)
    assert all(len(fs) >= 4 for fs in per_bucket.values()), "files split"
    # Within each bucket the files' price ranges must not overlap
    # (sorted + split => contiguous slices).
    for fs in per_bucket.values():
        spans = sorted(tuple(e["stats"]["o_totalprice"]) for e in fs)
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, (spans,)

    # Range read on the cluster column: most files pruned, rows exact.
    kept = [
        e
        for e in files
        if commit_mod._stats_overlap(e, "o_totalprice", 2900.0, None)
    ]
    assert len(kept) < len(files) / 2, "intra-bucket pruning"
    got = sorted(
        tuple(r)
        for r in commit_mod.table_read(
            spark, target, where=("o_totalprice", 2900.0, None)
        ).collect()
    )
    expect = sorted(
        tuple(r)
        for r in base.filter(F.col("o_totalprice") >= 2900.0).collect()
    )
    assert got == expect

    # Freshly clustered layout is PACKED: compact must be a no-op.
    assert commit_mod.table_compact(spark, target)["compacted_buckets"] == []

    # Appends add slack; compact re-packs and clustering survives.
    for lo in (0, 500, 1000, 1500):
        commit_mod.table_append(
            spark,
            target,
            base.filter(
                (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < lo + 500)
            ),
        )
    stats = commit_mod.table_compact(spark, target)
    assert stats["compacted_buckets"], "append slack must trigger packing"
    per_bucket2: dict[int, list] = {}
    for e in manifest_listing(target)[0]:
        per_bucket2.setdefault(e["bucket"], []).append(e)
    for fs in per_bucket2.values():
        spans = sorted(tuple(e["stats"]["o_totalprice"]) for e in fs)
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, "clustering must survive compaction"
    assert commit_mod.table_compact(spark, target)["compacted_buckets"] == []
    expect_all = sorted(tuple(r) for r in base.unionAll(base).collect())
    assert _v2_rows(spark, target) == expect_all


def test_time_travel_across_mor_commits(spark, tmp_path):
    """table_read(at=...) through a merge-on-read history: each
    retained manifest masks with exactly ITS tombstone list, so the
    pre-MoR snapshot shows pre-update rows while the live one shows
    newest-wins — snapshot isolation across deferred merges."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    pre_mor = commit_mod.table_history(target)[0]
    updates = base.filter(F.col("o_orderkey") < 5).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    commit_mod.table_merge_mor(spark, target, updates)

    old = commit_mod.table_read(spark, target, at=pre_mor)
    assert sorted(tuple(r) for r in old.collect()) == sorted(
        tuple(r) for r in base.collect()
    ), "pre-MoR snapshot must show the original rows, unmasked"
    live = commit_mod.table_read(spark, target)
    assert (
        live.filter(
            (F.col("o_orderkey") < 5) & (F.col("o_orderstatus") == "U")
        ).count()
        == 5
    )


def _null_key_row(spark, status: str, price: float):
    return spark.range(1).select(
        F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(0).cast("bigint").alias("o_custkey"),
        F.lit(status).alias("o_orderstatus"),
        F.lit(price).alias("o_totalprice"),
    )


def test_mor_null_key_rows_are_masked(spark, tmp_path):
    """ADVICE r17: the MoR tombstone mask must be NULL-safe.  A NULL
    bucket key is one ordinary merge group (same pmod(xxhash64(NULL))
    routing writer- and reader-side, matching CoW scd1's treatment per
    VERDICT r13 #7) — a null-unsafe == in the anti-join would leave the
    old NULL-key base row alive as a silent duplicate."""
    target = str(tmp_path / "t")
    base = _v2_base(spark, 20).unionAll(_null_key_row(spark, "N", 9.0))
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)

    commit_mod.table_merge_mor(
        spark, target, _null_key_row(spark, "U", 1.0)
    )
    nulls = (
        commit_mod.table_read(spark, target)
        .filter(F.col("o_orderkey").isNull())
        .collect()
    )
    assert len(nulls) == 1, "old NULL-key row must be masked, not duplicated"
    assert nulls[0]["o_orderstatus"] == "U"

    # Tombstone-only delete of the NULL key: zero NULL rows remain.
    commit_mod.table_delete(spark, target, [None])
    assert (
        commit_mod.table_read(spark, target)
        .filter(F.col("o_orderkey").isNull())
        .count()
        == 0
    )
    # Non-NULL rows untouched throughout.
    assert (
        commit_mod.table_read(spark, target)
        .filter(F.col("o_orderkey").isNotNull())
        .count()
        == 20
    )


def test_legacy_dv_table_reads_row_exact(spark, tmp_path):
    """Tables written with the removed positional deletion vectors: each
    MoR tombstone names a ``data/dv-*.json`` document, and the old reader
    trusted an empty position list in it as proof a file was clean.  The
    key anti-join ignores the document, so one that claims every touched
    base file clean cannot keep a stale row; compaction plus vacuum then
    reclaims it as an ordinary unreferenced file."""
    import pandas as pd

    target = str(tmp_path / "t")
    base = _v2_base(spark, 200)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    updates = base.filter(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(-1.0).alias("o_totalprice"),
    )
    commit_mod.table_merge_mor(spark, target, updates)
    rel = stamp_legacy_dv(target)
    assert all(t.get("dv") == rel for t in manifest_listing(target)[1])

    model = pd.concat([base.toPandas(), updates.toPandas()]).drop_duplicates(
        "o_orderkey", keep="last"
    )
    expect = sorted(model.itertuples(index=False, name=None))
    assert _v2_rows(spark, target) == expect

    commit_mod.table_compact(spark, target)
    commit_mod.table_vacuum(target, older_than_s=0)
    assert not os.path.exists(os.path.join(target, rel))
    assert _v2_rows(spark, target) == expect


def test_stats_prune_date_stats_vs_datetime_bound_not_lossy(spark, tmp_path):
    """ADVICE r17: a DATE column's 10-char stats compared against a
    datetime bound's 26-char encoding must not lossily prune — Spark
    casts the date column to a midnight timestamp for the row filter,
    so '2024-01-06' DOES satisfy >= 2024-01-06T00:00:00.  The overlap
    check widens date encodings to midnight under a temporal dtype and
    keeps the file on mixed widths when the dtype is unknown."""
    import datetime

    # Direct unit check on the overlap predicate.
    entry = {"stats": {"d": ["2024-01-01", "2024-01-06"]}}
    bound = datetime.datetime(2024, 1, 6)
    assert commit_mod._stats_overlap(entry, "d", bound, None, "date"), (
        "midnight bound equal to the max date must keep the file"
    )
    assert not commit_mod._stats_overlap(
        entry, "d", datetime.datetime(2024, 1, 6, 0, 0, 1), None, "date"
    ), "a bound strictly past the max midnight must still prune"
    # Unknown dtype + mixed widths: never lossy -> keep.
    assert commit_mod._stats_overlap(entry, "d", bound, None)

    # End-to-end: two disjoint date bands; the boundary date's rows
    # must survive a datetime-typed range read.
    target = str(tmp_path / "t")
    frame = spark.range(12).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
    )
    commit_mod.table_init(
        frame.filter(F.col("id") < 6), target, "k", n_buckets=1
    )
    commit_mod.table_append(spark, target, frame.filter(F.col("id") >= 6))

    got = sorted(
        r["k"]
        for r in commit_mod.table_read(
            spark, target, where=("d", datetime.datetime(2024, 1, 6), None)
        ).collect()
    )
    assert got == list(range(5, 12)), (
        "boundary date 2024-01-06 (k=5) must not be pruned away"
    )


def test_mask_split_clean_dirty_partition(spark, tmp_path):
    """Round 18: _mask_split's cleanliness proofs, entry-level.

    * gen ordering: files at gen >= every tombstone gen in their
      bucket are clean (the newest MoR delta commit never pays the
      anti-join for its own tombstones);
    * key ranges: a base file range-disjoint from all newer
      tombstones is clean;
    * NULL awareness: disjoint ranges prove nothing when either side
      may hold NULL keys — such files stay dirty."""
    target = str(tmp_path / "t")
    base = _v2_base(spark)  # keys 0..399
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=2)

    updates = base.filter(F.col("o_orderkey") < 10).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    commit_mod.table_merge_mor(spark, target, updates)
    man = commit_mod._load_manifest(target)[1]
    clean, dirty, tombs = commit_mod._mask_split(
        man, *manifest_listing(target, man)
    )
    # The gen-1 delta files are clean BY GEN (their tombstones are not
    # newer); the gen-0 base files intersect keys 0..9 -> dirty.
    assert {int(e["gen"]) for e in clean} >= {1}
    assert all(int(e["gen"]) == 0 for e in dirty) and dirty
    assert tombs, "base files need the tombstone mask"
    # Row-level ground truth unchanged.
    from pyspark_analytics_library_spark.sources.scan_queries import scd1_merged

    expect = sorted(tuple(r) for r in scd1_merged(base, updates).collect())
    assert _v2_rows(spark, target) == expect

    # Null-awareness: a synthetic entry whose key stats are disjoint
    # but whose null count is unknown must stay dirty against a
    # null-capable tombstone.
    t = dict(tombs[0])
    e_disjoint = {
        "bucket": t["bucket"],
        "gen": 0,
        "key_nulls": 0,
        "stats": {"o_orderkey": [1_000_000, 1_000_001]},
    }
    assert not commit_mod._may_mask(e_disjoint, t, "o_orderkey")
    e_unknown_nulls = dict(e_disjoint, key_nulls=None)
    t_with_nulls = dict(t, key_nulls=1)
    assert commit_mod._may_mask(e_unknown_nulls, t_with_nulls, "o_orderkey")
    # Older/equal-gen tombstones never mask, regardless of ranges.
    assert not commit_mod._may_mask(dict(e_disjoint, gen=t["gen"]), t, "o_orderkey")


def test_mor_commit_writes_once_and_lists_deltas_as_tombstones(spark, tmp_path):
    """A merge-on-read upsert writes ONE commit directory: each delta
    file is listed again as its bucket's tombstone (same path, gen and
    bucket; no ``part``; key-only stats), and the read is the upsert."""
    from pyspark_analytics_library_spark.sources.scan_queries import scd1_merged

    target = str(tmp_path / "t")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    updates = base.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        F.lit(1.0).alias("o_totalprice"),
    )
    data_dir = os.path.join(target, commit_mod.DATA_DIR)
    dirs_before = set(os.listdir(data_dir))
    st = commit_mod.table_merge_mor(spark, target, updates)
    new_dirs = set(os.listdir(data_dir)) - dirs_before
    assert len(new_dirs) == 1 and new_dirs.pop().startswith("c-")

    files, tombs = manifest_listing(target)
    deltas = [e for e in files if int(e["gen"]) == 1]
    assert deltas and st["delta_files"] == st["tombstone_files"] == len(deltas)
    assert sorted(t["path"] for t in tombs) == sorted(e["path"] for e in deltas)
    by_path = {e["path"]: e for e in deltas}
    for t in tombs:
        e = by_path[t["path"]]
        assert (t["bucket"], t["gen"], t["rows"], t["key_nulls"]) == (
            e["bucket"], e["gen"], e["rows"], e["key_nulls"]
        )
        assert "part" not in t
        assert t["stats"] == {"o_orderkey": e["stats"]["o_orderkey"]}
    expect = sorted(tuple(r) for r in scd1_merged(base, updates).collect())
    assert _v2_rows(spark, target) == expect


def test_bucket_key_stats_recorded_past_stats_max_cols(spark, tmp_path):
    """On a table wider than STATS_MAX_COLS whose bucket key comes
    last, files still record the key's range and null count, so a
    range-disjoint delete leaves every base file clean."""
    n = commit_mod.STATS_MAX_COLS
    df = spark.range(100).select(
        *[(F.col("id") + i).alias(f"c{i}") for i in range(n)],
        F.col("id").alias("k"),
    )
    target = str(tmp_path / "wide")
    commit_mod.table_init(df, target, "k", n_buckets=1)
    files, _ = manifest_listing(target)
    assert files
    for e in files:
        assert e["stats"]["k"] == [0, 99] and e["key_nulls"] == 0
        assert len(e["stats"]) == n + 1

    commit_mod.table_delete(spark, target, [1000, 1001])
    man = commit_mod._load_manifest(target)[1]
    clean, dirty, relevant = commit_mod._mask_split(
        man, *manifest_listing(target, man)
    )
    assert clean and not dirty and not relevant
    assert commit_mod.table_read(spark, target).count() == 100


def test_commit_ops_read_the_live_pointer_once(spark, tmp_path, monkeypatch):
    """Each commit op resolves ``_CURRENT`` once to load the root it
    builds on and once more at its commit point.  A second read before
    the commit could see a root another writer committed in between,
    so the op would build on that root yet check against the first
    name, and refuse a commit that raced nothing.  Every op also
    advances the sequence by exactly one."""
    from pyspark.sql.types import StringType, StructField

    target = str(tmp_path / "t")
    parted = str(tmp_path / "p")
    base = _v2_base(spark)
    commit_mod.table_init(base, target, "o_orderkey", n_buckets=4)
    commit_mod.table_init(
        base, parted, "o_orderkey", n_buckets=4, partition_by="o_custkey"
    )
    batch = base.filter(F.col("o_orderkey") < 3)

    def upsert(base_slice, updates):
        return base_slice.join(updates, "o_orderkey", "left_anti").unionByName(
            updates
        )

    calls: list[str] = []
    real = commit_mod.resolve_table

    def counting(t):
        calls.append(t)
        return real(t)

    monkeypatch.setattr(commit_mod, "resolve_table", counting)
    ops = {
        "table_init": (target, lambda: commit_mod.table_init(
            base, target, "o_orderkey", n_buckets=4
        )),
        "table_append": (target, lambda: commit_mod.table_append(spark, target, batch)),
        "table_merge_mor": (
            target, lambda: commit_mod.table_merge_mor(spark, target, batch)
        ),
        "table_delete": (target, lambda: commit_mod.table_delete(spark, target, [1])),
        "table_compact": (target, lambda: commit_mod.table_compact(spark, target)),
        "table_merge": (
            target, lambda: commit_mod.table_merge(spark, target, batch, upsert)
        ),
        "table_add_columns": (target, lambda: commit_mod.table_add_columns(
            spark, target, [StructField("o_note", StringType(), True)]
        )),
        "table_rename_column": (
            target, lambda: commit_mod.table_rename_column(target, "o_note", "o_memo")
        ),
        "table_drop_column": (
            target, lambda: commit_mod.table_drop_column(target, "o_memo")
        ),
        "table_set_retention": (
            target, lambda: commit_mod.table_set_retention(target, 3)
        ),
        "table_drop_partition": (
            parted, lambda: commit_mod.table_drop_partition(parted, "3")
        ),
    }
    for name, (t, op) in ops.items():
        seq = int(commit_mod._load_manifest(t)[1]["seq"])
        calls.clear()
        op()
        assert len(calls) == 2, (name, len(calls))
        assert int(commit_mod._load_manifest(t)[1]["seq"]) == seq + 1, name
