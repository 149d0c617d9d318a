"""Manifest-list tables (round 18, VERDICT r17 next #3/#4): root +
per-bucket part files, retention as a table property, and
table_vacuum.

The layout's CONTRACT is driver-side manifest I/O bounded by the
touched buckets, not the table — asserted here against the
MANIFEST_IO counter (part files actually read), not assumed.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.conf import scoped_conf
from pyspark_analytics_library_spark.sources import commit as cm
from pyspark_analytics_library_spark.sources.scan_queries import scd1_merged
from tests.conftest import manifest_listing


def _base(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 7).alias("o_custkey"),
        F.lit("O").alias("o_orderstatus"),
        (F.col("id") * 1.5).alias("o_totalprice"),
    )


def _rows(spark, target, **kw):
    return sorted(tuple(r) for r in cm.table_read(spark, str(target), **kw).collect())


def _reset_io():
    cm.MANIFEST_IO.update(reads=0, part_reads=0, bytes=0)


def _split_init(spark, tmp_path, n_buckets=8, **kw):
    target = str(tmp_path / "t")
    cm.table_init(
        _base(spark), target, "o_orderkey", n_buckets=n_buckets, **kw
    )
    return target


def test_split_init_layout_and_read_roundtrip(spark, tmp_path):
    target = _split_init(spark, tmp_path)
    man = cm._load_manifest(target)[1]
    assert "parts" in man and "files" not in man
    assert all(r["path"].startswith(cm.PARTS_DIR + "/") for r in man["parts"])
    assert len(man["parts"]) == len({r["bucket"] for r in man["parts"]}), (
        "one part per bucket"
    )
    assert _rows(spark, target) == sorted(tuple(r) for r in _base(spark).collect())
    # Part refs carry planning metadata: counts, rows, bytes.  No
    # column bounds by design — a hash bucket's union spans the full
    # domain, so ref-level stats could never prune (commit.py
    # _write_part).
    for r in man["parts"]:
        assert r["files"] >= 1 and r["rows"] >= 1 and r["bytes"] > 0
        assert "stats" not in r


def test_split_merge_parses_only_touched_buckets(spark, tmp_path):
    """The headline invariant: a CoW merge on a split table loads the
    root + ONLY the touched buckets' parts — O(update footprint)
    driver-side manifest I/O."""
    target = _split_init(spark, tmp_path, n_buckets=8)
    man = cm._load_manifest(target)[1]
    total_parts = len(man["parts"])
    assert total_parts == 8

    one_key = _base(spark).filter(F.col("o_orderkey") == 5).select(
        "o_orderkey", "o_custkey", F.lit("U").alias("o_orderstatus"), F.lit(1.0).alias("o_totalprice")
    )
    _reset_io()
    stats = cm.table_merge(spark, target, one_key, scd1_merged)
    assert len(stats["touched_buckets"]) == 1
    # Loads: the touched bucket's part once for the merge.  The commit-
    # path pruner may read a couple of just-superseded parts (dead-part
    # enumeration), never the full listing.
    assert cm.MANIFEST_IO["part_reads"] <= 3, cm.MANIFEST_IO
    assert cm.MANIFEST_IO["part_reads"] < total_parts

    expect = sorted(tuple(r) for r in scd1_merged(_base(spark), one_key).collect())
    assert _rows(spark, target) == expect
    man2 = cm._load_manifest(target)[1]
    carried = {r["path"] for r in man["parts"]} & {r["path"] for r in man2["parts"]}
    assert len(carried) == total_parts - 1, (
        "untouched parts must carry by reference"
    )


def test_split_lookup_parses_one_bucket(spark, tmp_path):
    target = _split_init(spark, tmp_path, n_buckets=8)
    _reset_io()
    got = cm.table_lookup(spark, target, [42]).collect()
    assert cm.MANIFEST_IO["part_reads"] == 1, cm.MANIFEST_IO
    assert len(got) == 1 and got[0]["o_orderkey"] == 42


def _groups(spark, frame, n_buckets, part_col=None):
    """(partition, bucket) → row count of ``frame``, by the bucket hash
    spelled out here rather than through the commit layer."""
    part = F.col(part_col).cast("string") if part_col else F.lit(None).cast("string")
    bucket = F.pmod(F.xxhash64(F.col("o_orderkey")), F.lit(n_buckets))
    rows = frame.groupBy(part.alias("p"), bucket.alias("b")).count().collect()
    return {(r["p"], r["b"]): r["count"] for r in rows}


def test_bucket_key_where_in_parses_only_its_buckets(spark, tmp_path):
    """``table_read(where_in=...)`` on the bucket key is the lookup read:
    the driver parses only the parts of the values' buckets, not the
    whole listing."""
    target = _split_init(spark, tmp_path, n_buckets=8)
    keys = [42, 43, 310]
    probe = _base(spark).filter(F.col("o_orderkey").isin(keys))
    buckets = {b for _p, b in _groups(spark, probe, 8)}
    assert len(buckets) < len(cm._load_manifest(target)[1]["parts"])
    _reset_io()
    got = cm.table_read(spark, target, where_in=("o_orderkey", keys)).collect()
    assert cm.MANIFEST_IO["part_reads"] == len(buckets), cm.MANIFEST_IO
    assert sorted(r["o_orderkey"] for r in got) == keys


@pytest.mark.parametrize("aqe", ["true", "false"])
@pytest.mark.parametrize(
    "n_buckets, layout",
    [
        (64, {}),
        (16, {"partition_by": "o_custkey"}),
        (64, {"cluster_by": "o_totalprice", "max_records_per_file": 5}),
    ],
    ids=["plain", "partitioned", "max_records"],
)
def test_write_layout_with_fewer_shuffle_partitions_than_buckets(
    spark, tmp_path, aqe, n_buckets, layout
):
    """A write runs one task per shuffle partition, and a task writes
    several buckets; each (partition, bucket) group still lands in one
    task, so each commit writes one file per non-empty group (or the
    ``max_records_per_file`` split of it), with AQE on or off.  After
    init, append, merge-on-read and compact the table reads back the
    model's rows."""
    import math

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) < n_buckets
    target = str(tmp_path / "t")
    part_col = layout.get("partition_by")
    mrpf = layout.get("max_records_per_file")

    def files_per_group(rows):
        return math.ceil(rows / mrpf) if mrpf else 1

    def by_group(gen=None):
        """gkey → row counts of its files (only gen ``gen``'s if given)."""
        out = {}
        for e in manifest_listing(target)[0]:
            if gen is None or e["gen"] == gen:
                out.setdefault(cm._gkey(e), []).append(e["rows"])
        return out

    def seq():
        return cm._load_manifest(target)[1]["seq"]

    model = {}

    def commit(op, batch):
        op(batch)
        model.update((r[0], tuple(r)) for r in batch.collect())
        written = by_group(seq())
        assert {g: sum(r) for g, r in written.items()} == _groups(
            spark, batch, n_buckets, part_col
        )
        for g, rows in written.items():
            assert len(rows) == files_per_group(sum(rows)), (g, rows)
        assert _rows(spark, target) == sorted(model.values())

    with scoped_conf(spark, {"spark.sql.adaptive.enabled": aqe}):
        commit(
            lambda b: cm.table_init(b, target, "o_orderkey", n_buckets=n_buckets, **layout),
            _base(spark, 600),
        )
        commit(
            lambda b: cm.table_append(spark, target, b),
            _base(spark, 604).filter(F.col("o_orderkey") >= 600),
        )
        commit(
            lambda b: cm.table_merge_mor(spark, target, b),
            _base(spark, 650)
            .filter(F.col("o_orderkey") >= 550)
            .withColumn("o_orderstatus", F.lit("U")),
        )
        cm.table_compact(spark, target)
        # Compaction packed every group that got a second file or a
        # tombstone; every group now holds the model's rows.
        assert all(r["tombstones"] == 0 for r in cm._load_manifest(target)[1]["parts"])
        live = spark.createDataFrame(list(model.values()), _base(spark).schema)
        have = by_group()
        assert {g: sum(r) for g, r in have.items()} == _groups(
            spark, live, n_buckets, part_col
        )
        packed = by_group(seq())
        assert packed
        for g, rows in packed.items():
            assert len(rows) == files_per_group(sum(rows)), (g, rows)
        if mrpf is None:
            assert all(len(rows) == 1 for rows in have.values()), have
        assert _rows(spark, target) == sorted(model.values())


def test_split_pruned_range_read_skips_parts(spark, tmp_path):
    """table_read(where=) on a split table: parts are parsed
    (O(buckets) — the layout's stated range-read cost; ref-level
    column bounds could never prune a hash-mixed bucket), then FILE
    entries prune on their footer stats — rows exact, banded files
    skipped."""
    target = str(tmp_path / "t")
    frame = _base(spark, 1000)
    # Disjoint value bands land in distinct COMMITS (init + append),
    # so within each bucket's part the per-entry stats are banded and
    # entry-level pruning fires.
    cm.table_init(
        frame.filter(F.col("o_orderkey") < 100), target, "o_orderkey", n_buckets=4,
    )
    cm.table_append(spark, target, frame.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 600)))
    man = cm._load_manifest(target)[1]
    # Every part's stats union reflects its band mix; a range only the
    # hi band satisfies must skip any part whose union tops out below.
    _reset_io()
    got = sorted(
        r["o_orderkey"] for r in cm.table_read(spark, target, where=("o_totalprice", 780.0, None)).collect()
    )
    assert got == list(range(520, 600))
    assert cm.MANIFEST_IO["part_reads"] <= len(man["parts"]), cm.MANIFEST_IO


def test_split_append_mor_delete_compact_roundtrip(spark, tmp_path):
    """The maintenance family (append / merge-on-read / delete /
    compact) produces row-for-row what a row-level model of the same
    ops produces, and compaction packs per-bucket listings back to one
    file each with tombstones cleared."""
    base = _base(spark)
    tgt_s = str(tmp_path / "split")
    cm.table_init(base, tgt_s, "o_orderkey", n_buckets=4)

    extra = _base(spark).filter(F.col("o_orderkey") >= 395)
    updates = base.filter(F.col("o_orderkey") % 50 == 0).select(
        "o_orderkey", "o_custkey", F.lit("U").alias("o_orderstatus"), F.lit(1.0).alias("o_totalprice")
    )
    cm.table_append(spark, tgt_s, extra)
    cm.table_merge_mor(spark, tgt_s, updates)
    cm.table_delete(spark, tgt_s, [3, 7])
    # Model: append is a log (duplicates coexist); the upsert masks
    # every older row of its keys; the delete masks keys 3 and 7.
    upd = [tuple(r) for r in updates.collect()]
    gone = {r[0] for r in upd} | {3, 7}
    expect = sorted(
        [tuple(r) for r in base.unionAll(extra).collect() if r[0] not in gone]
        + upd
    )
    assert _rows(spark, tgt_s) == expect

    st = cm.table_compact(spark, tgt_s)
    assert st["tombstones_cleared"] >= 1
    assert _rows(spark, tgt_s) == expect
    man = cm._load_manifest(tgt_s)[1]
    assert all(r["tombstones"] == 0 for r in man["parts"])
    assert all(r["files"] == 1 for r in man["parts"]), (
        "compaction packs each bucket's listing to one file"
    )


def test_split_mor_commit_parses_only_touched_buckets(spark, tmp_path):
    target = _split_init(spark, tmp_path, n_buckets=8)
    one_key = _base(spark).filter(F.col("o_orderkey") == 9).select(
        "o_orderkey", "o_custkey", F.lit("U").alias("o_orderstatus"), F.lit(2.0).alias("o_totalprice")
    )
    _reset_io()
    cm.table_merge_mor(spark, target, one_key)
    assert cm.MANIFEST_IO["part_reads"] <= 3, cm.MANIFEST_IO
    got = cm.table_lookup(spark, target, [9]).collect()
    assert len(got) == 1 and got[0]["o_orderstatus"] == "U"


def test_split_pruner_reclaims_dead_parts_and_files(spark, tmp_path):
    """Three commits at retention 2: the oldest root and the parts
    only IT references die; parts carried into newer roots survive;
    data files shared between dead and kept parts (append carries old
    entries into the replacement part) are never deleted."""
    target = _split_init(spark, tmp_path, n_buckets=4)
    man0 = cm._load_manifest(target)[1]
    paths0 = {r["path"] for r in man0["parts"]}
    extra = _base(spark).filter(F.col("o_orderkey") >= 395)  # touches some buckets
    cm.table_append(spark, target, extra)
    man1 = cm._load_manifest(target)[1]
    cm.table_append(spark, target, extra)  # third root; man0 pruned
    man2 = cm._load_manifest(target)[1]

    live_names = set(cm.table_history(target))
    assert len(live_names) == 2
    # man0's root is gone.
    roots = {n for n in os.listdir(target) if n.startswith(cm.MANIFEST_PREFIX)}
    assert roots == live_names
    # Parts referenced by retained roots all exist; dead parts do not.
    retained_parts = {r["path"] for r in man1["parts"]} | {
        r["path"] for r in man2["parts"]
    }
    for rel in retained_parts:
        assert os.path.exists(os.path.join(target, rel)), rel
    for rel in paths0 - retained_parts:
        assert not os.path.exists(os.path.join(target, rel)), (
            "dead part must be reclaimed"
        )
    # Every retained data file readable; masked content exact.
    expect = sorted(
        tuple(r) for r in _base(spark).unionAll(extra).unionAll(extra).collect()
    )
    assert _rows(spark, target) == expect


def test_split_time_travel_and_concurrency(spark, tmp_path):
    target = _split_init(spark, tmp_path, n_buckets=4)
    pre = cm.table_history(target)[0]
    updates = _base(spark).filter(F.col("o_orderkey") < 5).select(
        "o_orderkey", "o_custkey", F.lit("U").alias("o_orderstatus"), F.lit(1.0).alias("o_totalprice")
    )
    cm.table_merge_mor(spark, target, updates)
    assert _rows(spark, target, at=pre) == sorted(
        tuple(r) for r in _base(spark).collect()
    )
    # Optimistic concurrency: a commit landing mid-op is detected.
    real_commit = cm._commit_manifest

    def hijack(tgt, manifest, expect_current=None):
        # Restore FIRST so the competing writer's own commit goes
        # through the real path (no recursion), then land it.
        cm._commit_manifest = real_commit
        cm.table_delete(spark, target, [399])
        return real_commit(tgt, manifest, expect_current=expect_current)

    cm._commit_manifest = hijack
    try:
        with pytest.raises(cm.ConcurrentCommitError):
            cm.table_delete(spark, target, [7])
    finally:
        cm._commit_manifest = real_commit


def test_retention_property_and_vacuum(spark, tmp_path):
    """Retention is a table property: keep_generations=3 retains three
    roots through the commit-path pruner; table_set_retention(1)
    collapses history on the next commit.  table_vacuum reclaims aged
    orphans and excess roots but never a retained reference — time
    travel to every retained manifest stays row-exact."""
    target = str(tmp_path / "t")
    base = _base(spark)
    cm.table_init(
        base, target, "o_orderkey", n_buckets=4, keep_generations=3
    )
    extra = _base(spark).filter(F.col("o_orderkey") >= 395)
    cm.table_append(spark, target, extra)
    cm.table_append(spark, target, extra)
    hist = cm.table_history(target)
    assert len(hist) == 3, "keep_generations=3 must retain three roots"
    # Time travel to the OLDEST retained root is exact.
    assert _rows(spark, target, at=hist[-1]) == sorted(
        tuple(r) for r in base.collect()
    )

    # Plant orphans: a young one (in-flight grace) and an old one.
    young = os.path.join(target, cm.DATA_DIR, "c-deadbeefdead", "bucket=0")
    os.makedirs(young)
    with open(os.path.join(young, "part-junk.parquet"), "wb") as f:
        f.write(b"\x00")
    old_dir = os.path.join(target, cm.DATA_DIR, "c-feedfacefeed", "bucket=1")
    os.makedirs(old_dir)
    old_file = os.path.join(old_dir, "part-old.parquet")
    with open(old_file, "wb") as f:
        f.write(b"\x00")
    os.utime(old_file, (1, 1))

    stats = cm.table_vacuum(target)
    assert stats["data_files_removed"] == 1, stats
    assert os.path.exists(os.path.join(young, "part-junk.parquet")), (
        "young orphan is in-flight-grace protected"
    )
    assert not os.path.exists(old_file)
    # All retained reads still exact after the sweep.
    for at, want in (
        (hist[-1], sorted(tuple(r) for r in base.collect())),
        (None, sorted(tuple(r) for r in base.unionAll(extra).unionAll(extra).collect())),
    ):
        assert _rows(spark, target, at=at) == want

    # Lower retention; the NEXT commit prunes down to 1 root.
    cm.table_set_retention(target, 1)
    cm.table_append(spark, target, extra)
    assert len(cm.table_history(target)) == 1
    roots = [n for n in os.listdir(target) if n.startswith(cm.MANIFEST_PREFIX)]
    assert len(roots) == 1


def test_vacuum_aborts_on_unreadable_retained_part(spark, tmp_path):
    """Safety: if a retained part is unreadable, vacuum must raise and
    delete NOTHING (it cannot prove any file unreferenced)."""
    target = _split_init(spark, tmp_path, n_buckets=4)
    man = cm._load_manifest(target)[1]
    victim = os.path.join(target, man["parts"][0]["path"])
    with open(victim, "w") as f:
        f.write("{corrupt")
    n_files_before = sum(
        len(fs) for _, _, fs in os.walk(os.path.join(target, cm.DATA_DIR))
    )
    with pytest.raises(Exception):
        cm.table_vacuum(target)
    n_files_after = sum(
        len(fs) for _, _, fs in os.walk(os.path.join(target, cm.DATA_DIR))
    )
    assert n_files_after == n_files_before


def test_root_without_parts_list_is_refused_by_name(spark, tmp_path):
    """A root manifest with no ``parts`` list (an inline-layout root an
    older version wrote) must fail loudly, naming the file — never be
    read as an empty table."""
    import json

    target = _split_init(spark, tmp_path, n_buckets=2)
    live = cm.table_history(target)[0]
    path = os.path.join(target, live)
    with open(path, encoding="utf-8") as f:
        man = json.load(f)
    files, tombs = manifest_listing(target, man)
    del man["parts"]
    man.update(files=files, tombstones=tombs)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(man, f)
    with pytest.raises(ValueError, match=live):
        cm.table_read(spark, target)


def _grid(spark, n=10_000):
    """Two independent dimensions: x = k % 100, y = k // 100."""
    return spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % 100).alias("x"),
        (F.col("id") / 100).cast("long").alias("y"),
    )


def _kept(files, preds):
    return [
        e
        for e in files
        if all(cm._stats_overlap(e, c, lo, hi) for c, lo, hi in preds)
    ]


def test_zorder_clustering_prunes_both_dimensions(spark, tmp_path):
    """Round 18 (VERDICT r17 next #6): 2-column z-order clustering.
    On a z-ordered bucket, a range band on EITHER dimension prunes
    files; on the 1-D clustered twin only the sorted column prunes —
    the second dimension's band keeps every file.  Rows stay exact
    under the multi-predicate read on both layouts."""
    grid = _grid(spark)
    tgt_z = str(tmp_path / "z")
    tgt_1 = str(tmp_path / "lin")
    cm.table_init(
        grid, tgt_z, "o_orderkey", n_buckets=1,
        cluster_by=["x", "y"], max_records_per_file=500,
    )
    cm.table_init(
        grid, tgt_1, "o_orderkey", n_buckets=1,
        cluster_by="x", max_records_per_file=500,
    )
    man_z = manifest_listing(tgt_z)[0]
    man_1 = manifest_listing(tgt_1)[0]
    total = len(man_z)
    assert total >= 15  # 10k rows / 500 per file

    x_band = [("x", 10, 19, None)]
    y_band = [("y", 10, 19, None)]
    kept = {
        ("z", "x"): _kept(man_z, [p[:3] for p in x_band]),
        ("z", "y"): _kept(man_z, [p[:3] for p in y_band]),
        ("lin", "x"): _kept(man_1, [p[:3] for p in x_band]),
        ("lin", "y"): _kept(man_1, [p[:3] for p in y_band]),
    }
    # 1-D layout: x prunes hard, y cannot prune at all.
    assert len(kept[("lin", "x")]) <= total // 3
    assert len(kept[("lin", "y")]) == total
    # Z layout: BOTH dimensions prune.
    assert len(kept[("z", "x")]) < total
    assert len(kept[("z", "y")]) < total
    # The 2-D band keeps fewer files on Z than on the 1-D layout
    # served by its weaker dimension alone.
    band2 = [("x", 10, 19), ("y", 10, 19)]
    assert len(_kept(man_z, band2)) <= len(kept[("z", "x")])

    # Row-exactness of the conjunctive read on both layouts.
    expect = sorted(
        r["o_orderkey"]
        for r in grid.filter(
            F.col("x").between(10, 19) & F.col("y").between(10, 19)
        ).collect()
    )
    for tgt in (tgt_z, tgt_1):
        got = sorted(
            r["o_orderkey"]
            for r in cm.table_read(
                spark, tgt, where=[("x", 10, 19), ("y", 10, 19)]
            ).collect()
        )
        assert got == expect


def test_zorder_property_survives_compaction(spark, tmp_path):
    """cluster_by=[x, y] is a table property: a compaction rewrite
    re-sorts by the z-value, so pruning on both dimensions still works
    after appends accumulate and compact packs them."""
    grid = _grid(spark, 4000)
    target = str(tmp_path / "t")
    cm.table_init(
        grid.filter(F.col("o_orderkey") < 2000), target, "o_orderkey",
        n_buckets=1, cluster_by=["x", "y"], max_records_per_file=400,
    )
    cm.table_append(
        spark, target, grid.filter(F.col("o_orderkey") >= 2000)
    )
    cm.table_delete(spark, target, [0, 1])
    cm.table_compact(spark, target, min_files=1)
    assert cm._load_manifest(target)[1]["cluster_by"] == ["x", "y"]
    files = manifest_listing(target)[0]
    total = len(files)
    assert total >= 8
    assert len(_kept(files, [("y", 0, 4)])) < total
    expect = sorted(
        r["o_orderkey"]
        for r in grid.filter(
            (F.col("y") <= 4) & ~F.col("o_orderkey").isin(0, 1)
        ).collect()
    )
    got = sorted(
        r["o_orderkey"]
        for r in cm.table_read(spark, target, where=("y", None, 4)).collect()
    )
    assert got == expect


def test_zorder_refuses_bad_columns(spark, tmp_path):
    df = spark.range(10).select(
        F.col("id").alias("o_orderkey"), F.lit("s").alias("name")
    )
    with pytest.raises(ValueError, match="numeric/temporal"):
        cm.table_init(
            df, str(tmp_path / "a"), "o_orderkey", n_buckets=1,
            cluster_by=["o_orderkey", "name"],
        )
    with pytest.raises(ValueError, match="2 or 3"):
        cm.table_init(
            df, str(tmp_path / "b"), "o_orderkey", n_buckets=1,
            cluster_by=["o_orderkey"] * 4,
        )


def test_string_bound_truncation_is_sound():
    """Iceberg-style string-bound truncation (round 18): a truncated
    LOWER bound must still order <= every value it bounds (prefix
    property); a truncated UPPER bound must order >= (last kept char
    incremented).  A file whose true bounds contain a probe value must
    still overlap after truncation — truncation may only widen."""
    long_lo = "aaaa" + "x" * 60
    long_hi = "zzzz" + "a" * 60
    lo_t, hi_t = cm._trunc_lower(long_lo), cm._trunc_upper(long_hi)
    assert len(lo_t) <= cm._STR_BOUND_MAX
    assert len(hi_t) <= cm._STR_BOUND_MAX
    assert lo_t <= long_lo
    assert hi_t >= long_hi, "upper truncation must round UP"
    # Overlap preserved for any value inside the true range.
    entry = {"stats": {"c": [lo_t, hi_t]}}
    for probe in (long_lo, long_hi, "mmm"):
        assert cm._stats_overlap(entry, "c", probe, probe)
    # Short strings unchanged; datetime encodings (26 chars) untouched.
    assert cm._trunc_upper("short") == "short"
    dt = "2024-01-06T00:00:00.000000"
    assert cm._trunc_upper(dt) == dt and cm._trunc_lower(dt) == dt
    # Carry path: last char at the cap boundary increments cleanly.
    s = "b" * 31 + chr(0x10FFFF) + "tail-beyond"
    up = cm._trunc_upper(s)
    assert up is not None and up >= s[:32] and len(up) <= 32


def test_where_in_and_lookup_stats_pruning(spark, tmp_path):
    """Round 18 (VERDICT r17 missing #4): IN-list/point predicates get
    the same file-level stats service as ranges.  On a banded-ingest
    table (disjoint key bands per commit) a point lookup scans only
    the files whose key [min, max] can hold the probe; where_in prunes
    by any-value overlap and returns exactly the residual-filter rows;
    NULL probes follow SQL IN semantics (match nothing, prune
    nothing extra)."""
    target = str(tmp_path / "t")
    frame = _base(spark, 1000)
    cm.table_init(
        frame.filter(F.col("o_orderkey") < 100), target, "o_orderkey",
        n_buckets=1,
    )
    cm.table_append(
        spark, target, frame.filter((F.col("o_orderkey") >= 500) & (F.col("o_orderkey") < 600))
    )
    files = manifest_listing(target)[0]
    assert len(files) >= 2

    # where_in across both bands + a value in neither: rows exact.
    got = sorted(
        r["o_orderkey"]
        for r in cm.table_read(
            spark, target, where_in=("o_orderkey", [7, 550, 9999, None])
        ).collect()
    )
    assert got == [7, 550]
    # File-level: a probe only the hi band can hold keeps a strict
    # subset of files (checked through the same overlap rule the read
    # path uses).
    kept = [
        e
        for e in files
        if cm._stats_overlap(e, "o_orderkey", 550, 550, "long")
    ]
    assert 0 < len(kept) < len(files)

    # Lookup correctness incl. masking: delete then look up.
    cm.table_delete(spark, target, [550])
    assert cm.table_lookup(spark, target, [550]).count() == 0
    got2 = cm.table_lookup(spark, target, [7, 551]).collect()
    assert sorted(r["o_orderkey"] for r in got2) == [7, 551]
    # NULL probe returns nothing (SQL IN), never errors.
    assert cm.table_lookup(spark, target, [None]).count() == 0
    # An empty in-list returns an empty, correctly-typed frame.
    empty = cm.table_read(spark, target, where_in=("o_orderkey", []))
    assert empty.count() == 0 and "o_orderkey" in empty.columns


def test_prefix_range_serves_like_predicates(spark, tmp_path):
    """prefix_range turns LIKE 'p%' into a stats-prunable [lo, hi]:
    sound superset of the prefix family, strict-subset file keep on a
    prefix-banded table, rows exact with the caller's startswith as
    the residual filter."""
    assert cm.prefix_range("abc") == ("abc", "abd")
    assert cm.prefix_range("az") == ("az", "a" + chr(ord("z") + 1))
    # Carry: last char at the ceiling rolls left.
    assert cm.prefix_range("a" + chr(0x10FFFF)) == ("a" + chr(0x10FFFF), "b")
    with pytest.raises(ValueError):
        cm.prefix_range("")

    target = str(tmp_path / "t")
    frame = spark.range(300).select(
        F.col("id").alias("o_orderkey"),
        F.concat(
            F.when(F.col("id") < 100, F.lit("alpha-"))
            .when(F.col("id") < 200, F.lit("beta-"))
            .otherwise(F.lit("gamma-")),
            F.col("id").cast("string"),
        ).alias("name"),
    )
    # One band per commit -> per-file name bounds are banded.
    cm.table_init(frame.filter(F.col("id") < 100), target, "o_orderkey", n_buckets=1)
    cm.table_append(spark, target, frame.filter((F.col("id") >= 100) & (F.col("id") < 200)))
    cm.table_append(spark, target, frame.filter(F.col("id") >= 200))
    files = manifest_listing(target)[0]
    lo, hi = cm.prefix_range("beta-")
    kept = [e for e in files if cm._stats_overlap(e, "name", lo, hi, "string")]
    assert 0 < len(kept) < len(files), "prefix range must prune bands"
    got = sorted(
        r["o_orderkey"]
        for r in cm.table_read(spark, target, where=("name", lo, hi))
        .filter(F.col("name").startswith("beta-"))
        .collect()
    )
    assert got == list(range(100, 200))


def test_table_stats_metadata_only(spark, tmp_path):
    """table_stats reads manifest metadata only — ZERO part files
    (metered) — and the summary matches ground truth."""
    target = _split_init(spark, tmp_path, n_buckets=4)
    cm.table_delete(spark, target, [1])
    _reset_io()
    st = cm.table_stats(target)
    assert cm.MANIFEST_IO["part_reads"] == 0, "stats must not load parts"
    assert st["rows"] == 400 and st["files"] >= 4
    assert st["tombstone_files"] >= 1
    assert st["buckets_nonempty"] == 4 and st["n_buckets"] == 4
    assert st["bucket_skew"] >= 1.0
    assert st["bytes"] > 0


def test_with_commit_retry_wins_the_race(spark, tmp_path):
    """with_commit_retry re-runs a commit that lost the optimistic
    race: a competing writer lands first on attempt 1; the retry
    re-reads the moved manifest and succeeds, and BOTH writers' rows
    are visible (no lost update).  Exhausted budgets re-raise."""
    target = _split_init(spark, tmp_path, n_buckets=4)
    real_commit = cm._commit_manifest
    state = {"raced": False}

    def racing(tgt, manifest, expect_current=None):
        if not state["raced"]:
            state["raced"] = True
            cm._commit_manifest = real_commit
            cm.table_delete(spark, target, [399])  # competitor lands first
            cm._commit_manifest = racing_noop_passthrough
        return real_commit(tgt, manifest, expect_current=expect_current)

    def racing_noop_passthrough(tgt, manifest, expect_current=None):
        return real_commit(tgt, manifest, expect_current=expect_current)

    cm._commit_manifest = racing
    try:
        cm.with_commit_retry(
            lambda: cm.table_delete(spark, target, [7]), backoff_s=0.0
        )
    finally:
        cm._commit_manifest = real_commit
    assert state["raced"], "the race must actually have happened"
    live = {r["o_orderkey"] for r in cm.table_read(spark, target).collect()}
    assert 399 not in live and 7 not in live, "both writers' deletes visible"

    # Budget exhaustion: a commit that ALWAYS loses re-raises.
    def always_lose(tgt, manifest, expect_current=None):
        raise cm.ConcurrentCommitError("synthetic permanent contention")

    cm._commit_manifest = always_lose
    try:
        with pytest.raises(cm.ConcurrentCommitError):
            cm.with_commit_retry(
                lambda: cm.table_delete(spark, target, [8]),
                attempts=3,
                backoff_s=0.0,
            )
    finally:
        cm._commit_manifest = real_commit


def test_streaming_foreach_batch_appends_into_v2_table(spark, tmp_path):
    """Structured Streaming -> lakehouse sink (the Delta-style
    pattern): a file-source stream lands each micro-batch into the v2
    table via foreachBatch + table_append — one atomic commit
    per micro-batch, readers never see a partial batch.  Semantics
    note, stated honestly: foreachBatch is at-least-once on retry; an
    exactly-once sink would record the batch id in the manifest and
    no-op replays (the idempotent-append pattern) — the commit layer
    supports that via the same optimistic protocol, not built here."""
    import pyspark.sql.functions as F2

    src = tmp_path / "src"
    frame = _base(spark, 300)
    for lo, hi in ((0, 100), (100, 200), (200, 300)):
        frame.filter(
            (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") < hi)
        ).coalesce(1).write.mode("append").parquet(str(src))

    target = str(tmp_path / "t")
    cm.table_init(
        frame.limit(0), target, "o_orderkey", n_buckets=2
    )
    commits = []

    def handle(batch_df, batch_id):
        st = cm.table_append(batch_df.sparkSession, target, batch_df)
        commits.append((batch_id, st["new_files"]))

    q = (
        spark.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "stream did not finish"
    q.stop()

    assert len(commits) == 3, commits
    assert _rows(spark, target) == sorted(tuple(r) for r in frame.collect())
    man = cm._load_manifest(target)[1]
    assert int(man["seq"]) == 3, "one manifest commit per micro-batch"


def test_with_commit_retry_rejects_zero_attempts():
    """ADVICE r18: attempts=0 used to fall through to ``raise None``
    (an opaque 'exceptions must derive from BaseException' TypeError);
    the misuse is now named at entry."""
    with pytest.raises(ValueError, match="attempts must be >= 1"):
        cm.with_commit_retry(lambda: None, attempts=0)


def test_scan_coalesce_sizeless_entries_keep_full_parallelism(spark):
    """The scan task count packs by the entries' recorded bytes: tiny
    files down to the default parallelism, larger ones at the session's
    maxPartitionBytes.  Every entry of a manifest-list table records its
    bytes, so there is no sizeless case left to keep at one task per
    file."""
    tiny = [{"path": f"f{i}", "bytes": 1024} for i in range(100)]
    assert cm._scan_coalesce(spark, tiny) == spark.sparkContext.defaultParallelism
    # ...and packs to the session's maxPartitionBytes, not a fixed 128 MiB.
    mid = [{"path": f"f{i}", "bytes": 8 << 20} for i in range(8)]
    with scoped_conf(spark, {"spark.sql.files.maxPartitionBytes": "4m"}):
        got = cm._scan_coalesce(spark, mid)
    assert got == max(spark.sparkContext.defaultParallelism, 16)
