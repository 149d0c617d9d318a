"""Partition spec for v2 tables (round 19, VERDICT r18 next #1).

The contract under test:

* ``table_init(partition_by=, partition_transform=)`` lays data out as
  ``data/<commit>/_part=<v>/bucket=<b>/`` and keys manifest entries /
  parts by (partition, bucket);
* reads prune partitions BEFORE any file-stats pass — from an explicit
  ``partitions=`` list, or automatically from ``where`` / ``where_in``
  predicates on the partition column — and the pruned partitions'
  manifest parts are never parsed (asserted against
  MANIFEST_IO, not assumed);
* merge-on-read masking stays correct across a partition MOVE (the
  update relocates a key's row to another partition — the tombstone is
  partition-less by design);
* small-file compaction is partition-local; tombstone application is
  bucket-wide; ``table_drop_partition`` is metadata-only and
  time-travel reversible; vacuum never touches referenced files.
"""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.sources import commit as cm
from tests.conftest import manifest_listing

D = datetime.date


def _frame(spark, n=300, days=5):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.date_add(
            F.lit("2024-01-01").cast("date"), (F.col("id") % days).cast("int")
        ).alias("d"),
        (F.col("id") * 1.5).alias("v"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _reset_io():
    cm.MANIFEST_IO.update(reads=0, part_reads=0, bytes=0)


@pytest.fixture()
def ptable(spark, tmp_path):
    target = str(tmp_path / "pt")
    cm.table_init(
        _frame(spark),
        target,
        "k",
        n_buckets=4,
        partition_by="d",
        partition_transform="day",
    )
    return target


def test_partitioned_layout_and_roundtrip(spark, ptable):
    man = cm._load_manifest(ptable)[1]
    assert man["partition_by"] == "d" and man["partition_transform"] == "day"
    # one part ref per non-empty (partition, bucket); paths carry the
    # _part directory level
    gkeys = {cm._gkey(r) for r in man["parts"]}
    assert len(gkeys) == len(man["parts"]) == 20  # 5 days x 4 buckets
    files, _ = manifest_listing(ptable, man)
    assert all("/_part=" in e["path"] and e["part"] for e in files)
    assert _rows(cm.table_read(spark, ptable)) == _rows(_frame(spark))


def test_partition_pruned_read_parses_only_that_days_parts(spark, ptable):
    """The headline invariant: a 1-day read on a partitioned table
    loads ONLY that day's part files — partition pruning happens
    before any manifest-part parse, not after."""
    man = cm._load_manifest(ptable)[1]
    _reset_io()
    got = cm.table_read(
        spark, ptable, where=("d", D(2024, 1, 3), D(2024, 1, 3))
    )
    assert got.count() == 60
    assert cm.MANIFEST_IO["part_reads"] == 4, (
        "one day = 4 buckets of 20 parts; read parsed "
        f"{cm.MANIFEST_IO['part_reads']}"
    )
    exp = _rows(_frame(spark).filter(F.col("d") == D(2024, 1, 3)))
    assert _rows(got) == exp


def test_partition_pruning_via_where_in_and_explicit_list(spark, ptable):
    _reset_io()
    got = cm.table_read(
        spark, ptable, where_in=("d", [D(2024, 1, 1), D(2024, 1, 4)])
    )
    assert got.count() == 120
    assert cm.MANIFEST_IO["part_reads"] == 8
    _reset_io()
    exp = cm.table_read(spark, ptable, partitions=["2024-01-02"])
    assert exp.count() == 60
    assert cm.MANIFEST_IO["part_reads"] == 4


def test_numeric_identity_partition_never_range_prunes(spark, tmp_path):
    """identity over a NUMERIC column must not range-prune ("10" < "9"
    lexicographically) — equality/IN pruning only."""
    target = str(tmp_path / "num")
    df = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 12).alias("grp"), F.lit(1).alias("v")
    )
    cm.table_init(
        df, target, "k", n_buckets=2, partition_by="grp"
    )
    # range read over grp in [9, 10]: partition dirs "9" and "10" sort
    # the WRONG way lexicographically — the read must still be exact.
    got = cm.table_read(spark, target, where=("grp", 9, 10))
    exp = _rows(df.filter(F.col("grp").between(9, 10)))
    assert _rows(got) == exp
    # IN-list pruning engages (exact string mapping for ints)
    _reset_io()
    man = cm._load_manifest(target)[1]
    got2 = cm.table_read(spark, target, where_in=("grp", [7]))
    assert _rows(got2) == _rows(df.filter(F.col("grp") == 7))
    assert cm.MANIFEST_IO["part_reads"] < len(man["parts"])


def test_mor_masks_across_partition_move(spark, ptable):
    """An upsert that MOVES a key to another partition must mask the
    old partition's row — tombstones are partition-less by design."""
    ups = spark.createDataFrame(
        [(0, D(2024, 1, 5), -1.0), (101, D(2024, 1, 2), -2.0)],
        "k long, d date, v double",
    )
    cm.table_merge_mor(spark, ptable, ups)
    got = cm.table_read(spark, ptable).filter(F.col("k").isin([0, 101]))
    assert _rows(got) == [
        (0, D(2024, 1, 5), -1.0),
        (101, D(2024, 1, 2), -2.0),
    ]
    assert cm.table_read(spark, ptable).count() == 300
    # and the partition-pruned read of the OLD partition no longer
    # shows the moved key
    old = cm.table_read(spark, ptable, partitions=["2024-01-01"])
    assert old.filter(F.col("k") == 0).count() == 0


def test_compact_packing_is_partition_local(spark, ptable):
    """Appends into ONE day leave every other (partition, bucket)
    group untouched by the packing pass."""
    extra = spark.range(1000, 1040).select(
        F.col("k" if False else "id").alias("k"),
        F.lit("2024-01-03").cast("date").alias("d"),
        F.lit(9.0).alias("v"),
    )
    cm.table_append(spark, ptable, extra)
    man = cm._load_manifest(ptable)[1]
    before = {
        cm._gkey(r): r["path"] for r in man["parts"]
    }
    st = cm.table_compact(spark, ptable)
    assert st["tombstones_cleared"] == 0
    man2 = cm._load_manifest(ptable)[1]
    after = {cm._gkey(r): r["path"] for r in man2["parts"]}
    changed = {g for g in after if before.get(g) != after[g]}
    assert changed, "the appended day's groups were packed"
    assert all(g[0] == "2024-01-03" for g in changed), (
        f"packing touched other partitions: {sorted(changed)}"
    )
    assert _rows(cm.table_read(spark, ptable)) == _rows(
        _frame(spark).unionByName(extra)
    )


def test_compact_applies_tombstones_bucket_wide(spark, ptable):
    cm.table_delete(spark, ptable, [3, 17])
    st = cm.table_compact(spark, ptable)
    # tombstones_cleared counts FILES (both keys may share a bucket)
    assert st["tombstones_cleared"] >= 1
    got = cm.table_read(spark, ptable)
    assert got.count() == 298
    assert got.filter(F.col("k").isin([3, 17])).count() == 0
    assert cm.table_stats(ptable)["tombstone_files"] == 0


def test_drop_partition_metadata_only_and_time_travel(spark, ptable):
    man_before = cm._live_manifest_name(ptable)
    files_before, _ = manifest_listing(ptable)
    st = cm.table_drop_partition(ptable, "2024-01-02")
    assert st["dropped_files"] == 4
    got = cm.table_read(spark, ptable)
    assert got.count() == 240
    assert got.filter(F.col("d") == D(2024, 1, 2)).count() == 0
    # metadata-only: every dropped file still on disk (referenced by
    # the retained previous generation)
    for e in files_before:
        assert os.path.exists(os.path.join(ptable, e["path"]))
    # time travel to the pre-drop generation is row-exact
    old = cm.table_read(spark, ptable, at=man_before)
    assert _rows(old) == _rows(_frame(spark))
    # idempotent: dropping again is a no-op without a commit
    seq = cm.table_stats(ptable)["seq"]
    assert cm.table_drop_partition(ptable, "2024-01-02")["dropped_files"] == 0
    assert cm.table_stats(ptable)["seq"] == seq


def test_drop_partition_then_vacuum_reclaims_when_aged_out(spark, ptable):
    files_before, _ = manifest_listing(ptable)
    dropped = [e for e in files_before if e.get("part") == "2024-01-02"]
    cm.table_drop_partition(ptable, "2024-01-02")
    # age the previous generation out of retention with another commit
    cm.table_delete(spark, ptable, [0])
    st = cm.table_vacuum(ptable, older_than_s=0.0)
    assert st["data_files_removed"] >= len(dropped)
    for e in dropped:
        assert not os.path.exists(os.path.join(ptable, e["path"]))
    # live reads unaffected
    got = cm.table_read(spark, ptable)
    assert got.count() == 239
    assert got.filter(F.col("d") == D(2024, 1, 2)).count() == 0


def test_cow_merge_on_partitioned_table(spark, ptable):
    """Copy-on-write merge rewrites the touched buckets across ALL
    their partitions and stays row-exact (including a partition
    move)."""

    def upsert_by_k(base, updates):
        return base.join(updates.select("k"), "k", "left_anti").unionByName(
            updates
        )

    ups = spark.createDataFrame(
        [(5, D(2024, 1, 1), -5.0)], "k long, d date, v double"
    )
    st = cm.table_merge(spark, ptable, ups, upsert_by_k)
    assert st["touched_buckets"] and st["new_files"] >= 1
    exp = [
        (k, D(2024, 1, 1), -5.0) if k == 5
        else (k, D(2024, 1, 1 + k % 5), k * 1.5)
        for k in range(300)
    ]
    assert _rows(cm.table_read(spark, ptable)) == sorted(exp)


def test_month_transform_and_null_partition(spark, tmp_path):
    target = str(tmp_path / "mon")
    df = spark.createDataFrame(
        [
            (1, D(2024, 1, 5), 1.0),
            (2, D(2024, 2, 10), 2.0),
            (3, None, 3.0),
            (4, D(2024, 2, 28), 4.0),
        ],
        "k long, d date, v double",
    )
    cm.table_init(
        df, target, "k", n_buckets=2,
        partition_by="d", partition_transform="month",
    )
    man = cm._load_manifest(target)[1]
    parts = {r.get("part") for r in man["parts"]}
    assert parts == {"2024-01", "2024-02", cm.NULL_PART}
    # range predicate on d prunes to one month and NEVER matches the
    # NULL partition (SQL comparison semantics)
    got = cm.table_read(spark, target, where=("d", D(2024, 2, 1), D(2024, 2, 28)))
    assert _rows(got) == [(2, D(2024, 2, 10), 2.0), (4, D(2024, 2, 28), 4.0)]
    # the NULL partition is addressable explicitly
    got_null = cm.table_read(spark, target, partitions=[None])
    assert _rows(got_null) == [(3, None, 3.0)]
    # and full reads see everything
    assert cm.table_read(spark, target).count() == 4


def test_init_validation_errors(spark, tmp_path):
    df = _frame(spark, n=10)
    with pytest.raises(ValueError, match="unknown partition transform"):
        cm.table_init(
            df, str(tmp_path / "a"), "k", partition_by="d",
            partition_transform="year",
        )
    with pytest.raises(ValueError, match="not in the table schema"):
        cm.table_init(df, str(tmp_path / "b"), "k", partition_by="nope")
    with pytest.raises(ValueError, match="needs a date/timestamp"):
        cm.table_init(
            df, str(tmp_path / "c"), "k", partition_by="v",
            partition_transform="day",
        )
    # reserved helper column name refused
    bad = df.withColumn("_part", F.lit("x"))
    with pytest.raises(ValueError, match="reserve"):
        cm.table_init(bad, str(tmp_path / "d"), "k")


def test_unpartitioned_tables_unchanged(spark, tmp_path):
    """No partition spec → byte-identical layout semantics to r18:
    no _part level, refs carry no 'part', gkeys degenerate to
    (None, bucket)."""
    target = str(tmp_path / "plain")
    cm.table_init(_frame(spark), target, "k", n_buckets=4)
    man = cm._load_manifest(target)[1]
    assert all("part" not in r for r in man["parts"])
    files, _ = manifest_listing(target, man)
    assert all("_part=" not in e["path"] for e in files)
    assert cm.table_stats(target)["partition_by"] is None
    with pytest.raises(ValueError, match="no partition spec"):
        cm.table_drop_partition(target, "x")


def test_drop_partition_keeps_mor_deltas_live_tombstones_name(spark, ptable):
    """An MoR delta file is listed twice — as data in its (partition,
    bucket) part and as a tombstone in its bucket's partition-less
    part.  Dropping its partition leaves the tombstone live, so when
    retention ages out the pre-drop roots the pruner must not unlink
    the file: every path the live root names stays on disk and reads
    stay row-exact."""
    upd = (
        _frame(spark)
        .filter((F.col("d") == D(2024, 1, 2)) & (F.col("k") < 50))
        .withColumn("v", F.lit(-1.0))
    )
    cm.table_merge_mor(spark, ptable, upd)
    cm.table_drop_partition(ptable, "2024-01-02")
    for _ in range(2):  # age the MoR root out of the default retention
        cm.table_set_retention(ptable, cm.KEEP_GENERATIONS)
    assert len(cm.table_history(ptable)) == cm.KEEP_GENERATIONS
    files, tombs = manifest_listing(ptable)
    assert tombs and all("_part=2024-01-02" in t["path"] for t in tombs)
    for e in files + tombs:
        assert os.path.exists(os.path.join(ptable, e["path"])), e["path"]
    want = _rows(_frame(spark).filter(F.col("d") != D(2024, 1, 2)))
    assert _rows(cm.table_read(spark, ptable)) == want
