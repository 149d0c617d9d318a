"""Rename/drop schema evolution for v2 tables (round 19, VERDICT r18
next #4 — the field-ID position, carried by a retired-name registry
instead of numeric IDs).

Contract under test:

* ``table_rename_column`` is metadata-only; files written BEFORE the
  rename store the old name and scans read them through their rename
  epoch (old name → aliased to current), so both sides of the rename
  are row-exact — including time travel to the pre-rename snapshot;
* stats pruning on a renamed column translates the entry's stat key
  through its epoch (old files' footer stats are keyed by the old
  name);
* ``table_drop_column`` hides the column everywhere; re-adding any
  retired name (dropped, or the ``from`` of a rename) is refused —
  old files still carry bytes under it and a new column with that
  name would resurrect them;
* structural columns (bucket key, partition, clustering) are
  name-frozen;
* merge-on-read masking, CoW merge, and compaction stay exact across
  a rename (compaction migrates files to the newest epoch).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField

from pyspark_analytics_library_spark.sources import commit as cm


def _base(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") * 1.5).alias("price"),
    )


def _rows(spark, target, **kw):
    return sorted(tuple(r) for r in cm.table_read(spark, target, **kw).collect())


@pytest.fixture()
def table(spark, tmp_path):
    target = str(tmp_path / "ev")
    cm.table_init(_base(spark), target, "k", n_buckets=4)
    return target


def test_rename_reads_old_and_new_epochs_exact(spark, table):
    pre = cm._live_manifest_name(table)
    st = cm.table_rename_column(table, "price", "amount")
    assert st["renamed"] == ["price", "amount"]
    got = cm.table_read(spark, table)
    assert got.columns == ["k", "grp", "amount"]
    assert _rows(spark, table) == sorted(tuple(r) for r in _base(spark).collect())
    # time travel to the pre-rename snapshot reads under the OLD name
    old = cm.table_read(spark, table, at=pre)
    assert old.columns == ["k", "grp", "price"]
    assert sorted(tuple(r) for r in old.collect()) == _rows(spark, table)


def test_rename_then_append_mixes_epochs(spark, table):
    cm.table_rename_column(table, "price", "amount")
    extra = spark.range(400, 450).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("grp"),
        (F.col("id") * 1.5).alias("amount"),
    )
    cm.table_append(spark, table, extra)
    got = {r.k: r.amount for r in cm.table_read(spark, table).collect()}
    assert len(got) == 450
    assert all(got[k] == k * 1.5 for k in range(450)), (
        "old-epoch files must read their bytes under the old name, "
        "not NULL"
    )


def test_rename_stats_pruning_translates_epoch(spark, table):
    """Range pruning on the renamed column must consult the OLD name
    in old-epoch entries' stats — a current-name lookup would find no
    stats and keep every file (lossless but useless), or worse."""
    cm.table_rename_column(table, "price", "amount")
    got = cm.table_read(spark, table, where=("amount", 100.0, 200.0))
    exp = sorted(
        tuple(r)
        for r in _base(spark).filter(F.col("price").between(100.0, 200.0)).collect()
    )
    assert sorted(tuple(r) for r in got.collect()) == exp


def test_mor_and_compact_across_rename(spark, table):
    cm.table_rename_column(table, "price", "amount")
    ups = spark.createDataFrame([(5, 5, -1.0)], "k long, grp long, amount double")
    cm.table_merge_mor(spark, table, ups)
    got = {r.k: r.amount for r in cm.table_read(spark, table).collect()}
    assert len(got) == 400 and got[5] == -1.0 and got[6] == 9.0
    st = cm.table_compact(spark, table)
    assert st["tombstones_cleared"] >= 1
    got2 = {r.k: r.amount for r in cm.table_read(spark, table).collect()}
    assert got2 == got
    # compaction migrated the rewritten bucket's files to the newest
    # epoch (they re-read exactly under the current name with no
    # epoch mapping)
    man = cm._load_manifest(table)[1]
    files, _ = cm._man_entries(table, man)
    rewritten = [e for e in files if e["bucket"] in st["compacted_buckets"]]
    assert rewritten and all(e["gen"] == int(man["seq"]) for e in rewritten)
    assert all(not cm._rename_suffix(man, e["gen"]) for e in rewritten)


def test_cow_merge_across_rename(spark, table):
    cm.table_rename_column(table, "price", "amount")

    def upsert(base, ups):
        return base.join(ups.select("k"), "k", "left_anti").unionByName(ups)

    ups = spark.createDataFrame([(7, 0, -7.0)], "k long, grp long, amount double")
    cm.table_merge(spark, table, ups, upsert)
    got = {r.k: r.amount for r in cm.table_read(spark, table).collect()}
    assert len(got) == 400 and got[7] == -7.0 and got[8] == 12.0


def test_double_rename_chains_epochs(spark, table):
    cm.table_rename_column(table, "price", "amount")
    cm.table_append(
        spark, table,
        spark.range(400, 410).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp"),
            (F.col("id") * 1.5).alias("amount"),
        ),
    )
    cm.table_rename_column(table, "amount", "total")
    got = {r.k: r.total for r in cm.table_read(spark, table).collect()}
    assert len(got) == 410
    assert all(got[k] == k * 1.5 for k in range(410))


def test_drop_column_hides_everywhere_and_blocks_readd(spark, table):
    st = cm.table_drop_column(table, "grp")
    assert st["dropped"] == "grp"
    got = cm.table_read(spark, table)
    assert got.columns == ["k", "price"]
    assert got.count() == 400
    with pytest.raises(ValueError, match="previously used"):
        cm.table_add_columns(
            spark, table, [StructField("grp", DoubleType(), True)]
        )
    # a fresh name is fine
    cm.table_add_columns(spark, table, [StructField("grp2", DoubleType(), True)])
    assert cm.table_read(spark, table).columns == ["k", "price", "grp2"]


def test_rename_refusals(spark, table):
    with pytest.raises(ValueError, match="bucket key"):
        cm.table_rename_column(table, "k", "kk")
    with pytest.raises(ValueError, match="already in use"):
        cm.table_rename_column(table, "price", "grp")
    with pytest.raises(ValueError, match="no column"):
        cm.table_rename_column(table, "nope", "x")
    cm.table_rename_column(table, "price", "amount")
    with pytest.raises(ValueError, match="previously used"):
        cm.table_rename_column(table, "grp", "price")
    with pytest.raises(ValueError, match="bucket key"):
        cm.table_drop_column(table, "k")


def test_structural_columns_frozen(spark, tmp_path):
    target = str(tmp_path / "froz")
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("grp"),
        (F.col("id") * 1.0).alias("v"),
    )
    cm.table_init(df, target, "k", n_buckets=2, partition_by="grp")
    with pytest.raises(ValueError, match="partition column"):
        cm.table_rename_column(target, "grp", "g2")
    with pytest.raises(ValueError, match="partition column"):
        cm.table_drop_column(target, "grp")
    target2 = str(tmp_path / "froz2")
    cm.table_init(df, target2, "k", n_buckets=2, cluster_by="v")
    with pytest.raises(ValueError, match="clustering column"):
        cm.table_rename_column(target2, "v", "v2")
