"""Tables written with positional deletion vectors (DVs) still read
row-exact now that the key-tombstone anti-join is the only merge-on-read
mask.

The removed DV writer stamped each tombstone of a commit with a ``dv``
field naming a ``data/dv-*.json`` document of masked row positions per
base file, and its reader trusted that document over the tombstone
keys.  Every DV commit also wrote the ordinary key tombstones, so the
reader now ignores the field and the document.  Each test below forges
that on-disk shape with :func:`tests.conftest.stamp_legacy_dv`,
whose default document claims every touched base file clean — a reader
that still trusted it would keep the stale rows.
"""

from __future__ import annotations

import datetime
import glob
import os

import pytest
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.sources import commit as cm
from tests.conftest import stamp_legacy_dv


def _base(spark, n=1000):
    return spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
    )


def _expected(n=1000, overrides=(), deleted=()):
    out = {k: k * 1.5 for k in range(n)}
    out.update(overrides)
    for k in deleted:
        out.pop(k, None)
    return out


def _got(spark, target):
    rows = cm.table_read(spark, target).collect()
    got = {r.k: r.v for r in rows}
    assert len(got) == len(rows), "a masked row survived beside its update"
    return got


def _ups(spark, n, step, v):
    return spark.range(n).select((F.col("id") * step).alias("k"), F.lit(v).alias("v"))


@pytest.fixture()
def dvtable(spark, tmp_path):
    target = str(tmp_path / "dv")
    cm.table_init(_base(spark), target, "k", n_buckets=8)
    return target


def test_dv_stacked_commits_union_positions(spark, dvtable):
    cm.table_merge_mor(spark, dvtable, _ups(spark, 10, 97, -1.0))
    stamp_legacy_dv(dvtable)
    cm.table_merge_mor(spark, dvtable, _ups(spark, 5, 101, -2.0))
    stamp_legacy_dv(dvtable)
    exp = _expected(
        overrides=[(97 * i, -1.0) for i in range(10)]
        + [(101 * i, -2.0) for i in range(5)]
    )
    assert _got(spark, dvtable) == exp


def test_dv_not_keyed_by_file_name(spark, dvtable):
    """partitionBy reuses one task's part-NNNNN name in every bucket dir
    it writes, which is why the removed writer keyed its documents by
    path tail.  The anti-join reads each row's commit gen from the
    ``data/<commit>/`` path segment, so duplicate names cannot cross
    rows between files either."""
    paths = glob.glob(os.path.join(dvtable, "data/c-*/bucket=*/*.parquet"))
    names = [p.rsplit("/", 1)[-1] for p in paths]
    assert len(set(names)) < len(names), (
        "fixture no longer produces duplicate part names; this test "
        "needs a sharper layout to stay meaningful"
    )
    cm.table_merge_mor(spark, dvtable, _ups(spark, 50, 19, -4.0))
    stamp_legacy_dv(dvtable)
    exp = _expected(overrides=[(19 * i, -4.0) for i in range(50)])
    assert _got(spark, dvtable) == exp


def test_dv_delete_and_reinsert(spark, dvtable):
    cm.table_delete(spark, dvtable, [5, 6])
    stamp_legacy_dv(dvtable)
    assert _got(spark, dvtable) == _expected(deleted=[5, 6])
    cm.table_append(
        spark, dvtable, spark.createDataFrame([(5, 555.0)], "k long, v double")
    )
    assert _got(spark, dvtable) == _expected(overrides=[(5, 555.0)], deleted=[6])


def test_mixed_history_falls_back_to_anti_join(spark, dvtable):
    cm.table_merge_mor(
        spark, dvtable, spark.createDataFrame([(7, -1.0)], "k long, v double")
    )
    stamp_legacy_dv(dvtable)
    cm.table_merge_mor(
        spark, dvtable, spark.createDataFrame([(11, -2.0)], "k long, v double")
    )
    plan = cm.table_read(spark, dvtable)._jdf.queryExecution().executedPlan()
    assert "Join" in plan.toString()
    assert _got(spark, dvtable) == _expected(overrides=[(7, -1.0), (11, -2.0)])


def test_unreadable_dv_degrades_to_fallback_not_guess(spark, dvtable):
    cm.table_merge_mor(
        spark, dvtable, spark.createDataFrame([(7, -1.0)], "k long, v double")
    )
    stamp_legacy_dv(dvtable, text="{corrupt")
    assert _got(spark, dvtable) == _expected(overrides=[(7, -1.0)])


def test_compact_applies_dvs_then_vacuum_reclaims_docs(spark, dvtable):
    """Vacuum sweeps the documents as unreferenced files even while a
    retained part still names them, and no read needs them."""
    cm.table_delete(spark, dvtable, [3, 4])
    stamp_legacy_dv(dvtable)
    exp = _expected(deleted=[3, 4])
    cm.table_vacuum(dvtable, older_than_s=0.0)
    assert glob.glob(os.path.join(dvtable, "data/dv-*.json")) == []
    assert _got(spark, dvtable) == exp
    assert cm.table_compact(spark, dvtable)["tombstones_cleared"] >= 1
    assert _got(spark, dvtable) == exp


def test_dv_on_partitioned_table_with_partition_move(spark, tmp_path):
    D = datetime.date
    target = str(tmp_path / "pdv")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 5).cast("int")).alias("d"),
        (F.col("id") * 1.5).alias("v"),
    )
    cm.table_init(
        df, target, "k", n_buckets=4,
        partition_by="d", partition_transform="day",
    )
    ups = spark.createDataFrame(
        [(0, D(2024, 1, 5), -1.0)], "k long, d date, v double"
    )
    cm.table_merge_mor(spark, target, ups)
    stamp_legacy_dv(target)
    got = cm.table_read(spark, target).collect()
    rows = {r.k: (r.d, r.v) for r in got}
    assert len(got) == len(rows) == 300 and rows[0] == (D(2024, 1, 5), -1.0)


def test_dv_null_key_masking(spark, tmp_path):
    target = str(tmp_path / "nulldv")
    df = spark.createDataFrame(
        [(None, 1.0), (2, 2.0), (3, 3.0)], "k long, v double"
    )
    cm.table_init(df, target, "k", n_buckets=2)
    ups = spark.createDataFrame([(None, -1.0)], "k long, v double")
    cm.table_merge_mor(spark, target, ups)
    stamp_legacy_dv(target)
    rows = sorted(
        ((r.k, r.v) for r in cm.table_read(spark, target).collect()),
        key=lambda t: (t[0] is None, t[0] or 0),
    )
    assert rows == [(2, 2.0), (3, 3.0), (None, -1.0)]
