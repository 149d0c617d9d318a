"""``io.local_frame``: driver literals as an Arrow local relation.

The helper must give the rows the row-list ``createDataFrame`` gives,
whatever the session time zone and the Arrow conf, and every package
site that turns driver values into a frame must plan as a
``LocalTableScan`` with no pickled-RDD scan (``ExistingRDD``) behind it.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from itertools import combinations

import pandas as pd
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.conf import scoped_conf
from pyspark_analytics_library_spark.registry import REGISTRY, load_all_query_modules
from pyspark_analytics_library_spark.sources.io import local_frame
from tests.conftest import TEST_SF_DIR

load_all_query_modules()

_SCHEMA = (
    "a long, b int, c double, s string, f boolean, d date, t timestamp, "
    "m decimal(12,3)"
)
_ROWS = [
    (
        1,
        2,
        1.5,
        "x",
        True,
        dt.date(2020, 3, 8),
        dt.datetime(2020, 3, 8, 2, 30),  # naive: OS-local time on both paths
        Decimal("12.345"),
    ),
    (
        2**40,
        -(2**31),
        -0.0,
        "é",
        False,
        dt.date(1969, 12, 31),
        dt.datetime(1999, 12, 31, 23, 59, 59, 999999, tzinfo=dt.timezone.utc),
        Decimal("-1.000"),
    ),
    (None,) * 8,
]
#: A non-UTC zone with a DST gap at 2020-03-08 02:30, and the Arrow
#: conf off, so neither the session zone nor Arrow's fallback can make
#: the two paths agree by accident.
_AWKWARD = {
    "spark.sql.session.timeZone": "America/Los_Angeles",
    "spark.sql.execution.arrow.pyspark.enabled": "false",
}


def _instants(df):
    return df.withColumn("t", F.unix_micros("t")).collect()


def _assert_local(df) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_local_frame_matches_the_row_path(spark):
    with scoped_conf(spark, _AWKWARD):
        arrow = local_frame(spark, _ROWS, _SCHEMA)
        rows = spark.createDataFrame(_ROWS, _SCHEMA)
        assert arrow.schema == rows.schema
        assert arrow.collect() == rows.collect()
        assert _instants(arrow) == _instants(rows)
        empty = local_frame(spark, [], _SCHEMA)
        assert empty.schema == rows.schema and empty.collect() == []
        _assert_local(arrow)
        _assert_local(empty)


def test_local_frame_takes_pandas_columns_by_name(spark):
    pdf = pd.DataFrame({"degree": [3, 4], "node": [10, 20]})
    got = local_frame(spark, pdf, "node long, degree long")
    assert got.collect() == local_frame(spark, [(10, 3), (20, 4)], got.schema).collect()
    _assert_local(got)


def test_census_summary_is_a_local_relation(spark, tmp_path):
    from pyspark_analytics_library_spark.operators.graph import triangle_census

    k6 = spark.createDataFrame(list(combinations(range(1, 7), 2)), "u long, v long")
    for caps in ({}, {"spark.analytics.graph.denseMatmulMaxEdges": 1}):
        with scoped_conf(
            spark, {"spark.analytics.scratchDir": str(tmp_path / "scratch"), **caps}
        ):
            census = triangle_census(spark, k6)
        assert tuple(census.collect()[0]) == (15, 60, 20, 1.0)
        _assert_local(census)


def test_union_find_mapping_is_a_local_relation(spark):
    from pyspark_analytics_library_spark.operators.dedup import connected_components

    edges = spark.range(0, 40).select(
        F.col("id").alias("src"), (F.col("id") - F.col("id") % 4).alias("dst")
    )
    verts = spark.range(0, 50).select(F.col("id").alias("v"))
    labels = connected_components(edges, verts)
    got = {r.v: r.label for r in labels.collect()}
    assert got == {v: (v // 4) * 4 if v < 40 else v for v in range(50)}
    _assert_local(labels)


def test_empty_masked_scan_is_a_local_relation(spark, tmp_path):
    import pyspark_analytics_library_spark.sources.commit as cm

    target = str(tmp_path / "t")
    cm.table_init(spark.range(0, 20).select(F.col("id").alias("k")), target, "k", 4)
    pruned = cm.table_read(spark, target, where=("k", 100, None))
    assert pruned.collect() == []
    _assert_local(pruned)


def test_binned_agg_quantile_is_a_local_relation(spark):
    fn = REGISTRY["agg_quantile"].fn
    with scoped_conf(spark, {"spark.analytics.quantile.maxLocalStateBytes": "1024"}):
        binned = fn(spark, TEST_SF_DIR)
    assert sorted(map(tuple, binned.collect())) == sorted(
        map(tuple, fn(spark, TEST_SF_DIR).collect())
    )
    _assert_local(binned)
