"""The conf module: typed reads, exact scoped restores under threads,
and the local-master policy at every site that flips session conf."""

from __future__ import annotations

import contextlib
import re
import threading

import pytest
from pyspark.errors.exceptions.captured import NumberFormatException

from pyspark_analytics_library_spark import conf
from pyspark_analytics_library_spark.conf import scoped_conf
from pyspark_analytics_library_spark.operators import dedup
from pyspark_analytics_library_spark.sources.commit import _read_paths
from tests.conftest import TEST_SF_DIR

THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
SHUFFLE = "spark.sql.shuffle.partitions"
CLUSTER_MASTER = "spark://h:7077"
PATHS = [f"/nonexistent/part-{i}.parquet" for i in range(64)]


@contextlib.contextmanager
def unset_during(spark, *keys):
    """Run the body with ``keys`` unset, then put back what was there."""
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.unset(k)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


@pytest.fixture
def reader(spark, monkeypatch):
    """A parquet reader that records the listing threshold in force per
    thread and blocks the threads given a release event until it is set."""
    seen, entered, release = {}, {}, {}

    def parquet(self, *paths):
        name = threading.current_thread().name
        seen[name] = spark.conf.get(THRESHOLD, None)
        if name in release:
            entered[name].set()
            assert release[name].wait(timeout=30), f"{name} never released"

    def hold(name):
        entered[name], release[name] = threading.Event(), threading.Event()
        return entered[name], release[name]

    monkeypatch.setattr(type(spark.read), "parquet", parquet)
    return seen, hold


@pytest.fixture
def cc_loop(spark, monkeypatch):
    """Run connected_components' loop branch through a stub loop that
    records the shuffle partitions in force."""
    seen = []

    def loop(sym, max_iters):
        seen.append(spark.conf.get(SHUFFLE))
        return spark.createDataFrame([(1, 1), (2, 1)], "v long, label long")

    def run():
        edges = spark.createDataFrame([(1, 2)], "src long, dst long")
        verts = spark.createDataFrame([(1,), (2,), (3,)], "v long")
        with scoped_conf(spark, {"spark.analytics.cc.driverUnionFindMaxEdges": 0}):
            out = dedup.connected_components(edges, verts).collect()
        assert {r.v: r.label for r in out} == {1: 1, 2: 1, 3: 3}

    monkeypatch.setattr(dedup, "_cc_loop", loop)
    return run, seen


@pytest.mark.parametrize(
    "value",
    ["0", "1024", "268435456", "2147483648", "134217728b", "4194304b", "1k",
     "1KB", "4m", "128m", "256mb", "12g", "2t", "1p", " 4M "],
)
def test_size_parser_accepts_what_spark_accepts(spark, value):
    """Every form either former parser was fed: Spark's getter output
    (``134217728b``), the byte-count defaults and the documented suffixes, each equal to Spark's own
    ``byteStringAsBytes``."""
    jutils = spark._jvm.org.apache.spark.network.util.JavaUtils  # noqa: SLF001
    assert conf.size_bytes(value) == jutils.byteStringAsBytes(value)


@pytest.mark.parametrize("value", ["", "abc", "12x", "m", "1.5m", "-1", "4 m"])
def test_size_parser_rejects_what_spark_rejects(spark, value):
    jutils = spark._jvm.org.apache.spark.network.util.JavaUtils  # noqa: SLF001
    with pytest.raises(NumberFormatException):
        jutils.byteStringAsBytes(value)
    with pytest.raises(ValueError, match=r"unparseable size .*e\.g\. 268435456, 256m, 12g"):
        conf.size_bytes(value)


@pytest.mark.parametrize("key", [k for k, v in conf.KEYS.items() if v.default])
def test_malformed_value_raises_naming_the_key(spark, key):
    assert conf.get(spark, key) == conf.KEYS[key].parse(conf.KEYS[key].default)
    with scoped_conf(spark, {key: "bogus"}):
        with pytest.raises(ValueError, match=re.escape(key)):
            conf.get(spark, key)


def test_scoped_conf_restores_exactly_on_error_and_when_nested(spark):
    key = "spark.analytics.cc.driverUnionFindMaxEdges"
    with unset_during(spark, key):
        with pytest.raises(RuntimeError), scoped_conf(spark, {key: 4}):
            raise RuntimeError
        assert spark.conf.get(key, None) is None
        with scoped_conf(spark, {key: 0}):
            with scoped_conf(spark, {key: 4}):
                assert conf.get(spark, key) == 4
            assert conf.get(spark, key) == 0
        assert spark.conf.get(key, None) is None


def test_read_paths_flip_is_not_lost_between_threads(spark, reader):
    """Thread A is held inside its raised listing threshold when thread
    B reads more paths.  Without one lock across the flip, B captures
    A's raised value as the one to restore and leaves it behind."""
    seen, hold = reader
    before = spark.conf.get(THRESHOLD, None)
    (entered_a, release_a), (entered_b, release_b) = hold("A"), hold("B")
    errors = []

    def run(n):
        try:
            _read_paths(spark, "x long", PATHS[:n])
        except BaseException as e:  # re-raised by the assert below
            errors.append(e)

    a = threading.Thread(target=run, args=(40,), name="A")
    b = threading.Thread(target=run, args=(50,), name="B")
    a.start()
    assert entered_a.wait(timeout=30)
    b.start()
    entered_b.wait(timeout=2)  # B enters its own flip (no lock) or waits on A's
    release_a.set()
    a.join(timeout=30)
    release_b.set()
    b.join(timeout=30)
    assert not a.is_alive() and not b.is_alive() and errors == []
    assert seen == {"A": "40", "B": "50"}
    assert spark.conf.get(THRESHOLD, None) == before


def test_read_paths_leaves_unset_threshold_unset(spark, reader):
    seen, _ = reader
    with unset_during(spark, THRESHOLD):
        _read_paths(spark, "x long", PATHS)
        assert spark.conf.get(THRESHOLD, None) is None
    assert seen == {"MainThread": "64"}


def test_cc_trim_leaves_unset_shuffle_partitions_unset(spark, cc_loop):
    run, seen = cc_loop
    with unset_during(spark, SHUFFLE):
        run()
        assert spark.conf.get(SHUFFLE, None) is None
    assert seen == ["8"]


def test_partition_overwrite_leaves_unset_mode_unset(spark, tmp_path):
    from pyspark_analytics_library_spark.sources import scan_queries

    key = "spark.sql.sources.partitionOverwriteMode"
    with unset_during(spark, key):
        with scoped_conf(spark, {"spark.analytics.scratchDir": str(tmp_path)}):
            assert scan_queries.q_sink_partition_overwrite(spark, TEST_SF_DIR).count()
        assert spark.conf.get(key, None) is None


def test_cluster_master_lists_distributed(spark, monkeypatch, reader):
    seen, _ = reader
    monkeypatch.setattr(spark.sparkContext, "master", CLUSTER_MASTER)
    before = spark.conf.get(THRESHOLD, None)
    _read_paths(spark, "x long", PATHS)
    assert seen == {"MainThread": before}
    assert spark.conf.get(THRESHOLD, None) == before


def test_cluster_master_cc_loop_keeps_shuffle_partitions(spark, monkeypatch, cc_loop):
    run, seen = cc_loop
    monkeypatch.setattr(spark.sparkContext, "master", CLUSTER_MASTER)
    with unset_during(spark, SHUFFLE):
        run()
        assert spark.conf.get(SHUFFLE, None) is None
    assert seen == ["200"]


def test_cluster_master_stream_events_keeps_shuffle_partitions(
    spark, monkeypatch, tmp_path
):
    from pyspark_analytics_library_spark.streaming.stream_queries import stream_events

    monkeypatch.setattr(spark.sparkContext, "master", CLUSTER_MASTER)
    # A cluster master stages only under a configured scratch base.
    with scoped_conf(spark, {"spark.analytics.scratchDir": str(tmp_path)}):
        with unset_during(spark, SHUFFLE):
            stream_events(spark, TEST_SF_DIR)
            assert spark.conf.get(SHUFFLE, None) is None


def test_loader_session_writes_persist_after_load_tables(spark, monkeypatch):
    """``nanosAsLong``, the UTC zone and the local shuffle trim are
    unscoped on purpose: the lazy frames read them at execution."""
    from pyspark_analytics_library_spark.sources import io as io_mod

    monkeypatch.setattr(io_mod, "_CACHE", {})
    nanos, zone = "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone"
    with unset_during(spark, nanos, zone, SHUFFLE):
        io_mod.load_tables(spark, TEST_SF_DIR)
        assert [spark.conf.get(k) for k in (nanos, zone, SHUFFLE)] == ["true", "UTC", "32"]
