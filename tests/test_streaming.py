"""Batch-parity checks for the streaming queries (SURVEY.md §2.11):
each streaming result is compared against the same logic run in batch
mode — the strongest check available without a streaming oracle.  The
queries return their results unchecked; every check lives here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.registry import REGISTRY, load_all_query_modules
from pyspark_analytics_library_spark.sources.io import load_tables
from tests.conftest import TEST_SF_DIR

load_all_query_modules()

#: stream_late_data's split point: events before it arrive in the last,
#: late micro-batch, behind the watermark.
LATE_CUTOFF = "2024-01-10 00:00:00"


def _run(spark, name):
    """Run one streaming query; its result carries only its own columns."""
    df = REGISTRY[name].fn(spark, TEST_SF_DIR)
    assert "selfcheck" not in df.columns, f"{name}: {df.columns}"
    return df


def test_stream_tumbling_matches_batch(spark):
    stream = _run(spark, "stream_tumbling")
    batch = (
        load_tables(spark, TEST_SF_DIR)["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_sliding_matches_batch(spark):
    stream = _run(spark, "stream_sliding")
    batch = (
        load_tables(spark, TEST_SF_DIR)["events"]
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_session_total_events_preserved(spark):
    """Full parity with the batch session_window twin: every session's
    bounds, user and count, so the event total is preserved too."""
    stream = _run(spark, "stream_session")
    batch = (
        load_tables(spark, TEST_SF_DIR)["events"]
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_late_data_drops_rows(spark):
    """APPEND mode + advanced watermark must drop the late file's rows:
    the fixture has both late and on-time rows, and the stream emits
    some events but no more than the on-time ones."""
    cutoff = F.lit(LATE_CUTOFF).cast("timestamp")
    total, late = (
        load_tables(spark, TEST_SF_DIR)["events"]
        .agg(F.count(F.lit(1)), F.count_if(F.col("ts") < cutoff))
        .collect()[0]
    )
    assert 0 < late < total, (
        f"fixture has {late} of {total} rows before the cutoff; the drop "
        "check needs both late and on-time rows"
    )
    stream = _run(spark, "stream_late_data")
    streamed = stream.agg(F.sum("n_events")).collect()[0][0] or 0
    assert 0 < streamed <= total - late, (
        f"emitted {streamed} events vs {total - late} on-time rows"
    )


def test_stream_late_data_output_has_no_precutoff_window(spark):
    """The append-mode run emits windows, and none before the cutoff:
    every late row lives in a window starting before it (hour windows
    align and the cutoff is a midnight), so one such window means late
    rows were counted.  Spark-side comparison on purpose: collected
    timestamps render in the driver OS timezone, not the session
    timezone, so a Python-side `< datetime(...)` would break (or
    silently weaken) on any non-UTC machine."""
    stream = _run(spark, "stream_late_data")
    cutoff = F.lit(LATE_CUTOFF).cast("timestamp")
    pre, n_windows = stream.agg(
        F.count_if(F.col("window_start") < cutoff), F.count(F.lit(1))
    ).collect()[0]
    assert n_windows > 0
    assert pre == 0, f"{pre} emitted windows predate the cutoff"


@pytest.mark.parametrize("name", ["stream_dedup", "dedup_watermarked"])
def test_stream_dedup_collapses_duplicates(spark, name):
    """The deduplicated doubled stream equals the original event set."""
    stream = _run(spark, name)
    batch = (
        load_tables(spark, TEST_SF_DIR)["events"]
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_stateful_matches_batch_totals(spark):
    stream = _run(spark, "stream_stateful")
    # The applyInPandasWithState worker concatenates pandas frames, some
    # empty; pin the output types so a change in pandas' concat dtype
    # rules cannot drift them unnoticed.
    assert stream.schema.simpleString() == (
        "struct<user_id:bigint,n_events:bigint,total_value:double>"
    )
    batch = (
        load_tables(spark, TEST_SF_DIR)["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )
    s = {r["user_id"]: (r["n_events"], r["total_value"]) for r in stream.collect()}
    b = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert set(s) == set(b)
    for uid, (n, _) in b.items():
        assert s[uid][0] == n, (uid, s[uid], (n, _))
        # totals accumulate float-sequentially across batches; compare loosely
        assert abs(s[uid][1] - b[uid][1]) < 1e-6


def test_stream_sink_covers_all_events(spark):
    total = _run(spark, "stream_sink").agg(F.sum("n")).collect()[0][0]
    assert total == load_tables(spark, TEST_SF_DIR)["events"].count()


@pytest.mark.parametrize(
    "name", ["stream_sink", "stream_foreach_batch", "stream_static_join"]
)
def test_timed_out_stream_raises_timeout(spark, monkeypatch, name):
    """An availableNow query still running at its deadline fails as a
    timeout instead of returning its partial sink: the two foreachBatch
    sinks and the memory-sink runner all go through one runner that
    checks awaitTermination."""
    from pyspark.sql.streaming.query import StreamingQuery

    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda q, t=None: False)
    with pytest.raises(TimeoutError, match="did not finish"):
        REGISTRY[name].fn(spark, TEST_SF_DIR)


def test_stream_static_join_matches_batch(spark):
    stream = _run(spark, "stream_static_join")
    ev = load_tables(spark, TEST_SF_DIR)["events"]
    static = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("lifetime_events"))
    batch = (
        ev.join(static, "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("lifetime_events").alias("max_lifetime"),
        )
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_stream_join_matches_batch(spark):
    stream = _run(spark, "stream_stream_join")
    ev = load_tables(spark, TEST_SF_DIR)["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    batch = (
        clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_click_purchase_pairs"))
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_foreach_batch_matches_batch_totals(spark):
    """foreachBatch appends per-micro-batch aggregates; re-aggregating
    them must reproduce the plain batch totals regardless of how many
    micro-batches the source emitted."""
    stream = _run(spark, "stream_foreach_batch")
    batch = (
        load_tables(spark, TEST_SF_DIR)["events"]
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )
    got = [(r["event_type"], r["n_events"], round(r["total_value"], 3)) for r in stream.collect()]
    want = [(r["event_type"], r["n_events"], round(r["total_value"], 3)) for r in batch.collect()]
    assert got == want


def _dead_pid() -> int:
    import subprocess

    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _make_roots(base, roots: dict) -> None:
    """One scratch root per name, each holding an ``iter/`` generation
    and a staging leaf, with its mtime set (None keeps it fresh)."""
    import os

    for name, mtime in roots.items():
        d = base / name
        (d / "iter" / "aaaa11112222" / "round_3").mkdir(parents=True)
        (d / "stream_sink_bbbb2222").mkdir()
        (d / "stream_sink_bbbb2222" / "part-0.parquet").write_text("x")
        if mtime is not None:
            os.utime(d, (mtime, mtime))


def test_scratch_janitor_prunes_leaked_dirs_only(tmp_path, monkeypatch):
    """The scratch janitor reclaims exactly the roots of dead processes
    past the grace period — iteration generations and staging leaves
    alike — and never touches a live pid's root, a fresh dead root, a
    hostile pid shape or a name that is not a scratch root."""
    import os
    import time

    from pyspark_analytics_library_spark.sources import io as io_mod

    dead_pid, dead_pid2 = _dead_pid(), _dead_pid()
    now = time.time()
    aged = now - io_mod._MAX_AGE_S - 60  # past the 6 h gate
    graced = now - io_mod._DEAD_GRACE_S - 60  # past dead-pid grace only
    # pid 1 is init — alive for the life of the container — and its root
    # is aged past the gate; a CONFIRMED-live pid keeps its root even
    # then (a long-lived session reuses it without refreshing the
    # mtime).  On an unprivileged runner kill(1, 0) raises EPERM, which
    # still proves pid 1 exists, so this case is privilege-independent.
    # The superscript-³ and the >C-long pid are hostile shapes that must
    # be skipped, not crash the janitor.
    keep = {
        f"pyspark_analytics_{os.getpid()}_local-1": aged,  # own pid
        "pyspark_analytics_1_local-2": aged,
        f"pyspark_analytics_{dead_pid}_local-3": None,  # dead but FRESH
        "pyspark_analytics_³_local-4": aged,
        "pyspark_analytics_99999999999999999999_local-5": aged,
        "pyspark_analytics_library_spark-pyfiles-x": aged,  # not a pid
        f"pyspark_analytics_{dead_pid}": graced,  # no application id
        f"other_{dead_pid}_local-6": graced,
    }
    prune = {
        f"pyspark_analytics_{dead_pid}_local-7": graced,
        f"pyspark_analytics_{dead_pid2}_local-8": graced,
    }
    _make_roots(tmp_path, {**keep, **prune})
    (tmp_path / "plain_file").write_text("x")
    keep["plain_file"] = None

    monkeypatch.setattr(io_mod, "_SWEPT", set())
    io_mod._sweep_dead_roots([str(tmp_path)])
    assert {e.name for e in tmp_path.iterdir()} == set(keep)
    # The latch makes the second call a no-op even with new leaks.
    _make_roots(tmp_path, {f"pyspark_analytics_{dead_pid}_local-9": graced})
    io_mod._sweep_dead_roots([str(tmp_path)])
    assert (tmp_path / f"pyspark_analytics_{dead_pid}_local-9").exists()


def test_package_zip_lands_in_a_sweepable_root(tmp_path, monkeypatch):
    """The executor zip is built inside a per-process directory shaped
    like a scratch root, so the janitor keeps it while this process lives
    and reclaims it after, instead of leaving one zip per source version
    in the tempdir forever."""
    import os
    import shutil
    import tempfile
    import time

    from pyspark_analytics_library_spark.sources import io as io_mod

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(io_mod, "_ZIP_PATH", None)
    monkeypatch.setattr(io_mod, "_SWEPT", set())
    path = io_mod._package_zip()
    assert io_mod._package_zip() == path, "built once per process"
    root = os.path.dirname(path)
    assert os.listdir(tmp_path) == [f"pyspark_analytics_{os.getpid()}_pyfiles"]
    assert os.path.basename(path) == "pyspark_analytics_library_spark.zip"

    # The same shape under a dead pid is swept; this process's is kept.
    dead = tmp_path / f"pyspark_analytics_{_dead_pid()}_pyfiles"
    shutil.copytree(root, dead)
    graced = time.time() - io_mod._DEAD_GRACE_S - 60
    os.utime(dead, (graced, graced))
    monkeypatch.setattr(io_mod, "_SWEPT", set())
    io_mod._sweep_dead_roots([str(tmp_path)])
    assert not dead.exists() and os.path.exists(path)


def test_package_zip_sweeps_the_tempdir_on_a_cluster_master(tmp_path, monkeypatch):
    """On a cluster master the tempdir is no scratch base, so no scratch
    request sweeps it: shipping the package does, once per process, and
    a later scratch sweep still covers the other bases."""
    import os
    import tempfile
    import time
    from types import SimpleNamespace

    from pyspark_analytics_library_spark.sources import io as io_mod

    tmp_dir, base = tmp_path / "tmp", tmp_path / "base"
    tmp_dir.mkdir()
    base.mkdir()
    graced = time.time() - io_mod._DEAD_GRACE_S - 60
    dead = _dead_pid()
    _make_roots(tmp_dir, {f"pyspark_analytics_{dead}_pyfiles": graced})
    _make_roots(base, {f"pyspark_analytics_{dead}_app-1": graced})
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_dir))
    monkeypatch.setattr(io_mod, "_ZIP_PATH", None)
    monkeypatch.setattr(io_mod, "_SWEPT", set())
    monkeypatch.setattr(io_mod, "_SHIPPED", set())
    shipped = []
    sc = SimpleNamespace(
        master="spark://driver-host:7077",
        applicationId="app-2",
        addPyFile=shipped.append,
    )
    io_mod._ship_package(SimpleNamespace(sparkContext=sc))
    assert os.listdir(tmp_dir) == [f"pyspark_analytics_{os.getpid()}_pyfiles"]
    assert shipped == [io_mod._package_zip()]
    io_mod._sweep_dead_roots([str(base), str(tmp_dir)])
    assert os.listdir(base) == []


def test_scratch_janitor_eperm_means_alive(tmp_path, monkeypatch):
    """kill(pid, 0) → EPERM proves the process EXISTS (POSIX kill(2)):
    the janitor keeps that root at ANY age.  Any other probe error is
    'unknown' liveness, held by the 6 h age gate only."""
    import errno
    import os
    import time

    from pyspark_analytics_library_spark.sources import io as io_mod

    real_kill = os.kill

    def probing_kill(pid, sig):
        if pid == 4242:
            raise PermissionError("simulated other-uid live process")
        if pid in (4243, 4244):
            raise OSError(errno.EINVAL, "simulated unprobeable pid")
        return real_kill(pid, sig)

    monkeypatch.setattr(os, "kill", probing_kill)
    now = time.time()
    aged = now - io_mod._MAX_AGE_S - 60
    graced = now - io_mod._DEAD_GRACE_S - 60
    _make_roots(
        tmp_path,
        {
            "pyspark_analytics_4242_local-1": aged,
            "pyspark_analytics_4243_local-2": graced,  # unknown, inside 6 h
            "pyspark_analytics_4244_local-3": aged,  # unknown, past 6 h
        },
    )
    monkeypatch.setattr(io_mod, "_SWEPT", set())
    io_mod._sweep_dead_roots([str(tmp_path)])
    assert {e.name for e in tmp_path.iterdir()} == {
        "pyspark_analytics_4242_local-1",
        "pyspark_analytics_4243_local-2",
    }


def test_scan_scratch_invokes_janitor(spark, tmp_path, monkeypatch):
    """Every stager resolves its path through the one scratch root, so a
    replay that only runs the round-trip sinks still sweeps dead
    processes' roots under the configured base."""
    import os
    import time

    from pyspark_analytics_library_spark.conf import scoped_conf
    from pyspark_analytics_library_spark.sources import io as io_mod
    from pyspark_analytics_library_spark.sources import scan_queries as scq

    leaked = f"pyspark_analytics_{_dead_pid()}_local-1"
    graced = time.time() - io_mod._DEAD_GRACE_S - 60
    _make_roots(tmp_path, {leaked: graced})
    monkeypatch.setattr(io_mod, "_SWEPT", set())
    with scoped_conf(spark, {"spark.analytics.scratchDir": str(tmp_path)}):
        path = scq._scratch(spark, "sink_probe")
    assert not (tmp_path / leaked).exists()
    root = f"pyspark_analytics_{os.getpid()}_{spark.sparkContext.applicationId}"
    assert path == str(tmp_path / root / "sink_probe")


def test_every_stager_writes_under_the_one_scratch_root(spark, tmp_path):
    """Stream sinks, sink round-trips, bucketed tables and the CC loop
    all stage under ``<scratchDir>/pyspark_analytics_<pid>_<appId>/``;
    the returned frames are backed by files there, and nothing lands in
    the checkout."""
    import os

    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.conf import scoped_conf
    from pyspark_analytics_library_spark.operators.dedup import (
        connected_components,
        reclaim_iteration_scratch,
    )
    from pyspark_analytics_library_spark.operators.skew import write_bucketed

    def repo_tree() -> set[str]:
        out = set()
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        for d, dirs, names in os.walk(repo):
            dirs[:] = [n for n in dirs if n not in (".git", "__pycache__")]
            out.update(os.path.join(d, n) for n in dirs + names)
        return out

    before = repo_tree()
    load_all_query_modules()
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with scoped_conf(
        spark,
        {
            "spark.analytics.scratchDir": str(tmp_path),
            "spark.analytics.cc.driverUnionFindMaxEdges": 0,
        },
    ):
        frames = [
            REGISTRY["stream_sink"].fn(spark, TEST_SF_DIR),
            REGISTRY["sink_parquet_roundtrip"].fn(spark, TEST_SF_DIR),
            connected_components(edges, edges.select(F.col("src").alias("v"))),
        ]
        write_bucketed(spark.range(10), spark, "scratch_probe_b", "id", buckets=2)
        frames.append(spark.table("scratch_probe_b"))
    root = tmp_path / f"pyspark_analytics_{os.getpid()}_{spark.sparkContext.applicationId}"
    assert [p.name for p in tmp_path.iterdir()] == [root.name]
    assert {"iter", "bucketed", "sink_parquet"} <= {p.name for p in root.iterdir()}
    for df in frames:
        files = df.inputFiles()
        assert files and all(str(root) in f for f in files), files
    # Reclaiming iteration scratch never touches the other leaves.
    with scoped_conf(spark, {"spark.analytics.scratchDir": str(tmp_path)}):
        reclaim_iteration_scratch(spark, keep_latest=False)
    assert not (root / "iter").exists()
    assert frames[-1].count() == 10 and frames[1].count() > 0
    spark.sql("DROP TABLE IF EXISTS scratch_probe_b")
    assert repo_tree() - before == set()


def test_local_stagers_refuse_a_remote_scratch_base(spark):
    """Stagers that symlink, rename or rmtree need a local base; an
    hdfs:// base is refused by name instead of creating a local dir
    literally called ``hdfs:``."""
    import os

    import pytest

    from pyspark_analytics_library_spark.conf import scoped_conf
    from pyspark_analytics_library_spark.sources.io import (
        local_scratch_path,
        scratch_path,
    )

    load_all_query_modules()
    with scoped_conf(spark, {"spark.analytics.scratchDir": "hdfs://nn/scratch"}):
        assert scratch_path(spark, "x").startswith("hdfs://nn/scratch/")
        with pytest.raises(ValueError, match="spark.analytics.scratchDir"):
            local_scratch_path(spark, "x")
        for name in ("stream_sink", "sink_parquet_roundtrip", "sink_merge_upsert"):
            with pytest.raises(ValueError, match="spark.analytics.scratchDir"):
                REGISTRY[name].fn(spark, TEST_SF_DIR)
    assert not os.path.exists("hdfs:")
