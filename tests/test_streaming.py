"""Batch-parity self-checks for the streaming queries (SURVEY.md §2.11):
each streaming result is compared against the same logic run in batch
mode — the strongest check available without a streaming oracle.
"""

from __future__ import annotations

import pytest
from hypothesis import given as hyp_given
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.registry import REGISTRY, load_all_query_modules
from pyspark_analytics_library_spark.sources.io import load_tables
from tests.conftest import TEST_SF_DIR

load_all_query_modules()


def _split_parity(stream, expect="full-parity"):
    """Every rows-only streaming query carries the attestation column
    (VERDICT r13 #6); since ADVICE r14 its VALUE names the check kind,
    so a green row can't overclaim full parity when only a weaker
    watermark-drop/event-count check ran.  Peel it off for the tuple
    compare and assert the expected kind was stamped uniformly."""
    vals = {r["selfcheck"] for r in stream.select("selfcheck").distinct().collect()}
    assert vals == {expect}, f"selfcheck not uniformly {expect!r}: {vals}"
    return stream.drop("selfcheck")


def test_stream_tumbling_matches_batch(spark):
    stream = _split_parity(REGISTRY["stream_tumbling"].fn(spark, TEST_SF_DIR))
    batch = (
        load_tables(spark, TEST_SF_DIR)["events"]
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_sliding_matches_batch(spark):
    stream = _split_parity(REGISTRY["stream_sliding"].fn(spark, TEST_SF_DIR))
    batch = (
        load_tables(spark, TEST_SF_DIR)["events"]
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_session_total_events_preserved(spark):
    stream = _split_parity(REGISTRY["stream_session"].fn(spark, TEST_SF_DIR))
    n_events = load_tables(spark, TEST_SF_DIR)["events"].count()
    assert stream.agg(F.sum("n_events")).collect()[0][0] == n_events


def test_stream_late_data_drops_rows(spark):
    """APPEND mode + advanced watermark must drop the late file's rows."""
    stream = _split_parity(
        REGISTRY["stream_late_data"].fn(spark, TEST_SF_DIR), expect="watermark-drop"
    )
    counted = stream.agg(F.sum("n_events")).collect()[0][0] or 0
    total = load_tables(spark, TEST_SF_DIR)["events"].count()
    assert counted < total, f"late rows were not dropped ({counted} vs {total})"
    assert counted > 0


def test_stream_dedup_collapses_duplicates(spark):
    stream = _split_parity(REGISTRY["stream_dedup"].fn(spark, TEST_SF_DIR))
    batch = (
        load_tables(spark, TEST_SF_DIR)["events"]
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert sorted(map(tuple, stream.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_stateful_matches_batch_totals(spark):
    stream = _split_parity(
        REGISTRY["stream_stateful"].fn(spark, TEST_SF_DIR), expect="event-count"
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
    stream = _split_parity(
        REGISTRY["stream_sink"].fn(spark, TEST_SF_DIR), expect="event-count"
    )
    total = stream.agg(F.sum("n")).collect()[0][0]
    assert total == load_tables(spark, TEST_SF_DIR)["events"].count()


@pytest.mark.parametrize(
    "name", ["stream_sink", "stream_foreach_batch", "stream_static_join"]
)
def test_timed_out_stream_raises_timeout(spark, monkeypatch, name):
    """An availableNow query still running at its deadline fails as a
    timeout, not as the event-count or parity divergence its partial
    sink would show: the two foreachBatch sinks and the memory-sink
    runner all go through one runner that checks awaitTermination."""
    from pyspark.sql.streaming.query import StreamingQuery

    monkeypatch.setattr(StreamingQuery, "awaitTermination", lambda q, t=None: False)
    with pytest.raises(TimeoutError, match="did not finish"):
        REGISTRY[name].fn(spark, TEST_SF_DIR)


def test_stream_static_join_matches_batch(spark):
    stream = _split_parity(REGISTRY["stream_static_join"].fn(spark, TEST_SF_DIR))
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
    stream = _split_parity(REGISTRY["stream_stream_join"].fn(spark, TEST_SF_DIR))
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
    stream = _split_parity(
        REGISTRY["stream_foreach_batch"].fn(spark, TEST_SF_DIR), expect="event-count"
    )
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


def test_parity_check_skips_past_the_cap(spark):
    """_assert_stream_matches_batch must SKIP (not collect-and-compare,
    not raise) when the result exceeds _PARITY_CAP — the check attests
    fixture-scale semantics and must never pull an input-scaled result
    through the driver of a production job."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.streaming.stream_queries import (
        _PARITY_CAP,
        _assert_stream_matches_batch,
    )

    import pytest as _pytest

    # BOTH sides past the cap: skip (fixture-scale attestation only) —
    # even though the ranges differ beyond the cap
    big = spark.range(_PARITY_CAP + 10).select(F.col("id"))
    bigger = spark.range(_PARITY_CAP + 20).select(F.col("id"))
    _assert_stream_matches_batch(big, bigger, "cap-probe-both")

    # exactly ONE side past the cap: the cardinalities provably differ
    # (≤cap vs >cap), so this must RAISE — in both directions — without
    # quoting the truncated collect as a real count
    other = spark.range(5).select(F.col("id"))
    with _pytest.raises(AssertionError, match="exceeds the .*parity cap"):
        _assert_stream_matches_batch(big, other, "cap-probe-stream-over")
    with _pytest.raises(AssertionError, match="exceeds the .*parity cap"):
        _assert_stream_matches_batch(other, big, "cap-probe-batch-over")

    # under the cap the same divergence must raise
    with _pytest.raises(AssertionError, match="diverges"):
        _assert_stream_matches_batch(
            spark.range(5).select(F.col("id")),
            spark.range(6).select(F.col("id")),
            "small-probe",
        )


def test_parity_check_survives_tied_keys_with_ulp_floats(spark):
    """VERDICT r5 #2: rows tied on their non-float key whose float
    cells differ by one ulp between stream and batch must PASS — under
    the old raw-tuple sort the float decided order and misaligned the
    zip compare, failing a genuine parity pass."""
    import math

    from pyspark_analytics_library_spark.streaming.stream_queries import (
        _assert_stream_matches_batch,
    )

    schema = "k string, v double, tag string"
    got = spark.createDataFrame([("a", 1.0, "x"), ("a", 1.0, "y")], schema)
    want = spark.createDataFrame(
        [
            ("a", math.nextafter(1.0, 2.0), "x"),
            ("a", math.nextafter(1.0, 0.0), "y"),
        ],
        schema,
    )
    _assert_stream_matches_batch(got, want, "ulp-probe")


def test_parity_check_is_none_safe(spark):
    """ADVICE r5: None beside a non-None value in the same column made
    the old sorted() comparison raise TypeError mid-check."""
    from pyspark_analytics_library_spark.streaming.stream_queries import (
        _assert_stream_matches_batch,
    )

    schema = "k string, n bigint"
    got = spark.createDataFrame([(None, 1), ("b", 2)], schema)
    want = spark.createDataFrame([("b", 2), (None, 1)], schema)
    _assert_stream_matches_batch(got, want, "none-probe")


def test_parity_check_rejects_two_grid_steps(spark):
    """ADVICE r5: tolerance is one step of the 4dp rounding grid — a
    float divergence of 5e-4 (well past summation-order noise) must
    FAIL, where the old 1e-3 abs_tol silently passed it."""
    import pytest as _pytest

    from pyspark_analytics_library_spark.streaming.stream_queries import (
        _assert_stream_matches_batch,
    )

    schema = "k string, v double"
    got = spark.createDataFrame([("a", 1.0)], schema)
    want = spark.createDataFrame([("a", 1.0005)], schema)
    with _pytest.raises(AssertionError, match="diverges"):
        _assert_stream_matches_batch(got, want, "tol-probe")


def test_stream_late_data_output_has_no_precutoff_window(spark):
    """The embedded self-check asserts this inside the query; assert it
    from the outside too so a regression in the check itself (not just
    the semantics) is caught.  Spark-side comparison on purpose:
    collected timestamps render in the driver OS timezone, not the
    session timezone, so a Python-side `< datetime(...)` would break
    (or silently weaken) on any non-UTC machine."""
    stream = _split_parity(
        REGISTRY["stream_late_data"].fn(spark, TEST_SF_DIR), expect="watermark-drop"
    )
    cutoff = F.lit("2024-01-10 00:00:00").cast("timestamp")
    pre, total = stream.agg(
        F.count_if(F.col("window_start") < cutoff), F.count(F.lit(1))
    ).collect()[0]
    assert total > 0
    assert pre == 0


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


def test_cells_match_admits_one_grid_step_rejects_two():
    """The tolerance must admit exactly one step of the 4dp rounding
    grid (adjacent 4dp doubles differ by slightly MORE than 1e-4 in
    IEEE form — the reason abs_tol is 1.5e-4, not 1e-4) and reject two
    steps."""
    from pyspark_analytics_library_spark.streaming.stream_queries import (
        _cells_match,
    )

    assert _cells_match(0.1234, 0.1235)
    assert _cells_match(12.3456, 12.3457)
    assert _cells_match(99.9999, 100.0)
    assert not _cells_match(0.1234, 0.1236)
    assert not _cells_match(12.3456, 12.3458)
    # The guarantee must hold at SUM-sized magnitudes too: with
    # isclose's default rel_tol=1e-9 a 1e6-scale cell would tolerate
    # ~1e-3 (ten grid steps) — rel_tol is pinned to 0 so abs_tol is
    # the sole bound at every magnitude (ADVICE r6).
    assert _cells_match(1234567.1234, 1234567.1235)
    assert not _cells_match(1234567.1234, 1234567.1236)


@hyp_given(st.floats(min_value=1e11, max_value=1e15), st.integers(1, 4))
def test_cells_match_ulp_floor_at_large_magnitudes(x, k):
    """PROPERTY (VERDICT r8 #3): above ~2.6e11, where one double ulp
    exceeds the flat 1.5e-4 grid bound, the tolerance floor is 4 ulps —
    a k≤4-ulp summation-order divergence must PASS (the flat bound
    alone would degrade to exact equality there) and a 16-ulp
    divergence must still FAIL.  Magnitude range brackets the sf≈1
    parity-sum scale the flat bound could not serve."""
    import math

    from pyspark_analytics_library_spark.streaming.stream_queries import (
        _cells_match,
    )

    y = x
    for _ in range(k):
        y = math.nextafter(y, math.inf)
    assert _cells_match(x, y)
    far = x + 16.0 * math.ulp(x)
    if far - x > 1.5e-4:  # guard: near 1e11 sixteen ulps can sit under the grid bound
        assert not _cells_match(x, far)


def test_group_matching_backtracks_past_greedy_order():
    """Two rows tied on keys whose floats have OVERLAPPING tolerance
    windows: greedy first-fit pairs stream 1.0001 with batch 1.0002 and
    then dead-ends; the augmenting-path matcher must find the valid
    pairing (1.0001→1.0000, 1.0002→1.0002)."""
    from pyspark_analytics_library_spark.streaming.stream_queries import (
        _group_matches,
    )

    got = [("k", 1.0001), ("k", 1.0002)]
    want = [("k", 1.0002), ("k", 1.0000)]
    assert _group_matches(got, want)
    # and a genuinely unmatchable set still fails
    assert not _group_matches([("k", 1.0), ("k", 1.0002)], [("k", 1.0), ("k", 1.01)])


def _parity_multiset_ok(got_rows, want_rows) -> bool:
    """Drives the REAL pure multiset core the assert helper uses."""
    from pyspark_analytics_library_spark.streaming.stream_queries import (
        _parity_rows_match,
    )

    return _parity_rows_match(got_rows, want_rows) is None


@hyp_given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", None]),
            st.integers(0, 3).map(lambda i: float(i) / 100.0),
            st.integers(-5, 5),
        ),
        max_size=12,
    ),
    st.randoms(use_true_random=False),
)
def test_parity_matching_accepts_noise_within_one_grid_step(rows, rnd):
    """PROPERTY: any permutation of the batch rows with per-float noise
    strictly inside the tolerance must match — regardless of ties,
    Nones, duplicate rows, or how the noise reorders a raw sort."""
    want = [
        (k, v + (rnd.random() - 0.5) * 1e-4, n)  # |noise| ≤ 5e-5 < 1.5e-4
        for (k, v, n) in rows
    ]
    rnd.shuffle(want)
    assert _parity_multiset_ok(rows, want)


@hyp_given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(0, 9).map(lambda i: float(i) / 100.0),
            st.integers(-5, 5),
        ),
        min_size=1,
        max_size=10,
        unique=True,
    ),
    st.randoms(use_true_random=False),
)
def test_parity_matching_rejects_divergence_beyond_tolerance(rows, rnd):
    """PROPERTY: perturbing ONE row's float by 4e-4 (past tolerance,
    while all generated floats sit on a 1e-2 grid so it cannot sidle up
    to a different row) must be reported as divergence."""
    want = list(rows)
    i = rnd.randrange(len(want))
    k, v, n = want[i]
    want[i] = (k, v + 4e-4, n)
    rnd.shuffle(want)
    assert not _parity_multiset_ok(rows, want)
