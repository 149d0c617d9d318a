"""Structured Streaming surface (SURVEY.md §2.11) — all rows-only
(DuckDB has no streams); semantics are proven by replaying the bounded
`events` fixture through a file source with an availableNow trigger and
comparing against the batch twin (tests/test_streaming.py).

Scale posture: these are the same incremental plans a production
cluster runs — watermarks bound state-store size (without one, a
windowed agg's state grows forever); `availableNow` here is what a
backfill run uses in production.  State lives on executors
(HDFS/RocksDB state store), never the driver.  Stream sources, sinks
and the late-data splits stage files under the process's scratch root
(``sources/io.py``); nothing touches the read-only fixtures.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import (
    _configure,
    _normalize_ts,
    load_tables,
    local_scratch_path,
    scratch_path,
    sf_digest,
)


def _staged_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """The file streaming source requires a *directory*; stage one in
    scratch containing a symlink to the (read-only) events parquet.  The
    scratch root is per-process, so a staged link is never re-pointed."""
    d = local_scratch_path(spark, f"stream_src_{sf_digest(sf_dir)}")
    os.makedirs(d, exist_ok=True)
    try:
        os.symlink(
            os.path.join(sf_dir, "events.parquet"), os.path.join(d, "events.parquet")
        )
    except FileExistsError:  # staged by an earlier call
        pass
    return d


def stream_events(spark: SparkSession, sf_dir: str, **reader_opts) -> DataFrame:
    """File-source stream over the events parquet with the same ns→µs
    timestamp normalization and session confs as the batch loader
    (SURVEY.md §1.3).  Streaming state is partitioned by
    spark.sql.shuffle.partitions at the FIRST micro-batch and AQE never
    coalesces it, so the loader's local-master trim of the untouched
    200 default matters even more here."""
    _configure(spark)
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    reader = spark.readStream.schema(raw_schema)
    for k, v in reader_opts.items():
        reader = reader.option(k, v)
    df = reader.parquet(_staged_events_dir(spark, sf_dir))
    # Same two-branch canonicalization as the batch loader (io._normalize_ts):
    # int64-nanos fixtures AND timestamp[us]-NTZ fixtures both become
    # TIMESTAMP (LTZ, session-UTC) — NTZ would reject withWatermark.
    return _normalize_ts(df)


def _run_available_now(writer, what: str, timeout_s: int = 120) -> None:
    """Run a stream writer to completion under an availableNow trigger.
    A query still running at ``timeout_s`` is stopped and raises
    ``TimeoutError``: its partial sink would otherwise surface downstream
    as a bogus event-count or parity divergence."""
    q = writer.trigger(availableNow=True).start()
    finished = q.awaitTermination(timeout_s)
    q.stop()
    if not finished:
        raise TimeoutError(
            f"streaming query {what} did not finish within {timeout_s}s"
        )


def run_to_memory(
    df: DataFrame, output_mode: str = "complete", timeout_s: int = 120
) -> tuple[str, "SparkSession"]:
    """Execute a streaming DataFrame to completion (availableNow) into
    an in-memory sink; returns the sink table name."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    _run_available_now(writer, name, timeout_s)
    return name, df.sparkSession


def _assert_stream_covers_events(
    spark: SparkSession, sf_dir: str, streamed_events: int, what: str
) -> None:
    """Embedded batch-vs-stream row-count self-check: rows-only queries
    get no DuckDB oracle, so the query itself proves the stream saw
    exactly the batch row set — a driver rows-only green then attests
    semantics, not just that a job ran.  One count aggregate on the
    batch side; the streamed total comes from the already-materialized
    sink."""
    batch_events = load_tables(spark, sf_dir)["events"].count()
    if streamed_events != batch_events:
        raise AssertionError(
            f"{what}: stream processed {streamed_events} events, "
            f"batch twin has {batch_events}"
        )


#: Parity self-checks collect both result sets; above this many rows
#: the check SKIPS instead of pulling an input-scaled result through
#: the driver (the check is a fixture-scale attestation feature — at
#: 100 TB the query must not crash its own driver to prove itself).
_PARITY_CAP = 200_000


def _cells_match(a, b) -> bool:
    """Exact for everything except floats: stream and batch partials add
    doubles in different orders, so a float cell near a rounding boundary
    can differ by one step of the 4dp grid the streaming compare surface
    uses (§5.3 rule 8's hazard class).  abs_tol is 1.5e-4, not 1e-4,
    because adjacent 4dp doubles differ by slightly MORE than 1e-4
    (0.1235−0.1234 ≈ 1.000…03e-4); two grid steps (≥ ~2e-4) still fail.

    rel_tol is 0: the default 1e-9 would DOMINATE abs_tol once |v| exceeds
    ~1.5e5 (at 1e6 it is ten grid steps), voiding the one-step guarantee
    where big SUMs live.

    Large-magnitude floor: past ~1e12 one ulp (ulp(2^40) ≈ 2.4e-4) exceeds
    1.5e-4 and the check would degrade to exact equality where sf≥1 parity
    sums land.  So the tolerance is ``max(1.5e-4, 4 * ulp(max(|a|,
    |b|)))``: below ~2.6e11 the grid bound governs; above, four ulps admit
    the partial-merge summation-order noise while rejecting any real
    divergence (a blanket rel_tol=1e-9 would be ~4000 ulps)."""
    if isinstance(a, float) and isinstance(b, float):
        tol = max(1.5e-4, 4.0 * math.ulp(max(abs(a), abs(b))))
        return math.isclose(a, b, rel_tol=0.0, abs_tol=tol)
    return a == b


def _parity_group_key(row: tuple) -> tuple:
    """Float- and None-insensitive grouping key for parity matching.

    A raw-tuple ``sorted()`` zip-compare has two failure modes this key
    removes: (1) a float that differs in the last ulp between stream
    and batch can DECIDE sort order for rows otherwise tied, misaligning
    the zip so a genuine parity pass reports divergence; (2) ``None``
    beside a non-None value in the same column makes tuples unorderable
    (TypeError).  Floats therefore collapse to a class marker and every
    other cell is keyed by repr so mixed-type cells stay comparable."""
    return tuple(
        "\x00none" if v is None
        else "\x01float" if isinstance(v, float)
        else f"\x02{v!r}"
        for v in row
    )


def _assert_stream_matches_batch(
    result: DataFrame, batch: DataFrame, what: str
) -> None:
    """Embedded FULL result-set parity with the batch twin (stronger
    than the event-count check): a complete-mode availableNow run over
    the single-file fixture source processes everything in one batch —
    no late-drops are possible — so the stream result must EQUAL the
    identical aggregation computed in batch.  A driver rows-only green
    then attests exact stream semantics, not just that a job ran.

    Both collects are bounded by _PARITY_CAP (limit-probed, no extra
    count job): past the cap on BOTH sides the check skips — it exists
    to attest fixture-scale semantics, not to materialize production
    results.  Past the cap on exactly ONE side the cardinalities
    provably differ (≤cap vs >cap), so that raises as a divergence —
    without quoting the truncated count as if it were the real one.

    Rows match as a MULTISET, grouped on the float-free key and matched
    within each group cell-by-cell (floats via isclose) — see
    :func:`_parity_group_key` for why a raw sorted-zip is unsafe."""
    got_rows = [tuple(r) for r in result.limit(_PARITY_CAP + 1).collect()]
    want_rows = [tuple(r) for r in batch.limit(_PARITY_CAP + 1).collect()]
    got_over = len(got_rows) > _PARITY_CAP
    want_over = len(want_rows) > _PARITY_CAP
    if got_over and want_over:
        return
    if got_over != want_over:
        side = ("stream", "batch") if got_over else ("batch", "stream")
        small = len(want_rows) if got_over else len(got_rows)
        raise AssertionError(
            f"{what}: stream result diverges from its batch twin "
            f"({side[0]} side exceeds the {_PARITY_CAP}-row parity cap "
            f"while the {side[1]} side has {small} rows)"
        )
    error = _parity_rows_match(got_rows, want_rows)
    if error is not None:
        raise AssertionError(
            f"{what}: stream result diverges from its batch twin ({error})"
        )


def _parity_rows_match(
    got_rows: list[tuple], want_rows: list[tuple]
) -> str | None:
    """Pure multiset-parity core of :func:`_assert_stream_matches_batch`
    (separated so property tests drive the REAL grouping/matching code
    path, not a reimplementation).  Returns None on match, else a short
    reason.  Equal totals + per-got-group size equality ⟹ no batch-only
    group can hide, so iterating got-groups alone is complete."""
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} vs {len(want_rows)} rows"
    groups_got: dict[tuple, list[tuple]] = {}
    for g in got_rows:
        groups_got.setdefault(_parity_group_key(g), []).append(g)
    groups_want: dict[tuple, list[tuple]] = {}
    for w in want_rows:
        groups_want.setdefault(_parity_group_key(w), []).append(w)
    for key, got_g in groups_got.items():
        want_g = groups_want.get(key, [])
        if len(got_g) != len(want_g) or not _group_matches(got_g, want_g):
            return (
                f"stream rows {got_g[:3]!r}{'…' if len(got_g) > 3 else ''} "
                f"have no tolerance-matching batch rows; batch candidates: "
                f"{want_g[:3]!r}{'…' if len(want_g) > 3 else ''}"
            )
    return None


def _group_matches(got_g: list[tuple], want_g: list[tuple]) -> bool:
    """Perfect bipartite matching between the stream and batch rows of
    one parity group under the per-cell tolerance.  Greedy first-fit is
    NOT enough: two rows distinguished only by float cells with
    overlapping tolerance windows can have a valid pairing that the
    greedy consumption order misses (stream 1.0001 eats batch 1.0002,
    leaving stream 1.0002 vs batch 1.0000 — a false divergence).
    Groups hold rows tied on every non-float cell, so on any realistic
    parity surface they are tiny and the augmenting-path sweep is
    effectively free; a degenerate float-only surface could make one
    group near result-sized, so past 64 rows the group falls back to a
    float-sorted zip (quadratic-free; can only false-FAIL near
    tolerance boundaries, never false-pass)."""
    if len(got_g) > 64:
        def by_floats(t: tuple):
            return tuple(
                (v is None, v if isinstance(v, float) else 0.0) for v in t
            )

        return all(
            all(_cells_match(x, y) for x, y in zip(g, w))
            for g, w in zip(sorted(got_g, key=by_floats), sorted(want_g, key=by_floats))
        )
    edges = [
        [all(_cells_match(x, y) for x, y in zip(g, w)) for w in want_g]
        for g in got_g
    ]
    owner: list[int | None] = [None] * len(want_g)

    def assign(i: int, seen: set[int]) -> bool:
        for j, ok in enumerate(edges[i]):
            if ok and j not in seen:
                seen.add(j)
                if owner[j] is None or assign(owner[j], seen):
                    owner[j] = i
                    return True
        return False

    return all(assign(i, set()) for i in range(len(got_g)))


def _attest_parity(result: DataFrame, batch: DataFrame, what: str) -> DataFrame:
    """Run the embedded stream-vs-batch parity check, then surface its
    verdict as a literal ``selfcheck`` column on the returned frame:
    the driver's rows-only CORRECTNESS row records this frame's shape,
    so a green row attests "the full result-set parity check ran and
    PASSED", not mere non-emptiness.  The column VALUE names the check
    KIND (a uniform boolean would read as full parity even on queries
    whose embedded check is only watermark-drop or event-count
    coverage) — ``full-parity`` here; the weaker kinds come from
    :func:`_attest_check`.  The column can only ever carry a passing
    kind — a check failure raises inside the query before any frame is
    returned — and the checks themselves stay pinned red-side by
    tests/test_streaming.py's divergence tests."""
    _assert_stream_matches_batch(result, batch, what)
    return result.withColumn("selfcheck", F.lit("full-parity"))


def _attest_check(result: DataFrame, kind: str) -> DataFrame:
    """Same driver-row attestation as :func:`_attest_parity` for the
    queries whose embedded self-check is weaker than full result-set
    parity; ``kind`` names what actually ran — ``watermark-drop`` (the
    late-data drop assertions) or ``event-count`` (stream saw exactly
    the batch row set) — so a green driver row never overclaims.  Call
    ONLY after the query's self-check has passed."""
    assert kind in ("watermark-drop", "event-count"), kind
    return result.withColumn("selfcheck", F.lit(kind))


@query("stream_tumbling", tags=("rows-only", "streaming"))
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type counts in 1-hour tumbling windows, 10-min
    watermark.  Batch twin with full oracle: ts_tumbling_batch.

    The aggregation shape is ONE closure applied to both the
    watermarked stream and the batch table, so the parity twins cannot
    drift apart by hand-editing one side (same pattern in all six
    parity-checked streaming queries)."""

    def shape(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        )

    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    name, s = run_to_memory(shape(ev), "complete")
    batch = shape(load_tables(spark, sf_dir)["events"])
    return _attest_parity(s.table(name), batch, "stream_tumbling")


@query("stream_sliding", tags=("rows-only", "streaming"))
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event lands in 4)."""

    def shape(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
            .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
        )

    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    name, s = run_to_memory(shape(ev), "complete")
    batch = shape(load_tables(spark, sf_dir)["events"])
    return _attest_parity(s.table(name), batch, "stream_sliding")


@query("stream_session", tags=("rows-only", "streaming"))
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) per user — the streaming
    counterpart of ts_sessionize (which carries the batch oracle)."""
    def shape(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                "user_id",
                "n_events",
            )
        )

    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    name, s = run_to_memory(shape(ev), "complete")
    batch = shape(load_tables(spark, sf_dir)["events"])
    return _attest_parity(s.table(name), batch, "stream_session")


@query("stream_late_data", tags=("rows-only", "streaming"))
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics with genuinely late data: the fixture is
    split into two on-time files and a very-late file, streamed one
    file per micro-batch in APPEND mode — the late file's rows fall
    behind the watermark and are dropped, asserted by the embedded
    self-check below (no pre-cutoff window may be emitted).

    Why THREE files, not two: since SPARK-24634 the stateful operators
    carry two watermarks — late-INPUT filtering uses the value that was
    in effect during the PREVIOUS micro-batch, eviction uses the value
    computed from it (visible in the plan: ``StateStoreSave … Append,
    0, 1706…220``).  With an on-time/late two-file split the late file
    arrives while the filter watermark is still 0: its rows enter state
    and their windows are immediately evicted-and-EMITTED, so nothing
    is ever dropped — the original two-file version of this query
    demonstrated only final-window holdback.  A middle on-time batch
    ages the filter watermark past the late rows before they arrive."""
    base = load_tables(spark, sf_dir)["events"]
    # Within one process the staging is reused.
    split_dir = local_scratch_path(spark, f"late_stream_{sf_digest(sf_dir)}")
    cutoff = "2024-01-10 00:00:00"
    mid = "2024-01-20 00:00:00"
    cutoff_col = F.lit(cutoff).cast("timestamp")
    # Fixture-vacuity gate BEFORE any staging/streaming work: a fixture
    # whose ts range moved past the cutoff would otherwise stage three
    # splits and run the whole stream only to fail the self-check.  One
    # scan yields both totals the post-run check needs.
    totals = base.agg(
        F.count(F.lit(1)).alias("total"),
        F.count_if(F.col("ts") < cutoff_col).alias("late"),
    ).collect()[0]
    if totals["late"] == 0 or totals["late"] == totals["total"]:
        raise AssertionError(
            f"stream_late_data: fixture has {totals['late']} of "
            f"{totals['total']} rows before the cutoff — the watermark "
            f"check needs both late and on-time rows"
        )
    on_time_a = base.filter(
        (F.col("ts") >= F.lit(cutoff).cast("timestamp"))
        & (F.col("ts") < F.lit(mid).cast("timestamp"))
    )
    on_time_b = base.filter(F.col("ts") >= F.lit(mid).cast("timestamp"))
    late = base.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
    # Stage three single parquet FILES (not write-dirs) with ordered
    # modification times so the file source replays them oldest-first,
    # one file per micro-batch: by the late file's batch the FILTER
    # watermark equals max(on_time_a) − 10 min ≈ Jan 19, far past every
    # late event time.  Each split is written EXECUTOR-SIDE
    # (`coalesce(1).write.parquet` + part-file rename) — rows never
    # land on the driver, so the staging step itself scales; the splits
    # are deterministic, so an existing staged dir is reused.
    paths = [os.path.join(split_dir, f"f{i}.parquet") for i in range(3)]
    if not all(os.path.exists(p) for p in paths):
        shutil.rmtree(split_dir, ignore_errors=True)
        os.makedirs(split_dir, exist_ok=True)
        for i, part in enumerate((on_time_a, on_time_b, late)):
            tmp = os.path.join(split_dir, f"_stage{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            part_file = next(
                os.path.join(tmp, f)
                for f in sorted(os.listdir(tmp))
                if f.startswith("part-") and f.endswith(".parquet")
            )
            os.replace(part_file, paths[i])
            shutil.rmtree(tmp, ignore_errors=True)
        for i, p in enumerate(paths):
            os.utime(p, (1_700_000_000 + i * 3600,) * 2)
    stream = (
        spark.readStream.schema(base.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(split_dir)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )
    name, s = run_to_memory(agg, "append")
    # Embedded watermark self-check (same contract as the parity checks
    # in the sibling queries): a driver rows-only green must attest the
    # DROP actually happened, not just that a job ran.  Every comparison
    # runs Spark-SIDE as a scalar aggregate: timezone-immune (collected
    # timestamps render in the driver OS zone, not the session zone, so
    # a Python-side `< datetime(...)` compare breaks off-UTC) and
    # scale-safe (a 1-row collect plus the pre-staging totals scan;
    # nothing input-sized reaches the driver, so no cap/skip is needed).
    out = s.table(name).agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.coalesce(F.sum("n_events"), F.lit(0)).alias("streamed"),
        F.count_if(F.col("window_start") < cutoff_col).alias("pre_cutoff"),
    ).collect()[0]
    if out["n_windows"] == 0:
        raise AssertionError(
            "stream_late_data: append-mode run emitted no windows"
        )
    # Every late row lives in a window starting before the cutoff (hour
    # windows align and the cutoff is a midnight), so a single
    # pre-cutoff window in the output proves late rows were counted.
    if out["pre_cutoff"] > 0:
        raise AssertionError(
            f"stream_late_data: {out['pre_cutoff']} emitted windows "
            f"predate the cutoff — rows behind the watermark were not "
            f"dropped"
        )
    on_time_total = totals["total"] - totals["late"]
    if not 0 < out["streamed"] <= on_time_total:
        raise AssertionError(
            f"stream_late_data: emitted {out['streamed']} events vs "
            f"{on_time_total} on-time rows — append emission is off"
        )
    return _attest_check(s.table(name), "watermark-drop")


@query("stream_dedup", tags=("rows-only", "streaming"))
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup within watermark: the input is the event stream
    unioned with itself (every row a duplicate);
    dropDuplicatesWithinWatermark must collapse the copies."""
    def shape(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))

    ev = stream_events(spark, sf_dir)
    doubled = ev.union(ev).withWatermark("ts", "1 hour")
    dedup = doubled.dropDuplicatesWithinWatermark(["event_id"])
    name, s = run_to_memory(shape(dedup), "complete")
    # deduped double-stream == the original event set, exactly
    batch = shape(load_tables(spark, sf_dir)["events"])
    return _attest_parity(s.table(name), batch, "stream_dedup")


@query("stream_stateful", tags=("rows-only", "streaming"))
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user (count, total value) state across micro-batches."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = stream_events(spark, sf_dir, maxFilesPerTrigger="1")

    def track(key, pdf_iter, state):
        if state.exists:
            n, total = state.get
        else:
            n, total = 0, 0.0
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    out = (
        ev.groupBy("user_id")
        .applyInPandasWithState(
            track,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    name, s = run_to_memory(out, "update")
    # In update mode the memory sink holds one row per (user, update);
    # keep the latest per user = the final running totals.
    from pyspark.sql import Window

    t = s.table(name)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = (
        t.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
    )
    streamed = final.agg(F.sum("n_events")).collect()[0][0] or 0
    _assert_stream_covers_events(spark, sf_dir, streamed, "stream_stateful")
    return _attest_check(final, "event-count")


@query("stream_sink", tags=("rows-only", "streaming"))
def q_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch appended to a parquet
    directory (the custom-sink escape hatch — also how streaming joins
    arbitrary batch logic); returns the re-read result."""
    ev = stream_events(spark, sf_dir)
    out_dir = scratch_path(spark, f"stream_sink_{uuid.uuid4().hex[:8]}")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    _run_available_now(
        ev.writeStream.foreachBatch(write_batch).outputMode("append"), "stream_sink"
    )
    sink = spark.read.parquet(out_dir)
    streamed = sink.agg(F.sum("n")).collect()[0][0] or 0
    _assert_stream_covers_events(spark, sf_dir, streamed, "stream_sink")
    return _attest_check(sink, "event-count")


@query("dedup_watermarked", tags=("rows-only", "streaming"))
def q_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §2.8 name for streaming dedup-within-watermark (same
    semantics as stream_dedup — registered under both inventory rows)."""
    return q_stream_dedup(spark, sf_dir)


@query("stream_static_join", tags=("rows-only", "streaming"))
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins a static
    per-user dimension (lifetime event totals computed in batch) —
    the standard pattern for joining a stream against a slowly-changing
    reference table.  The static side is planned per micro-batch, so
    the planner broadcasts it like any dim; state stores hold nothing
    for the static side (only stream-stream joins buffer).

    tests/test_streaming.py checks parity against the all-batch twin.
    """
    ev = stream_events(spark, sf_dir)
    batch_events = load_tables(spark, sf_dir)["events"]
    static = batch_events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("lifetime_events")
    )

    def shape(df: DataFrame) -> DataFrame:
        return (
            df.join(static, "user_id")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.max("lifetime_events").alias("max_lifetime"),
            )
        )

    name, s = run_to_memory(shape(ev.withWatermark("ts", "10 minutes")), "complete")
    return _attest_parity(
        s.table(name), shape(batch_events), "stream_static_join"
    )


@query("stream_stream_join", tags=("rows-only", "streaming"))
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: clicks joined to the same user's
    purchases within the following 30 minutes.  Both sides carry
    watermarks and the join condition bounds event time in BOTH
    directions, so each side's buffered state is evictable — the only
    configuration where Spark can bound stream-stream join state.

    The joined rows land in an append-mode sink; the returned frame is
    the per-user pairing count (batch rollup over the sink table, so
    the result is deterministic and small).
    """
    def sides(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
        )
        return clicks, purchases

    def join_and_rollup(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
        return clicks.join(
            purchases,
            (F.col("c_user") == F.col("p_user"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )

    def rollup(joined: DataFrame) -> DataFrame:
        return joined.groupBy(F.col("c_user").alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_click_purchase_pairs")
        )

    sc, sp = sides(stream_events(spark, sf_dir))
    joined = join_and_rollup(
        sc.withWatermark("c_ts", "1 hour"), sp.withWatermark("p_ts", "1 hour")
    )
    name, s = run_to_memory(joined, "append")
    result = rollup(s.table(name)).orderBy("user_id")
    bc_, bp_ = sides(load_tables(spark, sf_dir)["events"])
    return _attest_parity(
        result, rollup(join_and_rollup(bc_, bp_)), "stream_stream_join"
    )


@query("stream_foreach_batch", tags=("rows-only", "streaming"))
def q_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each micro-batch is aggregated and appended
    to a parquet target by the BATCH writer — the standard escape hatch
    for sinks Structured Streaming lacks natively (JDBC upserts,
    MERGE INTO, multi-table fan-out).

    The batch handle inside foreachBatch is a regular DataFrame, so
    the write is executor-side and transactional per micro-batch
    (batch_id enables exactly-once dedup on replay: a production
    handler writes batch_id into the target and skips already-applied
    ids after recovery).  Here the handler appends per-type counts;
    the returned frame re-aggregates across batches, so the result is
    batch-count-invariant.
    """
    out_dir = scratch_path(spark, f"feb_{uuid.uuid4().hex[:8]}")

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
            .withColumn("batch_id", F.lit(batch_id))
            .coalesce(1)
            .write.mode("append")
            .parquet(out_dir)
        )

    _run_available_now(
        stream_events(spark, sf_dir, maxFilesPerTrigger="1")
        .writeStream.foreachBatch(handle_batch),
        "stream_foreach_batch",
    )
    out = (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("tv"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )
    streamed = out.agg(F.sum("n_events")).collect()[0][0] or 0
    _assert_stream_covers_events(spark, sf_dir, streamed, "stream_foreach_batch")
    return _attest_check(out, "event-count")
