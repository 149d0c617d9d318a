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
    ``TimeoutError``: its partial sink would otherwise be returned as if
    it were the whole result."""
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


@query("stream_tumbling", tags=("rows-only", "streaming"))
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type counts in 1-hour tumbling windows, 10-min
    watermark.  Batch twin with full oracle: ts_tumbling_batch."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    windowed = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    name, s = run_to_memory(windowed, "complete")
    return s.table(name)


@query("stream_sliding", tags=("rows-only", "streaming"))
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes (each event lands in 4)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    windowed = (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )
    name, s = run_to_memory(windowed, "complete")
    return s.table(name)


@query("stream_session", tags=("rows-only", "streaming"))
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (30-min gap) per user — the streaming
    counterpart of ts_sessionize (which carries the batch oracle)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "10 minutes")
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    name, s = run_to_memory(sessions, "complete")
    return s.table(name)


@query("stream_late_data", tags=("rows-only", "streaming"))
def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics with genuinely late data: the fixture is
    split into two on-time files and a very-late file, streamed one
    file per micro-batch in APPEND mode — the late file's rows fall
    behind the watermark and are dropped, so no window before the
    cutoff is emitted (tests/test_streaming.py checks the drop).

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
    cutoff = F.lit("2024-01-10 00:00:00").cast("timestamp")
    mid = F.lit("2024-01-20 00:00:00").cast("timestamp")
    on_time_a = base.filter((F.col("ts") >= cutoff) & (F.col("ts") < mid))
    on_time_b = base.filter(F.col("ts") >= mid)
    late = base.filter(F.col("ts") < cutoff)
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
    return s.table(name)


@query("stream_dedup", tags=("rows-only", "streaming"))
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup within watermark: the input is the event stream
    unioned with itself (every row a duplicate);
    dropDuplicatesWithinWatermark must collapse the copies."""
    ev = stream_events(spark, sf_dir)
    doubled = ev.union(ev).withWatermark("ts", "1 hour")
    dedup = doubled.dropDuplicatesWithinWatermark(["event_id"])
    counts = dedup.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    name, s = run_to_memory(counts, "complete")
    return s.table(name)


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

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        s.table(name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


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
    return spark.read.parquet(out_dir)


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
    static = (
        load_tables(spark, sf_dir)["events"]
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("lifetime_events"))
    )
    enriched = (
        stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .join(static, "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("lifetime_events").alias("max_lifetime"),
        )
    )
    name, s = run_to_memory(enriched, "complete")
    return s.table(name)


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
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    name, s = run_to_memory(joined, "append")
    return (
        s.table(name)
        .groupBy(F.col("c_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_click_purchase_pairs"))
        .orderBy("user_id")
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
    return (
        spark.read.parquet(out_dir)
        .groupBy("event_type")
        .agg(
            F.sum("n").alias("n_events"),
            F.round(F.sum("tv"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )
