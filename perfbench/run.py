#!/usr/bin/env python3
"""Benchmark runner: one closed-loop workload against Spark local[k].

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 0

The workload names are in ``BENCHMARK.json``.  One client thread drives
the package through its public functions; k is ``min(4, nproc)`` and
shuffle partitions are sized to k by ``session.get_spark``.  The run:

1. generates its inputs from ``--seed`` (``datagen.py``);
2. starts one session, then runs three set-up rounds of table load and
   first-touch op; ``setup_s`` is the module import plus the session
   start plus the median round (plus the workload's one-time state);
3. runs whole seeded passes over the workload's ops until ``--seconds``
   have elapsed (at least one pass), each op building a fresh plan;
4. checks every op's result outside the timed region;
5. prints, as its last stdout line, one JSON object with ``correct``,
   ``attempted``, ``failed`` and the end-to-end metrics (``--trace 0``)
   or the per-layer metrics (``--trace 1``).

With ``--trace 1`` the run also records spans around the layers' public
functions and enables Spark's event log, tags every op with
``setJobGroup`` and writes a per-op layer table to stderr.

Everything the run writes lives in a temporary directory under the
checkout root that is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "pyspark_analytics_library_spark"
SETUP_REPS = 3
PROBE_REPS = 5


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _listing(path: str) -> set[str]:
    return set(os.listdir(path)) if os.path.isdir(path) else set()


def quantile(values: list[float], p: float) -> float:
    """Harrell–Davis estimate of the ``p`` quantile: a Beta-weighted
    average of all order statistics.  A pass holds one run of each of a
    few dozen different ops, so a single order statistic jumps between
    ops from run to run; the weighted estimate moves smoothly."""
    import numpy as np

    xs = np.sort(values)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20_001)[1:-1]
    log_pdf = (a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid)
    cdf = np.cumsum(np.exp(log_pdf - log_pdf.max()))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(1, n) / n, grid, cdf)
    weights = np.diff(np.concatenate([[0.0], edges, [1.0]]))
    return float(weights @ xs)


def tail_latency(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that has at least
    ten samples beyond it; the maximum when there are ten or fewer."""
    n = len(values)
    if n <= 10:
        return max(values), 100.0
    p = (n - 10) / n
    return quantile(values, p), 100.0 * p


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.cores = min(4, os.cpu_count() or 1)
        self.spark = None
        self.dirs = {
            name: os.path.join(run_dir, name)
            for name in ("tmp", "local", "inputs", "scratch", "checkpoint", "warehouse", "eventlog")
        }
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)

    # -- session ---------------------------------------------------------

    def _environment(self) -> None:
        d = self.dirs
        os.environ["TMPDIR"] = d["tmp"]
        tempfile.tempdir = d["tmp"]
        os.environ["SPARK_LOCAL_DIRS"] = d["local"]
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            f"--conf spark.sql.warehouse.dir={d['warehouse']}",
            f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={d['tmp']}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ])

    def start_session(self) -> float:
        """(Re)start the SparkSession through ``session.get_spark``;
        returns the seconds that took."""
        from pyspark_analytics_library_spark.session import get_spark

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", cores=self.cores)
        elapsed = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.conf.set("spark.analytics.scratchDir", self.dirs["scratch"])
        self.spark.sparkContext.setCheckpointDir(self.dirs["checkpoint"])
        return elapsed

    def enable_event_log(self) -> None:
        """Spark reads these at context start: the next session logs."""
        system = self.spark._jvm.java.lang.System
        for key, value in (
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", "file://" + self.dirs["eventlog"]),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
        ):
            system.setProperty(key, value)

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    @staticmethod
    def stop_jvm() -> None:
        """End the gateway JVM (and with it the Python worker daemon) and
        wait for it, rather than leave it to exit after this process."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    # -- run -------------------------------------------------------------

    def run(self) -> dict:
        import numpy as np

        self._environment()
        t0 = time.perf_counter()
        from pyspark_analytics_library_spark.registry import load_all_query_modules
        from pyspark_analytics_library_spark.sources import io

        load_all_query_modules()
        import_s = time.perf_counter() - t0

        import datagen
        import tracing
        import workloads

        datagen.generate(self.dirs["inputs"], self.args.seed)
        workload = workloads.WORKLOADS[self.args.workload]()
        tracer = tracing.Tracer(enabled=False)
        ctx = workloads.Ctx(None, self.dirs["inputs"], self.run_dir, tracer)

        def load_and_prime() -> float:
            t = time.perf_counter()
            io.load_tables(self.spark, ctx.inputs)
            workload.prime(ctx)
            return time.perf_counter() - t

        # Set-up: one session start, then three rounds of table load and
        # first-touch ops, each round on its own hard-linked copy of the
        # inputs so the package's per-directory table cache starts cold.
        phases = {"import": import_s}
        t = time.perf_counter()
        session_s = self.start_session()
        ctx.spark = self.spark
        reps = []
        for i in range(SETUP_REPS):
            ctx.inputs = _linked_copy(self.dirs["inputs"], f"{self.dirs['inputs']}_{i}")
            reps.append(load_and_prime())
        state_s = _timed(workload.build_state, ctx)
        phases["setup"] = time.perf_counter() - t
        setup_s = import_s + session_s + statistics.median(reps) + state_s

        rng = np.random.default_rng(self.args.seed)
        overhead = None
        if self.args.trace:
            # Tracing overhead: the same warm probe op, untraced in this
            # session and traced in a fresh one with the event log on.
            untraced = [_timed(workload.probe, ctx) for _ in range(PROBE_REPS)]
            self.enable_event_log()
            self.start_session()
            ctx.spark = self.spark
            load_and_prime()
            tracer.enabled = True
            _install_spans(tracer)
            traced = [_timed(workload.probe, ctx) for _ in range(PROBE_REPS)]
            overhead = statistics.median(traced[1:]) / statistics.median(untraced[1:])

        from pyspark_analytics_library_spark.sources import commit

        for k in commit.MANIFEST_IO:
            commit.MANIFEST_IO[k] = 0
        sc = self.spark.sparkContext
        records: list[workloads.Record] = []
        jvm_pid = sc._gateway.proc.pid
        # Whole passes until --seconds of op time; building a schedule
        # (lake batches are written then) stays outside the clock.
        ops = workload.schedule(ctx, rng)
        pass_s = 0.0
        with tracing.RssSampler(jvm_pid) as rss:
            while True:
                t_pass = time.perf_counter()
                for op in ops:
                    records.append(_run_op(ctx, sc, len(records), op))
                pass_s += time.perf_counter() - t_pass
                if pass_s >= self.args.seconds:
                    break
                ops = workload.schedule(ctx, rng)
        sc.setLocalProperty("spark.jobGroup.id", None)
        manifest_io = dict(commit.MANIFEST_IO)

        phases["pass"] = pass_s
        t = time.perf_counter()
        bad = workload.check(ctx, [r for r in records if r.error is None])
        phases["check"] = time.perf_counter() - t
        print("perfbench phases (s): " + ", ".join(f"{k} {v:.2f}" for k, v in phases.items())
              + f"; session {session_s:.2f}, load+prime " + ", ".join(f"{r:.2f}" for r in reps),
              file=sys.stderr)
        print("perfbench ops (s): " + ", ".join(f"{r.name} {r.seconds:.3f}" for r in records),
              file=sys.stderr)
        for r in records:
            if r.error is not None:
                bad[r.index] = r.error
        lat = [r.seconds for r in records if r.index not in bad]
        if not lat:
            raise RuntimeError(f"every op failed: {sorted(set(bad.values()))[:3]}")

        if not self.args.trace:
            self.close()
            return _result(records, bad, {
                "setup_s": setup_s,
                "ops_per_s": len(lat) / pass_s,
                "latency_p50_s": quantile(lat, 0.5),
            })

        lake = workload.lake.stats() if hasattr(workload, "lake") else {}
        app_id = sc.applicationId
        tracer.unpatch()
        self.close()
        per_op = tracing.parse_event_log(
            os.path.join(self.dirs["eventlog"], app_id),
            [(f"perfbench-{r.index}", r.start, r.end) for r in records],
        )
        if workload.name == "query_mix":
            for r, p in zip(records, per_op):
                if p["stages_skipped"]:
                    bad[r.index] = f"{p['stages_skipped']} stages reused from an earlier op"
        _print_layer_table(records, per_op, bad)
        metrics = _layer_metrics(
            ctx, workload, tracer, records, per_op, bad, lat, manifest_io, lake
        )
        metrics.update({
            "memory.peak_rss_mb": rss.peak / 2**20,
            "session.start_s": session_s,
            "registry.import_s": import_s,
            "trace.overhead_ratio": overhead,
        })
        return _result(records, bad, metrics)


def _linked_copy(src: str, dst: str) -> str:
    os.makedirs(dst)
    for name in os.listdir(src):
        os.link(os.path.join(src, name), os.path.join(dst, name))
    return dst


def _timed(fn, *args) -> float:
    t = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t


def _run_op(ctx, sc, index: int, op):
    import workloads

    sc.setJobGroup(f"perfbench-{index}", op.name)
    ctx.tracer.op = index
    start, t0 = time.time(), time.perf_counter()
    result, error = None, None
    try:
        result = op.run(ctx, op.arg)
    except Exception as e:  # a failed op is counted, not fatal
        error = f"{type(e).__name__}: {str(e).splitlines()[0][:200] if str(e) else ''}"
    seconds = time.perf_counter() - t0
    ctx.tracer.op = None
    return workloads.Record(index, op.name, seconds, start, time.time(), result, error)


def _install_spans(tracer) -> None:
    import workloads
    from pyspark_analytics_library_spark.operators import dedup, graph
    from pyspark_analytics_library_spark.sources import commit, io

    tracer.patch(io, "load_tables", "sources.io.load_tables")
    tracer.patch(dedup, "connected_components", "operators.dedup.connected_components")
    tracer.patch(graph, "triangle_census", "operators.graph.triangle_census")
    for fn in workloads.COMMIT_FUNCS:
        tracer.patch(commit, fn, f"sources.commit.{fn}")


def _layer_metrics(ctx, workload, tracer, records, per_op, bad, lat, manifest_io, lake) -> dict:
    import workloads

    spec_names = [m["name"] for m in _spec()["per_layer"]]
    out = dict.fromkeys(spec_names, 0.0)
    ok = [r.index for r in records if r.index not in bad]

    def total(field):
        return sum(p[field] for p in per_op)

    totals = tracer.totals()
    counts = tracer.counts()
    self_t = tracer.self_times()
    out["sources.io.load_tables_s"] = totals.get("sources.io.load_tables", 0.0)
    out["sources.io.load_tables_calls"] = counts.get("sources.io.load_tables", 0)
    out["operators.build_s"] = sum(totals.get(n, 0.0) for n in ctx.build_spans)
    for name, secs in self_t.items():
        module = name.rsplit(".", 1)[0]
        key = f"{module}.self_s"
        if key in out and name != "exec":
            out[key] += secs
    for field in ("jobs", "stages", "stages_skipped", "tasks", "executor_run_s",
                  "executor_cpu_s", "scheduler_delay_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{field}"] = total(field)
    out["spark.driver_gap_s"] = sum(
        max(r.seconds - p["job_span_s"], 0.0) for r, p in zip(records, per_op)
    )
    out["scratch.bytes_written"] = sum(
        p["output_bytes"] for r, p in zip(records, per_op) if not r.name.startswith("lake_")
    )
    out["arrow.python_worker_s"] = total("python_worker_s")
    out["arrow.bytes_to_python"] = total("bytes_to_python")
    out["arrow.bytes_from_python"] = total("bytes_from_python")
    for fn, metric in workloads.COMMIT_FUNCS.items():
        out[f"sources.commit.{metric}"] = totals.get(f"sources.commit.{fn}", 0.0)
    out["sources.commit.read_exec_s"] = totals.get("sources.commit.read_exec", 0.0)
    out["sources.commit.manifest_reads"] = manifest_io["reads"]
    out["sources.commit.manifest_part_reads"] = manifest_io["part_reads"]
    out["sources.commit.manifest_bytes"] = manifest_io["bytes"]
    out.update(lake)
    by_op: dict[str, list[float]] = {}
    for i in ok:
        by_op.setdefault(records[i].name, []).append(records[i].seconds)
    for name, xs in by_op.items():
        out[f"op.{name}.p50_s"] = statistics.median(xs)
    out.update(workload.quality())
    out["latency.tail_s"], out["latency.tail_pct"] = tail_latency(lat)
    out["failed_ratio"] = len(bad) / len(records)
    out["latency.samples"] = len(lat)
    out["trace.latency_p50_s"] = quantile(lat, 0.5)
    return out


def _print_layer_table(records, per_op, bad) -> None:
    cols = ("jobs", "stages", "stages_skipped", "tasks", "job_span_s",
            "executor_cpu_s", "python_worker_s", "output_bytes")
    print(f"{'#':>3} {'op':<30} {'wall_s':>7} " + " ".join(f"{c:>15}" for c in cols),
          file=sys.stderr)
    for r, p in zip(records, per_op):
        flag = "  FAILED: " + bad[r.index] if r.index in bad else ""
        print(f"{r.index:>3} {r.name:<30} {r.seconds:7.3f} "
              + " ".join(f"{p[c]:>15.4g}" for c in cols) + flag, file=sys.stderr)


def _result(records, bad, metrics: dict) -> dict:
    units = {m["name"]: m["unit"] for m in _spec()["end_to_end"] + _spec()["per_layer"]}
    return {
        "correct": not bad,
        "attempted": len(records),
        "failed": len(bad),
        "metrics": {
            name: {"value": float(value), "unit": units[name]}
            for name, value in metrics.items()
        },
    }


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    spec = _spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        parser.error(f"unknown workload {args.workload!r}")
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    pkg_scratch = os.path.join(ROOT, ".scratch")
    scratch_before = _listing(pkg_scratch)
    had_scratch = os.path.isdir(pkg_scratch)
    run_dir = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    bench = Bench(args, run_dir)
    try:
        result = bench.run()
    finally:
        bench.close()
        bench.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        # The package stages stream sources and sinks under <root>/.scratch.
        for name in _listing(pkg_scratch) - scratch_before:
            shutil.rmtree(os.path.join(pkg_scratch, name), ignore_errors=True)
        if not had_scratch:
            shutil.rmtree(pkg_scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
