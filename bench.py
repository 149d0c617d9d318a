#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints TWO JSON lines (VERDICT r14 #1: the driver records only the
LAST ~2000 chars of stdout, and the former single line outgrew that
window — BENCH_r14.json landed with ``parsed: null``):

  line 1 — detail: {"detail": {"rows": {...}, "over_bar": {...},
    "jvm_cpu_sec": {...}}}  (jvm_cpu_sec, round 20: JVM CPU seconds of
    each row's best-wall rep — the executor task-CPU signal VERDICT
    r19 #6 asked for; see _jvm_cpu_seconds for the Python-worker
    blind spot)
  line 2 (FINAL) — compact headline the driver parses:
    {"metric": "suite_total_warm_sec", "value": N, "unit": "sec",
     "extended_total_sec": N, "queries": {...}, "any_over_bar": bool,
     "over_bar_true": [...], "quality": {...}, "sf": ...}

The final line is guarded to stay under _FINAL_LINE_MAX chars; if the
per-query map ever grows past it, `queries` moves to the detail line
and the final line records "queries_in_detail": true instead — the
headline metric can never again be truncated out of the capture window.

`quality` is the per-round ANN recall tripwire (VERDICT r14 #2):
recall-vs-exact for sim_lsh_approx (floor 0.8) and sim_ivf_approx
(floor 0.6), computed DISTRIBUTED (semi-join count, nothing pair-sized
reaches the driver) at the bench SF — a recall regression now fails
machine-readably (`quality_ok: false`) instead of hiding behind green
rows-only CORRECTNESS and time-only BENCH.

Method mirrors BASELINE.md: 1 warm-up collect per query, then timed
collects with the best reported; SparkSession startup excluded.
Repetitions are bar-gap-aware (VERDICT r16 #2): best-of-7 for rows
whose reference is under 0.5 s (where the 2x bar-gap is smaller than
the measured +/-40% container steal-time swing), best-of-5 for the
slow/iterative rows (raised from 3 in round 17 — see _reps; a
sustained load burst was observed covering three consecutive heavy
samples, and two extra samples in the second block buy a different
window for ~45 s wall).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from pyspark_analytics_library_spark.registry import REGISTRY, load_all_query_modules
from pyspark_analytics_library_spark.session import get_spark


def bench_triangles_sparse(spark, sf_dir):
    """Sparse-branch regression row (VERDICT r13 #3): the headline
    graph_triangles row always dispatches the DENSE driver-matmul
    branch (sf0.1's 1,500-vertex events graph sits under the
    4096-vertex cap), so the distributed sparse path — oriented-edge
    scratch, out-neighborhood build, adjacency-intersection join — had
    per-round NO tripwire; a regression there would only surface in a
    manual probe.  This row builds a genuinely >4096-vertex co-activity
    graph (customers sharing an (o_orderdate, o_orderpriority) order
    slot: ~15k vertices / ~0.93M edges / 4.17M triangles at sf0.1) and
    pins the dispatch by zeroing the vertex cap for the duration, so
    the row measures the sparse code path at every SF."""
    from pyspark_analytics_library_spark.conf import scoped_conf
    from pyspark_analytics_library_spark.operators.graph import (
        co_occurrence_edges,
        triangle_census,
    )
    from pyspark_analytics_library_spark.sources.io import load_tables

    orders = load_tables(spark, sf_dir)["orders"]
    edges = co_occurrence_edges(
        orders, "o_custkey", [F.col("o_orderdate"), F.col("o_orderpriority")]
    )
    with scoped_conf(spark, {"spark.analytics.graph.denseMatmulMaxVertices": 0}):
        return triangle_census(spark, edges)


def bench_cc_distributed(spark, sf_dir):
    """Distributed CC-loop regression row (round 19): the declared
    dedup_connected_components query no longer iterates (interval-
    segmentation rewrite — OPTIMIZATION_r19.md #1) and small edge sets
    dispatch to the driver union-find, so the group-min loop — the
    100-TB path for ARBITRARY pair graphs — would otherwise lose bench
    coverage entirely.  Zeroing the union-find cap pins the loop
    dispatch on the same candidate graph the old dedup_components row
    iterated over (~31.5k edges at sf0.1), exactly the
    triangles_sparse precedent (VERDICT r13 #3)."""
    from pyspark_analytics_library_spark.conf import scoped_conf
    from pyspark_analytics_library_spark.operators.dedup import (
        candidate_edges,
        connected_components,
    )
    from pyspark_analytics_library_spark.sources.io import load_tables

    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", "lang", "n_chars")
    verts = d.select(F.col("doc_id").alias("v"))
    with scoped_conf(spark, {"spark.analytics.cc.driverUnionFindMaxEdges": 0}):
        lab = connected_components(candidate_edges(d), verts)
    return lab.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("label").alias("n_components"),
    )


#: bench rows that are not registry queries: constructed inputs that
#: force a code path the declared surface never reaches at bench SF.
# --- Round-18 rows: lakehouse maintenance ops (VERDICT r17 next #7).
# table_append / table_merge_mor / table_compact previously had no
# bench coverage — a regression in the v2 commit layer only showed up
# as pytest wall-clock.  Each row is self-contained and identical per
# rep: the 64-bucket seed table is built ONCE per process (untimed,
# during warm-up) and each timed call clones it with an OS-level
# copytree (~ms at bench scale), runs the op(s), and ends with a full
# masked table_read count so the read path is tripwired too.  All work
# is eager inside fn(); the returned frame is a local 1-row literal.

_LAKE_SEED: dict[str, str] = {}


def _lake_seed(spark, sf_dir) -> str:
    if sf_dir not in _LAKE_SEED:
        import atexit
        import shutil
        import tempfile

        from pyspark_analytics_library_spark.sources import commit as cm

        orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        target = tempfile.mkdtemp(prefix="bench_lake_seed_")
        os.rmdir(target)  # table_init seeds the layout itself
        cm.table_init(orders, target, "o_orderkey", n_buckets=64)
        atexit.register(shutil.rmtree, target, ignore_errors=True)
        _LAKE_SEED[sf_dir] = target
    return _LAKE_SEED[sf_dir]


def _lake_batch(spark, sf_dir):
    """~1/997 of orders keys, uniformly scattered across buckets — the
    SCALE.md r16/r17 'honest boundary' update shape."""
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    return orders.filter(F.col("o_orderkey") % 997 == 0).withColumn(
        "o_orderpriority", F.lit("9-UPDATED")
    ).select(*orders.columns)


def _lake_clone(seed: str) -> str:
    import shutil
    import tempfile

    dst = tempfile.mkdtemp(prefix="bench_lake_")
    os.rmdir(dst)
    shutil.copytree(seed, dst)
    return dst


#: Best OP-ONLY seconds per lake row (VERDICT r18 "what's wrong" #3):
#: the row totals time clone+op+read for bar continuity with r18, but
#: the clone is a constant ~30-50% dilution of any regression signal —
#: so the commit-op region is also timed separately and reported as
#: lake_op_sec in the final JSON line.
_LAKE_OP_BEST: dict[str, float] = {}


def _lake_row(spark, sf_dir, ops, row_name=None) -> "object":
    import shutil
    import time as _time

    from pyspark_analytics_library_spark.sources import commit as cm

    target = _lake_clone(_lake_seed(spark, sf_dir))
    try:
        batch = _lake_batch(spark, sf_dir)
        stats = {}
        t_op = _time.perf_counter()
        for op in ops:
            if op == "append":
                stats = cm.table_append(spark, target, batch)
            elif op == "mor":
                stats = cm.table_merge_mor(spark, target, batch)
            elif op == "compact":
                stats = cm.table_compact(spark, target)
        if row_name:
            dt = _time.perf_counter() - t_op
            prev = _LAKE_OP_BEST.get(row_name, float("inf"))
            _LAKE_OP_BEST[row_name] = min(prev, dt)
        n = cm.table_read(spark, target).count()
        first = next(iter(stats.values())) if stats else 0
        val = first if isinstance(first, int) else len(first)
        return spark.createDataFrame(
            [(int(val), int(n))], "op_stat int, rows int"
        )
    finally:
        shutil.rmtree(target, ignore_errors=True)


def bench_lake_append(spark, sf_dir):
    """Fast append + masked full read on a fresh clone of the seed."""
    return _lake_row(spark, sf_dir, ["append"], row_name="lake_append")


def bench_lake_mor(spark, sf_dir):
    """Merge-on-read upsert (delta + tombstones) + masked full read."""
    return _lake_row(spark, sf_dir, ["mor"], row_name="lake_mor")


def bench_lake_compact(spark, sf_dir):
    """MoR upsert, then compaction (bin-pack + tombstone apply across
    the ~55 touched buckets) + full read — the maintenance heavy row."""
    return _lake_row(spark, sf_dir, ["mor", "compact"], row_name="lake_compact")


CUSTOM = {
    "cc_distributed": bench_cc_distributed,
    "triangles_sparse": bench_triangles_sparse,
    "lake_append": bench_lake_append,
    "lake_mor": bench_lake_mor,
    "lake_compact": bench_lake_compact,
}

#: Capture-window guard for the final JSON line (the driver keeps the
#: last ~2000 chars of stdout; headroom for the "BENCH: " style prefix
#: wrappers a harness may add).
_FINAL_LINE_MAX = 1800


def _jvm_cpu_seconds(spark) -> float | None:
    """Cumulative CPU seconds (utime+stime) of the gateway JVM from
    /proc — in local mode that process hosts the driver AND every
    executor thread, so a per-row delta is the executor task-CPU
    signal VERDICT r19 #6 asked for: a parallel row shows
    cpu ≫ wall, a serial/latency-bound row shows cpu ≈ wall, and the
    8-vs-32-core wall ratio being ~1 stops being ambiguous.  Known
    blind spot (documented in BASELINE.md): Python-worker CPU
    (mapInPandas rows) runs in separate processes and is not counted.
    Returns None off-Linux or when the gateway pid is unavailable —
    the field is then omitted, never fabricated."""
    try:
        pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        with open(f"/proc/{pid}/stat") as f:
            parts = f.read().rsplit(") ", 1)[1].split()
        hz = os.sysconf("SC_CLK_TCK")
        return (int(parts[11]) + int(parts[12])) / hz
    except Exception:
        return None

#: ANN recall floors — the same bars tests/test_properties.py asserts
#: at sf0.001, now checked at the bench SF every round.
_RECALL_FLOORS = {"lsh_recall": 0.8, "ivf_recall": 0.6}


def _recall_vs_exact(approx, exact) -> float:
    """|approx ∩ exact| / |exact| on (id_a, id_b) pairs, computed as a
    distributed semi-join count — the pair sets never reach the driver,
    so the tripwire itself scales with the bench SF."""
    keys = ["id_a", "id_b"]
    n_exact = exact.select(*keys).count()
    if n_exact == 0:
        return 1.0
    n_hit = (
        exact.select(*keys)
        .join(approx.select(*keys), on=keys, how="left_semi")
        .count()
    )
    return round(n_hit / n_exact, 4)


def ann_quality(spark, sf_dir) -> dict:
    """Per-round ANN quality rows (VERDICT r14 #2): recall-vs-exact for
    the two approximate similarity paths, with their floors and a
    machine-readable verdict.  LSH truth = the exact threshold-pair set
    (same τ=0.3 surface); IVF truth = the exact top-5 edge set."""
    lsh = _recall_vs_exact(
        REGISTRY["sim_lsh_approx"].fn(spark, sf_dir),
        REGISTRY["sim_threshold_pairs"].fn(spark, sf_dir),
    )
    ivf = _recall_vs_exact(
        REGISTRY["sim_ivf_approx"].fn(spark, sf_dir),
        REGISTRY["sim_topk_exact"].fn(spark, sf_dir),
    )
    got = {"lsh_recall": lsh, "ivf_recall": ivf}
    return {
        **got,
        "floors": _RECALL_FLOORS,
        "quality_ok": all(got[k] >= f for k, f in _RECALL_FLOORS.items()),
    }

#: bench name (BASELINE.md row) → registry query
HEADLINE = {
    "pricing_summary": "agg_pricing_summary",
    "star_join_revenue": "join_inner_star",
    "window_topk": "win_topk_per_group",
    "distinct_agg": "agg_distinct",
    "sessionize_batch": "ts_session_stats",
    "text_wordcount": "text_wordcount",
    "dedup_exact": "dedup_exact",
    "similarity_topk": "sim_topk_exact",
    # Heaviest round-2 additions, benched so regressions in the new
    # surface are caught by BENCH (reference rows in BASELINE.md §"Round-3
    # regression reference").
    "dedup_components": "dedup_connected_components",  # iterative: see main()
    "contamination_check": "pipeline_contamination_check",
    "pack_sequences": "pipeline_pack_sequences",
    "similarity_ivf": "sim_ivf_approx",
    # Round-4 additions: the two heaviest set-similarity queries after
    # their round-4 rewrites (shingle-inverted-index join, per-bucket
    # LSH matmul) — benched so a regression back toward the quadratic
    # shapes is caught (reference rows in BASELINE.md §"Round-4
    # regression reference").
    "ngram_jaccard": "dedup_ngram_jaccard",
    "similarity_lsh": "sim_lsh_approx",
    # Round-5 additions: the graph family had no bench coverage at all,
    # and ts_resample_interp is the heaviest timeseries plan (dense
    # grid + dual unbounded frames) — reference rows in BASELINE.md
    # §"Round-5 regression reference".
    "graph_triangles": "graph_triangles",
    "graph_pagerank": "graph_pagerank_nations",
    "resample_interp": "ts_resample_interp",
    # Round-8 addition: agg_describe is the third-heaviest
    # non-streaming query (summary() multi-statistic pass; its values
    # are checked in tests/test_driver_contract.py, not in the query)
    # and lived outside BENCH's regression radar (VERDICT r7 #6) —
    # reference row in BASELINE.md §"Round-8 regression reference".
    "describe_summary": "agg_describe",
    # Round-12 additions (VERDICT r11 #2/#6): the as-of union+window
    # plan and the salted skew join both carry 100 M-row probe evidence
    # but had no per-round regression tripwire — a plan regression
    # (e.g. as-of regrowing a join) would only have surfaced in a
    # manual probe; fuzzy_dedup is the new end-to-end LSH→CC→keeper
    # composite.  Reference rows in BASELINE.md §"Round-12 regression
    # reference".
    "join_asof": "join_asof",
    "salted_join": "join_salted_skew",
    "fuzzy_dedup": "pipeline_fuzzy_dedup",
    # Late round-12 additions: the distributed Lloyd loop (regression
    # risk: the centroid update growing a non-combining shuffle) and
    # the crawl-vs-index admission gate (risk: the membership joins
    # regressing to a corpus-sized broadcast).
    "kmeans_assign": "sim_kmeans_assign",
    "incremental_dedup": "pipeline_incremental_dedup",
    # Round-13 additions: both parquet-native merges (the SCD-2
    # close-out window is new; SCD-1's check column was rescaled after
    # the 15 M-row probe) — write-then-re-read queries whose regression
    # risk is the merge window regrowing a join or the write path
    # fattening.  Reference rows in BASELINE.md §"Round-13 regression
    # reference".
    "merge_upsert": "sink_merge_upsert",
    "merge_scd2": "sink_merge_scd2",
}

#: Per-row regression bars (VERDICT r12 #7): each row's reference is
#: the governing BASELINE.md number — the latest superseding reference
#: row, lifted to the documented idle-band MAX where a calibration band
#: exists (BASELINE.md r9 §"attestation-outlier bands" for
#: dedup_components/graph_triangles/describe_summary; the r12 rows for
#: fuzzy_dedup/kmeans_assign are already band maxima).  The bar is 2×
#: that reference — the same ≤2× rule the judge applies by hand —
#: emitted per row as `over_bar` so a regression is machine-readable
#: in BENCH_rN.json instead of judge-computed.
REFERENCE = {
    "pricing_summary": 0.071,
    "star_join_revenue": 0.070,
    "window_topk": 0.268,
    "distinct_agg": 0.043,
    "sessionize_batch": 0.033,
    "text_wordcount": 0.040,
    "dedup_exact": 0.039,
    "similarity_topk": 0.327,
    "dedup_components": 5.58,  # r9 idle band max (4.44–5.58)
    "contamination_check": 0.033,
    "pack_sequences": 0.026,
    "similarity_ivf": 0.123,  # r14 idle band max (0.059-0.123; see BASELINE.md r14)
    "ngram_jaccard": 0.091,
    "similarity_lsh": 0.141,
    "graph_triangles": 2.50,  # r9 idle band max (2.22–2.50)
    "graph_pagerank": 0.114,  # r14 idle band max (0.067-0.114; see BASELINE.md r14)
    "resample_interp": 0.135,
    "describe_summary": 1.29,  # reference row; r9 band max is lower (1.24)
    "join_asof": 0.78,
    "salted_join": 0.028,
    "fuzzy_dedup": 3.09,  # max of the three r12 idle calibration readings
    "kmeans_assign": 2.23,  # higher of the two r12 idle readings
    "incremental_dedup": 0.039,
    "merge_upsert": 1.69,  # r13 idle band max (1.08-1.69; write jitter)
    "merge_scd2": 1.10,  # r13 idle band max (0.98-1.10)
    "triangles_sparse": 4.71,  # r14 idle band max (see BASELINE.md r14)
    # Round-19 row: the distributed CC loop pinned on the candidate
    # graph (band max of two same-day r19 readings, 5.40 / 5.42).
    "cc_distributed": 5.42,
    # Round-18 lakehouse maintenance rows (BASELINE.md §"Round-18
    # regression reference"): band max of two same-day readings.
    "lake_append": 1.32,  # 1.25 / 1.32
    "lake_mor": 2.85,  # 2.34 / 2.84
    "lake_compact": 3.90,  # 3.08 / 3.88
}
BAR_FACTOR = 2.0

#: Round-3 additions — excluded from the headline `value` so it stays
#: comparable with BASELINE.md's original 8-query suite total.
EXTENDED = {
    "dedup_components",
    "contamination_check",
    "pack_sequences",
    "similarity_ivf",
    "ngram_jaccard",
    "similarity_lsh",
    "graph_triangles",
    "graph_pagerank",
    "resample_interp",
    "describe_summary",
    "join_asof",
    "salted_join",
    "fuzzy_dedup",
    "kmeans_assign",
    "incremental_dedup",
    "merge_upsert",
    "merge_scd2",
    "triangles_sparse",
    "cc_distributed",
    "lake_append",
    "lake_mor",
    "lake_compact",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([\d.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    load_all_query_modules()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Queries whose fn() does eager work at build time (per-round
    # materialization, or driver-side kernels fed by toPandas): the
    # timed region must rebuild the DataFrame — re-collecting the
    # returned frame would only re-read the final checkpoint / replay
    # the cheap tail aggregates.
    # describe_summary stays in this set so its row keeps timing fn()
    # plus collect, comparable with its reference band, although fn()
    # is now a lazy summary() plan: its cell checks moved to
    # tests/test_driver_contract.py.
    # dedup_components left this set in round 19: the interval-
    # segmentation rewrite made the query a pure lazy plan (no eager
    # loop), so it is timed collect-only like every other plan row; the
    # loop path is benched by the cc_distributed CUSTOM row instead.
    iterative = {
        "graph_triangles",
        "describe_summary",
        # fn() runs the CC loop (per-round checkpoints) and the Derby-
        # free LSH stage eagerly before returning the 5-row rollup.
        "fuzzy_dedup",
        # per-iteration centroid collects run eagerly inside fn()
        "kmeans_assign",
        # fn() writes the merged table eagerly before returning the
        # re-read aggregate; the timed region must redo the merge+write.
        "merge_upsert",
        "merge_scd2",
    }

    def _reps(bench_name: str) -> int:
        # VERDICT r16 #2: sub-second rows have a 2x bar-gap smaller
        # than the measured +/-40% container steal-time swing, so a
        # single noisy 3-collect window can flag a row whose plan did
        # not change (r16: 4 such rows, each un-flagged in other runs
        # of identical code).  Best-of-7 for rows whose reference is
        # under 0.5 s makes one clean collect among seven suffice —
        # the extra reps cost < 10 s total across the fast rows.
        # Slow/iterative rows run best-of-5 (was 3): the driver-paced
        # multi-job rows (dedup_components, graph_triangles) are the
        # measured noisiest — a sustained load burst covering three
        # consecutive 6-12 s samples was observed inflating them past
        # bar while every fast row stayed clean; two extra samples in
        # the second block cost ~45 s wall and buy a fourth/fifth
        # chance in a different window.
        return 7 if REFERENCE.get(bench_name, 1.0) < 0.5 else 5

    # One job per bench row: name -> zero-arg collect thunk.  Plans for
    # non-iterative registry rows are built ONCE (BASELINE.md method:
    # plan-build py4j chatter excluded); iterative/custom rows rebuild
    # inside the timed region because their fn() does eager work.
    def _job(qname: str, rebuild: bool):
        df = REGISTRY[qname].fn(spark, sf_dir)
        if rebuild:
            return df, (lambda: REGISTRY[qname].fn(spark, sf_dir).collect())
        return df, df.collect

    jobs: dict[str, object] = {}
    rows: dict[str, int] = {}
    for bench_name, qname in HEADLINE.items():
        df, thunk = _job(qname, bench_name in iterative)
        rows[bench_name] = len(df.collect())  # warm-up
        jobs[bench_name] = thunk
    for bench_name, fn in CUSTOM.items():
        rows[bench_name] = len(fn(spark, sf_dir).collect())  # warm-up
        jobs[bench_name] = lambda fn=fn: fn(spark, sf_dir).collect()

    # Repetitions run as TWO temporally separated BACK-TO-BACK blocks
    # per row (round 17).  Back-to-back keeps a row's samples warm
    # (page cache / JIT / shuffle reuse) — a fully interleaved
    # round-robin was measured to inflate heavy rows ~2x because each
    # sample re-pays eviction by the checkpoint-writing neighbors
    # (similarity_topk 0.42 s -> 1.07 s under identical code).  The
    # second block runs after the whole suite (~30 s later), so one
    # container steal-time burst can no longer cover every sample of a
    # row — the failure mode that flagged 4 clean rows in BENCH_r16.
    # best-of-all-samples is reported, same estimator as BASELINE.md.
    best: dict[str, float] = {name: float("inf") for name in jobs}
    # JVM CPU seconds of the best-wall rep per row (detail line; round
    # 20, VERDICT r19 #6 — separates parallel rows, cpu >> wall, from
    # the latency-bound rows whose 8-vs-32-core wall ratio is ~1).
    best_cpu: dict[str, float] = {}
    for block in (0, 1):
        for bench_name, thunk in jobs.items():
            n = _reps(bench_name)
            k = (n + 1) // 2 if block == 0 else n // 2
            for _ in range(k):
                c0 = _jvm_cpu_seconds(spark)
                t0 = time.perf_counter()
                thunk()
                dt = time.perf_counter() - t0
                if dt < best[bench_name]:
                    best[bench_name] = dt
                    c1 = _jvm_cpu_seconds(spark)
                    if c0 is not None and c1 is not None:
                        best_cpu[bench_name] = round(c1 - c0, 4)
    timings = {name: round(t, 4) for name, t in best.items()}

    # Headline value = the ORIGINAL 8 queries (comparable across rounds
    # and against BASELINE.md's 0.889 s suite total); the round-3
    # additions are reported per-query and as extended_total_sec
    # (regression bar: BASELINE.md §"Round-3 regression reference").
    original8 = [n for n in HEADLINE if n not in EXTENDED]
    total = round(sum(timings[n] for n in original8), 4)
    # Machine-readable bar check: only meaningful at the reference SF
    # (the BASELINE.md numbers are sf0.1); at other SFs the bars are
    # emitted as null rather than falsely green/red.
    at_ref_sf = sf == 0.1
    over_bar = {
        n: (timings[n] > BAR_FACTOR * REFERENCE[n]) if at_ref_sf else None
        for n in list(HEADLINE) + list(CUSTOM)
        if n in REFERENCE
    }
    quality = ann_quality(spark, sf_dir)

    # Two-line emission (VERDICT r14 #1): verbose per-query detail
    # first, then the compact headline as the FINAL line so it always
    # lands whole inside the driver's ~2000-char tail capture.
    detail = {"rows": rows, "over_bar": over_bar, "jvm_cpu_sec": best_cpu}
    final = {
        "metric": "suite_total_warm_sec",
        "value": total,
        "unit": "sec",
        "extended_total_sec": round(sum(timings.values()), 4),
        "queries": timings,
        "any_over_bar": any(over_bar.values()) if at_ref_sf else None,
        "over_bar_true": sorted(n for n, v in over_bar.items() if v),
        "quality": quality,
        # Op-only seconds for the lake rows (clone+read excluded) —
        # the undiluted regression signal beside the barred totals.
        "lake_op_sec": {k: round(v, 4) for k, v in sorted(_LAKE_OP_BEST.items())},
        "sf": sf,
    }
    line = json.dumps(final, separators=(",", ":"))
    if len(line) > _FINAL_LINE_MAX:
        # Growth valve: per-query timings move to the detail line; the
        # headline metric + verdicts stay parseable at any suite size.
        detail["queries"] = final.pop("queries")
        final["queries_in_detail"] = True
        line = json.dumps(final, separators=(",", ":"))
    print(json.dumps({"detail": detail}, separators=(",", ":")))
    print(line)


if __name__ == "__main__":
    main()
