"""The benchmark's closed-loop workloads and their correctness gates.

Every timed op builds its plan by calling the package's public function
and collects the result to the driver, so each op pays plan build,
execution and result transfer — nothing is reused from an earlier op.
The seed picks the op order (and the lake batches and lookup keys); the
package only ever sees the generated input files.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

PKG = "pyspark_analytics_library_spark"


@dataclass
class Ctx:
    """What an op needs: the session, the inputs and the tracer."""

    spark: object
    inputs: str
    run_dir: str
    tracer: object
    #: Span names of the registry query functions called so far.
    build_spans: set = field(default_factory=set)


@dataclass
class Op:
    name: str
    run: Callable[[Ctx], object]
    arg: object = None


@dataclass
class Record:
    """One timed op: its wall window, result and failure (if any)."""

    index: int
    name: str
    seconds: float
    start: float
    end: float
    result: object = None
    error: str | None = None


def module_of(fn) -> str:
    return fn.__module__[len(PKG) + 1:]


def _registry():
    from pyspark_analytics_library_spark.registry import REGISTRY

    return REGISTRY


def _build(ctx: Ctx, name: str):
    """Build the declared query's plan through its registry function."""
    fn = _registry()[name].fn
    span = f"{module_of(fn)}.{fn.__name__}"
    ctx.build_spans.add(span)
    return ctx.tracer.wrap(fn, span)(ctx.spark, ctx.inputs)


def _collect(ctx: Ctx, df) -> pd.DataFrame:
    with ctx.tracer.span("exec"):
        return df.toPandas()


def run_query(ctx: Ctx, name: str) -> pd.DataFrame:
    return _collect(ctx, _build(ctx, name))


def _query_op(name: str) -> Op:
    return Op(name, run_query, name)


def _with_conf(spark, key: str, value: str, body):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        return body()
    finally:
        spark.conf.unset(key) if old is None else spark.conf.set(key, old)


def run_cc_distributed(ctx: Ctx, union_find_cap: str | None = "0") -> pd.DataFrame:
    """``connected_components`` on the near-duplicate candidate graph,
    pinned to the distributed loop by zeroing the union-find cap."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators import dedup
    from pyspark_analytics_library_spark.sources import io

    def body():
        d = io.load_tables(ctx.spark, ctx.inputs)["documents"].select("doc_id", "lang", "n_chars")
        labels = dedup.connected_components(
            dedup.candidate_edges(d), d.select(F.col("doc_id").alias("v"))
        )
        return _collect(ctx, labels.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("label").alias("n_components"),
        ))

    if union_find_cap is None:
        return body()
    return _with_conf(ctx.spark, "spark.analytics.cc.driverUnionFindMaxEdges", union_find_cap, body)


def run_triangles(ctx: Ctx, vertex_cap: str = "0") -> pd.DataFrame:
    """``triangle_census`` on the customer co-order graph, pinned to the
    sparse branch by zeroing the dense-matmul vertex cap."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators import graph
    from pyspark_analytics_library_spark.sources import io

    def body():
        orders = io.load_tables(ctx.spark, ctx.inputs)["orders"]
        edges = graph.co_occurrence_edges(
            orders, "o_custkey", [F.col("o_orderdate"), F.col("o_orderpriority")]
        )
        return _collect(ctx, graph.triangle_census(ctx.spark, edges))

    return _with_conf(ctx.spark, "spark.analytics.graph.denseMatmulMaxVertices", vertex_cap, body)


# ---------------------------------------------------------------------------
# Correctness helpers
# ---------------------------------------------------------------------------


def _canon_value(v):
    """One cell, canonicalised as tests/conftest.py does."""
    if v is None:
        return None
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    """Sorted multiset of canonicalised rows, columns ordered by name."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = [tuple(_canon_value(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows, key=repr)


class Oracle:
    """DuckDB over the generated inputs; runs each registry oracle once."""

    def __init__(self, inputs: str):
        import duckdb

        from pyspark_analytics_library_spark.sources.io import TABLES

        self.con = duckdb.connect()
        for name in TABLES:
            self.con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{inputs}/{name}.parquet')"
            )
        self._frames: dict[str, pd.DataFrame] = {}

    def frame(self, name: str) -> pd.DataFrame:
        if name not in self._frames:
            self._frames[name] = self.con.execute(_registry()[name].oracle).df()
        return self._frames[name]

    def mismatch(self, name: str, got: pd.DataFrame) -> str | None:
        return _mismatch(got, self.frame(name))

    def close(self) -> None:
        self.con.close()


def _mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    if sorted(got.columns) != sorted(want.columns):
        return f"schema {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    if canon_rows(got) != canon_rows(want):
        return "values differ from oracle"
    return None


def recall(approx: pd.DataFrame, truth: pd.DataFrame) -> float:
    """|approx ∩ truth| / |truth| on (id_a, id_b) pairs."""
    want = set(zip(truth["id_a"], truth["id_b"]))
    if not want:
        return 1.0
    return len(want & set(zip(approx["id_a"], approx["id_b"]))) / len(want)


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""
    #: Op names, in the order the seed permutes.
    ops: tuple[str, ...] = ()

    def prime(self, ctx: Ctx) -> None:
        """First-touch op run in every set-up round."""
        run_query(ctx, "agg_pricing_summary")

    def build_state(self, ctx: Ctx) -> None:
        """One-time state the ops need, built once after the set-ups."""

    def probe(self, ctx: Ctx) -> None:
        """A short op timed with and without tracing (trace overhead)."""
        self.prime(ctx)

    def schedule(self, ctx: Ctx, rng: np.random.Generator) -> list[Op]:
        return [_query_op(self.ops[i]) for i in rng.permutation(len(self.ops))]

    def check(self, ctx: Ctx, records: list[Record]) -> dict[int, str]:
        """Wrong results by record index (run after the timed pass)."""
        return {}

    def quality(self) -> dict[str, float]:
        return {}


def _inputs_frame(ctx: Ctx, table: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(ctx.inputs, f"{table}.parquet"))


class QueryMix(Workload):
    """Declared lazy-plan queries and an availableNow stream, interleaved
    with a commit cycle on a ``sources.commit`` table."""

    name = "query_mix"
    ops = (
        "agg_pricing_summary", "join_inner_star", "win_topk_per_group", "agg_distinct",
        "ts_session_stats", "text_wordcount", "dedup_exact", "pipeline_pack_sequences",
        "ts_resample_interp", "join_asof", "join_salted_skew", "set_except_all",
        "sql_ansi_shared", "agg_describe", "stream_sink",
    )

    def __init__(self):
        self.lake = Lake()

    def build_state(self, ctx: Ctx) -> None:
        self.lake.build_state(ctx)

    def schedule(self, ctx, rng):
        """The queries in seeded order, with the lake ops (kept in their
        own order) spread over seeded positions between them."""
        queries = super().schedule(ctx, rng)
        lake = self.lake.schedule(ctx, rng)
        slots = rng.permutation(len(queries) + len(lake)) < len(lake)
        q, k = iter(queries), iter(lake)
        return [next(k) if is_lake else next(q) for is_lake in slots]

    def check(self, ctx, records):
        events = _inputs_frame(ctx, "events")
        rows_only = {
            "agg_describe": 8,  # count, mean, stddev, min, 25%, 50%, 75%, max
            "stream_sink": events["event_type"].nunique(),  # one micro-batch
        }
        oracle = Oracle(ctx.inputs)
        try:
            bad = _check_queries(oracle, records, rows_only)
        finally:
            oracle.close()
        bad.update(self.lake.check(records))
        return bad


class LlmPipeline(Workload):
    name = "llm_pipeline"
    ops = (
        "sim_lsh_approx", "sim_ivf_approx", "sim_topk_exact", "sim_kmeans_assign",
        "mm_decode_batch", "udf_gapply", "cc_distributed", "triangles_sparse",
    )
    RECALL_FLOORS = {"sim_lsh_approx": 0.8, "sim_ivf_approx": 0.6}
    RECALL_TRUTH = {"sim_lsh_approx": "sim_threshold_pairs", "sim_ivf_approx": "sim_topk_exact"}

    def __init__(self):
        self._recall: dict[str, float] = {}

    def schedule(self, ctx, rng):
        custom = {"cc_distributed": run_cc_distributed, "triangles_sparse": run_triangles}
        return [
            Op(n, custom[n], "0") if n in custom else _query_op(n)
            for n in (self.ops[i] for i in rng.permutation(len(self.ops)))
        ]

    def check(self, ctx, records):
        oracle = Oracle(ctx.inputs)
        try:
            bad = _check_queries(oracle, records, {
                "sim_kmeans_assign": len(_inputs_frame(ctx, "embeddings")),
            })
            for r in records:
                if r.index in bad:
                    continue
                if r.name in self.RECALL_FLOORS:
                    got = recall(r.result, oracle.frame(self.RECALL_TRUTH[r.name]))
                    self._recall[r.name] = got
                    if got < self.RECALL_FLOORS[r.name]:
                        bad[r.index] = f"recall {got:.3f} < {self.RECALL_FLOORS[r.name]}"
                elif r.name == "cc_distributed":
                    want = run_cc_distributed(ctx, union_find_cap=None)
                    if int(r.result["n_components"][0]) != int(want["n_components"][0]):
                        bad[r.index] = "component count differs from the default dispatch"
        finally:
            oracle.close()
        return bad

    def quality(self):
        return {
            "quality.lsh_recall": self._recall.get("sim_lsh_approx", 0.0),
            "quality.ivf_recall": self._recall.get("sim_ivf_approx", 0.0),
        }


def _check_queries(oracle: Oracle, records: list[Record], rows_only: dict[str, int]) -> dict[int, str]:
    """Oracled queries against DuckDB; rows-only queries by row count."""
    registry = _registry()
    bad: dict[int, str] = {}
    for r in records:
        if r.name in rows_only:
            if len(r.result) != rows_only[r.name]:
                bad[r.index] = f"{len(r.result)} rows, expected {rows_only[r.name]}"
        elif r.name in registry and registry[r.name].oracle:
            msg = oracle.mismatch(r.name, r.result)
            if msg:
                bad[r.index] = msg
    return bad


# ---------------------------------------------------------------------------
# Commit-layer cycle
# ---------------------------------------------------------------------------

#: Commit-layer functions the tracer wraps, and their metric names.
COMMIT_FUNCS = {
    "table_append": "append_s",
    "table_merge_mor": "merge_mor_s",
    "table_compact": "compact_s",
    "table_read": "read_build_s",
    "table_lookup": "lookup_s",
}


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(path):
        for fn in files:
            p = os.path.join(dirpath, fn)
            out[p] = os.path.getsize(p)
    return out


class Lake:
    """Writes beside reads on a 64-bucket ``sources.commit`` table seeded
    from ``orders``."""

    N_BUCKETS = 64
    BATCH_ROWS = 150
    LOOKUP_KEYS = 16

    def build_state(self, ctx: Ctx) -> None:
        """Seed build: a 64-bucket table from ``orders``."""
        from pyspark_analytics_library_spark.sources import commit, io

        table = os.path.join(ctx.run_dir, "lake", "orders")
        orders = io.load_tables(ctx.spark, ctx.inputs)["orders"]
        commit.table_init(orders, table, "o_orderkey", n_buckets=self.N_BUCKETS)
        self.table = table
        self.schema = orders.dtypes
        self.model = _inputs_frame(ctx, "orders").set_index("o_orderkey")
        self.next_key = int(self.model.index.max()) + 1
        self.batches = 0
        self.batch_bytes = 0
        self.bytes_written = 0

    def schedule(self, ctx, rng):
        """One cycle: an append and a merge-on-read upsert in seeded
        order, a full read after the first commit, a point lookup after
        the second, a compaction and a full read.  Batches are written to
        Parquet here, outside the timed pass, and a pandas model of the
        table gives every read its expected result."""
        batch_dir = os.path.join(ctx.inputs, "lake_batches")
        os.makedirs(batch_dir, exist_ok=True)
        ops: list[Op] = []
        for n, kind in enumerate(rng.permutation(["append", "merge"])):
            n_new = self.BATCH_ROWS if kind == "append" else self.BATCH_ROWS // 5
            keys = np.concatenate([
                rng.choice(self.model.index.values, self.BATCH_ROWS - n_new, replace=False),
                np.arange(self.next_key, self.next_key + n_new),
            ])
            self.next_key += n_new
            batch = _batch_rows(rng, keys)
            path = os.path.join(batch_dir, f"batch_{self.batches}.parquet")
            self.batches += 1
            batch.reset_index().to_parquet(path, index=False)
            self.batch_bytes += os.path.getsize(path)
            self.model = pd.concat([self.model.drop(batch.index, errors="ignore"), batch])
            ops.append(Op(f"lake_{kind}", self._commit, (kind, path)))
            if n == 0:
                ops.append(Op("lake_read", self._read, len(self.model)))
        ops.append(Op("lake_lookup", self._lookup, self._lookup_expect(rng)))
        ops.append(Op("lake_compact", self._compact))
        ops.append(Op("lake_read", self._read, len(self.model)))
        return ops

    def _lookup_expect(self, rng) -> dict:
        """Lookup keys (live ones plus one absent key) with the expected rows."""
        keys = [int(k) for k in rng.choice(self.model.index.values, self.LOOKUP_KEYS - 1,
                                           replace=False)]
        live = self.model.loc[keys]
        return {
            "keys": keys + [self.next_key + 10**9],
            "want": sorted(zip(keys, live["o_totalprice"].tolist(),
                               live["o_orderpriority"].tolist())),
        }

    def _written(self, before: dict[str, int]) -> None:
        after = _dir_files(self.table)
        self.bytes_written += sum(size for p, size in after.items() if p not in before)

    def _commit(self, ctx: Ctx, arg) -> tuple[bool, str]:
        from pyspark.sql import functions as F

        from pyspark_analytics_library_spark.sources import commit

        kind, path = arg
        batch = ctx.spark.read.parquet(path).select(
            *[F.col(c).cast(t) for c, t in self.schema]
        )
        before = _dir_files(self.table)
        if kind == "append":
            commit.table_append(ctx.spark, self.table, batch)
        else:
            commit.table_merge_mor(ctx.spark, self.table, batch)
        self._written(before)
        return True, ""

    def _read(self, ctx: Ctx, want_rows: int) -> tuple[bool, str]:
        from pyspark_analytics_library_spark.sources import commit

        df = commit.table_read(ctx.spark, self.table)
        with ctx.tracer.span("sources.commit.read_exec"):
            n = df.count()
        return n == want_rows, f"read {n} live rows, model has {want_rows}"

    def _lookup(self, ctx: Ctx, expect: dict) -> tuple[bool, str]:
        from pyspark_analytics_library_spark.sources import commit

        df = commit.table_lookup(ctx.spark, self.table, expect["keys"])
        got = _collect(ctx, df.select("o_orderkey", "o_totalprice", "o_orderpriority"))
        rows = sorted(zip(got["o_orderkey"].astype(int).tolist(), got["o_totalprice"].tolist(),
                          got["o_orderpriority"].tolist()))
        return rows == expect["want"], f"lookup got {len(rows)} rows, model {len(expect['want'])}"

    def _compact(self, ctx: Ctx, _arg=None) -> tuple[bool, str]:
        from pyspark_analytics_library_spark.sources import commit

        before = _dir_files(self.table)
        commit.table_compact(ctx.spark, self.table)
        self._written(before)
        return True, ""

    def stats(self) -> dict[str, float]:
        """Commit-layer size figures at the end of the run."""
        from pyspark_analytics_library_spark.sources import commit

        on_disk = sum(_dir_files(self.table).values())
        return {
            "sources.commit.bytes_written": self.bytes_written,
            "sources.commit.write_amp": self.bytes_written / self.batch_bytes,
            "sources.commit.files_live": commit.table_stats(self.table)["files"],
            "sources.commit.bytes_per_row": on_disk / len(self.model),
        }

    @staticmethod
    def check(records: list[Record]) -> dict[int, str]:
        return {
            r.index: r.result[1]
            for r in records
            if r.name.startswith("lake_") and not r.result[0]
        }


def _batch_rows(rng, keys: np.ndarray) -> pd.DataFrame:
    """New values for ``keys``: an append batch or an upsert batch."""
    n = len(keys)
    return pd.DataFrame({
        "o_custkey": rng.integers(0, 1500, n).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1300, 500_000, n), 2),
        "o_orderdate": pd.to_datetime(
            rng.integers(0, 2404, n), unit="D", origin=pd.Timestamp("1995-01-01")
        ).astype("datetime64[us]"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "9-UPDATED"], n),
    }, index=pd.Index(keys.astype(np.int64), name="o_orderkey"))


WORKLOADS = {w.name: w for w in (QueryMix, LlmPipeline)}
