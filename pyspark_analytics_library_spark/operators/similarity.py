"""Similarity search over embeddings (SURVEY.md §2.12).

Exact cosine top-k / threshold pairs (small-n paths, full oracles) and
random-hyperplane LSH bucketing (the 100 TB path, rows-only + recall
property test in tests/test_properties.py).

All exact queries share one kernel: a BROADCAST normalized index matrix
+ BLAS matmul inside mapInPandas.  This is the idiomatic Spark shape
for vectorized brute-force similarity — measured ~240× faster than the
pair-expression formulation (zip_with+aggregate lambdas are
interpreted, not codegen'd).  At 100 TB the index no longer fits one
broadcast: shard it (IVF — union of per-shard results, re-ranked) or
switch to sim_lsh_approx; brute force remains the per-shard /
validation kernel.

Float discipline: DuckDB's ``list_cosine_similarity`` computes in
float32 (measured deltas ~1e-7 — breaks ROUND(6) parity), so oracles
compute cosine in DOUBLE via unnest-zip + SUM; numpy matmul agrees to
~1e-15 and ROUND(6) is safe.  Ranks order by the ROUNDED cosine + id so
tie resolution is identical cross-engine.
"""

from __future__ import annotations

import json
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_analytics_library_spark import conf
from pyspark_analytics_library_spark.functions.coercion import scaled_int_text
from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import load_tables


def cosine_sim(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns as a pure JVM
    expression (double-precision sequential fold).  Fine for a handful
    of evaluations; use the broadcast kernel for pairwise workloads."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x)
    nb = F.aggregate(bd, F.lit(0.0), lambda acc, x: acc + x * x)
    return dot / F.sqrt(na * nb)


# ---------------------------------------------------------------------------
# Broadcast brute-force kernel
# ---------------------------------------------------------------------------


class IndexTooLargeError(RuntimeError):
    """Raised when the embeddings table exceeds the broadcast-index cap.

    The eager alternative to a late driver OOM: callers should switch to
    the sharded paths (`sim_ivf_approx` / `sim_lsh_approx`)."""


def build_index(spark: SparkSession, e: DataFrame):
    """Collect + broadcast the (ids, L2-normalized matrix, labels)
    index.  The ONE documented driver materialization in the package:
    valid while the index fits a broadcast (GBs); beyond that, shard.

    Guarded: estimates rows × dim × 8 BEFORE collecting and raises
    IndexTooLargeError over the cap (conf ``spark.analytics.sim.
    maxIndexBytes``, default 2 GiB) — an eager, explainable error instead
    of a silent driver OOM deep into a 100 TB job."""
    max_bytes = conf.get(spark, "spark.analytics.sim.maxIndexBytes")
    # Two cheap probes, not one full scan: dim from a single-row take
    # (reads one Arrow batch), row count from count() (metadata-only on
    # a plain Parquet scan).  max(size(embedding)) would read the widest
    # column end-to-end just to decide whether reading it is safe.
    probe = e.select(F.size("embedding").alias("d")).limit(1).collect()
    dim = probe[0]["d"] if probe else 0
    n_rows = e.count()
    est = n_rows * max(dim, 0) * 8
    if est > max_bytes:
        raise IndexTooLargeError(
            f"broadcast index would be ~{est / 1e9:.1f} GB "
            f"({n_rows} rows x {dim} dims x 8 B) > cap {max_bytes / 1e9:.1f} GB; "
            "use sim_ivf_approx (sharded cells) or sim_lsh_approx instead, or "
            "raise spark.analytics.sim.maxIndexBytes"
        )
    pdf = e.toPandas()
    ids = pdf["vec_id"].to_numpy()
    if len(pdf):
        mat = _unit_rows(pdf["embedding"])
    else:
        # Empty corpus (a filter matched nothing): dim probes 0 here, so
        # this is a (0, 0) matrix — every kernel early-returns on the
        # empty index (len(ids) == 0) BEFORE touching shapes, instead of
        # np.stack dying on "need at least one array to stack".
        mat = np.zeros((0, max(dim, 0)), dtype=np.float64)
    labels = pdf["label"].to_numpy() if "label" in pdf.columns else None
    return spark.sparkContext.broadcast((ids, mat, labels))


def _safe_norm(m: "np.ndarray") -> "np.ndarray":
    """Row L2 norms with zeros mapped to 1: an all-zero embedding has no
    direction, so it keeps cosine 0 with everything rather than
    poisoning the score matrix with NaNs (fixtures contain no zero
    vectors — this guards user data)."""
    norm = np.linalg.norm(m, axis=1, keepdims=True)
    return np.where(norm == 0.0, 1.0, norm)


def _unit_rows(col: "pd.Series") -> "np.ndarray":
    """A non-empty column of embedding arrays as a float64 matrix of
    L2-unit rows; every cosine kernel scores through this, so a
    zero-norm row scores 0 on every path (:func:`_safe_norm`)."""
    m = np.stack(col.to_numpy()).astype(np.float64)
    m /= _safe_norm(m)
    return m


def brute_topk(e: DataFrame, bc, k: int = 5, with_labels: bool = False) -> DataFrame:
    """Exact top-k neighbors per query row against the broadcast index
    (self excluded), ranked by (rounded cos desc, id asc)."""
    schema = "id_a long, id_b long, cos double, rn long"
    if with_labels:
        schema += ", label_a int, label_b int"

    def gen(batches):
        ids_b, M, labels = bc.value
        n = len(ids_b)
        if n == 0:  # empty index: no neighbor exists for any query row
            return
        kk = min(k, n - 1)
        # Composite key: rounded cos desc, id asc.  Rounded cosines sit
        # on a 1e-6 grid; id·eps (eps·max_rank ≪ 1e-6) encodes the
        # tie-break exactly — fully vectorized.
        eps = 1e-7 / max(n, 1)
        id_bias = np.argsort(np.argsort(ids_b)) * eps
        for pdf in batches:
            if not len(pdf):
                continue
            S = np.round(_unit_rows(pdf["embedding"]) @ M.T, 6)
            a_ids = pdf["vec_id"].to_numpy()
            S[a_ids[:, None] == ids_b[None, :]] = -np.inf  # exclude self
            key = -S + id_bias[None, :]
            part = np.argpartition(key, kk, axis=1)[:, :kk]
            order = np.take_along_axis(
                part, np.argsort(np.take_along_axis(key, part, axis=1), axis=1), axis=1
            )
            out = {
                "id_a": np.repeat(a_ids, kk),
                "id_b": ids_b[order].ravel(),
                "cos": np.take_along_axis(S, order, axis=1).ravel(),
                "rn": np.tile(np.arange(1, kk + 1), len(a_ids)),
            }
            if with_labels:
                out["label_a"] = np.repeat(pdf["label"].to_numpy(), kk)
                out["label_b"] = labels[order].ravel()
            yield pd.DataFrame(out)

    return e.mapInPandas(gen, schema)


def brute_threshold_pairs(e: DataFrame, bc, tau: float) -> DataFrame:
    """All (id_a < id_b) pairs with rounded cosine > tau."""

    def gen(batches):
        ids_b, M, _ = bc.value
        if len(ids_b) == 0:  # empty index: no pair can exist; M is (0, 0)
            return
        for pdf in batches:
            if not len(pdf):
                continue
            S = np.round(_unit_rows(pdf["embedding"]) @ M.T, 6)
            a_ids = pdf["vec_id"].to_numpy()
            mask = (S > tau) & (a_ids[:, None] < ids_b[None, :])
            ai, bi = np.nonzero(mask)
            yield pd.DataFrame(
                {"id_a": a_ids[ai], "id_b": ids_b[bi], "cos": S[ai, bi]}
            )

    return e.mapInPandas(gen, "id_a long, id_b long, cos double")


#: Shared oracle fragment: double-precision pairwise cosine via
#: unnest-zip (DuckDB zips parallel unnests positionally).
def _pair_cosine_cte(join_cond: str) -> str:
    return f"""
    WITH p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               a.label AS label_a, b.label AS label_b,
               CAST(unnest(a.embedding) AS DOUBLE) AS xa,
               CAST(unnest(b.embedding) AS DOUBLE) AS xb
        FROM embeddings a JOIN embeddings b ON {join_cond}
    ), c AS (
        SELECT id_a, id_b,
               any_value(label_a) AS label_a, any_value(label_b) AS label_b,
               SUM(xa * xb) / SQRT(SUM(xa * xa) * SUM(xb * xb)) AS cos
        FROM p GROUP BY id_a, id_b
    )
    """


@query(
    "sim_topk_exact",
    oracle=_pair_cosine_cte("a.vec_id <> b.vec_id")
    + """
    SELECT id_a, id_b, cos, rn FROM (
        SELECT id_a, id_b, ROUND(cos, 6) AS cos,
               ROW_NUMBER() OVER (
                   PARTITION BY id_a ORDER BY ROUND(cos, 6) DESC, id_b ASC
               ) AS rn
        FROM c
    ) WHERE rn <= 5
    """,
)
def q_sim_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors per vector (broadcast kernel).

    At fixture scale the table is one input partition and the whole
    query is one worker round-trip (~0.25 s floor); a real deployment
    reads many partitions and the per-batch matmuls parallelize
    naturally — measured that forcing a repartition here costs more
    (shuffle + per-task broadcast deserialization) than it buys.
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "embedding")
    return brute_topk(e, build_index(spark, e), k=5)


@query(
    "sim_threshold_pairs",
    oracle=_pair_cosine_cte("a.vec_id < b.vec_id")
    + """
    SELECT id_a, id_b, ROUND(cos, 6) AS cos
    FROM c WHERE ROUND(cos, 6) > 0.3
    """,
)
def q_sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs above cosine 0.3 (fixture cosines top out ≈0.48, so
    0.9 would be an always-empty — hollow — check)."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "embedding")
    return brute_threshold_pairs(e, build_index(spark, e), tau=0.3)


@query(
    "sim_knn_labels",
    oracle=_pair_cosine_cte("a.vec_id <> b.vec_id")
    + """
    , topk AS (
        SELECT label_a, label_b FROM (
            SELECT label_a, label_b,
                   ROW_NUMBER() OVER (
                       PARTITION BY id_a ORDER BY ROUND(cos, 6) DESC, id_b ASC
                   ) AS rn
            FROM c
        ) WHERE rn <= 5
    )
    SELECT label_a AS label,
           ROUND(AVG(CASE WHEN label_b = label_a THEN 1.0 ELSE 0.0 END), 4)
               AS knn_agreement,
           COUNT(*) AS n_pairs
    FROM topk GROUP BY label_a
    """,
)
def q_sim_knn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-agreement per cluster label: among each vector's top-5
    neighbors, the fraction sharing its label."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "embedding", "label")
    topk = brute_topk(e, build_index(spark, e), k=5, with_labels=True)
    return topk.groupBy(F.col("label_a").alias("label")).agg(
        F.round(
            F.avg(F.when(F.col("label_b") == F.col("label_a"), 1.0).otherwise(0.0)), 4
        ).alias("knn_agreement"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


# ---------------------------------------------------------------------------
# LSH — the scale path
# ---------------------------------------------------------------------------

_DIM = 64
# 16 tables x 4 bits: a cos≈0.3 neighbor collides in ≥1 table with
# p ≈ 0.89 (measured recall 0.87 on sf0.001 vs the ≥0.8 bar in
# tests/test_properties.py), while random pairs still collide at only
# 1/16 per table.  Tables buy recall linearly in shuffle cost; bits buy
# pruning exponentially at recall's expense.
_LSH_TABLES = 16
_LSH_BITS = 4
# Fixed random hyperplanes (deterministic; baked at import so every run
# and every executor sees identical planes — no driver-state capture).
_PLANES = (
    np.random.RandomState(42).normal(size=(_LSH_TABLES, _LSH_BITS, _DIM)).tolist()
)
# The whole key computation as ONE Spark SQL expression, built once.
# The planes enter as a single from_json constant (folded by the
# optimizer — the physical plan carries a literal array); json.dumps
# writes shortest-round-trip doubles, so the parsed planes are
# bit-identical to _PLANES.  ``{col}`` is the embedding column.
_LSH_KEYS_SQL = (
    "transform(array(transform({col}, x -> CAST(x AS DOUBLE))), ed -> "
    "transform(from_json('" + json.dumps(_PLANES) + "', "
    "'array<array<array<double>>>'), (tbl, ti) -> named_struct("
    "'table', ti, "
    "'key', aggregate(transform(tbl, (p, bi) -> IF("
    "aggregate(zip_with(ed, p, (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
    " > 0, shiftleft(1L, bi), 0L)), 0L, (k, b) -> k + b))))[0]"
)


def lsh_table_keys(emb: str) -> Column:
    """Multi-table random-hyperplane LSH: per table, a sign-bit bucket key;
    returns array<struct<table:int, key:long>> to explode.  ``emb`` names
    the array<float> embedding column.

    Collision probability for angle θ is (1 - θ/π)^bits per table, OR-ed
    over the tables: bits trade recall for pruning, tables buy recall
    linearly in cost.  With 16 tables × 4 bits a cos≈0.4 neighbor is
    caught with p ≈ 0.97 while random pairs collide at 1/16 per table.

    One SQL expression because every PySpark Column call is a py4j round
    trip: built call by call this column costs ~31,000 round trips and
    3.5-5.8 s of driver time per plan build; the single ``F.expr`` over
    :data:`_LSH_KEYS_SQL` costs 3.  Each dot product is the in-order left
    fold ``0D + x0*p0 + ...`` over the double-cast embedding (pinned
    against a numpy twin in tests/test_plans.py)."""
    return F.expr(_LSH_KEYS_SQL.format(col=f"`{emb}`"))


_IVF_CELLS = 16
# nprobe is high relative to cells because the fixture vectors are
# near-isotropic (max cosine ≈ 0.48 — worst case for ANN); real
# embedding corpora cluster strongly and run nprobe/cells ≪ this.
_IVF_NPROBE = 6


def _bounded_hash_sample(e: DataFrame, sample: int) -> pd.DataFrame:
    """Deterministic, layout-independent training sample whose driver-side
    merge is bounded by a hash filter, not by partition count.

    ``orderBy("vec_id").limit(sample)`` plans as TakeOrderedAndProject:
    each of P partitions ships up to ``sample`` rows into the driver-side
    merge (a 100 TB table at 128 MB splits is ~800k partitions).  Here
    only rows with ``h = pmod(xxhash64(vec_id), 1e6) < threshold`` — sized
    to ~1.2×sample survivors in TOTAL — reach the ordered merge.  The
    chosen set, the ``sample`` smallest (h, vec_id), is a pure function of
    the ids; a threshold that under-delivers doubles, which only WIDENS
    the candidate pool.

    ROW ORDER is part of the contract: the result is sorted by ``vec_id``
    on BOTH paths, because :func:`train_ivf_centroids` is row-order
    sensitive (``rng.choice`` picks by position; float mean order varies).
    The sort is driver-side on ≤ ``sample`` rows.

    Small tables (every fixture SF): one ``limit(sample + 1).toPandas()``
    probe, driver-bounded at any partition count, IS the whole table
    when it returns ≤ ``sample`` rows.  Otherwise one column-less
    count() sizes the threshold; the loop's per-pass scans are kept
    rather than persisting the input, which at 100 TB would spill the
    table to save one pass."""
    e = e.select("vec_id", "embedding")
    pdf = e.limit(sample + 1).toPandas()
    if len(pdf) <= sample:
        return pdf.sort_values("vec_id", ignore_index=True)
    n = e.count()
    hmod = F.pmod(F.xxhash64(F.col("vec_id")), F.lit(1_000_000))
    thr = max(1, math.ceil(1_000_000 * sample * 1.2 / n))
    while True:
        cand = e.withColumn("_h", hmod).filter(F.col("_h") < F.lit(thr))
        pdf = cand.orderBy("_h", "vec_id").limit(sample).toPandas()
        if len(pdf) >= sample or thr >= 1_000_000:
            return (
                pdf.drop(columns="_h").sort_values("vec_id", ignore_index=True)
            )
        thr = min(1_000_000, thr * 2)


def train_ivf_centroids(e: DataFrame, k: int = _IVF_CELLS, iters: int = 10, sample: int = 100_000):
    """Deterministic spherical k-means on a bounded sample → L2-normalized
    centroid matrix.  Centroid training on a driver-side sample is the
    standard IVF build recipe (FAISS does the same): centroids only
    need to capture the density shape, so `sample` rows suffice at any
    input scale, and a fixed seed + fixed iteration count keeps reruns
    (and the property tests) exact.  The sample itself comes from
    :func:`_bounded_hash_sample` — deterministic AND driver-bounded at
    any partition count.

    An empty corpus trains no cells: the (0, 0) matrix is never scored,
    because :func:`_assign_cells` skips empty batches.
    """
    pdf = _bounded_hash_sample(e, sample)
    if not len(pdf):
        return np.zeros((0, 0), dtype=np.float64)
    M = _unit_rows(pdf["embedding"])
    rng = np.random.RandomState(7)
    C = M[rng.choice(len(M), size=min(k, len(M)), replace=False)].copy()
    for _ in range(iters):
        assign = np.argmax(M @ C.T, axis=1)
        for j in range(len(C)):
            members = M[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        C /= _safe_norm(C)
    return C


def _assign_cells(C: np.ndarray, nprobe: int):
    """mapInPandas generator: (vec_id, embedding) → one row per probed
    cell, nearest-first.  nprobe=1 builds the index side; nprobe>1 the
    query side."""

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cells = np.argsort(-(_unit_rows(pdf["embedding"]) @ C.T), axis=1)[:, :nprobe]
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), nprobe),
                    "cell": cells.ravel().astype(np.int32),
                    "embedding": [e for e in pdf["embedding"] for _ in range(nprobe)],
                }
            )

    return gen


@query("sim_ivf_approx", tags=("rows-only",))  # recall checked by property test
def q_sim_ivf_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-5: partition vectors into
    centroid cells, search only the query's `nprobe` nearest cells.

    The 100 TB sharded-index path complementing `sim_lsh_approx`: the
    full index is never broadcast — each cell's vectors meet only the
    queries probing that cell (cogrouped `applyInPandas`, shuffled by
    cell id), and the per-cell kernel is the same vectorized matmul as
    the exact path.  Per-query cost drops from O(n) to
    O(n·nprobe/cells); cell skew is bounded because spherical k-means
    balances density, and AQE splits an oversized cell's shuffle
    partition.  Final global top-5 merges the per-cell candidates with
    one window (rounded-cos, id tie-break — same discipline as exact).
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "embedding")
    C = train_ivf_centroids(e)
    index = e.mapInPandas(
        _assign_cells(C, 1), "vec_id long, cell int, embedding array<float>"
    )
    probes = e.mapInPandas(
        _assign_cells(C, _IVF_NPROBE), "vec_id long, cell int, embedding array<float>"
    )

    def local_topk(qdf: pd.DataFrame, idf: pd.DataFrame) -> pd.DataFrame:
        if not len(qdf) or not len(idf):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        S = np.round(_unit_rows(qdf["embedding"]) @ _unit_rows(idf["embedding"]).T, 6)
        q_ids = qdf["vec_id"].to_numpy()
        i_ids = idf["vec_id"].to_numpy()
        S[q_ids[:, None] == i_ids[None, :]] = -np.inf
        kk = min(5, S.shape[1])
        part = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
        keep = np.take_along_axis(S, part, axis=1) > -np.inf
        return pd.DataFrame(
            {
                "id_a": np.repeat(q_ids, kk)[keep.ravel()],
                "id_b": i_ids[part].ravel()[keep.ravel()],
                "cos": np.take_along_axis(S, part, axis=1).ravel()[keep.ravel()],
            }
        )

    candidates = (
        probes.groupby("cell")
        .cogroup(index.groupby("cell"))
        .applyInPandas(local_topk, "id_a long, id_b long, cos double")
        .dropDuplicates(["id_a", "id_b"])
    )
    w = Window.partitionBy("id_a").orderBy(F.desc("cos"), F.asc("id_b"))
    return (
        candidates.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("id_a", "id_b", "cos", "rn")
    )


@query("sim_lsh_approx", tags=("rows-only",))  # LSH recall checked by property test
def q_sim_lsh_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN: candidates = same bucket in ANY of the LSH tables;
    exact cosine only on candidates, as a per-bucket vectorized matmul
    (`applyInPandas` cogrouped by (table, key)).

    Not a pair self-join: with 4-bit keys (chosen for recall at
    cos ≈ 0.3) random pairs still collide in SOME of the 16 tables with
    p ≈ 0.64, so a bucket self-join materializes a large fraction of all
    n² pairs, each dragging two arrays through a shuffle (21 s at sf0.1).
    Grouping shuffles each vector exactly `tables` times, runs one blocked
    BLAS matmul per bucket and emits ONLY pairs above threshold; the final
    (id_a, id_b) dropDuplicates is survivor-sized (3.4 s at sf0.1).
    Bucket skew is bounded by the 2048-row matmul blocking plus AQE
    shuffle splitting."""
    t = load_tables(spark, sf_dir)
    e = (
        t["embeddings"]
        .select(
            "vec_id",
            "embedding",
            F.explode(lsh_table_keys("embedding")).alias("tk"),
        )
        .select("vec_id", "embedding", "tk.table", "tk.key")
    )

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cos": pd.Series(dtype="float64"),
            }
        )
        n = len(pdf)
        if n < 2:
            return empty
        pdf = pdf.sort_values("vec_id")  # positional < ⇒ vec_id <
        ids = pdf["vec_id"].to_numpy()
        E = _unit_rows(pdf["embedding"])
        cols = np.arange(n)
        out = []
        block = 2048
        for i0 in range(0, n, block):
            S = np.round(E[i0 : i0 + block] @ E.T, 6)
            upper = cols[None, :] > (i0 + np.arange(S.shape[0]))[:, None]
            r, c = np.nonzero((S > 0.3) & upper)
            if len(r):
                out.append(
                    pd.DataFrame(
                        {"id_a": ids[i0 + r], "id_b": ids[c], "cos": S[r, c]}
                    )
                )
        return pd.concat(out, ignore_index=True) if out else empty

    pairs = e.groupBy("table", "key").applyInPandas(
        bucket_pairs, "id_a long, id_b long, cos double"
    )
    # Identical (id_a, id_b) from different tables carry the identical
    # float64 cos, so which duplicate survives is immaterial.
    return pairs.dropDuplicates(["id_a", "id_b"])


@query(
    "sim_range_search",
    oracle="""
    WITH q AS (
        SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0
    ), p AS (
        SELECT e.vec_id,
               CAST(unnest(e.embedding) AS DOUBLE) AS xa,
               CAST(unnest(q.q_emb) AS DOUBLE) AS xb
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    ), c AS (
        SELECT vec_id,
               SUM(xa * xb) / SQRT(SUM(xa * xa) * SUM(xb * xb)) AS cos
        FROM p GROUP BY vec_id
    )
    SELECT vec_id, ROUND(cos, 6) AS cos
    FROM c
    WHERE ROUND(cos, 6) >= 0.25
    ORDER BY ROUND(cos, 6) DESC, vec_id
    """,
)
def q_sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-query range search: every vector within cosine ≥ 0.25 of
    one probe vector (vec_id 0) — the point-lookup twin of
    sim_threshold_pairs (which materializes ALL qualifying pairs).

    The probe is a one-row broadcast; the cosine is the pure JVM
    expression fold, evaluated scan-side with zero shuffles — a 100 TB
    index answers a single query at full scan parallelism (and the
    LSH/IVF paths shortcut even that scan).  Threshold compares the
    ROUNDED value on both engines (§5.3 float discipline).
    """
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "embedding")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cos = F.round(cosine_sim(F.col("embedding"), F.col("q_emb")), 6)
    return (
        e.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select("vec_id", cos.alias("cos"))
        .filter(F.col("cos") >= 0.25)
        .orderBy(F.desc("cos"), F.asc("vec_id"))
    )


@query(
    "sim_centroid",
    oracle="""
    WITH p AS (
        SELECT label, i,
               CAST(FLOOR(ROUND(AVG(embedding[i]), 6) * 1000000 + 0.5)
                    AS BIGINT) AS v
        FROM embeddings, generate_series(1, 64) AS g(i)
        GROUP BY label, i
    )
    SELECT label, COUNT(*) AS dim,
           array_to_string(list(CAST(v AS VARCHAR) ORDER BY i), ',')
               AS centroid
    FROM p GROUP BY label ORDER BY label
    """,
)
def q_sim_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid — the building block of IVF cell
    training, class prototypes, and centroid-based dedup.

    ONE hash aggregate: each dimension is an independent avg(emb[i])
    aggregate expression (64 of them), so the per-task partial state
    is one 64-float accumulator per label and the whole query is a
    single shuffle of (labels × 64 doubles) plus the output sort.  A
    posexplode → groupBy(label, pos) → collect_list reassembly costs
    THREE exchanges (hash(label, pos) does not satisfy the reassembly's
    hash(label) clustering, and the 64× row explosion shuffles 64 rows
    per vector instead of one partial row per label).  Nothing
    vector-sized ever reaches the driver.

    The centroid vector is serialized to floor-scaled-integer text at
    the compare boundary (flatten-before-compare, §5.3 rules 4+7 —
    same discipline as fn_array's head4 and mm_struct_bundle: engine
    bridges disagree on array containers and float→string formatting,
    while FLOOR(x*1e6+0.5) over the 6dp-rounded average is identical
    IEEE arithmetic on both engines).
    """
    emb = load_tables(spark, sf_dir)["embeddings"]
    dim = 64  # fixture embedding width (TESTDATA.md); helper param at API level
    per_dim_avgs = [
        F.round(F.avg(F.col("embedding")[i]), 6).alias(f"_c{i}") for i in range(dim)
    ]
    scaled = [scaled_int_text(f"_c{i}") for i in range(dim)]
    return (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"), *per_dim_avgs)
        .select(
            "label",
            F.lit(dim).cast("long").alias("dim"),
            F.array_join(F.array(*scaled), ",").alias("centroid"),
        )
        .orderBy("label")
    )


def _nearest_clusters(C: "np.ndarray", A: "np.ndarray") -> "np.ndarray":
    """Nearest centroid per row of A by squared L2 (vectorized; ties
    broken by lowest cluster index, which np.argmin guarantees)."""
    d2 = (
        (A * A).sum(axis=1, keepdims=True)
        - 2.0 * (A @ C.T)
        + (C * C).sum(axis=1)[None, :]
    )
    return np.argmin(d2, axis=1)


def _assign_nearest(C: "np.ndarray"):
    """mapInPandas generator: (vec_id, embedding) → (vec_id, cluster).
    The embedding does not ride back across the Arrow boundary: no
    consumer reads it from the output."""

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster": _nearest_clusters(C, A).astype(np.int32),
                }
            )

    return gen


def _assign_partials(C: "np.ndarray"):
    """mapInPandas generator for the Lloyd UPDATE step: per Arrow batch,
    assign rows to centroids and emit the per-cluster partial sums and
    counts — ≤ k×dim rows per batch, never row-sized output.

    Folding the partial aggregation into the SAME matmul pass means
    embeddings never leave the Python worker and the exchange carries
    only k×dim×batches partials (shipping every row back to the JVM and
    posexploding n×dim rows would rely on map-side combine instead).
    Final means = sum(s)/sum(cnt) per (cluster, dim)."""
    k, dim = C.shape

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            cl = _nearest_clusters(C, A)
            sums = np.zeros((k, dim))
            cnts = np.zeros(k, dtype=np.int64)
            np.add.at(sums, cl, A)
            np.add.at(cnts, cl, 1)
            nz = np.nonzero(cnts)[0]
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(nz, dim).astype(np.int32),
                    "dim": np.tile(np.arange(dim, dtype=np.int32), len(nz)),
                    "s": sums[nz].ravel(),
                    "cnt": np.repeat(cnts[nz], dim),
                }
            )

    return gen


def distributed_kmeans_assign(
    e: DataFrame, k: int = 8, iters: int = 5
) -> DataFrame:
    """Fully DISTRIBUTED Lloyd k-means: per-iteration Arrow-batched
    assignment + partial-sum centroid update fused into ONE mapInPandas
    pass (``_assign_partials``), with only the k×dim centroid matrix
    crossing to the driver each round — the companion to
    :func:`train_ivf_centroids`, which trains on a bounded driver-side
    SAMPLE (the FAISS recipe).  Use this shape when the training set is
    the 100 TB table: driver state is k×dim floats per iteration, every
    data-sized operation is a scan emitting ≤ k×dim partial rows per Arrow
    batch, and embeddings never leave the Python workers.

    Deterministic: init = the first ``k`` vectors by vec_id (orderBy
    before limit — layout-independent), fixed ``iters``, no RNG; reruns
    are exact, enabling the numpy-twin test."""
    # Persist the projected input across the Lloyd iterations: each
    # iteration's update job is a fresh action, so without
    # the cache every round re-reads the scan — iters× redundant I/O at
    # 100 TB.  Unpersisted after the loop: the returned frame is lazy,
    # so a cache it depended on could never be released; the final
    # assignment pass pays one re-scan instead of a permanent pin.
    e = e.persist()
    try:
        init = e.orderBy("vec_id").limit(k).collect()  # k rows: bounded
        C = np.stack(
            [np.asarray(r["embedding"], dtype=np.float64) for r in init]
        )
        for _ in range(iters):
            upd = (
                e.mapInPandas(
                    _assign_partials(C), "cluster int, dim int, s double, cnt long"
                )
                .groupBy("cluster", "dim")
                .agg((F.sum("s") / F.sum("cnt")).alias("m"))
                .collect()  # k×dim rows: bounded, not data-sized
            )
            for r in upd:
                C[r["cluster"], r["dim"]] = r["m"]
    finally:
        e = e.unpersist()
    return e.mapInPandas(_assign_nearest(C), "vec_id long, cluster int")


@query("sim_kmeans_assign", tags=("rows-only",))  # iterative float loop
def q_sim_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means cluster assignment over the embeddings
    table (k=8, 5 iterations, deterministic init) — see
    :func:`distributed_kmeans_assign`.  Rows-only: the result depends
    on float iteration no SQL engine reproduces bit-exactly, but it is
    rerun-exact and
    tests/test_properties.py::test_kmeans_assign_matches_numpy_twin
    re-derives every assignment with an independent numpy
    implementation (plus a near-tie margin guard, so the comparison is
    robust to summation-order ulps)."""
    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "embedding")
    return distributed_kmeans_assign(e).orderBy("vec_id")
