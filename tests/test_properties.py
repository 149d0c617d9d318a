"""Property-style checks for ops that cannot have a DuckDB oracle
(SURVEY.md §5.2.3): randomized/approximate algorithms get determinism +
quality bounds instead.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import given as hyp_given
from hypothesis import strategies as st

from pyspark_analytics_library_spark.conf import scoped_conf
from pyspark_analytics_library_spark.registry import REGISTRY, load_all_query_modules
from tests.conftest import TEST_SF_DIR

load_all_query_modules()


def _pairs(df, a="id_a", b="id_b"):
    return {(r[a], r[b]) for r in df.collect()}


def test_lsh_recall_vs_exact(spark):
    """LSH candidates must recover most exact pairs above threshold."""
    exact = _pairs(REGISTRY["sim_threshold_pairs"].fn(spark, TEST_SF_DIR))
    approx = _pairs(REGISTRY["sim_lsh_approx"].fn(spark, TEST_SF_DIR))
    assert approx <= exact or not exact, "LSH produced a pair exact search did not"
    if exact:
        recall = len(approx & exact) / len(exact)
        # SURVEY §2.12 promises recall ≥ 0.8 at sf0.001
        assert recall >= 0.8, f"LSH recall {recall:.2f} < 0.8 ({len(exact)} exact pairs)"


def test_build_index_guard_trips(spark):
    """The broadcast-index build must fail EAGERLY (before collecting)
    when the estimated matrix exceeds the cap — a clear error instead of
    a late driver OOM at 100 TB."""
    from pyspark_analytics_library_spark.operators.similarity import (
        IndexTooLargeError,
        build_index,
    )
    from pyspark_analytics_library_spark.sources.io import load_tables

    e = load_tables(spark, TEST_SF_DIR)["embeddings"].select("vec_id", "embedding")
    with scoped_conf(spark, {"spark.analytics.sim.maxIndexBytes": 1024}):
        with pytest.raises(IndexTooLargeError, match="sim_ivf_approx"):
            build_index(spark, e)
    # and the default cap admits the fixture index
    assert build_index(spark, e) is not None


def test_lsh_deterministic(spark):
    a = _pairs(REGISTRY["sim_lsh_approx"].fn(spark, TEST_SF_DIR))
    b = _pairs(REGISTRY["sim_lsh_approx"].fn(spark, TEST_SF_DIR))
    assert a == b


def test_minhash_deterministic_and_sound(spark):
    """MinHash-LSH pairs are verified by exact Jaccard, so every
    reported pair must also appear in the exact n-gram pair set (at the
    lower 0.2 threshold) — and reruns must agree exactly."""
    fuzzy1 = _pairs(REGISTRY["dedup_fuzzy_minhash"].fn(spark, TEST_SF_DIR))
    fuzzy2 = _pairs(REGISTRY["dedup_fuzzy_minhash"].fn(spark, TEST_SF_DIR))
    assert fuzzy1 == fuzzy2
    exact_02 = _pairs(REGISTRY["dedup_ngram_jaccard"].fn(spark, TEST_SF_DIR))
    # minhash verifies at >= 0.4, exact query reports >= 0.2 within-lang;
    # minhash pairs are cross-lang too, so restrict to verified subset.
    rows = REGISTRY["dedup_fuzzy_minhash"].fn(spark, TEST_SF_DIR).collect()
    for r in rows:
        assert r["jaccard"] >= 0.4


def test_minhash_recall_monotone_in_bands(spark):
    """More bands at fixed rows_per_band → candidate recall is
    monotonically non-decreasing (each band is one more independent
    collision chance: P = 1-(1-s^r)^b rises in b) — the operating-curve
    property minhash_lsh_pairs' docstring sells (VERDICT r12 #2).

    Runs on a CONSTRUCTED near-dup corpus, not the fixture: fixture
    texts are globally unique, so the τ=0.4 truth set there is too
    sparse to rank recalls.  Truth = the independent Python exact
    Jaccard over the same 3-word shingle semantics; soundness (every
    reported pair is a true pair with the exact score) is asserted at
    every operating point, monotonicity across bands ∈ (1, 2, 4, 8).
    """
    import random

    from pyspark_analytics_library_spark.operators.dedup import minhash_lsh_pairs

    rng = random.Random(1312)
    vocab = [f"w{i}" for i in range(120)]
    docs, texts = [], {}
    for i in range(24):
        base = [rng.choice(vocab) for _ in range(30)]
        mut = list(base)
        # mutate a contiguous tail: overlap ratio spans ~0.2..0.9 across i
        n_mut = 2 + (i % 12)
        for j in range(n_mut):
            mut[-(j + 1)] = rng.choice(vocab)
        texts[2 * i] = " ".join(base)
        texts[2 * i + 1] = " ".join(mut)
        docs.append((2 * i, texts[2 * i]))
        docs.append((2 * i + 1, texts[2 * i + 1]))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def shingles(t):
        w = t.lower().split(" ")
        return {" ".join(w[j : j + 3]) for j in range(len(w) - 2)}

    tau = 0.4
    truth = {}
    ids = sorted(texts)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            sa, sb = shingles(texts[ids[x]]), shingles(texts[ids[y]])
            inter = len(sa & sb)
            j = inter / (len(sa) + len(sb) - inter)
            if j >= tau:
                truth[(ids[x], ids[y])] = round(j, 4)
    assert len(truth) >= 8, "corpus too sparse to rank recalls"

    recalls = []
    for bands in (1, 2, 4, 8):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in minhash_lsh_pairs(
                df, bands=bands, rows_per_band=2, verify_threshold=tau
            ).collect()
        }
        # soundness: exact verification means reported ⊆ truth, scores equal
        for pair, j in got.items():
            assert pair in truth and j == truth[pair], (pair, j)
        recalls.append(len(got) / len(truth))
    assert recalls == sorted(recalls), f"recall not monotone in bands: {recalls}"
    assert recalls[-1] > recalls[0] or recalls[0] == 1.0, recalls


def test_minhash_rejects_indivisible_num_hashes(spark):
    from pyspark_analytics_library_spark.operators.dedup import minhash_lsh_pairs
    from pyspark_analytics_library_spark.sources.io import load_tables

    docs = load_tables(spark, TEST_SF_DIR)["documents"]
    with pytest.raises(ValueError, match="not divisible"):
        minhash_lsh_pairs(docs, num_hashes=7, bands=4)


def test_fuzzy_dedup_composite_matches_python_closure(spark):
    """pipeline_fuzzy_dedup is rows-only at the driver (LSH uses
    xxhash64, absent in DuckDB) but fully deterministic — so re-derive
    the WHOLE composite independently: collect the LSH pair list
    (fixture-small), run a pure-Python union-find closure, pick the
    min-id keeper per component, attribute yield to the keeper's lang,
    and require exact equality with the declared query's output."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.dedup import minhash_lsh_pairs
    from pyspark_analytics_library_spark.sources.io import load_tables

    t = load_tables(spark, TEST_SF_DIR)
    docs = {
        r["doc_id"]: r["lang"]
        for r in t["documents"].select("doc_id", "lang").collect()
    }
    pairs = [
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            t["documents"].select("doc_id", "text", "lang")
        ).collect()
    ]

    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN id — the keeper semantics under test
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    expected = {}
    for d, lang in docs.items():
        n_docs, n_kept = expected.setdefault(lang, [0, 0])
        expected[lang][0] = n_docs + 1
        expected[lang][1] = n_kept + (1 if find(d) == d else 0)
    # HALF_UP at 4 dp, matching Spark's F.round (BigDecimal.valueOf →
    # shortest-repr decimal, setScale HALF_UP) — Python's round() is
    # banker's and would flip on an exactly-representable half like
    # 1/160 = 0.00625 (ADVICE r12).
    from decimal import ROUND_HALF_UP, Decimal

    def _round4(x: float) -> float:
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"), ROUND_HALF_UP))

    want = {
        lang: (nd, nk, nd - nk, _round4((nd - nk) / nd))
        for lang, (nd, nk) in expected.items()
    }

    got = {
        r["lang"]: (r["n_docs"], r["n_kept"], r["n_removed"], r["dup_rate"])
        for r in REGISTRY["pipeline_fuzzy_dedup"].fn(spark, TEST_SF_DIR).collect()
    }
    assert got == want
    # Reclaim this test's CC scratch generation: the session-scoped app
    # accumulates generations across tests, and the reclaim test later
    # in this module asserts an EXACT deletion count under its conf
    # root — a leftover default-root generation from here would be
    # swept into (and break) that count.  The result is fully collected
    # above, so nothing still references the backing parquet.
    from pyspark_analytics_library_spark.operators.dedup import (
        reclaim_iteration_scratch,
    )

    reclaim_iteration_scratch(spark, keep_latest=False)


def test_fuzzy_contamination_matches_python_twin(spark):
    """pipeline_fuzzy_contamination is rows-only (LSH/xxhash64) but
    deterministic: re-derive it from the collected LSH pair list and
    the sha-nibble split computed in Python, require exact equality."""
    import hashlib as _hashlib

    from pyspark_analytics_library_spark.operators.dedup import minhash_lsh_pairs
    from pyspark_analytics_library_spark.sources.io import load_tables

    t = load_tables(spark, TEST_SF_DIR)
    docs = t["documents"].select("doc_id", "text", "lang").collect()
    split = {}
    lang_of = {}
    for r in docs:
        nib = _hashlib.sha256(r["text"].encode()).hexdigest()[0]
        split[r["doc_id"]] = (
            "train" if nib <= "b" else ("val" if nib in "cd" else "test")
        )
        lang_of[r["doc_id"]] = r["lang"]
    pairs = [
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(
            t["documents"].select("doc_id", "text", "lang")
        ).collect()
    ]
    contaminated = set()
    for a, b in pairs:
        if split[a] == "test" and split[b] == "train":
            contaminated.add(a)
        if split[b] == "test" and split[a] == "train":
            contaminated.add(b)
    want = {}
    for d, s in split.items():
        if s == "test":
            lang = lang_of[d]
            n_test, n_cont = want.setdefault(lang, [0, 0])
            want[lang][0] = n_test + 1
            want[lang][1] = n_cont + (1 if d in contaminated else 0)
    got = {
        r["lang"]: [r["n_test"], r["n_contaminated"]]
        for r in REGISTRY["pipeline_fuzzy_contamination"].fn(spark, TEST_SF_DIR).collect()
    }
    assert got == want


def test_kmeans_assign_matches_numpy_twin(spark):
    """sim_kmeans_assign re-derived by an independent numpy Lloyd loop:
    same deterministic init (first k by vec_id), same k/iters — every
    assignment must match, and a near-tie margin guard proves the
    comparison is robust (no vector sits within 1e-9 relative of two
    centroids, so summation-order ulps cannot flip a cluster)."""
    import numpy as np

    from pyspark_analytics_library_spark.sources.io import load_tables

    t = load_tables(spark, TEST_SF_DIR)
    rows = t["embeddings"].select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    M = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    k, iters = 8, 5
    C = M[:k].copy()

    def d2(A, C):
        return (
            (A * A).sum(axis=1, keepdims=True)
            - 2.0 * (A @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )

    for _ in range(iters):
        assign = np.argmin(d2(M, C), axis=1)
        for j in range(k):
            members = M[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    dist = d2(M, C)
    assign = np.argmin(dist, axis=1)
    # near-tie margin guard: best vs second-best distance must be
    # separated far beyond float-summation noise for EVERY vector
    s = np.sort(dist, axis=1)
    margin = (s[:, 1] - s[:, 0]) / np.maximum(s[:, 1], 1e-30)
    assert margin.min() > 1e-9, f"near-tie at margin {margin.min()}"
    want = dict(zip(ids.tolist(), assign.tolist()))

    got = {
        r["vec_id"]: r["cluster"]
        for r in REGISTRY["sim_kmeans_assign"].fn(spark, TEST_SF_DIR).collect()
    }
    assert got == want
    # sanity: k clusters actually in use on the fixture
    assert len(set(got.values())) > 1


def test_simhash_identical_docs_same_signature(spark):
    from pyspark.sql import functions as F

    df = REGISTRY["dedup_simhash"].fn(spark, TEST_SF_DIR)
    n = df.count()
    assert df.select("doc_id").distinct().count() == n
    again = REGISTRY["dedup_simhash"].fn(spark, TEST_SF_DIR)
    assert {(r["doc_id"], r["simhash"]) for r in df.collect()} == {
        (r["doc_id"], r["simhash"]) for r in again.collect()
    }


def test_sample_deterministic_under_seed(spark):
    a = REGISTRY["filter_sample"].fn(spark, TEST_SF_DIR).collect()
    b = REGISTRY["filter_sample"].fn(spark, TEST_SF_DIR).collect()
    assert a == b


def test_ivf_recall_vs_exact(spark):
    """IVF top-5 must recover most of the exact top-5 edges, and every
    reported (pair, cos) must exist in the exact result (IVF searches a
    subset of the index, so its hits are a subset of truth)."""
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in REGISTRY["sim_topk_exact"].fn(spark, TEST_SF_DIR).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in REGISTRY["sim_ivf_approx"].fn(spark, TEST_SF_DIR).collect()
    }
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.6, f"IVF recall@5 {recall:.2f} < 0.6"
    for pair in set(approx) & set(exact):
        assert abs(approx[pair] - exact[pair]) < 1e-9, pair


def test_ivf_deterministic(spark):
    a = _pairs(REGISTRY["sim_ivf_approx"].fn(spark, TEST_SF_DIR))
    b = _pairs(REGISTRY["sim_ivf_approx"].fn(spark, TEST_SF_DIR))
    assert a == b


def test_bounded_hash_sample_exact_and_layout_independent(spark):
    """The IVF trainer's sample rule (VERDICT r13 #5): n<=sample returns
    the whole table; n>sample returns EXACTLY the `sample` rows with the
    globally smallest (pmod(xxhash64(vec_id), 1e6), vec_id) — the same
    set at any partition layout and on rerun.  ROW ORDER is part of the
    contract (ADVICE r14): both paths return vec_id-sorted frames, so
    the order-sensitive trainer downstream cannot pick up the physical
    partition layout through the sample."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.similarity import (
        _bounded_hash_sample,
    )

    e = spark.range(1000).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("float")).alias("embedding"),
    )
    whole = _bounded_hash_sample(e, 2000)
    assert list(whole["vec_id"]) == list(range(1000))  # sorted, not just same set

    got_pdf = _bounded_hash_sample(e, 64)
    got = list(got_pdf["vec_id"])
    assert got == sorted(got), "loop path must return vec_id-sorted rows"
    assert len(got) == 64
    truth = (
        e.withColumn("_h", F.pmod(F.xxhash64("vec_id"), F.lit(1_000_000)))
        .orderBy("_h", "vec_id")
        .limit(64)
    )
    assert got == sorted(r["vec_id"] for r in truth.collect())
    relaid = list(_bounded_hash_sample(e.repartition(17), 64)["vec_id"])
    assert relaid == got


def test_ivf_centroids_layout_independent(spark):
    """Trained centroids — not merely the sampled id SET — must be
    identical across physical layouts (ADVICE r14: rng.choice picks rows
    by POSITION and float mean accumulation order varies, so an unpinned
    sample row order leaks the partition layout into the centroids; the
    old sorted-id-set comparison masked exactly that).  Covers both the
    n<=sample short-circuit and the hash-threshold loop path."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.similarity import (
        train_ivf_centroids,
    )

    e = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                F.sin(F.col("id") * F.lit(float(d + 1))).cast("float")
                for d in range(8)
            ]
        ).alias("embedding"),
    )
    for sample in (1000, 64):  # short-circuit path, then loop path
        base = train_ivf_centroids(e, k=4, iters=3, sample=sample)
        relaid = train_ivf_centroids(e.repartition(13), k=4, iters=3, sample=sample)
        rerun = train_ivf_centroids(e, k=4, iters=3, sample=sample)
        assert np.array_equal(base, relaid), f"layout-dependent (sample={sample})"
        assert np.array_equal(base, rerun), f"rerun-inexact (sample={sample})"


def test_hll_sketch_close_to_exact(spark):
    from pyspark.sql import functions as F

    row = REGISTRY["agg_hll_sketch"].fn(spark, TEST_SF_DIR).collect()[0]
    from pyspark_analytics_library_spark.sources.io import load_tables

    exact = (
        load_tables(spark, TEST_SF_DIR)["events"]
        .select(F.countDistinct("user_id").alias("n"))
        .collect()[0]["n"]
    )
    assert abs(row["approx_total_users"] - exact) / max(exact, 1) < 0.1, (
        row["approx_total_users"],
        exact,
    )


def test_approx_distinct_close_to_exact(spark):
    approx = {
        r["event_type"]: r["approx_users"]
        for r in REGISTRY["agg_approx_distinct"].fn(spark, TEST_SF_DIR).collect()
    }
    exact = {
        r["event_type"]: r["n_users"]
        for r in REGISTRY["agg_distinct"].fn(spark, TEST_SF_DIR).collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) / max(v, 1) < 0.15, (k, approx[k], v)


def test_pack_sequences_invariants(spark):
    """Packing must conserve tokens and produce contiguous bins:
    per lang, sum(total_tokens) equals the corpus token count, seq_ids
    start at 0 with no gaps, and every bin except the last holds less
    than budget + its last doc (greedy start-offset packing)."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.pipeline import (
        q_pipeline_pack_sequences,
    )
    from pyspark_analytics_library_spark.sources.io import load_tables

    packed = q_pipeline_pack_sequences(spark, TEST_SF_DIR).collect()
    docs = load_tables(spark, TEST_SF_DIR)["documents"]
    truth = {
        r["lang"]: r["tok"]
        for r in docs.groupBy("lang")
        .agg(F.sum(F.size(F.split(F.col("text"), " "))).alias("tok"))
        .collect()
    }
    by_lang: dict[str, list] = {}
    for r in packed:
        by_lang.setdefault(r["lang"], []).append(r)
    assert set(by_lang) == set(truth)
    for lang, rows in by_lang.items():
        seq_ids = sorted(r["seq_id"] for r in rows)
        assert seq_ids == list(range(len(seq_ids))), f"{lang}: gaps {seq_ids}"
        assert sum(r["total_tokens"] for r in rows) == truth[lang]


def test_ewma_matches_pandas(spark):
    """The two-running-sums EWMA must equal pandas' ewm(alpha=0.3,
    adjust=True).mean() — an independent implementation of the same
    definition (the oracle check only proves DuckDB agrees with the
    same algebra; pandas proves the algebra itself)."""
    import pandas as pd

    from pyspark_analytics_library_spark.operators.timeseries import q_ts_ewma

    got = (
        q_ts_ewma(spark, TEST_SF_DIR)
        .toPandas()
        .sort_values(["event_type", "day"])
        .reset_index(drop=True)
    )
    for etype, grp in got.groupby("event_type"):
        expected = grp["tv"].ewm(alpha=0.3, adjust=True).mean()
        assert (grp["ewma"] - expected.round(4)).abs().max() <= 1e-4, etype


def test_pagerank_invariants(spark):
    """Damped PageRank over a stochastic edge normalization: ranks are
    positive and sum to ~1 per iteration-invariant mass conservation
    (dangling mass leaks only via nodes with no out-edges; the nation
    trade graph has none)."""
    from pyspark_analytics_library_spark.operators.graph import (
        q_graph_pagerank_nations,
    )

    rows = q_graph_pagerank_nations(spark, TEST_SF_DIR).collect()
    total = sum(r["pagerank"] for r in rows)
    assert all(r["pagerank"] > 0 for r in rows)
    assert abs(total - 1.0) < 1e-3, total


def test_centroid_matches_numpy(spark):
    """sim_centroid's widened-aggregate formulation vs a numpy mean."""
    import numpy as np

    from pyspark_analytics_library_spark.operators.similarity import q_sim_centroid
    from pyspark_analytics_library_spark.sources.io import load_tables

    got = {r["label"]: r["centroid"] for r in q_sim_centroid(spark, TEST_SF_DIR).collect()}
    emb = load_tables(spark, TEST_SF_DIR)["embeddings"].collect()
    by_label: dict[int, list] = {}
    for r in emb:
        by_label.setdefault(r["label"], []).append(r["embedding"])
    for label, vecs in by_label.items():
        expected = np.mean(np.array(vecs, dtype=np.float64), axis=0)
        # centroid is serialized as floor(round(avg,6)*1e6+0.5) ints
        # (flatten-before-compare); decode back to doubles to compare
        decoded = np.array([int(v) for v in got[label].split(",")]) / 1e6
        assert np.abs(decoded - expected.round(6)).max() <= 1e-6


def test_cc_scratch_dir_conf_honored(spark, tmp_path):
    """spark.analytics.scratchDir must receive the per-round label files
    (VERDICT r4 task #2) and the result must be unaffected.  The driver
    union-find cap is zeroed so the small graph exercises the LOOP path
    (round 19: small edge sets dispatch driver-side by default)."""
    from pyspark_analytics_library_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long")
    vertices = spark.createDataFrame([(v,) for v in (1, 2, 3, 10, 11, 20)], "v long")
    with scoped_conf(
        spark,
        {
            "spark.analytics.scratchDir": str(tmp_path),
            "spark.analytics.cc.driverUnionFindMaxEdges": 0,
        },
    ):
        out = {r.v: r.label for r in connected_components(edges, vertices).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}
    runs = list(tmp_path.glob("pyspark_analytics_*/iter/*"))
    assert runs, "configured scratchDir received no iteration files"
    names = {p.name for p in runs[0].iterdir()}
    # Only the final round's files (backing the returned frame) may
    # survive; the edge materialization is reclaimed at completion.
    assert any(n.startswith("round_") for n in names)
    assert "sym" not in names


@pytest.mark.parametrize("fail_round", [0, 1])
def test_cc_loop_reclaims_scratch_on_failure(
    spark, tmp_path, monkeypatch, fail_round
):
    """A failure inside the loop — here the label checkpoint of round 0
    (right after the edge write) or round 1 — must not leak the call's
    scratch generation (``sym`` and the round files)."""
    from pyspark_analytics_library_spark.operators import dedup

    real_checkpoint = dedup._cc_checkpoint

    def failing_checkpoint(df, scratch_root, round_no):
        if round_no == fail_round:
            raise RuntimeError(f"injected round-{fail_round} failure")
        return real_checkpoint(df, scratch_root, round_no)

    monkeypatch.setattr(dedup, "_cc_checkpoint", failing_checkpoint)
    confs = {
        "spark.analytics.scratchDir": str(tmp_path),
        "spark.analytics.cc.driverUnionFindMaxEdges": "0",
    }
    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long")
    vertices = spark.createDataFrame([(v,) for v in (1, 2, 3, 10, 11)], "v long")
    with scoped_conf(spark, confs):
        with pytest.raises(RuntimeError, match=f"injected round-{fail_round}"):
            dedup.connected_components(edges, vertices).collect()
    leftovers = list(tmp_path.glob("pyspark_analytics_*/iter/*"))
    assert leftovers == [], leftovers


def test_cc_driver_union_find_matches_loop(spark):
    """Round-19 dispatch pin: the driver union-find path (edge count ≤
    spark.analytics.cc.driverUnionFindMaxEdges) must label exactly like
    the distributed group-min loop — including singleton vertices (own
    id) and NULL-endpoint edges (no-ops on both paths)."""
    import random

    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.dedup import (
        connected_components,
    )

    random.seed(19)
    pairs = [(random.randint(0, 120), random.randint(0, 120)) for _ in range(150)]
    pairs += [(None, 5), (7, None)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    verts = spark.range(0, 200).select(F.col("id").alias("v"))

    uf = {(r.v, r.label) for r in connected_components(edges, verts).collect()}
    with scoped_conf(spark, {"spark.analytics.cc.driverUnionFindMaxEdges": 0}):
        loop = {(r.v, r.label) for r in connected_components(edges, verts).collect()}
    assert uf == loop
    # vertices 121..199 never appear in an edge: own-id singletons.
    assert all((v, v) in uf for v in range(121, 200))


def test_cc_interval_rewrite_matches_edge_closure(spark):
    """Round-19 rewrite pin: the declared dedup_connected_components
    query (gap-based segmentation of per-lang distinct n_chars — no
    edge set) must equal the generic closure of candidate_edges."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.dedup import (
        candidate_edges,
        connected_components,
    )
    from pyspark_analytics_library_spark.sources.io import load_tables

    t = load_tables(spark, TEST_SF_DIR)
    d = t["documents"].select("doc_id", "lang", "n_chars")
    generic = connected_components(
        candidate_edges(d), d.select(F.col("doc_id").alias("v"))
    )
    want = {(r.v, r.label) for r in generic.collect()}
    got = {
        (r.doc_id, r.component)
        for r in REGISTRY["dedup_connected_components"].fn(spark, TEST_SF_DIR).collect()
    }
    assert got == want


def test_scratch_root_requires_durable_dir_on_cluster(spark, monkeypatch):
    """On a non-local master with no conf and no checkpoint dir the loop
    must refuse eagerly instead of writing executor-local paths."""
    from pyspark_analytics_library_spark.sources.io import iteration_scratch

    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")
    monkeypatch.setattr(spark.sparkContext, "getCheckpointDir", lambda: None)
    with pytest.raises(ValueError, match="scratchDir"):
        iteration_scratch(spark)


def test_ngram_jaccard_prefix_filter_is_lossless(spark):
    """Prefix filtering is pure candidate pruning: the filtered pair set
    must equal the unfiltered one exactly (VERDICT r4 task #3)."""
    import os

    from pyspark_analytics_library_spark.operators.dedup import ngram_jaccard_pairs
    from pyspark_analytics_library_spark.sources.io import load_tables

    # sf0.1 (5k docs) exercises real candidate pruning; fall back to the
    # default test scale if the larger fixture is absent.
    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):
        sf_dir = TEST_SF_DIR
    docs = load_tables(spark, sf_dir)["documents"]
    plain = sorted(map(tuple, ngram_jaccard_pairs(docs).collect()))
    filtered = sorted(map(tuple, ngram_jaccard_pairs(docs, prefix_filter=True).collect()))
    assert plain == filtered
    assert plain, "fixture should produce at least one qualifying pair"


def test_triangle_dense_dispatch_bounded_by_edges(spark, monkeypatch):
    """A dense-but-large graph (edge count over the cap) must take the
    distributed sparse path even when the vertex count is tiny
    (VERDICT r4 task #4).  numpy.zeros is the dense kernel's first
    call, so poisoning it proves the dense branch never ran."""
    import numpy as np

    from itertools import combinations

    from pyspark_analytics_library_spark.operators.graph import triangle_census

    k6 = spark.createDataFrame(
        [(u, v) for u, v in combinations(range(1, 7), 2)], "u long, v long"
    )
    expected = (15, 60, 20, 1.0)  # edges, wedges, triangles, clustering

    dense_row = tuple(triangle_census(spark, k6).collect()[0])
    assert dense_row == expected

    def _no_dense(*a, **k):
        raise AssertionError("dense matmul path must not run over the edge cap")

    cap = {"spark.analytics.graph.denseMatmulMaxEdges": 10}
    with scoped_conf(spark, cap), monkeypatch.context() as m:
        m.setattr(np, "zeros", _no_dense)
        sparse_row = tuple(triangle_census(spark, k6).collect()[0])
    assert sparse_row == expected


def test_exact_quantile_guard_fails_fast_past_distinct_cap(spark):
    """VERDICT r15 #2 / r16 #7: past the conf cap on the estimated
    concurrent hash-map state (min(distinct × parallelism, rows) × 64 B
    — the r16 calibration that actually reproduces the ledgered sf≈1
    OOM, which a distinct-only cap misses because the distinct count is
    scale-invariant there), agg_quantile must compute through the
    bounded-state binned path instead of OOMing the JVM.  The fixture
    trips the guard under a tiny cap."""
    from pyspark_analytics_library_spark.operators.aggregates import (
        exact_quantile_guard,
    )
    from pyspark_analytics_library_spark.registry import REGISTRY
    from pyspark_analytics_library_spark.sources.io import load_tables

    fn = REGISTRY["agg_quantile"].fn
    lineitem = load_tables(spark, TEST_SF_DIR)["lineitem"]
    baseline = sorted(map(tuple, fn(spark, TEST_SF_DIR).collect()))
    cap = "spark.analytics.quantile.maxLocalStateBytes"
    with scoped_conf(spark, {cap: "1024"}):
        assert exact_quantile_guard(spark, lineitem, ["l_quantity"]) == {
            "l_quantity"
        }
        # The bounded-state binned path must return bit-identical
        # rounded results to the native plan.
        assert sorted(map(tuple, fn(spark, TEST_SF_DIR).collect())) == baseline
    # The conf parser takes JVM-style size suffixes (ADVICE r16): '12g'
    # must parse as a cap, not crash with a bare int() error.
    with scoped_conf(spark, {cap: "12g"}):
        assert exact_quantile_guard(spark, lineitem, ["l_quantity"]) == set()
        assert sorted(map(tuple, fn(spark, TEST_SF_DIR).collect())) == baseline
    # Stock cap (256 MB): the fixture estimates a few MB — normal path.
    assert fn(spark, TEST_SF_DIR).count() > 0

    # Calibration pin: the guard's estimate must trip on the ledgered
    # r15 shape (6 M near-unique rows, local[8], 1 g heap ⇒ ~300 MB)
    # and admit the sf0.1 shape (~38 MB) under the stock 256 MB cap —
    # computed from the same formula the guard uses, so a future
    # "simplification" back to a distinct-only cap goes red here.
    from pyspark_analytics_library_spark.operators.aggregates import (
        _QUANTILE_BYTES_PER_ENTRY as BPE,
    )

    cap = 256 * 1024**2
    ledgered_oom = min(583_090 * 8, 6_000_000) * BPE  # r15 sf≈1 shape
    sf01_ok = min(583_090 * 8, 600_000) * BPE  # sf0.1 shape, measured fine
    assert ledgered_oom > cap, "default cap must catch the ledgered OOM"
    assert sf01_ok < cap, "default cap must admit the proven-fine sf0.1 run"


def test_binned_exact_percentiles_matches_native_exact(spark):
    """Round 17 (VERDICT r16 #7): the bounded-state binned percentile
    engine must reproduce Spark's native exact percentile BIT-FOR-BIT
    (same order statistics, same interpolation float expression) —
    exercised with small bins/leaf so multiple narrowing rounds and the
    leaf collect both run, plus interpolating probs that don't land on
    integer ranks."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.aggregates import (
        binned_exact_percentiles,
    )
    from pyspark_analytics_library_spark.sources.io import load_tables

    df = load_tables(spark, TEST_SF_DIR)["lineitem"]
    probs = [0.5, 0.01, 0.99, 0.25, 0.733]
    got = binned_exact_percentiles(
        df, ["l_returnflag"], "l_extendedprice", probs, bins=32, leaf_limit=50
    )
    truth = {
        r[0]: tuple(r[1:])
        for r in df.groupBy("l_returnflag")
        .agg(
            *[
                F.percentile("l_extendedprice", F.lit(p)).alias(f"p{i}")
                for i, p in enumerate(probs)
            ]
        )
        .collect()
    }
    assert set(truth) == {k[0] for k in got}
    for key, per_prob in got.items():
        assert tuple(per_prob[p] for p in probs) == truth[key[0]]

    # Degenerate shapes: single row, all-equal values (interval can't
    # shrink — must resolve via observed min == max, not loop).
    one = spark.createDataFrame([("a", 1.0)], "g string, v double")
    assert binned_exact_percentiles(one, ["g"], "v", [0.5, 0.9]) == {
        ("a",): {0.5: 1.0, 0.9: 1.0}
    }
    same = spark.createDataFrame([("a", 7.0)] * 100, "g string, v double")
    assert binned_exact_percentiles(same, ["g"], "v", [0.25], bins=8) == {
        ("a",): {0.25: 7.0}
    }


def test_triangle_census_fails_fast_past_work_cap(spark, tmp_path):
    """VERDICT r15 #3: a graph whose projected adjacency-intersection
    work exceeds spark.analytics.graph.sparseMaxWork must raise an
    actionable error BEFORE any scratch write or census job — the
    ledgered sf≈1 worst case (53%-dense 15k-vertex graph) previously
    ran an intractable census for hours.  K6 forced onto the sparse
    path under a tiny work cap trips the guard; under stock caps the
    same sparse census completes (pinned by the dispatch tests)."""
    from itertools import combinations

    import pytest

    from pyspark_analytics_library_spark.operators.graph import triangle_census

    k6 = spark.createDataFrame(
        [(u, v) for u, v in combinations(range(1, 7), 2)], "u long, v long"
    )
    scratch = tmp_path / "scratch"
    with scoped_conf(
        spark,
        {
            "spark.analytics.scratchDir": str(scratch),
            "spark.analytics.graph.denseMatmulMaxEdges": 1,
            "spark.analytics.graph.sparseMaxWork": 10,
        },
    ):
        with pytest.raises(ValueError, match="sparseMaxWork"):
            triangle_census(spark, k6)
    # Nothing may have been written before the refusal.
    assert not scratch.exists() or not any(scratch.rglob("*.parquet"))


def test_approx_quantile_close_to_exact(spark):
    """percentile_approx must estimate, not just run: within 10% of the
    exact per-group median (VERDICT r4 task #7)."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.sources.io import load_tables

    approx = {
        r["l_returnflag"]: r["approx_median_price"]
        for r in REGISTRY["agg_approx_quantile"].fn(spark, TEST_SF_DIR).collect()
    }
    exact = {
        r["l_returnflag"]: r["m"]
        for r in load_tables(spark, TEST_SF_DIR)["lineitem"]
        .groupBy("l_returnflag")
        .agg(F.median("l_extendedprice").alias("m"))
        .collect()
    }
    assert set(approx) == set(exact)
    for flag, m in exact.items():
        assert abs(approx[flag] - m) / max(abs(m), 1) < 0.1, (flag, approx[flag], m)


def test_scratch_root_uses_checkpoint_dir_on_cluster(spark, monkeypatch):
    """With no scratchDir conf, a cluster master falls back to the
    application's configured checkpoint dir."""
    import os

    from pyspark_analytics_library_spark.sources.io import iteration_scratch

    sc = spark.sparkContext
    monkeypatch.setattr(sc, "master", "spark://cluster:7077")
    monkeypatch.setattr(sc, "getCheckpointDir", lambda: "hdfs://nn/checkpoints")
    root = iteration_scratch(spark)
    # Pid AND app-id scoped: two drivers sharing one scratch URI land in
    # disjoint roots even when their pids collide across hosts; the
    # per-call leaf isolates repeated loops within one app.
    assert root.startswith(
        f"hdfs://nn/checkpoints/pyspark_analytics_{os.getpid()}_"
        f"{sc.applicationId}/iter/"
    )
    assert root != iteration_scratch(spark)


def test_triangle_sparse_path_non_bigint_ids(spark):
    """triangle_census accepts any node-id type; the sparse path's
    empty-array literal must type itself from the edge schema instead
    of assuming bigint."""
    from itertools import combinations

    from pyspark_analytics_library_spark.operators.graph import triangle_census

    k4 = spark.createDataFrame(
        [(f"n{u}", f"n{v}") for u, v in combinations(range(4), 2)],
        "u string, v string",
    )
    with scoped_conf(spark, {"spark.analytics.graph.denseMatmulMaxEdges": 1}):
        row = tuple(triangle_census(spark, k4).collect()[0])
    assert row == (6, 12, 4, 1.0)


def test_triangle_sparse_path_mixed_endpoint_types(spark):
    """ADVICE r20 #2: with ``u int, v bigint`` edges the oriented
    (src, dst) columns carry the common type (bigint), so the sparse
    path's scratch re-read must take its schema from the written frame,
    not from ``u`` — and must then agree with the dense path."""
    from pyspark_analytics_library_spark.operators.graph import triangle_census

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "u int, v bigint"
    )
    dense = tuple(triangle_census(spark, edges).collect()[0])
    with scoped_conf(spark, {"spark.analytics.graph.denseMatmulMaxVertices": 0}):
        sparse = tuple(triangle_census(spark, edges).collect()[0])
    assert dense[:3] == (4, 5, 1)
    assert sparse == dense


def test_ngram_prefix_filter_lossless_across_thresholds(spark):
    """The prefix-length bound n − ⌈τ·n⌉ + 1 must be lossless for any
    τ, not just the declared query's 0.2 — check a spread at the small
    fixture scale."""
    from pyspark_analytics_library_spark.operators.dedup import ngram_jaccard_pairs
    from pyspark_analytics_library_spark.sources.io import load_tables

    docs = load_tables(spark, TEST_SF_DIR)["documents"]
    for tau in (0.1, 0.35, 0.6):
        plain = sorted(map(tuple, ngram_jaccard_pairs(docs, tau=tau).collect()))
        filtered = sorted(
            map(tuple, ngram_jaccard_pairs(docs, tau=tau, prefix_filter=True).collect())
        )
        assert plain == filtered, f"tau={tau}"


@hyp_given(
    num=st.integers(min_value=1, max_value=999),
    den=st.integers(min_value=2, max_value=1000),
    n=st.integers(min_value=1, max_value=10**6),
)
def test_prefix_ceil_nudge_is_sound_and_tight(num, den, n):
    """ADVICE r6 regression net, arithmetic-level: the prefix filter
    computes ⌈τ·n⌉ in doubles, but the caller means a RATIONAL τ (0.2,
    9/11, …) whose double image times n can land one ulp above an
    exact-integer product — unnudged ceil then returns k+1 and the
    prefix shrinks below the lossless bound (τ=9/11, n=77: double ceil
    64 vs exact 63; 2682 such cases in a 60×2000 grid).  The shipped
    expression subtracts 1e-9 before ceil; python floats ARE IEEE
    doubles and F.ceil is plain double ceil, so this mirrors the Spark
    arithmetic operation-for-operation.  Sound: the nudged ceil never
    exceeds the rational-arithmetic ceil (the prefix is never shorter
    than lossless).  Tight: at most one below it (at most one extra
    shingle joined per doc)."""
    import math
    from fractions import Fraction

    from hypothesis import assume

    assume(num <= den)  # τ ≤ 1; assume() discards instead of vacuously passing
    tau = num / den  # the double the caller passes for rational num/den
    nudged = math.ceil(tau * n - 1e-9)
    exact = math.ceil(Fraction(num, den) * n)
    assert nudged <= exact, f"prefix shorter than lossless at {num}/{den}, n={n}"
    assert nudged >= exact - 1, f"prefix overlong at {num}/{den}, n={n}"


def test_freqitems_superset_of_true_heavy_hitters(spark):
    """df.stat.freqItems implements the Karp-Papadimitriou-Shenker
    frequent-elements sketch, whose contract is NO FALSE NEGATIVES:
    every value with true frequency above support·n must appear in the
    result (false positives are allowed).  The declared query
    serializes its sorted arrays to JSON, so parse them back and check
    the superset relation against exact groupBy counts — the value
    check behind agg_freqitems' rows-only driver green, as
    tests/test_driver_contract.py's parse-back is for agg_describe."""
    import json

    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.sources.io import load_tables

    row = REGISTRY["agg_freqitems"].fn(spark, TEST_SF_DIR).collect()[0]
    li = load_tables(spark, TEST_SF_DIR)["lineitem"]
    n = li.count()
    for col, out_col in (
        ("l_quantity", "l_quantity_freqitems"),
        ("l_returnflag", "l_returnflag_freqitems"),
    ):
        got = set(json.loads(row[out_col]))
        heavy = {
            r[0]
            for r in li.groupBy(col)
            .count()
            .filter(F.col("count") > 0.1 * n)
            .collect()
        }
        if col == "l_returnflag":
            # 3 flags over 10% support each — the non-vacuous case;
            # l_quantity is ~uniform over ~50 values at fixture scale,
            # so its heavy set is legitimately empty (superset trivially
            # holds) and only the no-crash/parse path is exercised.
            assert heavy, f"{col}: fixture has no heavy hitters — test is vacuous"
        assert heavy <= got, f"{col}: missing heavy hitters {heavy - got}"


def test_similarity_kernel_degenerate_inputs(spark):
    """Empty corpora and zero vectors must degrade gracefully: an empty
    index yields zero pairs/neighbors (not a numpy stack crash — the
    shape a filter-matched-nothing pipeline produces), and an all-zero
    embedding scores cosine 0 instead of NaN-poisoning the matrix."""
    from pyspark_analytics_library_spark.operators.similarity import (
        build_index,
        brute_threshold_pairs,
        brute_topk,
    )

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    idx = build_index(spark, empty)
    assert brute_threshold_pairs(empty, idx, tau=0.5).count() == 0
    assert brute_topk(empty, idx, k=3).count() == 0
    # NON-empty queries against the empty index: the (0, 0) broadcast
    # matrix must never reach the matmul (shape (m, 64) @ (64, 0) only
    # works when d matches; the kernels early-return on len(ids) == 0)
    queries = spark.createDataFrame(
        [(7, [1.0, 0.0]), (8, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    assert brute_threshold_pairs(queries, idx, tau=-1.0).count() == 0
    assert brute_topk(queries, idx, k=3).count() == 0

    # single row: only neighbor is itself (excluded) -> zero rows
    one = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    assert brute_topk(one, build_index(spark, one), k=3).count() == 0

    withzero = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    rows = brute_threshold_pairs(withzero, build_index(spark, withzero), tau=-1.0).collect()
    assert [(r["id_a"], r["id_b"], r["cos"]) for r in rows] == [(1, 2, 0.0)]


def _sf_dir_with_embeddings(tmp_path, emb) -> str:
    """A fixture dir under ``tmp_path`` whose embeddings table is the
    Arrow table ``emb``; the other nine tables link to TEST_SF_DIR's."""
    import pyarrow.parquet as pq

    from pyspark_analytics_library_spark.sources.io import TABLES

    for name in TABLES:
        if name != "embeddings":
            os.symlink(
                os.path.join(TEST_SF_DIR, f"{name}.parquet"),
                tmp_path / f"{name}.parquet",
            )
    pq.write_table(emb, tmp_path / "embeddings.parquet")
    return str(tmp_path)


def test_ivf_zero_norm_query_scores_cosine_zero(spark, tmp_path):
    """A zero-norm embedding scores cosine 0 on the IVF path too, as on
    the exact path: its query keeps a full top-5 of cosine-0 neighbours
    instead of NaN scores that drop every candidate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    emb = pq.read_table(os.path.join(TEST_SF_DIR, "embeddings.parquet"))
    vecs = emb.column("embedding").to_pylist()
    zero_id = emb.column("vec_id")[0].as_py()
    vecs[0] = [0.0] * len(vecs[0])
    emb = emb.set_column(
        emb.schema.get_field_index("embedding"),
        emb.schema.field("embedding"),
        pa.array(vecs, type=emb.schema.field("embedding").type),
    )
    sf_dir = _sf_dir_with_embeddings(tmp_path, emb)
    rows = REGISTRY["sim_ivf_approx"].fn(spark, sf_dir).collect()
    cos = [r["cos"] for r in rows if r["id_a"] == zero_id]
    assert cos == [0.0] * 5, cos


def test_ivf_empty_corpus_returns_no_rows(spark, tmp_path):
    """An empty embeddings table trains no IVF cells: sim_ivf_approx
    returns zero rows with its declared schema, as the exact path does,
    instead of failing to stack an empty centroid sample."""
    import pyarrow.parquet as pq

    emb = pq.read_table(os.path.join(TEST_SF_DIR, "embeddings.parquet"))
    df = REGISTRY["sim_ivf_approx"].fn(spark, _sf_dir_with_embeddings(tmp_path, emb.slice(0, 0)))
    assert df.columns == ["id_a", "id_b", "cos", "rn"]
    assert df.count() == 0


def test_gapply_tuple_keys_match_list_keys(spark):
    """``gapply`` takes its keys in the package's one argument
    convention: a tuple of names groups like the same list, not as one
    tuple-valued key."""
    import pandas as pd

    import pyspark_analytics_library_spark as p

    df = spark.createDataFrame(
        [(1, "a", 1.0), (1, "a", 2.0), (1, "b", 3.0), (2, "a", 4.0)],
        "k long, g string, v double",
    )

    def total(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.groupby(["k", "g"], as_index=False)["v"].sum()

    def rows(keys):
        return sorted(p.gapply(df, keys, total, "k long, g string, v double").collect())

    by_tuple = rows(("k", "g"))
    assert by_tuple == rows(["k", "g"])
    assert len(by_tuple) == 3


def test_ensure_columns_treats_bare_string_as_one_column(spark):
    """A bare string argument is ONE column, never an iterable of
    characters: orderBy(*"ts") would silently order by columns t and s
    where those exist, or fail confusingly where they don't."""
    from pyspark.sql import functions as F

    import pyspark_analytics_library_spark as p
    from pyspark_analytics_library_spark.functions.coercion import ensure_columns

    assert len(ensure_columns("ts")) == 1
    assert len(ensure_columns(F.col("ts"))) == 1
    assert len(ensure_columns(["a", "b"])) == 2

    df = spark.createDataFrame(
        [(1, 10.0), (1, 20.0)], "user_id long, value double"
    )
    # scalar args end-to-end through the window helpers
    assert p.topk_per_group(df, "user_id", F.col("value").desc(), 1).count() == 1
    out = p.lag_lead(df, "user_id", "value", "value").orderBy("value").collect()
    assert [r["lag_value"] for r in out] == [None, 10.0]
    # ...and through tumbling_agg, whose SELECT also re-emits the keys
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", "c", 1.0)],
        "user_id long, ts string, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = p.tumbling_agg(ev, "ts", "event_type").collect()
    assert [(x["event_type"], x["n_events"]) for x in r] == [("c", 1)]


def test_dedup_keep_min_scalar_group_and_name_contract(spark):
    """A bare-string group key must behave as ONE column even when other
    column names contain it as a substring ('id' in 'user_id' is True —
    the `in` test that breaks carried-column selection), and Column
    expressions are rejected eagerly (the helper derives the carried set
    from df.columns, which an expression cannot name)."""
    from pyspark.sql import functions as F

    import pyspark_analytics_library_spark as p

    df = spark.createDataFrame(
        [(1, 10, "x"), (1, 20, "x")], "user_id long, id long, tag string"
    )
    out = p.dedup_exact_keep_min(df, "user_id", "id").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["user_id"], r["id"], r["tag"], r["n_dupes"]) == (1, 10, "x", 2)

    import pytest as _pytest

    with _pytest.raises(TypeError, match="column NAMES"):
        p.dedup_exact_keep_min(df, F.col("user_id"), "id")


def test_scaled_int_text_matches_its_documented_duckdb_form(spark):
    """scaled_int_text's docstring promises a specific DuckDB-equivalent
    SQL form; pin the equivalence on boundary-ish values (zeros,
    negative halves, sub-resolution magnitudes) so an edit to either
    side of rule 11 breaks a test, not an oracle at driver time."""
    import duckdb

    from pyspark_analytics_library_spark.functions.coercion import scaled_int_text

    vals = [0.0, -0.0, 0.1234565, -0.2580379845, 1.0, -1.5e-7, 123456.789, -2.5e-7]
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "i long, x double"
    )
    got = {r["i"]: r["s"] for r in df.select("i", scaled_int_text("x").alias("s")).collect()}
    con = duckdb.connect()
    want = {
        i: con.execute(
            "SELECT CAST(CAST(FLOOR(CAST(? AS DOUBLE) * 1000000 + 0.5) "
            "AS BIGINT) AS VARCHAR)",
            [v],
        ).fetchone()[0]
        for i, v in enumerate(vals)
    }
    assert got == want


def test_reclaim_iteration_scratch_conf_root_keeps_latest(spark, tmp_path):
    """Two CC runs in one app accumulate two scratch generations under
    the conf root; reclaim(keep_latest=True) must delete exactly the
    superseded one while the second run's returned frame — lazily
    backed by its final-round parquet — stays collectable (VERDICT r9
    task: a documented reclaim path for long-lived applications)."""
    import os

    from pyspark_analytics_library_spark.operators.dedup import (
        reclaim_iteration_scratch,
    )

    from pyspark_analytics_library_spark.operators.dedup import (
        connected_components,
    )

    scratch_base = str(tmp_path / "scratch")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    verts = spark.createDataFrame([(v,) for v in (1, 2, 3, 10, 11, 20)], "v long")
    # Force the distributed loop: the declared query no longer iterates
    # (round-19 interval-segmentation rewrite) and small edge sets
    # dispatch to the driver union-find, neither of which touches
    # scratch — the reclaim mechanics under test are loop-path-only.
    with scoped_conf(
        spark,
        {
            "spark.analytics.scratchDir": scratch_base,
            "spark.analytics.cc.driverUnionFindMaxEdges": 0,
        },
    ):
        first = connected_components(edges, verts)
        n_first = first.count()
        second = connected_components(edges, verts)

        app_dir = os.path.join(
            scratch_base,
            f"pyspark_analytics_{os.getpid()}_{spark.sparkContext.applicationId}",
            "iter",
        )
        gens_before = sorted(os.listdir(app_dir))
        assert len(gens_before) == 2, gens_before

        deleted = reclaim_iteration_scratch(spark, keep_latest=True)
        gens_after = sorted(os.listdir(app_dir))
        assert len(gens_after) == 1, gens_after
        assert len(deleted) == 1 and gens_after[0] not in deleted[0]
        # The surviving (latest) generation still backs the second
        # run's lazy frame.
        assert second.count() == n_first

        # keep_latest=False reclaims every generation and iter/ itself.
        reclaim_iteration_scratch(spark, keep_latest=False)
        assert not os.path.exists(app_dir)


def test_reclaim_iteration_scratch_local_tempdir_root(spark, tmp_path, monkeypatch):
    """Without the scratchDir conf, local masters scratch under the OS
    tempdir — the reclaim helper must find and prune that root too.
    Generations are faked (two uuid-style dirs with files) so the test
    exercises the listing/deletion mechanics without a loop run."""
    import os
    import tempfile

    from pyspark_analytics_library_spark.operators.dedup import (
        reclaim_iteration_scratch,
    )

    fake_tmp = str(tmp_path / "ostmp")
    os.makedirs(fake_tmp)
    monkeypatch.setattr(tempfile, "gettempdir", lambda: fake_tmp)
    app_dir = os.path.join(
        fake_tmp,
        f"pyspark_analytics_{os.getpid()}_{spark.sparkContext.applicationId}",
        "iter",
    )
    for i, gen in enumerate(("aaaa11112222", "bbbb33334444")):
        d = os.path.join(app_dir, gen, "round_7")
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.parquet"), "w") as f:
            f.write("x")
        # Distinct mtimes so "latest" is well-defined.
        t = 1_000_000 + i
        os.utime(os.path.join(app_dir, gen), (t, t))

    deleted = reclaim_iteration_scratch(spark, keep_latest=True)
    assert [os.path.basename(p) for p in deleted] == ["aaaa11112222"]
    assert sorted(os.listdir(app_dir)) == ["bbbb33334444"]


# ---------------------------------------------------------------------------
# Row-diversity guard (VERDICT r10 task #5): a non-empty oracle can
# still be WEAK if its result collapses to constant/degenerate values
# at some SF — both engines then agree on a hash that attests almost
# nothing.  Two classes, both pinned here:
#   (a) multi-row results where EVERY column is constant (all rows
#       identical) — attests one value row, silently;
#   (b) single-row results — legitimate only for designed-scalar
#       queries (global aggregates / top-1), which are allowlisted
#       with the design reason.
# DuckDB-only (no Spark session), same rationale as the vacuity guard:
# the differential suite already proves Spark matches the oracle, so
# guarding the oracle's result shape guards both sides.

#: Queries whose oracle returns exactly ONE row BY DESIGN at any SF.
_SCALAR_BY_DESIGN = {
    "agg_corr": "single global corr/covar row over lineitem",
    "graph_triangles": "one global triangle-census row",
    "query_disjunct_revenue": "TPC-H Q19 shape: single revenue scalar",
    "query_forecast_revenue": "TPC-H Q6 shape: single revenue scalar",
    "query_promo_revenue": "TPC-H Q14 shape: single promo-share scalar",
    "query_small_qty_revenue": "TPC-H Q17 shape: single avg-yearly scalar",
    "query_top_supplier": "TPC-H Q15 shape: argmax supplier (ties broken)",
    "ts_session_stats": "global session-length stats row",
    "text_regex_extract": (
        "top-20 of >=7-letter tokens; the synthetic corpus vocabulary"
        " yields one qualifying token at every fixture SF"
    ),
}

#: Queries tolerated at one row ONLY below the driver SF: fixture
#: sparsity, not design (e.g. a single populated ASIA nation at
#: sf0.001).  They MUST be multi-row at the driver's attestation SF.
_SCALAR_AT_TINY_SF_ONLY = {
    "join_inner_star": "one ASIA nation populated in the 10-supplier sf0.001 fixture",
}


def _diversity_sf_dirs():
    from tests.test_driver_contract import (
        _VACUITY_CHEAP_BYTES,
        _sf_dir_bytes,
        _vacuity_sf_dirs,
    )

    def _cheap(d: str) -> bool:
        # ADVICE r11: sizing happens at COLLECTION time — an unreadable
        # dir must drop out quietly, not error the whole module's
        # collection.  (_vacuity_sf_dirs already isdir-filters, but the
        # dir can race away between the filter and the listdir here.)
        try:
            return _sf_dir_bytes(d) <= _VACUITY_CHEAP_BYTES
        except OSError:
            return False

    return [
        d
        for d in _vacuity_sf_dirs()
        if _cheap(d) or os.environ.get("SPARKALYTICS_VACUITY_ALL_SF") == "1"
    ]


@pytest.mark.parametrize("sf_dir", _diversity_sf_dirs())
def test_oracle_results_are_value_diverse(sf_dir):
    import duckdb

    import __spark_entry__ as e

    driver_sf = os.environ.get(
        "SPARKALYTICS_DRIVER_SF",
        os.path.join(os.path.dirname(TEST_SF_DIR.rstrip("/")), "sf0.01"),
    )
    is_driver_sf = os.path.realpath(sf_dir) == os.path.realpath(driver_sf)

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    degenerate, scalar_offenders = [], []
    for name, sql in e.oracle_sql().items():
        df = con.execute(sql).df()
        if len(df) == 1:
            allowed = name in _SCALAR_BY_DESIGN or (
                name in _SCALAR_AT_TINY_SF_ONLY and not is_driver_sf
            )
            if not allowed:
                scalar_offenders.append(name)
        elif len(df) >= 2:
            if not any(df[c].nunique(dropna=False) > 1 for c in df.columns):
                degenerate.append(name)
    con.close()
    assert degenerate == [], (
        f"multi-row all-constant oracle results at {sf_dir}: {degenerate}"
    )
    assert scalar_offenders == [], (
        f"unexpected single-row oracle results at {sf_dir} "
        f"(collapsed group, or add to the allowlist with a design "
        f"reason): {scalar_offenders}"
    )


def test_decode_image_grid_roundtrip_and_corruption():
    """The IMG1 codec (round 13): encode→decode round-trips dims,
    digest, and exact pixel sum; corrupt payloads fail LOUDLY
    (ValueError), never emit wrong stats — a decode stage at 100 TB
    must surface malformed assets, not NaN them."""
    import hashlib

    from pyspark_analytics_library_spark.operators.multimodal import (
        IMG_HEADER_LEN,
        IMG_MAGIC,
        decode_image_grid,
    )

    px = (hashlib.md5(b"seed").hexdigest() * 17)[: 12 * 9].encode("ascii")
    payload = IMG_MAGIC + (12).to_bytes(2, "big") + (9).to_bytes(2, "big") + px
    assert len(payload) == IMG_HEADER_LEN + 12 * 9
    w, h, n_px, md5, s = decode_image_grid(payload)
    assert (w, h, n_px) == (12, 9, 108)
    assert md5 == hashlib.md5(px).hexdigest()
    assert s == sum(px)

    with pytest.raises(ValueError, match="bad magic"):
        decode_image_grid(b"JPEG" + payload[4:])
    with pytest.raises(ValueError, match="truncated"):
        decode_image_grid(payload[:-1])
    # ADVICE r13: valid magic truncated INSIDE the 8-byte header must be
    # the documented ValueError, not an IndexError from the width read.
    for cut in range(4, IMG_HEADER_LEN):
        with pytest.raises(ValueError, match="truncated header"):
            decode_image_grid(payload[:cut])


def test_money_sum_layout_invariant_and_decimal_exact(spark):
    """§5.3 rule 12 pinned red-side: money_sum must be bit-identical
    across partition layouts (decimal addition is associative — the
    whole point) AND equal the exact Python-Decimal reference sum of
    the per-row operand-decimal products, so the Spark spelling can
    never silently degrade back to order-sensitive double
    accumulation (or back to the r15 product-cast form, whose
    double→decimal tie behavior diverged between engines)."""
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.aggregates import (
        money,
        money_sum,
        one,
        rate,
    )
    from pyspark_analytics_library_spark.sources.io import load_tables

    li = load_tables(spark, TEST_SF_DIR)["lineitem"]
    expr = money("l_extendedprice") * (one() - rate("l_discount"))

    def run(df):
        return df.agg(money_sum(expr).alias("s")).collect()[0]["s"]

    base = run(li)
    assert run(li.repartition(13)) == base
    assert run(li.coalesce(1)) == base
    assert run(li.orderBy(F.col("l_orderkey").desc())) == base

    # Exact reference: quantize each OPERAND to its source scale (the
    # documented rule-12 semantics — 2-dp money, 2-dp rate), multiply
    # exactly in Decimal, sum exactly, round 4 HALF_UP (both engines
    # round decimals half-away-from-zero).
    rows = li.select("l_extendedprice", "l_discount").collect()
    q2 = Decimal("0.01")
    ref = sum(
        Decimal(repr(r["l_extendedprice"])).quantize(q2, ROUND_HALF_UP)
        * (1 - Decimal(repr(r["l_discount"])).quantize(q2, ROUND_HALF_UP))
        for r in rows
    ).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    assert base == float(ref)


def test_money_decimal_cross_engine_exact(spark, oracle):
    """ADVICE r15 resolved: the rule-12 money expression must agree
    PER ROW between Spark and DuckDB — not just in aggregate.  The r15
    product-cast spelling failed this (cast ties on the computed
    double diverged on ~6e-4 of rows by ±1e-8); the operand-decimal
    respelling is exact, so every row must match bit-for-bit.  A
    future regression in either engine's double→decimal cast of 2-dp
    source data (the one remaining cross-engine cast in the chain)
    would surface here, attributed to this class."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.aggregates import (
        money,
        one,
        rate,
    )
    from pyspark_analytics_library_spark.sources.io import load_tables

    li = load_tables(spark, TEST_SF_DIR)["lineitem"]
    sdf = (
        li.select(
            "l_orderkey",
            "l_linenumber",
            (
                money("l_extendedprice")
                * (one() - rate("l_discount"))
                * (one() + rate("l_tax"))
            )
            .cast("string")
            .alias("charge"),
        )
        .toPandas()
        .sort_values(["l_orderkey", "l_linenumber"])
        .reset_index(drop=True)
    )
    odf = (
        oracle.execute(
            f"""
            SELECT l_orderkey, l_linenumber,
                   CAST(CAST(l_extendedprice AS DECIMAL(12,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
                        * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))
                        AS VARCHAR) AS charge
            FROM '{TEST_SF_DIR}/lineitem.parquet'
            ORDER BY l_orderkey, l_linenumber
            """
        )
        .fetchdf()
        .reset_index(drop=True)
    )
    assert len(sdf) == len(odf)
    # Compare as Decimals: engines may render trailing zeros at
    # different declared scales (Spark DECIMAL(22,6) vs DuckDB's
    # width-sum type), but the VALUES must be identical on every row.
    from decimal import Decimal

    mismatch = [
        (int(a_k), int(a_n), a, b)
        for a_k, a_n, a, b in zip(
            sdf["l_orderkey"], sdf["l_linenumber"], sdf["charge"], odf["charge"]
        )
        if Decimal(a) != Decimal(b)
    ]
    assert mismatch == [], f"{len(mismatch)} per-row divergences, first: {mismatch[:3]}"


def test_binned_percentiles_one_ulp_stall_resolves_via_leaf(spark):
    """Pathological narrowing shape: the two bracketing order
    statistics are ADJACENT DOUBLES, so after one round the candidate
    interval [v, nextafter(v)] can never shrink — the engine must
    detect the stall and resolve through the leaf collect (bounded by
    the candidate count) instead of spinning max_rounds histograms."""
    import math as _math

    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.aggregates import (
        binned_exact_percentiles,
    )

    v1, v2 = 1.0, _math.nextafter(1.0, 2.0)
    rows = [("g", v1)] * 100 + [("g", v2)] * 100
    df = spark.createDataFrame(rows, "g string, v double")
    # rank = 0.5 * 199 = 99.5 -> k1=99 (v1), k2=100 (v2): the covering
    # bin range spans both values, interval cannot shrink.
    got = binned_exact_percentiles(
        df, ["g"], "v", [0.5], bins=16, leaf_limit=10, max_rounds=5
    )
    want = df.groupBy("g").agg(F.percentile("v", F.lit(0.5))).collect()[0][1]
    assert got == {("g",): {0.5: want}}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_binned_percentiles_randomized_vs_python_twin(spark, seed):
    """Randomized shapes (heavy duplicates / negatives / skewed tails,
    per-group sizes that don't divide evenly) against an independent
    pure-Python twin implementing percentile_cont over the sorted
    values with Spark's own interpolation expression — exact equality,
    no tolerance."""
    import math as _math
    import random

    from pyspark_analytics_library_spark.operators.aggregates import (
        binned_exact_percentiles,
    )

    rng = random.Random(seed)
    rows = []
    values: dict[str, list[float]] = {"a": [], "b": [], "c": []}
    for g, n in (("a", 1 + rng.randrange(500)), ("b", 997), ("c", 3)):
        for _ in range(n):
            r = rng.random()
            if r < 0.4:
                v = float(rng.randrange(10))  # heavy duplicates
            elif r < 0.7:
                v = -rng.expovariate(0.01)  # negative skewed tail
            else:
                v = rng.gauss(1e6, 1e4)
            rows.append((g, v))
            values[g].append(v)
    df = spark.createDataFrame(rows, "g string, v double")
    probs = [0.0, 1.0, 0.5, rng.random(), rng.random()]
    got = binned_exact_percentiles(
        df, ["g"], "v", probs, bins=64, leaf_limit=20, max_rounds=30
    )

    def twin(vals, p):
        s = sorted(vals)
        rank = p * (len(s) - 1)
        k1, k2 = _math.floor(rank), _math.ceil(rank)
        if k1 == k2:
            return s[k1]
        return (k2 - rank) * s[k1] + (rank - k1) * s[k2]

    for g, vals in values.items():
        for p in probs:
            assert got[(g,)][p] == twin(vals, p), (g, p)


def test_binned_percentiles_null_group_key_and_all_null_values(spark):
    """Review r17: a NULL group key is an ordinary SQL group (the
    histogram join must be null-safe), and a group whose values are
    all NULL must appear in the result map with None cells — matching
    native percentile's row set."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.aggregates import (
        binned_exact_percentiles,
    )

    rows = (
        [(None, float(i)) for i in range(100)]
        + [("a", float(i) * 2) for i in range(50)]
        + [("allnull", None)] * 5
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = binned_exact_percentiles(
        df, ["g"], "v", [0.5, 0.3], bins=8, leaf_limit=10
    )
    truth = {
        r["g"]: (r["p50"], r["p30"])
        for r in df.groupBy("g")
        .agg(
            F.percentile("v", F.lit(0.5)).alias("p50"),
            F.percentile("v", F.lit(0.3)).alias("p30"),
        )
        .collect()
    }
    assert set(got) == {(None,), ("a",), ("allnull",)}
    for key, per_prob in got.items():
        assert (per_prob[0.5], per_prob[0.3]) == truth[key[0]], key


def test_binned_percentiles_two_value_bulk_straddle_stays_bounded(spark):
    """Review r17 scenario: a large group of exactly two values with
    an even count and p=0.5 — the bracketing ranks sit in the two
    value masses, which under per-(prob) units stalled the interval
    and forced an UNBOUNDED leaf collect.  Per-rank units must resolve
    both order statistics from single-valued bins (no leaf at all) and
    return the exact interpolation, with leaf_limit far below the
    group size."""
    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.aggregates import (
        binned_exact_percentiles,
    )

    df = spark.range(20000).select(
        F.lit("g").alias("g"),
        F.when(F.col("id") % 2 == 0, 0.0).otherwise(1.0).alias("v"),
    )
    got = binned_exact_percentiles(
        df, ["g"], "v", [0.5], bins=16, leaf_limit=50, max_rounds=10
    )
    want = df.groupBy("g").agg(F.percentile("v", F.lit(0.5))).collect()[0][1]
    assert got == {("g",): {0.5: want}}


def test_cc_step_restructure_matches_two_join_form(spark):
    """Round-20 phase-2 restructure pin: the explode + shared-exchange
    group-min delivery must produce EXACTLY the labels of the previous
    two-join form — least(c, g(round_old), g(c)) pointwise — on a
    random graph including NULL endpoints, for several consecutive
    rounds (so mid-convergence states are compared, not just the
    fixpoint the union-find test already pins)."""
    import random

    from pyspark.sql import functions as F

    from pyspark_analytics_library_spark.operators.dedup import _cc_step

    random.seed(20)
    pairs = [(random.randint(0, 80), random.randint(0, 80)) for _ in range(120)]
    pairs += [(None, 3), (4, None)]
    e2 = spark.createDataFrame(pairs, "src long, dst long")
    sym = e2.union(e2.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    lab = sym.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("label")
    )

    def step_two_join(start):
        nb = (
            sym.join(start, sym.src == start.v)
            .groupBy(F.col("dst").alias("nv"))
            .agg(F.min("label").alias("nb_min"))
        )
        stepped = start.join(nb, start.v == F.col("nv"), "left").select(
            "v",
            "base_label",
            F.col("label").alias("round_old"),
            F.least(F.col("label"), F.coalesce("nb_min", "label")).alias("c"),
        )
        gmin = stepped.groupBy(F.col("round_old").alias("l")).agg(
            F.min("c").alias("gm")
        )
        return (
            stepped.join(gmin, stepped.round_old == gmin.l, "left")
            .select("v", "base_label", "c", F.col("gm").alias("gm_old"))
            .join(
                gmin.select(F.col("l").alias("l2"), F.col("gm").alias("gm_c")),
                F.col("c") == F.col("l2"),
                "left",
            )
            .select(
                "v",
                F.least(
                    F.col("c"),
                    F.coalesce("gm_old", "c"),
                    F.coalesce("gm_c", "c"),
                ).alias("label"),
                "base_label",
            )
        )

    cur = lab
    for _ in range(3):
        start = cur.select("v", "label", F.col("label").alias("base_label"))
        old = {
            (r.v, r.label)
            for r in step_two_join(start).select("v", "label").collect()
            if r.v is not None
        }
        new_rows = _cc_step(sym, start).select("v", "label").collect()
        new = {(r.v, r.label) for r in new_rows if r.v is not None}
        assert new == old
        # advance with the restructured step's output (non-null rows)
        cur = spark.createDataFrame(sorted(new), "v long, label long")


def test_udf_scalar_builds_without_warnings(spark):
    """``udf_scalar`` names its row-at-a-time eval type, so PySpark does
    not try to infer one from ``_band``'s type hints, which warns."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        df = REGISTRY["udf_scalar"].fn(spark, TEST_SF_DIR)
    assert df.columns == ["l_orderkey", "l_linenumber", "disc_band"]
