"""Deduplication operators (SURVEY.md §2.8 + LLM-pipeline dedup suite).

Five dedup families over `documents` / `embeddings`:

- exact           — content/composite-key hash, deterministic keeper
- fuzzy MinHash   — shingle → minhash → band → bucket-join (LSH), native
                    DataFrame ops (no ml.feature Vector overhead)
- n-gram Jaccard  — exact pairwise shingle-set similarity (small-n path)
- SimHash         — 32-bit sign-sum signature per document
- embedding cosine— near-dup by vector similarity

Scale posture: MinHash-LSH is THE 100 TB path — candidate generation is
an equi-join on (band_id, band_hash) buckets (no O(n²) pair space), and
only candidates pay the exact-Jaccard verification.  The exact pairwise
variants are deliberately the *small-n* path (SURVEY.md §4.3.3) and say
so; at scale they exist to validate LSH recall on samples.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_analytics_library_spark import conf
from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import (
    LOADER_SHUFFLE_PARTITIONS,
    fs_delete,
    iteration_scratch,
    load_tables,
    local_frame,
    materialize,
    reclaim_iteration_scratch,  # noqa: F401 — public re-export
)


def word_shingles(text_col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a lowercased text column (built from
    zip_with over shifted slices — pure JVM expression, no UDF)."""
    w = F.split(F.lower(text_col), " ")
    n = F.size(w)
    cnt = F.greatest(n - (k - 1), F.lit(0))
    out = F.slice(w, 1, cnt)
    for i in range(1, k):
        out = F.zip_with(out, F.slice(w, 1 + i, cnt), lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(out)


def dedup_exact_keep_min(
    df: DataFrame, group_cols: list[str], order_col: str
) -> DataFrame:
    """Exact dedup with a deterministic keeper (min ``order_col`` per
    duplicate group) — ``dropDuplicates`` keeps an arbitrary row, which
    can never parity-check across engines.

    ONE hash aggregate (min + min_by + count), not a window: map-side
    partial aggregation sends one pre-combined row per group per map task
    to the shuffle, where a window shuffles and sorts EVERY row.
    ``min_by`` carries the keeper's other columns (deterministic because
    ``order_col`` is unique per group).

    ``group_cols`` takes column NAMES (the complement column set must be
    computed, which Column expressions cannot name); a bare string is one
    column."""
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    if isinstance(group_cols, Column) or any(
        not isinstance(c, str) for c in group_cols
    ):
        raise TypeError(
            "dedup_exact_keep_min needs column NAMES for group_cols "
            "(it derives the carried-column set from df.columns), got "
            f"{group_cols!r}"
        )
    other = [c for c in df.columns if c not in group_cols and c != order_col]
    return df.groupBy(*group_cols).agg(
        F.min(order_col).alias(order_col),
        *[F.min_by(c, order_col).alias(c) for c in other],
        F.count(F.lit(1)).alias("n_dupes"),
    ).select(*df.columns, "n_dupes")


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two *distinct-element* arrays, computed the
    same way both engines can (intersection size / inclusion-exclusion)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    rows_per_band: int | None = None,
    verify_threshold: float = 0.4,
) -> DataFrame:
    """Near-duplicate pairs via shingle → minhash → band → bucket-join,
    deterministic (xxhash64 with fixed per-hash salts):

    1. distinct 3-word shingles per doc (JVM array expressions);
    2. signature[i] = array_min over xxhash64(salt_i, shingle) — a
       per-row projection, no explode/groupBy shuffle;
    3. band key = xxhash64 over each band's rows; explode (band_id, key);
    4. equi-join docs sharing a (band_id, key) bucket → candidates;
    5. exact-Jaccard verification of candidates only.

    The bucket self-join and both verify joins are merge-hinted: all sides
    are text-exploded and corpus-sized (see ngram_jaccard_pairs).  No
    O(n²) stage exists; the bucket join shuffles each doc ``bands`` times.

    Choosing (bands b, rows_per_band r): a pair with Jaccard ``s`` becomes
    a candidate with probability ``1 − (1 − s^r)^b``, an S-curve with
    inflection near ``(1/b)^(1/r)``.  More bands at fixed r never lower
    recall (tests/test_properties.py pins this) but cost ``b``× rows;
    larger r sharpens the curve but moves the inflection up.  For a
    false-negative rate ``fn`` at threshold τ, pick the smallest b with
    ``(1 − τ^r)^b ≤ fn``.  The defaults b=4, r=2 sit at the measured
    recall knee for τ=0.4 on this corpus; borderline pairs flip with the
    text's hash draw, so single-pair differences near τ are expected.

    Pass EITHER ``rows_per_band`` (num_hashes = bands × r) or a
    ``num_hashes`` divisible by ``bands`` (a non-divisible count would
    silently truncate the signature, so it raises)."""
    if rows_per_band is not None:
        num_hashes = bands * rows_per_band
    elif num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} not divisible by bands={bands}; "
            "pass rows_per_band explicitly"
        )
    else:
        rows_per_band = num_hashes // bands
    shingled = docs.select(
        F.col(id_col), word_shingles(F.col(text_col)).alias("shingles")
    ).filter(F.size("shingles") > 0)

    # Signature via array_min(transform(...)) — a pure per-row
    # projection: an explode + groupBy(doc) would shuffle the EXPLODED
    # shingle table (corpus × shingles-per-doc rows, the pipeline's
    # largest exchange) for per-doc minima computable inside the row.
    # The per-salt closure is a named factory: a two-parameter lambda
    # would be called as (element, index) by the higher-order-function
    # binder.
    def _salted(i: int):
        return lambda s: F.xxhash64(F.lit(i), s)

    sig = shingled.select(
        id_col,
        *[
            F.array_min(F.transform("shingles", _salted(i))).alias(f"mh_{i}")
            for i in range(num_hashes)
        ],
    )
    band_rows = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            F.lit(b),
                            *[
                                F.col(f"mh_{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band_id", "bk.band_hash")

    a = band_rows.select(
        F.col(id_col).alias("id_a"), "band_id", "band_hash"
    )
    b = band_rows.select(
        F.col(id_col).alias("id_b"), "band_id", "band_hash"
    )
    candidates = (
        a.join(b.hint("merge"), ["band_id", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sh_a = shingled.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sh_b = shingled.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        candidates.join(sh_a.hint("merge"), "id_a")
        .join(sh_b.hint("merge"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= verify_threshold)
    )


def simhash_32(tokens: Column, hash_salt: int = 7) -> Column:
    """32-bit SimHash: per token, xxhash64 → for each bit position sum
    ±1 → sign vector → packed int.  One aggregate expression tree, no
    UDF, no shuffle beyond the enclosing groupBy."""
    h = F.xxhash64(F.lit(hash_salt), F.col("tok"))
    bit_sums = [
        F.sum(F.when(h.bitwiseAND(F.lit(1 << i)) != 0, 1).otherwise(-1)).alias(
            f"s_{i}"
        )
        for i in range(32)
    ]
    return bit_sums  # aggregated by caller; packed via pack_simhash


def pack_simhash() -> Column:
    return reduce(
        lambda acc, i: acc + F.when(F.col(f"s_{i}") > 0, F.lit(1 << i)).otherwise(0),
        range(32),
        F.lit(0).cast("long"),
    ).alias("simhash")


@query(
    "dedup_exact",
    oracle="""
    WITH g AS (
        SELECT doc_id, lang,
               CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_bucket,
               sha256(text) AS content_hash,
               ROW_NUMBER() OVER (
                   PARTITION BY lang, CAST(FLOOR(n_chars / 100.0) AS BIGINT)
                   ORDER BY doc_id ASC) AS rn,
               COUNT(*) OVER (
                   PARTITION BY lang, CAST(FLOOR(n_chars / 100.0) AS BIGINT)
               ) AS n_dupes
        FROM documents
    )
    SELECT doc_id, lang, len_bucket, content_hash, CAST(n_dupes AS BIGINT) AS n_dupes
    FROM g WHERE rn = 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a composite key (lang, 100-char length bucket) —
    fixture texts are globally unique (FIXTURES.md), so the composite
    gives real collapsing; sha256(text) is carried as the content-hash
    surface (hex-identical across engines)."""
    t = load_tables(spark, sf_dir)
    df = t["documents"].select(
        "doc_id",
        "lang",
        F.floor(F.col("n_chars") / 100.0).alias("len_bucket"),
        F.sha2(F.col("text"), 256).alias("content_hash"),
    )
    return dedup_exact_keep_min(df, ["lang", "len_bucket"], "doc_id")


@query("dedup_fuzzy_minhash", tags=("rows-only",))  # xxhash64 absent in DuckDB
def q_dedup_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return minhash_lsh_pairs(t["documents"])


#: Shared by dedup_ngram_jaccard and its prefix-filtered variant: the
#: filter is LOSSLESS (every τ-qualifying pair must collide inside both
#: frequency-ordered prefixes), so both declared queries verify against
#: the identical unblocked DuckDB oracle.
_NGRAM_JACCARD_ORACLE = """
    WITH t AS (
        SELECT doc_id, lang, string_split(lower(text), ' ') AS words FROM documents
    ), u AS (
        SELECT doc_id, lang, unnest(words) AS w,
               generate_subscripts(words, 1) AS pos
        FROM t
    ), s AS (
        SELECT doc_id, lang,
               w || ' ' || LEAD(w, 1) OVER win || ' ' || LEAD(w, 2) OVER win AS sh
        FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ), shl AS (
        SELECT doc_id, lang, list_distinct(list(sh)) AS shingles
        FROM s WHERE sh IS NOT NULL GROUP BY doc_id, lang
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang AS lang,
               len(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS inter,
               len(a.shingles) AS na, len(b.shingles) AS nb
        FROM shl a JOIN shl b ON a.lang = b.lang AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, lang,
           ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 4) AS jaccard
    FROM pairs
    WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.2
    """


@query("dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-shingle Jaccard within language — see
    :func:`ngram_jaccard_pairs`.  The declared query keeps
    ``prefix_filter`` OFF: this row attests the plain inverted-index
    join; the filtered web-scale path is declared separately below."""
    t = load_tables(spark, sf_dir)
    return ngram_jaccard_pairs(t["documents"])


@query("dedup_ngram_jaccard_prefixed", oracle=_NGRAM_JACCARD_ORACLE)
def q_dedup_ngram_jaccard_prefixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``prefix_filter=True`` web-scale path of
    :func:`ngram_jaccard_pairs` as its own declared query: prefix
    filtering is lossless, so it shares the unblocked oracle, and a
    driver hash-green row attests that the filter-then-verify split
    returns the byte-identical pair set."""
    t = load_tables(spark, sf_dir)
    return ngram_jaccard_pairs(t["documents"], prefix_filter=True)


def ngram_jaccard_pairs(
    docs: DataFrame, tau: float = 0.2, prefix_filter: bool = False
) -> DataFrame:
    """All same-language doc pairs with 3-shingle Jaccard ≥ ``tau``, as a
    set-similarity join: explode each document's distinct shingles,
    equi-join on (lang, shingle), and COUNT matches per (id_a, id_b) —
    exactly |A∩B|, so no pair carries the shingle arrays.  Sizes join back
    for the inclusion-exclusion denominator.

    Any pair with J ≥ tau shares a shingle, so the join is SOUND blocking:
    candidate volume is Σ_s C(df_s, 2), set by how often shingles repeat,
    not |docs|² per language.  (Bucketing by shingle count collapses to
    ~2 buckets on real length distributions — 107 s at sf0.1.)

    ``prefix_filter=True`` handles ubiquitous hot shingles fattening
    Σ C(df_s, 2): each document's shingles are ordered by ascending global
    document frequency (ties by text — a total order every doc agrees on)
    and only the first n − ⌈τ·n⌉ + 1 are joined.  Any τ-qualifying pair
    collides inside both prefixes, so candidates are a superset of the
    answer, and the hottest shingles drop out of the join.  Candidates are
    verified exactly via array_intersect on the full shingle sets.

    The threshold filters the UNROUNDED ratio (identical IEEE division on
    both engines); only the output is rounded.

    Every join is merge-hinted: all sides are CORPUS-sized, and the static
    planner estimates them from the pre-explode file size, which text
    compression understates by orders of magnitude — at 1 M docs in a
    4.5 MB file every join planned BroadcastHashJoin and died with
    notEnoughMemoryToBuildAndBroadcastTable."""
    sh = docs.select("doc_id", "lang", word_shingles(F.col("text")).alias("sh"))
    posts = sh.select(
        "doc_id", "lang", F.size("sh").alias("n"), F.explode("sh").alias("s")
    )
    if prefix_filter:
        dfreq = posts.groupBy("lang", "s").agg(F.count(F.lit(1)).alias("df"))
        ranked = posts.join(dfreq.hint("merge"), ["lang", "s"]).withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
        # Lossless bound: keep the first n − ⌈τ·n⌉ + 1 shingles.  The
        # ⌈·⌉ argument is nudged down by 1e-9 before ceil: when τ·n is
        # an exact integer in real arithmetic, double rounding can land
        # one ulp ABOVE it (relative error ~1.7e-16 > half-ulp), ceil
        # would return k+1, and the prefix would shrink below the
        # lossless bound — silently dropping qualifying pairs for
        # arbitrary caller-supplied τ.  The nudge can only lengthen the
        # prefix (more candidates, never fewer), so soundness holds for
        # every τ; 1e-9 dwarfs the ulp error yet is far below the 1/n
        # gap between attainable τ·n values at any realistic n.
        prefix = ranked.filter(
            F.col("pos")
            <= F.col("n") - F.ceil(F.lit(tau) * F.col("n") - F.lit(1e-9)) + 1
        )
        pa = prefix.select(F.col("doc_id").alias("id_a"), "lang", "s")
        pb = prefix.select(
            F.col("doc_id").alias("id_b"),
            F.col("lang").alias("lang_b"),
            F.col("s").alias("s_b"),
        )
        cand = (
            pa.join(
                pb.hint("merge"),
                (F.col("s") == F.col("s_b"))
                & (F.col("lang") == F.col("lang_b"))
                & (F.col("id_a") < F.col("id_b")),
            )
            .select("id_a", "id_b", "lang")
            .distinct()
        )
        verified = (
            cand.join(
                sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")).hint(
                    "merge"
                ),
                "id_a",
            )
            .join(
                sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")).hint(
                    "merge"
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                "lang",
                F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
                F.size("sh_a").alias("na"),
                F.size("sh_b").alias("nb"),
            )
        )
    else:
        a = posts.select(
            F.col("doc_id").alias("id_a"), "lang", F.col("n").alias("na"), "s"
        )
        b = posts.select(
            F.col("doc_id").alias("id_b"),
            F.col("lang").alias("lang_b"),
            F.col("n").alias("nb"),
            F.col("s").alias("s_b"),
        )
        verified = (
            a.join(
                b.hint("merge"),
                (F.col("s") == F.col("s_b"))
                & (F.col("lang") == F.col("lang_b"))
                & (F.col("id_a") < F.col("id_b")),
            )
            .groupBy("id_a", "id_b", "lang", "na", "nb")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    j_raw = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        verified.select("id_a", "id_b", "lang", j_raw.alias("j_raw"))
        .filter(F.col("j_raw") >= tau)
        .select("id_a", "id_b", "lang", F.round(F.col("j_raw"), 4).alias("jaccard"))
    )


@query("dedup_simhash", tags=("rows-only",))  # xxhash64 absent in DuckDB
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash signature (near-dup candidates are
    signatures within small Hamming distance — tested by property)."""
    t = load_tables(spark, sf_dir)
    toks = t["documents"].select(
        "doc_id", F.explode(F.array_distinct(F.split(F.lower("text"), " "))).alias("tok")
    )
    agg = toks.groupBy("doc_id").agg(*simhash_32(F.col("tok")))
    return agg.select("doc_id", pack_simhash())


@query(
    "dedup_embedding",
    oracle="""
    WITH p AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(unnest(a.embedding) AS DOUBLE) AS xa,
               CAST(unnest(b.embedding) AS DOUBLE) AS xb
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ), c AS (
        SELECT id_a, id_b,
               SUM(xa * xb) / SQRT(SUM(xa * xa) * SUM(xb * xb)) AS cos
        FROM p GROUP BY id_a, id_b
    )
    SELECT DISTINCT id_b AS dup_vec_id
    FROM c WHERE ROUND(cos, 6) > 0.35
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal: vec_ids duplicating an
    earlier vector (cosine > 0.35 — fixture cosines top out ≈0.48).
    Exact pairwise via the broadcast BLAS kernel — small-n path; LSH in
    similarity.py is the scale path.  Cosine computed in double on both
    engines (DuckDB's list_cosine_similarity is float32 — not
    parity-safe)."""
    from pyspark_analytics_library_spark.operators.similarity import (
        brute_threshold_pairs,
        build_index,
    )

    t = load_tables(spark, sf_dir)
    e = t["embeddings"].select("vec_id", "embedding")
    pairs = brute_threshold_pairs(e, build_index(spark, e), tau=0.35)
    return pairs.select(F.col("id_b").alias("dup_vec_id")).distinct()


def both_ways(df: DataFrame, a: str, b: str, x: str, y: str) -> DataFrame:
    """Both directions of the pair list ``df`` (``a``, ``b``) as rows
    (``x``, ``y``): one row ``(a, b)`` and one ``(b, a)`` per pair.

    A row-local explode, NOT a union of two selects: a union references
    ``df`` twice, so the caller's pair plan (an LSH or n-gram candidate
    stage) would run as two physical subtrees."""
    return df.select(
        F.explode(
            F.array(
                F.struct(F.col(a).alias(x), F.col(b).alias(y)),
                F.struct(F.col(b).alias(x), F.col(a).alias(y)),
            )
        ).alias("_e")
    ).select(f"_e.{x}", f"_e.{y}")


def connected_components(
    edges: DataFrame, vertices: DataFrame, max_iters: int = 30
) -> DataFrame:
    """Min-label connected components over (src, dst) edges: every vertex is
    labeled with the smallest vertex id in its component — the step that
    turns near-dup PAIRS into dedup GROUPS.

    Edge endpoints need NOT appear in ``vertices``: labels start from the
    edge-incident endpoints on both dispatch paths, so an out-of-vertex
    endpoint takes part in merging and can become a label (it is never an
    output row; the output is keyed on ``vertices``).  Semi-join edges to
    the vertex set first to stop that.  NULL endpoints are no-ops, and a
    vertex on no edge labels itself.

    Dispatch:

    - **Driver union-find** when the edge set fits
      ``spark.analytics.cc.driverUnionFindMaxEdges`` (default 500 000 —
      tens of MB of id pairs, sub-second union-find): one
      ``limit(cap+1)`` collect decides the dispatch AND delivers the data,
      like the capped driver branches of ``graph.triangle_census`` and
      ``similarity.build_index``.  Set the cap to ``0`` to force the loop.
      ``CollectLimit`` early-exits only when the edge plan's final stage
      is limit-pushable; a plan ending in a shuffle (the usual LSH
      candidate join) runs in full for the probe and again in the loop, so
      pipelines whose edge sets exceed the cap should set it to ``0``.
    - **Distributed loop**: two-phase hash-to-min over the EDGE-INCIDENT
      vertices only (singletons rejoin by one left join + coalesce; with
      1-10 % of documents on any candidate pair, each round shuffles
      10-100× less).  Each round (1) takes the min label over each
      vertex's neighborhood, then (2) the min of that over each CURRENT
      LABEL GROUP, joined back through the old and the new label; phase 2
      makes the round count O(log n) however ids are laid out (pointer
      doubling takes >20 rounds at sf0.1 on the fixture graph, this 8).

    Every round writes the label table to a per-call scratch generation
    (``iteration_scratch`` in ``sources/io.py``) and re-reads it.  Unlike
    ``localCheckpoint`` this cuts the plan AND resets Catalyst's size
    statistics: LogicalRDD carries the origin plan's estimate, and join
    estimates multiply, so the carried estimate compounds until the driver
    OOMs in the BigInteger stats arithmetic (seen at sf0.1 after ~20
    rounds).  This is GraphFrames' periodic-checkpoint discipline."""
    spark = edges.sparkSession
    e2 = edges.select("src", "dst")
    uf_cap = conf.get(spark, "spark.analytics.cc.driverUnionFindMaxEdges")
    if uf_cap > 0:
        head = e2.limit(uf_cap + 1).collect()
        if len(head) <= uf_cap:
            return _cc_driver_union_find(
                spark, head, vertices, e2.schema["src"].dataType
            )
    sym = both_ways(e2, "src", "dst", "src", "dst")
    # Scoped shuffle-partition trim (measured 13.3 s -> 3.5 s at sf0.01
    # on a bare session): every round pays per-partition task + state
    # overhead x partitions x rounds, and AQE's coalescing does not
    # shrink what localCheckpoint materializes.  Only the untouched 200
    # default (or the loader's trim of it) is trimmed — a deliberately sized
    # session is respected — and the conf is restored on exit (safe:
    # every round runs eagerly, so nothing inside the loop is re-planned
    # after restore).  Gated to local masters (same discipline as the
    # loader's trim in sources/io.py): on a cluster whose admin left the
    # default alone, a library helper must not pin a petabyte shuffle
    # to 8 reducers.
    parts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    trim = conf.is_local_master(spark) and parts in ("200", LOADER_SHUFFLE_PARTITIONS)
    with conf.scoped_conf(spark, {"spark.sql.shuffle.partitions": 8} if trim else {}):
        lab = _cc_loop(sym, max_iters)
    return _attach_singletons(vertices, lab, broadcast_labels=False)


def _attach_singletons(
    vertices: DataFrame, lab: DataFrame, broadcast_labels: bool
) -> DataFrame:
    """Label every vertex: edge-incident vertices from ``lab`` (v, label),
    everything else — the singletons the loop/union-find never saw — as
    its own component.  ``broadcast_labels`` is set on the union-find
    path, where ``lab`` is bounded by the driver cap by construction;
    the loop path leaves the strategy to the planner (``lab`` is backed
    by the final-round parquet with exact size stats)."""
    lab2 = lab.select(F.col("v").alias("_cc_lv"), F.col("label"))
    if broadcast_labels:
        lab2 = F.broadcast(lab2)
    return vertices.join(
        lab2, vertices["v"] == F.col("_cc_lv"), "left"
    ).select(
        vertices["v"].alias("v"),
        F.coalesce(F.col("label"), vertices["v"]).alias("label"),
    )


def _cc_driver_union_find(
    spark: SparkSession, edge_rows, vertices: DataFrame, v_type
) -> DataFrame:
    """Min-label components of a driver-resident edge list via weighted-
    by-id union-find (smaller id becomes the root, so every final root
    IS its component's min id — the same labeling the distributed loop
    converges to).  Edges with a NULL endpoint are no-ops, matching the
    loop's join semantics (a NULL never equi-joins a label row).

    Only the NON-TRIVIAL mapping rows (label ≠ vertex) become a local
    relation — bounded by the edge cap — and singletons fall out of the
    same left-join + coalesce the loop path uses."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for row in edge_rows:
        a, b = row[0], row[1]
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    mapping = [
        (v, r)
        for v in list(parent)
        if (r := find(v)) != v
    ]
    schema = T.StructType([T.StructField("v", v_type), T.StructField("label", v_type)])
    mdf = local_frame(spark, mapping, schema)
    return _attach_singletons(vertices, mdf, broadcast_labels=True)


class ConvergenceError(RuntimeError):
    """Raised when an iterative algorithm exhausts max_iters unconverged.

    Partially converged component labels are silently WRONG (split
    components), so the loop refuses to return them — callers either
    raise ``max_iters`` (group-min hash-to-min needs ~log₂(n) rounds,
    so the default 30 covers any graph of ~10⁹ vertices) or catch and
    accept partial labels explicitly.
    """


def _cc_checkpoint(df: DataFrame, scratch_root: str, round_no: int) -> DataFrame:
    """Materialize a loop frame to scratch parquet and re-read it, cutting
    the plan and the carried size statistics (see connected_components).
    Rolls the prior round's files off via the Hadoop FS API, so the delete
    is real on remote scratchDirs too.  The FINAL round's files back the
    returned DataFrame; :func:`reclaim_iteration_scratch` or the dead-pid
    scratch janitor reclaims them.

    Writes are coalesced to a few files: the vertex-count-sized label
    table is re-read whole every round, so many tiny files would pay
    per-file open/commit cost × rounds for no parallelism."""
    out = materialize(df, os.path.join(scratch_root, f"round_{round_no}"), files=4)
    fs_delete(df.sparkSession, os.path.join(scratch_root, f"round_{round_no - 1}"))
    return out


def _cc_step(sym: DataFrame, start: DataFrame) -> DataFrame:
    """One group-min hash-to-min round (phases 1+2), lazily.  ``start``
    carries (v, label, base_label); base_label — the label at the last
    materialized state — passes through untouched so the convergence
    count can compare against it.

    Phase 2 does not join ``gmin = stepped.groupBy(round_old).min(c)``
    back twice (through round_old and through c): with ``stepped``
    lazy, that plan computes the ENTIRE phase-1 subtree — the
    edge-table join — three times per round.  Instead each row
    explodes into its two lookup keys, ONE explicit ``repartition(k)``
    exchange feeds BOTH the group-min aggregate and the join probe
    (identical subtree → ReusedExchange, also with AQE off), and a
    vertex-keyed aggregate folds the two lookups back:

        label'(v) = min over v's rows of least(c, g'(k))
                  = least(c, g'(round_old), g'(c))

    where g'(k) = min(c) over ALL exploded rows keyed k.  Equivalence
    to the two-join form, pointwise: the exploded (c → c) rows
    change g only to g'(l) = min(g(l), l·[∃u: c(u) = l]); for
    k = round_old(v), v itself is in group round_old so
    g(round_old) ≤ c(v) ≤ round_old and the extra candidate never
    wins; for k = c(v), the extra candidate is c(v) itself, already an
    argument of the outer least; and where the two-join form's
    left-join coalesces a missing g(c) to c, g'(c) = c exactly (v's own
    (c → c) row).  Labels and per-round convergence counts are
    therefore IDENTICAL.  A NULL edge endpoint's (NULL, NULL) label row
    is dropped by the inner join (NULL never equi-matches); it matches
    nothing downstream (_attach_singletons joins on the caller's
    vertices), so outputs are unchanged.

    Phase 2's delivery stays a partial-aggregated groupBy + equi-join:
    hot label groups (a giant component in late rounds) keep map-side
    combining and AQE skew-split, which a window-function delivery
    (marginally faster locally) would serialize onto one task."""
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
    ex = stepped.select(
        "v",
        "base_label",
        "c",
        F.explode(F.array("round_old", "c")).alias("k"),
    ).repartition("k")
    g = ex.groupBy("k").agg(F.min("c").alias("gm"))
    return (
        ex.join(g, "k")
        .groupBy("v")
        .agg(
            F.min(F.least(F.col("c"), F.col("gm"))).alias("label"),
            F.min("base_label").alias("base_label"),
        )
    )


def _cc_loop(sym: DataFrame, max_iters: int) -> DataFrame:
    spark = sym.sparkSession
    scratch_root = iteration_scratch(spark)
    from pyspark.sql import Observation

    # Every failed exit from here on — a write failing in any round, or
    # non-convergence — reclaims this call's whole scratch generation;
    # only a converged run keeps its final round's parquet (backing the
    # returned frame).
    try:
        # Materialize the symmetrized edge list ONCE: the loop references
        # it every round, and without a cut each round would re-execute
        # the caller's edge-generation plan (here a self-join; in the
        # fuzzy pipeline a full LSH candidate stage) ~log(diameter)
        # times.  Also gives every round's planner exact size stats for
        # the join side.
        sym_path = os.path.join(scratch_root, "sym")
        sym = materialize(sym, sym_path, files=8)
        # Labels start from the EDGE-INCIDENT vertex set only (derived
        # from the materialized edges — no extra pass over the caller's
        # plan); singletons rejoin in connected_components via
        # _attach_singletons.  sym carries both directions, so src alone
        # covers every endpoint.
        verts_e = sym.select(F.col("src").alias("v")).distinct()
        lab = _cc_checkpoint(
            verts_e.select(F.col("v"), F.col("v").alias("label")),
            scratch_root,
            0,
        )

        # One round per materialization.  A GraphFrames-style
        # checkpointInterval=2 (two lazy rounds per write) measured
        # SLOWER: the mid-round joins plan against unmaterialized
        # intermediates with no size stats and lose the broadcast/shape
        # choices the per-round parquet stats buy (sf0.1: 8-10 s vs
        # 5-6 s warm).
        #
        # The convergence count piggybacks on the checkpoint write via an
        # Observation — collected DURING the write job, so each round
        # launches ONE job instead of write + count.
        changed = 0
        for round_no in range(1, max_iters + 1):
            start = lab.select(
                "v", "label", F.col("label").alias("base_label")
            )
            once = _cc_step(sym, start)
            obs = Observation()
            observed = once.select(
                "v", F.col("base_label").alias("old_label"), "label"
            ).observe(
                obs,
                F.sum(
                    (F.col("label") != F.col("old_label")).cast("long")
                ).alias("changed"),
            )
            chk = _cc_checkpoint(observed, scratch_root, round_no)
            changed = obs.get["changed"] or 0
            lab = chk.select("v", "label")
            if changed == 0:
                break
        if changed != 0:
            raise ConvergenceError(
                f"connected components did not converge within {max_iters} "
                f"group-min rounds ({changed} labels still changing); "
                "returning partial labels would silently split components"
            )
    except BaseException:
        fs_delete(spark, scratch_root)
        raise
    # The edge materialization is dead once the loop exits; only the
    # final round's parquet (backing the returned frame) must survive.
    fs_delete(spark, sym_path)
    return lab


def candidate_edges(d: DataFrame) -> DataFrame:
    """Near-dup candidate edges: same lang, |Δn_chars| ≤ 2, src < dst.

    Bucketed by floor(n_chars/3) with a ±1 probe on one side: any pair
    with |Δn_chars| ≤ 2 lands at most one bucket apart (width 3), so
    the blocking is SOUND — it prunes only pairs the residual would
    reject anyway, and the unblocked oracle closure still matches.
    Without this the equi-key is `lang` alone (5 distinct values):
    five giant skewed join buckets at corpus scale.
    """
    bkt = F.floor(F.col("n_chars") / 3)
    a = d.select(
        F.col("doc_id").alias("src"),
        F.col("lang").alias("l_a"),
        F.col("n_chars").alias("nc_a"),
        F.explode(F.array(bkt - 1, bkt, bkt + 1)).alias("bkt_a"),
    )
    b = d.select(
        F.col("doc_id").alias("dst"),
        F.col("lang").alias("l_b"),
        F.col("n_chars").alias("nc_b"),
        bkt.alias("bkt_b"),
    )
    return a.join(
        b,
        (F.col("l_a") == F.col("l_b"))
        & (F.col("bkt_a") == F.col("bkt_b"))
        & (F.abs(F.col("nc_a") - F.col("nc_b")) <= 2)
        & (F.col("src") < F.col("dst")),
    ).select("src", "dst")


@query(
    "dedup_connected_components",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT a.doc_id AS src, b.doc_id AS dst
        FROM documents a JOIN documents b
        ON a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 2
           AND a.doc_id <> b.doc_id
    ), reach(v, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.v
        WHERE r.label < e.dst
    )
    SELECT v AS doc_id, MIN(label) AS component
    FROM reach GROUP BY v ORDER BY doc_id
    """,
)
def q_dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-group assignment: components of the near-dup candidate graph
    (same lang, n_chars within 2 — a deterministic stand-in for an LSH
    candidate set), labeled by smallest doc_id.  Transitivity merges
    (a,b),(b,c) into one keep-group even though (a,c) never scored.  The
    oracle states the closure as a recursive CTE (label < dst pruning is
    safe because a component's min label precedes every member).

    This predicate is a 1-D proximity rule, so its graph is an interval
    graph over the distinct ``n_chars`` values per lang: docs connect iff
    every gap between consecutive distinct values on the path is ≤ 2.  The
    closure is gap-based segmentation of the sorted distinct values, and
    NO edge set is built — an edge formulation is QUADRATIC in
    docs-per-(lang, n_chars) (10⁶ docs of one length → 5·10¹¹ edges).
    :func:`connected_components` remains the closure for ARBITRARY pair
    sets.

    Docs with a NULL lang or n_chars satisfy no edge predicate on either
    engine, so they are singletons labeled with their own id."""
    t = load_tables(spark, sf_dir)
    d = t["documents"].select("doc_id", "lang", "n_chars")
    clean = d.filter(F.col("lang").isNotNull() & F.col("n_chars").isNotNull())
    # One row per distinct (lang, n_chars): the min doc_id at that value.
    per_val = clean.groupBy("lang", "n_chars").agg(
        F.min("doc_id").alias("val_min")
    )
    # Gap > 2 between consecutive distinct values starts a new segment;
    # the running gap count IS the segment id.  The window is over the
    # (langs × distinct lengths) aggregate — tiny at any corpus scale.
    w = Window.partitionBy("lang").orderBy("n_chars")
    seg = per_val.withColumn(
        "seg",
        F.sum(
            F.when(
                F.col("n_chars") - F.lag("n_chars").over(w) > 2, 1
            ).otherwise(0)
        ).over(w),
    )
    # Component label = min doc_id over the segment (min of per-value
    # minima), attached back to every (lang, n_chars) key.
    mapping = seg.withColumn(
        "component",
        F.min("val_min").over(Window.partitionBy("lang", "seg")),
    ).select("lang", "n_chars", "component")
    # The mapping's cardinality is languages × distinct document
    # lengths — usually tiny, but bounded by data, not by structure (a
    # corpus of very long documents could make it millions of rows).
    # No broadcast hint: the mapping sits behind an aggregate exchange,
    # so AQE sees its TRUE runtime size and picks a broadcast join
    # whenever it fits, while a pathological mapping degrades to a
    # sort-merge join instead of an executor OOM.
    return (
        d.join(mapping, ["lang", "n_chars"], "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
        .orderBy("doc_id")
    )
