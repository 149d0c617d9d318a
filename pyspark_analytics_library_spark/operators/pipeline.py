"""End-to-end training-data pipeline compositions.

The LLM-data-pipeline operators (dedup, quality, lang-ID, tokens,
embeddings) exist individually in :mod:`.dedup`, :mod:`.text`,
:mod:`.similarity`; these queries chain them the way a corpus-cleaning
job actually runs — dedup → filter → quality gate → embedding join →
per-slice stats — in ONE Spark plan, so Catalyst prunes/pushes across
stage boundaries instead of materializing intermediates.

Scale posture: the whole pipeline is declarative (one job, no
intermediate writes); the dedup window and the final rollup are the
only shuffles, and the embeddings join broadcasts whichever side AQE
measures smaller. At 100 TB each stage's selectivity compounds before
the expensive join — exactly why the pipeline must be one plan and not
a chain of checkpointed tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.operators.dedup import (
    both_ways,
    connected_components,
    dedup_exact_keep_min,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    word_shingles,
)
from pyspark_analytics_library_spark.operators.text import tokenize
from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import load_tables

#: Quality gate: keep mid-length docs (the fixture proxy for "not
#: boilerplate, not truncation").
MIN_CHARS, MAX_CHARS = 150, 450
MIN_TOKENS = 20
KEEP_LANGS = ("de", "en", "fr")


def clean_corpus(docs: DataFrame) -> DataFrame:
    """dedup (composite key, keep min doc_id) → language allowlist →
    length/token quality gate. Returns surviving docs with token_count."""
    deduped = dedup_exact_keep_min(
        docs.withColumn(
            "len_bucket", F.floor(F.col("n_chars") / 100.0)
        ),
        ["lang", "len_bucket"],
        "doc_id",
    )
    return (
        deduped.filter(F.col("lang").isin(*KEEP_LANGS))
        .filter(F.col("n_chars").between(MIN_CHARS, MAX_CHARS))
        .withColumn("token_count", F.size(tokenize("text")))
        .filter(F.col("token_count") >= MIN_TOKENS)
    )


#: Oracle fragment shared by both pipeline queries (DuckDB spelling of
#: clean_corpus; string_split keeps empty tokens, so filter them).
_CLEAN_CTE = """
    WITH bucketed AS (
        SELECT doc_id, text, lang, source, n_chars,
               CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_bucket
        FROM documents
    ), deduped AS (
        SELECT * FROM (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang, len_bucket ORDER BY doc_id ASC
                   ) AS rn
            FROM bucketed
        ) WHERE rn = 1
    ), cleaned AS (
        SELECT doc_id, lang, source, n_chars,
               len(list_filter(string_split(lower(text), ' '),
                               w -> w <> '')) AS token_count
        FROM deduped
        WHERE lang IN ('de', 'en', 'fr')
          AND n_chars BETWEEN 150 AND 450
    ), gated AS (
        SELECT * FROM cleaned WHERE token_count >= 20
    )
"""


@query(
    "pipeline_clean_corpus",
    oracle=_CLEAN_CTE
    + """
    SELECT g.lang, g.source,
           COUNT(*) AS n_docs,
           CAST(ROUND(AVG(g.token_count), 4) AS DOUBLE) AS avg_tokens,
           CAST(ROUND(AVG(g.n_chars), 4) AS DOUBLE) AS avg_chars,
           COUNT(e.vec_id) AS n_embedded
    FROM gated g
    LEFT JOIN embeddings e ON g.doc_id = e.vec_id
    GROUP BY g.lang, g.source
    """,
)
def q_pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus-cleaning pipeline: dedup → lang allowlist → quality
    gate → embedding coverage join → per-(lang, source) stats."""
    t = load_tables(spark, sf_dir)
    cleaned = clean_corpus(t["documents"])
    emb = t["embeddings"].select(F.col("vec_id"))
    return (
        cleaned.join(emb, cleaned.doc_id == emb.vec_id, "left")
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("token_count"), 4).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.count("vec_id").alias("n_embedded"),
        )
    )


@query(
    "pipeline_dedup_rate",
    oracle=_CLEAN_CTE
    + """
    SELECT d.lang,
           COUNT(*) AS n_raw,
           (SELECT COUNT(*) FROM gated g WHERE g.lang = d.lang) AS n_kept,
           CAST(ROUND(1.0 - (SELECT COUNT(*) FROM gated g
                             WHERE g.lang = d.lang) * 1.0 / COUNT(*), 4)
                AS DOUBLE) AS drop_rate
    FROM documents d
    WHERE d.lang IN ('de', 'en', 'fr')
    GROUP BY d.lang
    """,
)
def q_pipeline_dedup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline yield accounting per language: raw docs in, docs kept
    after dedup+quality, drop rate — the health metric every corpus
    run reports."""
    t = load_tables(spark, sf_dir)
    raw = (
        t["documents"]
        .filter(F.col("lang").isin(*KEEP_LANGS))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_raw"))
    )
    kept = clean_corpus(t["documents"]).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept")
    )
    return raw.join(kept, "lang", "left").select(
        "lang",
        "n_raw",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.round(1.0 - F.coalesce("n_kept", F.lit(0)) / F.col("n_raw"), 4).alias(
            "drop_rate"
        ),
    )


def _content_split() -> Column:
    """The deterministic content-hash split of a document's ``text``:
    'train' / 'val' / 'test' by the first sha256 hex nibble (0-b / c-d /
    e-f, ≈75/12.5/12.5).  A pure function of content, so it is stable
    across reruns, cluster sizes and partitionings, and a re-ingested
    duplicate always lands in the same split."""
    nibble = F.substring(F.sha2(F.col("text"), 256), 1, 1)
    return (
        F.when(nibble.between("0", "b"), "train")
        .when(nibble.isin("c", "d"), "val")
        .otherwise("test")
    )


@query(
    "pipeline_train_split",
    oracle="""
    WITH tagged AS (
        SELECT lang, n_chars,
               CASE WHEN substr(sha256(text), 1, 1) BETWEEN '0' AND 'b'
                    THEN 'train'
                    WHEN substr(sha256(text), 1, 1) IN ('c', 'd')
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT lang, split,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars
    FROM tagged
    GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def q_pipeline_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/val/test split
    (:func:`_content_split`), summarized per (lang, split).

    No RNG and no seed coordination across executors, so re-crawled
    duplicates cannot leak from train into test.  The hash is computed
    scan-side and aggregates map-side; nothing shuffles except the tiny
    (lang, split) rollup.
    """
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select("lang", "n_chars", _content_split().alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang", "split")
    )


@query(
    "pipeline_pack_sequences",
    oracle="""
    WITH d AS (
        SELECT lang, doc_id, len(string_split(text, ' ')) AS tok
        FROM documents
    ), c AS (
        SELECT lang, doc_id, tok,
               SUM(tok) OVER (
                   PARTITION BY lang ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM d
    )
    SELECT lang,
           CAST(FLOOR((cum - tok) / 256.0) AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS total_tokens
    FROM c
    GROUP BY lang, seq_id
    ORDER BY lang, seq_id
    """,
)
def q_pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing for training batches: docs ordered by
    doc_id within each lang are packed into 256-token budget bins by
    running token count (a doc starts a new sequence when the budget
    would overflow at its START offset — the standard concat-and-split
    packing, deterministic given the sort key).

    One window (shuffle on lang) + one rollup that reuses the same
    partitioning.  At 100 TB the lang partition is the natural packing
    domain; a skewed mega-language would swap the partition key for
    (lang, shard) with the same plan shape.
    """
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window

    tok = F.size(F.split(F.col("text"), " ")).alias("tok")
    d = t["documents"].select("lang", "doc_id", tok)
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = d.withColumn("cum", F.sum("tok").over(w))
    return (
        c.select(
            "lang",
            F.floor((F.col("cum") - F.col("tok")) / F.lit(256.0))
            .cast("long")
            .alias("seq_id"),
            "tok",
        )
        .groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").cast("long").alias("total_tokens"),
        )
        .orderBy("lang", "seq_id")
    )


@query(
    "pipeline_contamination_check",
    oracle="""
    WITH tagged AS (
        SELECT doc_id, lang, lower(text) AS text,
               CASE WHEN substr(sha256(text), 1, 1) BETWEEN '0' AND 'b'
                    THEN 'train'
                    WHEN substr(sha256(text), 1, 1) IN ('c', 'd')
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), toks AS (
        SELECT doc_id, lang, split, string_split(text, ' ') AS words
        FROM tagged
    ), u AS (
        SELECT doc_id, lang, split, unnest(words) AS w,
               generate_subscripts(words, 1) AS pos
        FROM toks
    ), sh AS (
        SELECT DISTINCT doc_id, lang, split,
               w || ' ' || LEAD(w, 1) OVER win || ' '
                 || LEAD(w, 2) OVER win || ' ' || LEAD(w, 3) OVER win AS g
        FROM u WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ), shc AS (
        SELECT doc_id, lang, split, g FROM sh WHERE g IS NOT NULL
    ), hits AS (
        SELECT DISTINCT e.doc_id
        FROM shc e
        WHERE e.split = 'test' AND EXISTS (
            SELECT 1 FROM shc tr
            WHERE tr.split = 'train' AND tr.lang = e.lang AND tr.g = e.g
        )
    ), test_docs AS (
        SELECT lang, COUNT(*) AS n_test FROM tagged
        WHERE split = 'test' GROUP BY lang
    ), contaminated AS (
        SELECT t.lang, COUNT(*) AS n_contaminated
        FROM hits JOIN tagged t ON hits.doc_id = t.doc_id
        GROUP BY t.lang
    )
    SELECT test_docs.lang,
           CAST(n_test AS BIGINT) AS n_test,
           CAST(COALESCE(n_contaminated, 0) AS BIGINT) AS n_contaminated
    FROM test_docs LEFT JOIN contaminated
      ON test_docs.lang = contaminated.lang
    ORDER BY test_docs.lang
    """,
)
def q_pipeline_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test contamination audit: test-split documents sharing any
    4-gram (word shingle) with a same-language training document — the
    decontamination gate every eval set needs before a training run.

    Shape: shingle both splits once (scan-side explode), then a
    semi-join from test shingles into the train shingle set on
    (lang, gram).  The train side is CORPUS-sized and carries an
    explicit merge hint: the static planner broadcasts text-exploded
    sides off the compressed file estimate (see
    :func:`..dedup.ngram_jaccard_pairs`).  `hits` (the contaminated
    doc-id set) is CORPUS-PROPORTIONAL too — the test split is a fixed
    2/16 sha-nibble fraction of the corpus, and in a heavily-duplicated
    corpus every test doc can hit — so it carries the same merge hint.
    Only the genuinely bounded frame — the per-LANGUAGE `contaminated`
    aggregate, ≤ |languages| rows — is explicitly broadcast.
    (A bloom filter on train grams would cut the shuffle further.)
    Output is per-language counts, so nothing document-sized leaves
    the executors."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", "lang", _content_split().alias("split"), F.lower(F.col("text")).alias("text")
    )
    grams = docs.select(
        "doc_id",
        "lang",
        "split",
        F.explode(word_shingles(F.col("text"), k=4)).alias("g"),
    ).distinct()
    test_grams = grams.filter(F.col("split") == "test")
    train_grams = grams.filter(F.col("split") == "train").select(
        F.col("lang").alias("tr_lang"), F.col("g").alias("tr_g")
    )
    hits = (
        test_grams.join(
            train_grams.hint("merge"),
            (F.col("lang") == F.col("tr_lang")) & (F.col("g") == F.col("tr_g")),
            "left_semi",
        )
        .select("doc_id")
        .distinct()
    )
    test_docs = (
        docs.filter(F.col("split") == "test")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_test"))
    )
    contaminated = (
        docs.join(hits.hint("merge"), "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
        .withColumnRenamed("lang", "c_lang")
    )
    return (
        test_docs.join(
            F.broadcast(contaminated), test_docs.lang == F.col("c_lang"), "left"
        )
        .select(
            "lang",
            "n_test",
            F.coalesce("n_contaminated", F.lit(0)).cast("bigint").alias("n_contaminated"),
        )
        .orderBy("lang")
    )


@query(
    "pipeline_lang_rebalance",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY md5(text), doc_id
               ) AS BIGINT) AS rn
        FROM documents
    )
    SELECT doc_id, lang, rn FROM ranked WHERE rn <= 40
    ORDER BY lang, rn
    """,
)
def q_pipeline_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance a multilingual corpus by capping each language at 40
    docs, selected by CONTENT-HASH priority rather than rand() — the
    downsampling step that stops one dominant language from swamping a
    training mix.

    Hash-priority selection (order by md5(text)) is deterministic
    across cluster sizes, partitionings and reruns — the same property
    pipeline_train_split uses for splits — while still being
    effectively uniform.  One window per language; no sampling RNG, no
    driver coordination.  At 100 TB the row_number window only pays a
    shuffle on lang; a skew-prone lang key can be pre-capped with the
    salted-topk pattern from skew.py.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    w = Window.partitionBy("lang").orderBy(F.md5("text"), "doc_id")
    return (
        docs.select(
            "doc_id", "lang", F.row_number().over(w).cast("long").alias("rn")
        )
        .filter(F.col("rn") <= 40)
        .orderBy("lang", "rn")
    )


@query(
    "pipeline_token_budget",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, lang, n_tokens,
               CAST(SUM(n_tokens) OVER (
                   PARTITION BY lang ORDER BY doc_id
               ) AS BIGINT) AS cum_tokens
        FROM tok
    )
    SELECT doc_id, lang, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 3000
    ORDER BY lang, doc_id
    """,
)
def q_pipeline_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: admit documents per language (in
    stable doc_id order) until a 3k-token budget is exhausted — how a
    fixed-size training mix is actually drawn from an oversized pool.

    The cumulative sum is a running window (O(1) state); the budget
    predicate then prunes everything past the cut WITHOUT a second
    pass, because the running total is monotone.  Token counting stays
    scan-side (split + size — no UDF).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        docs.select("doc_id", "lang", n_tok.alias("n_tokens"))
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 3000)
        .orderBy("lang", "doc_id")
    )


@query(
    "pipeline_domain_mix",
    oracle="""
    WITH counts AS (
        SELECT lang, source, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY lang, source
    ), tot AS (
        SELECT lang, source, n_docs, n_tokens,
               CAST(SUM(n_docs) OVER (PARTITION BY lang) AS BIGINT)
                   AS lang_docs,
               CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT)
                   AS n_sources
        FROM counts
    )
    SELECT lang, source, n_docs, n_tokens,
           ROUND(CAST(n_docs AS DOUBLE) / lang_docs, 6) AS actual_share,
           ROUND(1.0 / n_sources, 6) AS target_share,
           ROUND(CAST(lang_docs AS DOUBLE) / n_sources / n_docs, 6)
               AS sample_weight
    FROM tot
    ORDER BY lang, source
    """,
)
def q_pipeline_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture audit: per (lang, source) doc/token counts, the
    source's actual share of its language, and the resampling weight
    that would equalize sources — the bookkeeping behind "reweight web
    vs books vs code" decisions.

    Two aggregation granularities (slice and language) come from ONE
    shuffle: the per-lang totals are windows over the already-tiny
    slice aggregate, not a second pass over the data.  Output is
    slices × languages rows at any input scale.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    counts = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum(n_tok).alias("n_tokens")
    )
    w_lang = Window.partitionBy("lang")
    lang_docs = F.sum("n_docs").over(w_lang)
    n_sources = F.count(F.lit(1)).over(w_lang)
    return counts.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs").cast("double") / lang_docs, 6).alias("actual_share"),
        F.round(1.0 / n_sources, 6).alias("target_share"),
        F.round(lang_docs.cast("double") / n_sources / F.col("n_docs"), 6).alias(
            "sample_weight"
        ),
    ).orderBy("lang", "source")


def _dedup_yield(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Per-lang dedup yield of near-dup ``pairs`` (id_a, id_b) over
    ``docs`` (doc_id, lang): connected components over the pair graph
    (transitivity merges (a,b),(b,c) into one group even though (a,c)
    never scored), keeper = the min-doc_id member of each component
    (singletons keep themselves), then n_docs / n_kept / n_removed /
    dup_rate per language.  Each document counts under its OWN lang, so
    sum(n_kept) + sum(n_removed) = corpus size even when a component
    spans languages."""
    lab = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
        docs.select(F.col("doc_id").alias("v")),
    )
    labeled = docs.select("doc_id", "lang").join(
        lab, docs.doc_id == lab.v
    ).select("doc_id", "lang", F.col("label").alias("component"))
    kept = F.sum(
        F.when(F.col("doc_id") == F.col("component"), 1).otherwise(0)
    )
    return (
        labeled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            kept.alias("n_kept"),
            (F.count(F.lit(1)) - kept).alias("n_removed"),
            F.round(
                (F.count(F.lit(1)) - kept) / F.count(F.lit(1)), 4
            ).alias("dup_rate"),
        )
        .orderBy("lang")
    )


@query("pipeline_fuzzy_dedup", tags=("rows-only",))  # LSH: xxhash64 absent in DuckDB
def q_pipeline_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END fuzzy dedup — the seam a real 100 TB corpus run
    exercises as ONE plan: MinHash-LSH candidate
    pairs (:func:`..dedup.minhash_lsh_pairs`, verified Jaccard ≥ 0.4)
    → connected components → min-id keepers → per-lang yield
    (:func:`_dedup_yield`).

    Rows-only: the LSH stage hashes with xxhash64, which DuckDB 1.0.0
    lacks (SURVEY §5.3.5 exclusion class) — but the result is fully
    DETERMINISTIC (fixed per-hash salts), and
    tests/test_properties.py::test_fuzzy_dedup_composite_matches_python_closure
    re-derives the entire composite from the collected pair list with
    an independent union-find and asserts exact equality.

    Scale posture: LSH banding is an equi-join on (band_id, band_hash)
    buckets — no O(n²) stage; the CC loop is the per-round-checkpointed
    group-min hash-to-min (O(log n) rounds, plan+stats cut each round);
    the final rollup is one shuffle on lang.  Each stage inherits the
    skew/AQE posture its module documents.
    """
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text", "lang")
    return _dedup_yield(docs, minhash_lsh_pairs(docs))


@query(
    "pipeline_fuzzy_dedup_exact",
    oracle="""
    WITH RECURSIVE t AS (
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
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM shl a JOIN shl b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS DOUBLE)
              / (len(a.shingles) + len(b.shingles)
                 - len(list_filter(a.shingles, x -> list_contains(b.shingles, x)))) >= 0.2
    ), edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(v, label) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.v
        WHERE r.label < e.dst
    ), comp AS (
        SELECT v AS doc_id, MIN(label) AS component FROM reach GROUP BY v
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN c.doc_id = c.component THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(CASE WHEN c.doc_id = c.component THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed,
           ROUND((COUNT(*) - SUM(CASE WHEN c.doc_id = c.component THEN 1 ELSE 0 END))
                 * 1.0 / COUNT(*), 4) AS dup_rate
    FROM documents d JOIN comp c ON d.doc_id = c.doc_id
    GROUP BY d.lang ORDER BY d.lang
    """,
)
def q_pipeline_fuzzy_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fuzzy-dedup composite seam at FULL ORACLE STRENGTH: identical
    pipeline shape to :func:`q_pipeline_fuzzy_dedup` (candidate pairs →
    connected components → min-id keepers → per-lang yield) but with
    the DuckDB-expressible candidate generator —
    :func:`..dedup.ngram_jaccard_pairs` (exact within-lang 3-shingle
    Jaccard ≥ 0.2, inverted-index join) — in place of minhash-LSH, so
    the ENTIRE composite (including the CC loop's per-round checkpoint
    contract and the keeper rollup) is hash-attested against a
    recursive-CTE closure, not just rows-only.  Together the twins
    cover the seam both ways: `pipeline_fuzzy_dedup` runs the true
    100 TB candidate generator (LSH) with a union-find twin in pytest;
    this query runs the oracle-able generator through the same
    downstream plan with driver-side value attestation.

    n-gram pairs are within-language by construction, so components
    never span langs and the per-lang attribution is exact."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text", "lang")
    return _dedup_yield(docs, ngram_jaccard_pairs(docs))


@query("pipeline_fuzzy_contamination", tags=("rows-only",))  # LSH: xxhash64
def q_pipeline_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP eval-contamination audit — the fuzzy complement of
    :func:`q_pipeline_contamination_check` (which catches exact shared
    4-grams): a test-split document is contaminated if it forms a
    VERIFIED MinHash-LSH near-dup pair (Jaccard ≥ 0.4) with any
    train-split document.  Exact-overlap checks miss lightly-edited
    eval leakage (reworded prompts, whitespace/punct variants); this is
    the check an LLM eval pipeline runs alongside the exact one.

    Same content split as the exact twin (:func:`_content_split`), so
    the two audits grade the same partition of the corpus.  Rows-only at the driver (LSH/xxhash64 —
    SURVEY §5.3.5);
    tests/test_properties.py::test_fuzzy_contamination_matches_python_twin
    re-derives the result from the collected pair list exactly.

    Scale posture: candidate generation is the bucketed LSH equi-join
    (never all-pairs); the split tags join each pair end by doc_id —
    corpus-sized sides, merge-hinted against the static planner's
    broadcast misestimate.  The per-lang rollup is one shuffle.
    """
    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text", "lang")
    tagged = docs.withColumn("split", _content_split())
    tags = tagged.select("doc_id", "split")
    # Each verified pair, both directions: (x, y) = x near-dups y.
    ends = both_ways(minhash_lsh_pairs(docs), "id_a", "id_b", "x", "y")
    hits = (
        ends.join(
            tags.hint("merge").select(F.col("doc_id").alias("x"), F.col("split").alias("sx")),
            "x",
        )
        .join(
            tags.hint("merge").select(F.col("doc_id").alias("y"), F.col("split").alias("sy")),
            "y",
        )
        .filter((F.col("sx") == "test") & (F.col("sy") == "train"))
        .select(F.col("x").alias("doc_id"))
        .distinct()
    )
    test_counts = (
        tagged.filter(F.col("split") == "test")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_test"))
    )
    contaminated = (
        hits.join(tagged.hint("merge").select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        test_counts.join(contaminated, "lang", "left")
        .select(
            "lang",
            "n_test",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
        )
        .orderBy("lang")
    )


@query(
    "pipeline_incremental_dedup",
    oracle="""
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
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM shl a JOIN shl b ON a.lang = b.lang AND a.doc_id < b.doc_id
        WHERE CAST(len(list_filter(a.shingles, x -> list_contains(b.shingles, x))) AS DOUBLE)
              / (len(a.shingles) + len(b.shingles)
                 - len(list_filter(a.shingles, x -> list_contains(b.shingles, x)))) >= 0.2
    ), newdocs AS (
        SELECT doc_id, lang FROM documents WHERE source IN ('src18', 'src19')
    ), olddocs AS (
        SELECT doc_id FROM documents WHERE source NOT IN ('src18', 'src19')
    ), rejected AS (
        SELECT DISTINCT e.x AS doc_id FROM (
            SELECT id_a AS x, id_b AS y FROM pairs
            UNION ALL
            SELECT id_b AS x, id_a AS y FROM pairs
        ) e
        JOIN newdocs n ON e.x = n.doc_id
        JOIN olddocs o ON e.y = o.doc_id
    )
    SELECT n.lang,
           COUNT(*) AS n_new,
           CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_rejected,
           CAST(SUM(CASE WHEN r.doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted
    FROM newdocs n LEFT JOIN rejected r ON n.doc_id = r.doc_id
    GROUP BY n.lang ORDER BY n.lang
    """,
)
def q_pipeline_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ingestion dedup — the daily-crawl-vs-historical-index
    shape every continuously-fed corpus runs: a NEW batch (sources
    src18/src19, the fixture's stand-in for today's crawl) is admitted
    only if no document in the EXISTING corpus (src0–17) is a same-lang
    near-duplicate (3-shingle Jaccard ≥ 0.2, the exact inverted-index
    join of :func:`..dedup.ngram_jaccard_pairs`).  Differs from
    within-corpus dedup (`pipeline_fuzzy_dedup*`): here the existing
    side is never mutated and new-vs-new duplicates are NOT rejected —
    admission is judged against the index alone, so the operator is
    idempotent per batch and needs no connected components.

    Fully oracled (hash strength): the pair generator is the
    DuckDB-expressible exact-Jaccard join, the membership split is a
    source predicate, and the rollup is per-lang
    (n_new / n_rejected / n_admitted).

    Scale posture: at 100 TB the existing side's shingle postings are
    the big relation — the inverted-index equi-join on (lang, shingle)
    bounds candidates by shingle document-frequency (never all-pairs),
    the same shape ngram_jaccard_pairs documents; a production variant
    would swap in the LSH generator exactly as the fuzzy twins do.
    Side membership joins are corpus-sized → merge-hinted.
    """
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    is_new = F.col("source").isin("src18", "src19")
    pairs = ngram_jaccard_pairs(docs.select("doc_id", "text", "lang"))
    membership = docs.select("doc_id", is_new.alias("is_new"))
    ends = both_ways(pairs, "id_a", "id_b", "x", "y")
    rejected = (
        ends.join(
            membership.hint("merge").select(
                F.col("doc_id").alias("x"), F.col("is_new").alias("x_new")
            ),
            "x",
        )
        .join(
            membership.hint("merge").select(
                F.col("doc_id").alias("y"), F.col("is_new").alias("y_new")
            ),
            "y",
        )
        .filter(F.col("x_new") & ~F.col("y_new"))
        .select(F.col("x").alias("doc_id"))
        .distinct()
        .withColumn("rejected", F.lit(True))
    )
    new_docs = docs.filter(is_new).select("doc_id", "lang")
    return (
        new_docs.join(rejected.hint("merge"), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.sum(F.when(F.col("rejected"), 1).otherwise(0)).alias("n_rejected"),
            F.sum(F.when(F.col("rejected").isNull(), 1).otherwise(0)).alias(
                "n_admitted"
            ),
        )
        .orderBy("lang")
    )
