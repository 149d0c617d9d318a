"""Text analysis (SURVEY.md §2.13 + the LLM-pipeline text ops).

Capability parity: reference text surface (snapshot empty — SURVEY.md
§0.1) plus the training-data-pipeline operators: language-ID heuristic,
quality scoring, token counting, document fingerprinting.

Scale posture: everything is built-in `F.*` string/array expressions —
JVM-side, whole-stage-codegen, no Python in the hot path.  Tokenize→
explode→aggregate shuffles only (token, count) pairs after map-side
partial aggregation; per-document scores are embarrassingly parallel
projections (zero shuffles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyspark_analytics_library_spark.functions.coercion import ensure_column
from pyspark_analytics_library_spark.registry import query
from pyspark_analytics_library_spark.sources.io import load_tables


def tokenize(text: str | Column = "text") -> Column:
    """Lowercased whitespace tokens (empty tokens dropped)."""
    return F.filter(F.split(F.lower(ensure_column(text)), " "), lambda w: w != "")


@query(
    "text_wordcount",
    oracle="""
    SELECT word, COUNT(*) AS cnt
    FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
    )
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word ASC
    LIMIT 20
    """,
)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 words with (count, word) total tie-break order."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(F.explode(tokenize()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(20)
    )


@query(
    "text_lang_stats",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def q_text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "text_length_hist",
    oracle="""
    SELECT lang,
           CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_bucket,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY lang, len_bucket
    """,
)
def q_text_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (100-char buckets) per language."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("lang", F.floor(F.col("n_chars") / 100.0).alias("len_bucket"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "text_tfidf",
    oracle="""
    WITH tokens AS (
        SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
    ), tf AS (
        SELECT lang, word, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM tokens WHERE word <> '' GROUP BY lang, word
    ), n AS (
        SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
    ), scored AS (
        SELECT tf.lang, word,
               ROUND(tf * LN((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.lang
                   ORDER BY tf * LN((n_docs + 1.0) / (df + 1.0)) DESC, word ASC
               ) AS rn
        FROM tf JOIN n ON tf.lang = n.lang
    )
    SELECT lang, word, tfidf, rn FROM scored WHERE rn <= 5
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language, pure DataFrame algebra (no
    ml.feature — identical arithmetic must run on both engines).
    tf = corpus term count per lang; idf = ln((N+1)/(df+1)).

    Two-phase top-k: a single window partitioned by lang funnels the
    whole vocab-sized score table into ≤ |langs| sort tasks — a
    guaranteed straggler at a 100 TB vocabulary (at a 500 k-doc probe
    the two-phase cost is noise: 32.1 s vs 33.7 s).  Phase 1 ranks
    within (lang,
    32-way word-hash salt) — ~32× parallel — and keeps each bucket's
    top-5; phase 2 ranks the ≤ 160 survivors per lang.  LOSSLESS:
    (score desc, word asc) is a total order and every global-top-5 row
    is necessarily in its own bucket's top-5, so the final rn over
    survivors equals the rn over the full table.  The per-lang doc
    counts stay an explicit broadcast (|langs| rows)."""
    t = load_tables(spark, sf_dir)
    tokens = t["documents"].select(
        "doc_id", "lang", F.explode(tokenize()).alias("word")
    )
    # df spelled distinct-then-count, NOT countDistinct(doc_id): a
    # stopword-class word appears in ~every document, and
    # countDistinct's per-task partial state — the distinct doc_id SET
    # per (lang, word) group — is the one aggregation state map-side
    # combine cannot collapse (see agg_distinct_skew).  distinct()
    # shuffles on all three columns, so a hot word spreads across every
    # reducer and no task ever materializes a corpus-sized doc set.
    # Costs one extra vocab-sized join vs the fused two-agg groupBy —
    # noise at a 500 k-doc probe.
    tf_only = tokens.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("tf"))
    df_only = (
        tokens.distinct()
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    tf = tf_only.join(df_only.hint("merge"), ["lang", "word"])
    n = t["documents"].groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
    w_salted = Window.partitionBy(
        "lang", F.pmod(F.xxhash64(F.col("word")), F.lit(32))
    ).orderBy(score.desc(), F.col("word").asc())
    w = Window.partitionBy("lang").orderBy(score.desc(), F.col("word").asc())
    return (
        tf.join(F.broadcast(n), "lang")
        .withColumn("_bucket_rn", F.row_number().over(w_salted))
        .filter(F.col("_bucket_rn") <= 5)
        .select(
            "lang",
            "word",
            F.round(score, 4).alias("tfidf"),
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 5)
    )


@query(
    "text_ngrams",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
    ), u AS (
        SELECT doc_id, unnest(words) AS word, generate_subscripts(words, 1) AS pos
        FROM t
    ), b AS (
        SELECT word || ' ' || LEAD(word) OVER (
            PARTITION BY doc_id ORDER BY pos) AS bigram
        FROM u
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM b WHERE bigram IS NOT NULL
    GROUP BY bigram
    ORDER BY cnt DESC, bigram ASC
    LIMIT 20
    """,
)
def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 bigrams.  Spark side builds bigrams array-natively with
    zip_with over shifted slices — no window, no shuffle until the
    count; the oracle uses the LEAD-over-unnest formulation."""
    t = load_tables(spark, sf_dir)
    words = F.split(F.lower(F.col("text")), " ")
    bigrams = F.zip_with(
        F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        t["documents"]
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "text_regex_extract",
    oracle="""
    SELECT token, COUNT(*) AS cnt
    FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]{7,}')) AS token
        FROM documents
    )
    GROUP BY token
    ORDER BY cnt DESC, token ASC
    LIMIT 20
    """,
)
def q_text_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern mining: all runs of ≥7 letters, counted corpus-wide."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .select(
            F.explode(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]{7,}"), 0)).alias(
                "token"
            )
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(20)
    )


_SEARCH_TERMS = ["spark", "join", "filter"]


@query(
    "text_search",
    oracle=f"""
    SELECT doc_id, lang, n_hits
    FROM (
        SELECT doc_id, lang,
               len(list_filter(list_distinct(string_split(lower(text), ' ')),
                               x -> list_contains({_SEARCH_TERMS!r}, x))) AS n_hits
        FROM documents
    )
    WHERE n_hits > 0
    """,
)
def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search: number of distinct query terms present per doc
    (a containment-relevance score).  Embarrassingly parallel — no
    shuffle; at 100 TB this is a pure scan+project."""
    t = load_tables(spark, sf_dir)
    n_hits = F.size(
        F.array_intersect(
            F.array_distinct(tokenize()),
            F.array(*[F.lit(s) for s in _SEARCH_TERMS]),
        )
    )
    return (
        t["documents"]
        .select("doc_id", "lang", n_hits.alias("n_hits"))
        .filter(F.col("n_hits") > 0)
    )


# ---------------------------------------------------------------------------
# LLM-pipeline text ops: language-ID, quality score, token counts, fingerprint
# ---------------------------------------------------------------------------

#: Marker-word lists for the n-gram language heuristic.  With the
#: synthetic analytics vocabulary most docs score 0 for every language
#: and fall back to 'und' — the *mechanism* (per-language evidence
#: counts + deterministic argmax) is what parity-checks.
_LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
    "zh": ["de", "shi", "le"],
}


@query(
    "text_lang_id",
    oracle="""
    WITH scores AS (
        SELECT doc_id, lang AS true_lang,
               len(list_filter(string_split(lower(text), ' '),
                               x -> list_contains(['the','and','of'], x))) AS s_en,
               len(list_filter(string_split(lower(text), ' '),
                               x -> list_contains(['der','und','die'], x))) AS s_de,
               len(list_filter(string_split(lower(text), ' '),
                               x -> list_contains(['le','et','les'], x))) AS s_fr,
               len(list_filter(string_split(lower(text), ' '),
                               x -> list_contains(['el','y','los'], x))) AS s_es,
               len(list_filter(string_split(lower(text), ' '),
                               x -> list_contains(['de','shi','le'], x))) AS s_zh
        FROM documents
    )
    SELECT doc_id, true_lang,
           CASE
               WHEN GREATEST(s_en, s_de, s_fr, s_es, s_zh) = 0 THEN 'und'
               WHEN s_en >= GREATEST(s_de, s_fr, s_es, s_zh) THEN 'en'
               WHEN s_de >= GREATEST(s_fr, s_es, s_zh) THEN 'de'
               WHEN s_fr >= GREATEST(s_es, s_zh) THEN 'fr'
               WHEN s_es >= s_zh THEN 'es'
               ELSE 'zh'
           END AS pred_lang
    FROM scores
    """,
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: count marker-word hits per language and
    take a deterministic argmax (fixed precedence on ties, 'und' when
    no evidence)."""
    t = load_tables(spark, sf_dir)
    toks = F.split(F.lower(F.col("text")), " ")

    def score(markers: list[str]) -> Column:
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    df = t["documents"].select(
        "doc_id",
        F.col("lang").alias("true_lang"),
        score(_LANG_MARKERS["en"]).alias("s_en"),
        score(_LANG_MARKERS["de"]).alias("s_de"),
        score(_LANG_MARKERS["fr"]).alias("s_fr"),
        score(_LANG_MARKERS["es"]).alias("s_es"),
        score(_LANG_MARKERS["zh"]).alias("s_zh"),
    )
    best = F.greatest("s_en", "s_de", "s_fr", "s_es", "s_zh")
    pred = (
        F.when(best == 0, "und")
        .when(F.col("s_en") >= F.greatest("s_de", "s_fr", "s_es", "s_zh"), "en")
        .when(F.col("s_de") >= F.greatest("s_fr", "s_es", "s_zh"), "de")
        .when(F.col("s_fr") >= F.greatest("s_es", "s_zh"), "fr")
        .when(F.col("s_es") >= F.col("s_zh"), "es")
        .otherwise("zh")
    )
    return df.select("doc_id", "true_lang", pred.alias("pred_lang"))


@query(
    "text_quality_score",
    oracle="""
    SELECT doc_id,
           n_words,
           ROUND(avg_word_len, 4) AS avg_word_len,
           ROUND(stop_ratio, 4) AS stop_ratio,
           -- Compose the score from ROUNDED components and do NOT
           -- round the composition: the inputs are on a decimal grid,
           -- so both engines combine bit-identical doubles and exact
           -- equality holds.  A final ROUND would sit exactly on .5
           -- boundaries where Spark (exact BigDecimal) and DuckDB
           -- (shortest-repr) legitimately disagree.
           0.4 * LEAST(n_chars / 500.0, 1.0)
                 + 0.3 * LEAST(ROUND(avg_word_len, 4) / 8.0, 1.0)
                 + 0.3 * ROUND(stop_ratio, 4) AS quality
    FROM (
        SELECT doc_id, n_chars,
               len(string_split(lower(text), ' ')) AS n_words,
               (n_chars - len(string_split(lower(text), ' ')) + 1.0)
                   / len(string_split(lower(text), ' ')) AS avg_word_len,
               len(list_filter(string_split(lower(text), ' '),
                   x -> list_contains(['the','a','and','of','to','in'], x)))
                   / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stop_ratio
        FROM documents
    )
    """,
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score: length, mean word length, stopword
    ratio — the standard pre-training corpus filters, as one scan."""
    t = load_tables(spark, sf_dir)
    words = F.split(F.lower(F.col("text")), " ")
    stop = F.array(*[F.lit(s) for s in ["the", "a", "and", "of", "to", "in"]])
    n_words = F.size(words)
    avg_word_len = (F.col("n_chars") - n_words + 1.0) / n_words
    stop_ratio = F.size(
        F.filter(words, lambda x: F.array_contains(stop, x))
    ) / n_words.cast("double")
    quality = (
        0.4 * F.least(F.col("n_chars") / 500.0, F.lit(1.0))
        + 0.3 * F.least(F.round(avg_word_len, 4) / 8.0, F.lit(1.0))
        + 0.3 * F.round(stop_ratio, 4)
    )
    return t["documents"].select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(avg_word_len, 4).alias("avg_word_len"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        quality.alias("quality"),
    )


@query(
    "text_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe_tokens,
           n_chars
    FROM documents
    """,
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish word/punct regex
    (the standard cheap token-count estimator)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\w+|[^\w\s]"), 0)).alias(
            "n_bpe_tokens"
        ),
        "n_chars",
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split(lower(text), ' '))), ' ')) AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: md5 over the sorted distinct
    token set — whitespace/word-order-invariant identity for dedup
    canopies (md5 hex matches across engines)."""
    t = load_tables(spark, sf_dir)
    # Unfiltered split on both sides (oracle parity: DuckDB side is the
    # raw string_split too).
    canon = F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.split(F.lower(F.col("text")), " ")))
    )
    return t["documents"].select("doc_id", F.md5(canon).alias("fingerprint"))


@query(
    "text_chunk",
    oracle="""
    WITH starts AS (
        SELECT doc_id, text,
               unnest(generate_series(1, CAST(n_chars AS INTEGER), 150))
                   AS chunk_start
        FROM documents
    )
    SELECT doc_id,
           CAST(chunk_start AS BIGINT) AS chunk_start,
           substring(text, CAST(chunk_start AS INTEGER), 200) AS chunk,
           length(substring(text, CAST(chunk_start AS INTEGER), 200))
               AS chunk_len
    FROM starts
    ORDER BY doc_id, chunk_start
    """,
)
def q_text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping character-window chunking (200-char windows, stride
    150 → 50-char overlap) — the context-window prep step of a training
    pipeline, as a pure explode: sequence(1, n_chars, 150) generates
    start offsets scan-side, substring slices each window.

    Scale: no shuffle at all — chunking is embarrassingly row-local,
    and the explode multiplies rows INSIDE the scan stage so a 100 TB
    corpus chunks at full scan parallelism.  1-based offsets match SQL
    substring semantics on both engines.  Empty documents (n_chars=0)
    are filtered out rather than guarded with greatest(n_chars,1):
    the guard would emit one empty chunk where the oracle's
    generate_series(1, 0, 150) emits no row.
    """
    t = load_tables(spark, sf_dir)
    starts = F.sequence(F.lit(1), F.col("n_chars").cast("int"), F.lit(150))
    chunk = F.substring(F.col("text"), F.col("chunk_start").cast("int"), F.lit(200))
    return (
        t["documents"]
        .filter(F.col("n_chars") >= 1)
        .select("doc_id", "text", F.explode(starts).alias("chunk_start"))
        .select(
            "doc_id",
            F.col("chunk_start").cast("long").alias("chunk_start"),
            chunk.alias("chunk"),
            F.length(chunk).cast("long").alias("chunk_len"),
        )
        .orderBy("doc_id", "chunk_start")
    )


@query(
    "text_normalize",
    oracle=r"""
    WITH n AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[!-/:-@\[-`{-~]', ' ', 'g'),
                   ' +', ' ', 'g')) AS norm
        FROM documents
    )
    SELECT doc_id, length(norm) AS norm_chars, md5(norm) AS norm_fingerprint
    FROM n ORDER BY doc_id
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — lowercase, strip ASCII
    punctuation, collapse whitespace — fingerprinted with md5; the
    pre-pass that makes exact dedup catch trivially-reformatted
    copies.

    Pure scan-side string algebra (two regexp_replace + trim + md5),
    zero shuffles, whole-stage codegen.  The punctuation class is
    spelled as explicit ASCII ranges ([!-/:-@[-`{-~]) because POSIX
    class names ([:punct:]) bind differently across regex engines;
    explicit ranges mean Java regex (Spark) and RE2 (DuckDB) agree
    byte-for-byte, which the md5 fingerprint then proves per row.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[!-/:-@\\[-`{-~]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        F.length(norm).cast("long").alias("norm_chars"),
        F.md5(norm).alias("norm_fingerprint"),
    ).orderBy("doc_id")


@query(
    "text_unigram_logprob",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ), freq AS (
        SELECT w, COUNT(*) AS c FROM words GROUP BY w
    ), tot AS (
        SELECT CAST(SUM(c) AS DOUBLE) AS n FROM freq
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           ROUND(AVG(-LN(c / n)), 4) AS avg_nll
    FROM words JOIN freq USING (w) CROSS JOIN tot
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: every document's mean negative
    log-probability under the corpus's own unigram distribution — the
    classic perplexity-flavored quality signal (gibberish and
    boilerplate both land far from the corpus mean).

    Two aggregates and one join, all on the token stream: corpus
    frequencies (vocab-sized), then a token→frequency equi-join that
    Catalyst broadcasts when the vocabulary is small — at web scale
    the vocab side stays millions of rows (words, not documents), so
    it remains the broadcast/bucket side while the token stream never
    re-shuffles.  ln() is evaluated on identical c/n doubles on both
    engines; round(4) absorbs libm ulps.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    )
    freq = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").cast("double").alias("n"))
    return (
        words.join(freq.hint("merge"), "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") / F.col("n"))), 4).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


@query(
    "text_repetition",
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents
    ), per_word AS (
        SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY doc_id, word
    ), agg AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_words,
               CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
               CAST(MAX(c) AS BIGINT) AS top_word_count
        FROM per_word GROUP BY doc_id
    )
    SELECT doc_id, n_words, n_distinct_words,
           ROUND(1.0 - CAST(n_distinct_words AS DOUBLE) / n_words, 4)
               AS dup_word_frac,
           ROUND(CAST(top_word_count AS DOUBLE) / n_words, 4)
               AS top_word_frac
    FROM agg ORDER BY doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics — the Gopher-style quality
    rules that catch boilerplate and degenerate generations:
    duplicate-word fraction (1 − distinct/total) and most-frequent-word
    fraction.  High values on either flag templated or looping text
    that per-doc length/punctuation scores (text_quality_score) miss.

    Shape: explode → (doc_id, word) count → (doc_id) rollup.  Both
    aggregations get map-side partial combine; the second runs on
    per-word counts (≤ distinct words per doc), not raw tokens.  At
    corpus scale this is the same 2-shuffle profile as text_wordcount
    and never materializes a per-doc vocabulary wider than the doc
    itself.  Empty docs: split('') yields one empty-string token on
    both engines, so n_words ≥ 1 and no division guard is needed.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    words = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), " ")).alias("word")
    )
    per_word = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_word.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max("c").alias("top_word_count"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_distinct_words",
            F.round(
                1.0 - F.col("n_distinct_words").cast("double") / F.col("n_words"), 4
            ).alias("dup_word_frac"),
            F.round(
                F.col("top_word_count").cast("double") / F.col("n_words"), 4
            ).alias("top_word_frac"),
        )
        .orderBy("doc_id")
    )
