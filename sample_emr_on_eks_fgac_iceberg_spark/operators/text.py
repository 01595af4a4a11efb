"""Text-analysis operators over the `documents` corpus (north-star
surface, SURVEY.md §2.B "Text analysis"): token counting (whitespace +
BPE-ish regex), language-ID (marker-lexicon heuristic), quality
scoring, and content fingerprinting.

Everything is built-in `pyspark.sql.functions` (JVM-side, codegen-able
— no Python UDFs in these paths), so at 100 TB these run as plain
scans + narrow projections; lang-ID adds one broadcast join against a
tiny lexicon and one per-doc aggregation.

Token normalization is shared with operators/dedup.py: lowercase, trim,
split on runs of whitespace.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sample_emr_on_eks_fgac_iceberg_spark.operators.registry import register
from sample_emr_on_eks_fgac_iceberg_spark.sources.tables import (
    fan_out,
    load_table,
    materialize_once,
)

TOKEN_SPLIT = r"\s+"
BPE_ISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
LANG_LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "los", "y", "que", "es"),
    "fr": ("le", "les", "et", "que", "est"),
    "zh": ("的", "是", "在", "和", "了"),
}

EN_STOPWORDS = ("the", "a", "an", "and", "of", "to", "is", "in", "it", "that")


def _tokens(col):
    return F.split(F.trim(F.lower(col)), TOKEN_SPLIT)


@register(
    "text_token_counts",
    oracle=r"""
    SELECT doc_id, n_chars,
           len(string_split_regex(trim(lower(text)), '\s+')) AS n_ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + a BPE-ish regex tokenization count
    (letters / digit runs / single punctuation, the common pre-tokenizer
    shape for LLM data pipelines)."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    return d.select(
        "doc_id",
        "n_chars",
        F.size(_tokens(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH), 0)).alias("n_bpe_tokens"),
    )


@register(
    "text_quality_scores",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, n_chars,
               string_split_regex(trim(lower(text)), '\s+') AS toks,
               length(regexp_replace(text, '\s', '', 'g')) AS n_nonspace,
               length(regexp_replace(text, '[^.!?,;]', '', 'g')) AS n_punct
        FROM documents)
    SELECT doc_id,
           len(toks) AS n_tokens,
           CAST(n_nonspace AS DOUBLE) / len(toks) AS avg_token_len,
           CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
           CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','of','to','is','in','it','that'))) AS DOUBLE)
               / len(toks) AS stopword_ratio
    FROM t
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality signals (length / punctuation / stopword
    ratios) — per-row arithmetic only, fully codegen'd."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = _tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_nonspace = F.length(F.regexp_replace("text", r"\s", ""))
    n_punct = F.length(F.regexp_replace("text", r"[^.!?,;]", ""))
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (n_nonspace.cast("double") / n_tokens).alias("avg_token_len"),
        (n_punct.cast("double") / F.col("n_chars")).alias("punct_ratio"),
        (n_stop.cast("double") / n_tokens).alias("stopword_ratio"),
    )


def _lexicon_values_sql() -> str:
    rows = ", ".join(
        f"('{lang}', '{w}')" for lang, words in sorted(LANG_LEXICON.items()) for w in words
    )
    return f"lex(pred_lang, word) AS (VALUES {rows})"


@register(
    "text_lang_id",
    oracle=rf"""
    WITH {_lexicon_values_sql()},
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        FROM documents),
    cnts AS (
        SELECT t.doc_id, l.pred_lang, COUNT(*) AS c
        FROM toks t JOIN lex l ON t.word = l.word
        GROUP BY t.doc_id, l.pred_lang),
    best AS (
        SELECT doc_id, pred_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, pred_lang) AS rn
        FROM cnts)
    SELECT d.doc_id, d.lang AS actual_lang,
           COALESCE(b.pred_lang, 'und') AS predicted_lang
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID: explode tokens, broadcast-join the
    lexicon, argmax matches per doc (ties broken lexicographically),
    'und' when no marker hits."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    lex = d.sparkSession.createDataFrame(
        [(lang, w) for lang, words in sorted(LANG_LEXICON.items()) for w in words],
        "pred_lang string, word string",
    )
    toks = d.select("doc_id", F.explode(_tokens(F.col("text"))).alias("word"))
    cnts = (
        toks.join(F.broadcast(lex), "word")
        .groupBy("doc_id", "pred_lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("pred_lang"))
    best = cnts.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        d.join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("lang").alias("actual_lang"),
            F.coalesce("pred_lang", F.lit("und")).alias("predicted_lang"),
        )
    )


@register(
    "text_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split_regex(trim(lower(text)), '\s+'))), ' ')) AS content_fingerprint,
           md5(substring(text, 1, 64)) AS prefix_hash
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content fingerprint (md5 of the sorted distinct
    token set) + a positional prefix hash — the cheap pre-filter pair
    for dedup pipelines."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = _tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "content_fingerprint"
        ),
        F.md5(F.substring("text", 1, 64)).alias("prefix_hash"),
    )


# Rabin-Karp parameters: B=31, M=1e15 keeps acc*B+c < 2^63 in int64.
_RH_BASE = 31
_RH_MOD = 10**15


@register(
    "text_rolling_hash",
    oracle=f"""
    WITH chars AS (
        SELECT doc_id,
               list_filter(string_split(text, ''), x -> x <> '') AS cs,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS toks
        FROM documents)
    SELECT doc_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(cs, x -> CAST(unicode(x) AS BIGINT))),
               (acc, c) -> (acc * {_RH_BASE} + c) % {_RH_MOD}) AS rolling_hash,
           list_min(list_transform(toks,
               t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                        list_transform(list_filter(string_split(t, ''), x -> x <> ''),
                                       x -> CAST(unicode(x) AS BIGINT))),
                        (acc, c) -> (acc * {_RH_BASE} + c) % {_RH_MOD})))
             AS min_token_hash
    FROM chars
    """,
)
def text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp document fingerprinting: a polynomial rolling hash
    over the full character sequence (h = h·B + c mod M — the update a
    sliding-window fingerprint extends one char at a time) plus the
    minimum per-token hash (the winnowing-style selector dedup
    pipelines keep as the doc's sketch). Pure int64 arithmetic, same
    B/M on both engines → bit-equal."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")

    def rolling(col):
        chars = F.filter(F.split(col, ""), lambda x: x != F.lit(""))
        return F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * _RH_BASE + F.ascii(x)) % _RH_MOD,
        )

    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    return d.select(
        "doc_id",
        rolling(F.col("text")).alias("rolling_hash"),
        F.array_min(F.transform(toks, rolling)).alias("min_token_hash"),
    )


_VOCAB_TOP_K = 50


@register(
    "text_vocab_topk",
    oracle=rf"""
    WITH words AS (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                  x -> x <> '')) AS word
        FROM documents),
    counts AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
    ranked AS (
        SELECT word, n,
               ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
        FROM counts)
    SELECT rank, word, n FROM ranked WHERE rank <= {_VOCAB_TOP_K}
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-K — the canonical distributed wordcount
    feeding tokenizer training / frequency-based filtering. Plan shape
    at 100 TB: explode → one hash-shuffled count with map-side partials
    (shuffle volume is per-partition distinct words, not tokens), then
    TakeOrderedAndProject for the bounded top-K — no global sort of the
    vocabulary. Tie-break on the word itself keeps the rank total and
    engine-independent."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    counts = (
        d.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # bounded top-K FIRST (TakeOrderedAndProject — per-partition heaps,
    # never a global sort of the vocabulary), then rank the K survivors
    # with a window that only ever sees K rows
    top = counts.orderBy(F.col("n").desc(), F.col("word")).limit(_VOCAB_TOP_K)
    w = Window.orderBy(F.col("n").desc(), F.col("word"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "word", "n"
    )


_BIGRAM_TOP_K = 5


@register(
    "bigram_topk_per_lang",
    oracle=rf"""
    WITH words AS (
        SELECT lang,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') AS w
        FROM documents),
    bg AS (
        SELECT lang, unnest(CASE WHEN len(w) >= 2
            THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
            ELSE []::VARCHAR[] END) AS bigram
        FROM words),
    counts AS (SELECT lang, bigram, COUNT(*) AS n FROM bg GROUP BY lang, bigram),
    ranked AS (
        SELECT lang, bigram, n,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram)
                   AS rank
        FROM counts)
    SELECT lang, rank, bigram, n FROM ranked WHERE rank <= {_BIGRAM_TOP_K}
    """,
)
def bigram_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-K bigrams (collocation mining — the n-gram
    statistics feeding tokenizer merges and contamination screens).
    Plan shape at 100 TB: bigrams are built per-document inside codegen
    (transform over the token array, no self-join of the corpus),
    then ONE hash-shuffled count with map-side partials — shuffle
    volume is distinct (lang, bigram) pairs, vocabulary-bounded, not
    token-count-bounded. The rank window sorts distinct bigrams within
    each language partition: post-aggregation data, orders of magnitude
    below corpus size. Tie-break on the bigram keeps ranks total."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    bigrams = F.expr(
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1])) "
        "ELSE array() END"
    )
    counts = (
        d.select("lang", toks.alias("w"))
        .select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Two-phase exact top-K to dodge the language-cardinality skew: a
    # window partitioned on lang alone has only |langs| partitions — at
    # 100 TB that is a handful of giant sorts. Phase 1 ranks within
    # (lang, salt-of-bigram) buckets (|langs|×16 partitions, each
    # vocabulary/16 rows) and keeps K per bucket — any global top-K row
    # is necessarily top-K in its bucket, so this loses nothing. Phase
    # 2's per-lang window then sees at most 16K candidate rows.
    salt = (F.crc32(F.col("bigram")) % 16).alias("salt")
    local_w = Window.partitionBy("lang", "salt").orderBy(
        F.col("n").desc(), F.col("bigram")
    )
    cand = (
        counts.select("lang", "bigram", "n", salt)
        .withColumn("lr", F.row_number().over(local_w))
        .filter(F.col("lr") <= _BIGRAM_TOP_K)
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BIGRAM_TOP_K)
        .select("lang", "rank", "bigram", "n")
    )


_WINNOW_W = 4


@register(
    "winnowing_fingerprint",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                           x -> x <> '') AS w
        FROM documents),
    hashed AS (
        SELECT doc_id,
               list_transform(w, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
                   list_transform(list_filter(string_split(t, ''), x -> x <> ''),
                                  x -> CAST(unicode(x) AS BIGINT))),
                   (acc, c) -> (acc * {_RH_BASE} + c) % {_RH_MOD})) AS hs
        FROM toks),
    winnowed AS (
        SELECT doc_id,
               CASE WHEN len(hs) <= {_WINNOW_W} THEN [list_min(hs)]
                    ELSE list_distinct(list_transform(
                        range(1, len(hs) - {_WINNOW_W} + 2),
                        j -> list_min(list_slice(hs, j, j + {_WINNOW_W} - 1))))
               END AS fps
        FROM hashed)
    SELECT doc_id,
           len(fps) AS n_fingerprints,
           md5(array_to_string(list_sort(fps), ',')) AS fingerprint_digest
    FROM winnowed
    """,
)
def winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    selector): hash every token (Rabin-Karp, same B/M as
    `text_rolling_hash`), slide a window of W consecutive hashes, keep
    each window's minimum — the guarantee is every shared substring of
    length >= W tokens yields at least one common fingerprint, at ~2/(W+1)
    the density of the full hash sequence. The digest of the selected
    set is the doc's plagiarism/near-dup sketch.

    Plan shape at 100 TB: everything is per-row array arithmetic inside
    codegen (transform over an index sequence; no explode, no shuffle) —
    a narrow projection over the corpus scan. Integer hashes → bit-equal
    across engines."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))

    def rolling(col):
        chars = F.filter(F.split(col, ""), lambda x: x != F.lit(""))
        return F.aggregate(
            chars,
            F.lit(0).cast("long"),
            lambda acc, x: (acc * _RH_BASE + F.ascii(x)) % _RH_MOD,
        )

    hs = F.transform(toks, rolling)
    d = d.select("doc_id", hs.alias("hs"))
    w = _WINNOW_W
    windowed = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("hs") - w),
            lambda j: F.array_min(F.slice(F.col("hs"), j + 1, w)),
        )
    )
    fps = F.when(F.size("hs") <= w, F.array(F.array_min("hs"))).otherwise(windowed)
    d = d.select("doc_id", fps.alias("fps"))
    return d.select(
        "doc_id",
        F.size("fps").alias("n_fingerprints"),
        F.md5(F.array_join(F.array_sort("fps"), ",")).alias("fingerprint_digest"),
    )


@register(
    "doc_ngram_novelty",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') AS w
        FROM documents),
    grams AS (
        SELECT doc_id, unnest(CASE WHEN len(w) >= 3
            THEN list_transform(range(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
            ELSE []::VARCHAR[] END) AS gram
        FROM toks),
    first_seen AS (SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram)
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS novelty_ratio
    FROM grams g JOIN first_seen f USING (gram)
    GROUP BY g.doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 3-gram novelty: the fraction of a doc's trigrams
    whose first corpus appearance (by doc_id, a stand-in for ingestion
    order) is the doc itself — the incremental-information signal
    crawl-curation pipelines use to drop boilerplate-heavy late
    duplicates while keeping first occurrences.

    Plan shape at 100 TB: trigrams are built per-row inside codegen
    (transform over the token array), then TWO hash shuffles on the
    gram key — the min(doc_id) aggregation and the gram-keyed join back
    — followed by one doc_id aggregation. Both gram-keyed exchanges
    share the same partitioning, so AQE plans the join without a third
    shuffle. Grams are occurrence-bounded, never an all-pairs blowup."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    trigrams = F.expr(
        "CASE WHEN size(w) >= 3 THEN "
        "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2])) "
        "ELSE array() END"
    )
    grams = d.select("doc_id", toks.alias("w")).select(
        "doc_id", F.explode(trigrams).alias("gram")
    )
    first_seen = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("int")
    return (
        grams.join(first_seen, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            (F.sum(novel).cast("double") / F.count(F.lit(1))).alias("novelty_ratio"),
        )
    )


_TFIDF_TOP_K = 3


@register(
    "tfidf_top_terms",
    oracle=rf"""
    WITH words AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                  x -> x <> '')) AS word
        FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY word),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word, tf.tf, df.df,
               CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
        FROM tf JOIN df USING (word) CROSS JOIN n),
    ranked AS (
        SELECT doc_id, word, tf, df, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, word) AS rank
        FROM scored)
    SELECT doc_id, rank, word, tf, df, score
    FROM ranked WHERE rank <= {_TFIDF_TOP_K}
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-K terms by TF-IDF with a *linear* inverse
    document frequency (score = tf · N / df). The usual log-idf ranks
    identically for fixed tf (log is monotone) but ln() is not
    correctly-rounded IEEE and would differ in final ulps across
    engines (registry.py determinism rules); tf·N is exact int64 and
    one division is deterministic, so the hashed score is bit-equal.

    Plan shape at 100 TB: one corpus explode feeding two aggregations —
    (doc, word) term frequencies and per-word document frequencies (the
    df agg reuses the tf output: df = count of (doc,word) rows per
    word, no second corpus pass, no count-distinct shuffle). The
    doc-count scalar joins in as a broadcast single row; the rank
    window partitions on doc_id (millions of small partitions, no
    skew)."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    words = d.select("doc_id", F.explode(toks).alias("word"))
    # barrier: tf feeds both the scored join and the df aggregation —
    # without it Catalyst duplicates the subplan and the corpus is
    # exploded twice (sources/tables.py::materialize_once)
    tf = materialize_once(
        words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    )
    # df from tf, not from the corpus: each (doc, word) row appears once
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("word"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_TOP_K)
        .select("doc_id", "rank", "word", "tf", "df", "score")
    )


_RARITY_VOCAB = 100


@register(
    "quality_unigram_rarity",
    oracle=rf"""
    WITH words AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                  x -> x <> '')) AS word
        FROM documents),
    counts AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
    vocab AS (
        SELECT word, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
        FROM counts QUALIFY rank <= {_RARITY_VOCAB}),
    scored AS (
        SELECT w.doc_id, coalesce(v.rank, {_RARITY_VOCAB + 1}) AS r
        FROM words w LEFT JOIN vocab v USING (word))
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN r > {_RARITY_VOCAB} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(SUM(r) AS BIGINT) AS sum_rank,
           CAST(SUM(r) AS DOUBLE) / COUNT(*) AS mean_rank
    FROM scored GROUP BY doc_id
    """,
)
def quality_unigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-LM quality proxy without the float hazard:
    rank every token against the corpus's top-V unigram vocabulary
    (OOV → V+1) and score each document by mean token rank — rare-word
    soup scores high, common prose scores low. Integer ranks keep the
    score engine-exact (a log-prob variant differs in libm ulps across
    engines); the single float is one sum/count division.

    Plan shape at 100 TB: two passes over the corpus (the standard LM
    scoring shape) — pass 1 is the vocabulary count (map-side partials,
    shuffle volume = distinct words) with a bounded
    TakeOrderedAndProject top-V; pass 2 re-explodes and joins against
    the BROADCAST vocabulary (V rows), then one hash agg on doc_id.
    No corpus-sized shuffle except the per-doc aggregation itself."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    words = d.select("doc_id", F.explode(toks).alias("word"))
    counts = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    top = counts.orderBy(F.col("n").desc(), F.col("word")).limit(_RARITY_VOCAB)
    w = Window.orderBy(F.col("n").desc(), F.col("word"))
    vocab = top.withColumn("rank", F.row_number().over(w)).select("word", "rank")
    scored = words.join(F.broadcast(vocab), "word", "left").select(
        "doc_id",
        F.coalesce(F.col("rank"), F.lit(_RARITY_VOCAB + 1)).alias("r"),
        F.col("rank").isNull().cast("int").alias("oov"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("oov").cast("bigint").alias("n_oov"),
        F.sum("r").cast("bigint").alias("sum_rank"),
        (F.sum("r").cast("double") / F.count(F.lit(1))).alias("mean_rank"),
    )


_BPE_TOP_K = 30


@register(
    "bpe_merge_candidates",
    oracle=rf"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                  x -> x <> '')) AS w
        FROM documents),
    chars AS (
        SELECT w, list_filter(string_split(w, ''), x -> x <> '') AS cs
        FROM toks),
    pairs AS (
        SELECT unnest(CASE WHEN len(cs) >= 2
            THEN list_transform(range(1, len(cs)), i -> cs[i] || cs[i+1])
            ELSE []::VARCHAR[] END) AS pair
        FROM chars),
    counts AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair),
    ranked AS (
        SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rank
        FROM counts)
    SELECT rank, pair, n FROM ranked WHERE rank <= {_BPE_TOP_K}
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge-table iteration: count adjacent symbol pairs
    inside every word occurrence and rank the top merge candidates —
    the inner-loop statistic of byte-pair-encoding tokenizer training
    (each training round merges the top pair and recounts; this
    operator is one such counting pass over the corpus).

    Plan shape at 100 TB: pairs are built per-word inside codegen
    (transform over the character array, no explode until the pair
    stream), then ONE hash-shuffled count with map-side partials —
    shuffle volume is distinct pairs (≤ alphabet², tiny), and the final
    top-K is a bounded TakeOrderedAndProject, not a global sort."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    words = d.select(F.explode(toks).alias("w"))
    pairs = F.expr(
        "CASE WHEN size(cs) >= 2 THEN "
        "transform(sequence(0, size(cs) - 2), i -> concat(cs[i], cs[i+1])) "
        "ELSE array() END"
    )
    counts = (
        words.select(
            F.filter(F.split("w", ""), lambda x: x != F.lit("")).alias("cs")
        )
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("pair")).limit(_BPE_TOP_K)
    w = Window.orderBy(F.col("n").desc(), F.col("pair"))
    return top.withColumn("rank", F.row_number().over(w)).select("rank", "pair", "n")


_CMS_D = 4  # hash rows
_CMS_W = 256  # buckets per row
_CMS_TOP = 20


@register(
    "sketch_cms_heavy_hitters",
    oracle=rf"""
    WITH words AS (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                  x -> x <> '')) AS word
        FROM documents),
    buckets AS (
        SELECT word, i,
               CAST(('0x' || substr(md5(i || ':' || word), 1, 4))::INTEGER
                    % {_CMS_W} AS INTEGER) AS bucket
        FROM words, range({_CMS_D}) r(i)),
    cms AS (SELECT i, bucket, COUNT(*) AS c FROM buckets GROUP BY i, bucket),
    exact AS (SELECT word, COUNT(*) AS exact_count FROM words GROUP BY word),
    top AS (
        SELECT word, exact_count,
               ROW_NUMBER() OVER (ORDER BY exact_count DESC, word) AS rank
        FROM exact QUALIFY rank <= {_CMS_TOP}),
    probes AS (
        SELECT t.rank, t.word, t.exact_count, r.i,
               CAST(('0x' || substr(md5(r.i || ':' || t.word), 1, 4))::INTEGER
                    % {_CMS_W} AS INTEGER) AS bucket
        FROM top t, range({_CMS_D}) r(i))
    SELECT p.rank, p.word, p.exact_count,
           CAST(MIN(c.c) AS BIGINT) AS est_count
    FROM probes p JOIN cms c ON c.i = p.i AND c.bucket = p.bucket
    GROUP BY p.rank, p.word, p.exact_count
    """,
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters — the bounded-memory frequency
    structure (Cormode & Muthukrishnan): d×w counters, est(word) =
    min_i cms[i][h_i(word)], always >= the true count. Unlike the HLL /
    quantile sketches (engine-internal hash families → rows-only), the
    hashes here are md5-derived, so DuckDB rebuilds the identical
    sketch and the driver value-checks every cell path. Output: the
    exact top-K words with their exact and sketch-estimated counts
    (est >= exact by construction — asserted in tests).

    Plan shape at 100 TB: ONE token explode fanned ×d inside codegen,
    then a hash aggregation with d·w = 1,024 cells of state however big
    the corpus — map-side partials ARE the per-partition sketch merge
    (the sketch's linearity is what makes it distributed-friendly).
    The probe side reuses the exact top-K (bounded TakeOrdered) and
    joins the 1,024-row sketch broadcast."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    words = d.select(F.explode(toks).alias("word"))

    def bucket(i_col, word_col):
        return (
            F.conv(F.substring(F.md5(F.concat(i_col, F.lit(":"), word_col)), 1, 4), 16, 10)
            .cast("int")
            % _CMS_W
        )

    pairs = words.select(
        "word", F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("i")
    ).select("word", "i", bucket(F.col("i").cast("string"), F.col("word")).alias("bucket"))
    cms = pairs.groupBy("i", "bucket").agg(F.count(F.lit(1)).alias("c"))
    exact = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_count"))
    top = exact.orderBy(F.col("exact_count").desc(), F.col("word")).limit(_CMS_TOP)
    w = Window.orderBy(F.col("exact_count").desc(), F.col("word"))
    top = top.withColumn("rank", F.row_number().over(w))
    probes = top.select(
        "rank",
        "word",
        "exact_count",
        F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("i"),
    ).select(
        "rank",
        "word",
        "exact_count",
        "i",
        bucket(F.col("i").cast("string"), F.col("word")).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cms), ["i", "bucket"])
        .groupBy("rank", "word", "exact_count")
        .agg(F.min("c").cast("bigint").alias("est_count"))
    )


@register(
    "lang_id_confusion_matrix",
    oracle=rf"""
    WITH {_lexicon_values_sql()},
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
        FROM documents),
    cnts AS (
        SELECT t.doc_id, l.pred_lang, COUNT(*) AS c
        FROM toks t JOIN lex l ON t.word = l.word
        GROUP BY t.doc_id, l.pred_lang),
    best AS (
        SELECT doc_id, pred_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, pred_lang) AS rn
        FROM cnts),
    labeled AS (
        SELECT d.lang AS actual_lang,
               COALESCE(b.pred_lang, 'und') AS predicted_lang
        FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1)
    SELECT actual_lang, predicted_lang,
           COUNT(*) AS n_docs,
           (actual_lang = predicted_lang) AS is_correct
    FROM labeled GROUP BY actual_lang, predicted_lang
    """,
)
def lang_id_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier QC for the language-ID heuristic: the confusion
    matrix of declared vs predicted language — the acceptance report a
    pipeline reviews before trusting lang-ID for routing or filtering
    (which languages leak into which, and how much lands in 'und').

    Plan shape: text_lang_id's per-doc argmax (broadcast lexicon join +
    doc-keyed aggregate) feeding one langs²-bounded rollup — the matrix
    state is tiny no matter the corpus size."""
    labeled = text_lang_id(spark, sf_dir)
    return labeled.groupBy("actual_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.first(
            F.col("actual_lang") == F.col("predicted_lang")
        ).alias("is_correct"),
    )


_KN_MIN_COUNT = 5  # bigram support floor bounding the output table


@register(
    "kneser_ney_counts",
    oracle=rf"""
    WITH words AS (
        SELECT list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') AS w
        FROM documents),
    bg AS (
        SELECT unnest(CASE WHEN len(w) >= 2
            THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
            ELSE []::VARCHAR[] END) AS bigram
        FROM words),
    pairs AS (SELECT split_part(bigram, ' ', 1) AS w1,
                     split_part(bigram, ' ', 2) AS w2
              FROM bg),
    counts AS (SELECT w1, w2, COUNT(*) AS pair_count
               FROM pairs GROUP BY w1, w2),
    fan AS (SELECT w1, COUNT(*) AS n_right_types FROM counts GROUP BY w1),
    cont AS (SELECT w2, COUNT(*) AS n_left_contexts FROM counts GROUP BY w2)
    SELECT c.w1, c.w2, c.pair_count, f.n_right_types, t.n_left_contexts
    FROM counts c
      JOIN fan f ON f.w1 = c.w1
      JOIN cont t ON t.w2 = c.w2
    WHERE c.pair_count >= {_KN_MIN_COUNT}
    """,
)
def kneser_ney_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothing ingredients — the count tables an n-gram
    LM build needs from a pretraining corpus: per surviving bigram its
    raw count, the left word's continuation fan-out N₁₊(w₁,•) (distinct
    right types) and the right word's continuation count N₁₊(•,w₂)
    (distinct left contexts — KN's replacement for raw unigram
    frequency). All integer-exact, so the DuckDB oracle reproduces the
    table bit-for-bit.

    Plan shape at 100 TB: bigrams are built per-document inside
    codegen (transform over the token array — no corpus self-join);
    ONE hash-shuffled (w₁,w₂) count with map-side partials is the only
    corpus-sized shuffle (volume = distinct bigrams, vocabulary²-
    bounded in theory, Zipf-bounded in practice). The fan-out and
    continuation aggregates then run over the DISTINCT-bigram frame —
    already orders of magnitude below corpus size — behind a plan
    barrier so the bigram count is computed once for all three roles.
    The support floor bounds the output without any global sort or
    window."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    bigrams = F.expr(
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1])) "
        "ELSE array() END"
    )
    counts = materialize_once(
        d.select(toks.alias("w"))
        .select(F.explode(bigrams).alias("bigram"))
        .select(
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    fan = counts.groupBy("w1").agg(
        F.count(F.lit(1)).alias("n_right_types")
    )
    cont = counts.groupBy("w2").agg(
        F.count(F.lit(1)).alias("n_left_contexts")
    )
    return (
        counts.filter(F.col("pair_count") >= _KN_MIN_COUNT)
        .join(fan, "w1")
        .join(cont, "w2")
        .select("w1", "w2", "pair_count", "n_right_types", "n_left_contexts")
    )


@register(
    "doc_length_quartiles",
    oracle=r"""
    WITH base AS (
        SELECT doc_id, lang,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_tok
        FROM documents),
    scored AS (
        SELECT lang, n_tok,
               NTILE(4) OVER (ORDER BY n_tok, doc_id) AS quartile
        FROM base)
    SELECT lang, quartile,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
    FROM scored GROUP BY lang, quartile
    """,
)
def doc_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide length quartiles crossed with language — the
    length-stratification report a data-mixing step uses to set
    per-stratum sampling quotas (short-doc floods and long-doc tails
    show up as skewed (lang, quartile) cells). Quartile boundaries are
    GLOBAL (one ordering over the whole corpus by token count with
    doc_id tie-break), which is exactly the shape that must NOT be a
    single-partition NTILE window: this is the second consumer of
    `skew.ntile_cutpoints` — a range-exchange cut-point pass whose
    driver state is n_parts + 3 scalars, then literal CASE assignment
    fused into the aggregation scan. Oracle runs the window form;
    results match bucket-for-bucket by NTILE's positional law."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
        ntile_assign,
        ntile_cutpoints,
    )

    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    base = materialize_once(
        d.select(
            "doc_id",
            "lang",
            F.size(F.regexp_extract_all("text", F.lit(BPE_ISH), 0))
            .cast("bigint")
            .alias("n_tok"),
        )
    )
    cuts = ntile_cutpoints(base, ["n_tok", "doc_id"], buckets=4)
    return (
        base.withColumn("quartile", ntile_assign(cuts, ["n_tok", "doc_id"]))
        .groupBy("lang", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("sum_tokens"),
        )
    )


@register(
    "bigram_mle_doc_score",
    oracle=r"""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') AS w
        FROM documents),
    doc_bg AS (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 2
                   THEN list_transform(range(1, len(w)),
                                       i -> w[i] || ' ' || w[i+1])
                   ELSE []::VARCHAR[] END) AS bigram
        FROM words),
    pairs AS (
        SELECT doc_id, split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2
        FROM doc_bg),
    counts AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2),
    ctx AS (
        SELECT w1, SUM(c12) AS c1 FROM counts GROUP BY w1),
    scored AS (
        SELECT p.doc_id,
               (1000000 * c.c12) // x.c1 AS mle_micro
        FROM pairs p
          JOIN counts c ON c.w1 = p.w1 AND c.w2 = p.w2
          JOIN ctx x ON x.w1 = p.w1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(mle_micro) AS BIGINT) AS mle_micro_sum,
           CAST(SUM(mle_micro) AS DOUBLE) / COUNT(*) AS mle_micro_avg
    FROM scored GROUP BY doc_id
    """,
)
def bigram_mle_doc_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-MLE fluency score — the n-gram LM quality
    proxy that completes the `kneser_ney_counts` train→score loop: for
    each doc bigram, p_MLE(w₂|w₁) = c(w₁,w₂)/c(w₁,•) scaled to exact
    integer micro-units by FLOOR division (both engines' integer `div`
    truncate identically on non-negative counts), then summed per doc.
    Repetitive/templated docs score high, incoherent token soup scores
    low — the classic cheap pre-perplexity filter (no transcendentals,
    so the score is bit-exact cross-engine; a real perplexity needs
    log, whose libm rounding differs across engines).

    Plan shape at 100 TB: bigrams built per-document inside codegen;
    the corpus count table and the doc-bigram stream shuffle on the
    SAME (w1, w2) key (one partitioning shared by count + join); the
    context totals are a distinct-bigram-sized rollup joined back on
    w1; the final doc_id aggregate is the only other exchange. No
    broadcast of corpus-sized state, no window."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    bigrams = F.expr(
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i+1])) "
        "ELSE array() END"
    )
    doc_bg = materialize_once(
        d.select("doc_id", toks.alias("w"))
        .select("doc_id", F.explode(bigrams).alias("bigram"))
        .select(
            "doc_id",
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)).alias("w2"),
        )
    )
    counts = materialize_once(
        doc_bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    )
    ctx = counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return (
        doc_bg.join(counts, ["w1", "w2"])
        .join(ctx, "w1")
        .select(
            "doc_id",
            F.expr("(1000000 * c12) div c1").alias("mle_micro"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("mle_micro").cast("bigint").alias("mle_micro_sum"),
            (F.sum("mle_micro").cast("double") / F.count(F.lit(1))).alias(
                "mle_micro_avg"
            ),
        )
    )


# Gopher-style (Rae et al. 2021, public) document-quality rule
# thresholds — every verdict is an INTEGER cross-multiplication so the
# pass/fail bits are bit-exact across engines; the reported ratios are
# single divisions for human eyes only.
_GQ_MIN_WORDS = 50
_GQ_MAX_WORDS = 100_000
_GQ_MWL_MIN, _GQ_MWL_MAX = 3, 10          # mean word length bounds
_GQ_TOP_SHARE_NUM, _GQ_TOP_SHARE_DEN = 1, 10   # top unigram ≤ 1/10
_GQ_DUP2_NUM, _GQ_DUP2_DEN = 3, 10             # dup-bigram share ≤ 3/10
_GQ_MIN_STOP_HITS = 2                          # ≥2 distinct stopwords


@register(
    "quality_gopher_rules",
    oracle=rf"""
    WITH words AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                  x -> x <> '')) AS word
        FROM documents),
    wc AS (SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY doc_id, word),
    uni AS (
        SELECT doc_id,
               SUM(c) AS n_words,
               MAX(c) AS top_cnt,
               SUM(c * length(word)) AS n_word_chars,
               SUM(CASE WHEN word IN ('the','a','an','and','of','to','is','in','it','that')
                        THEN 1 ELSE 0 END) AS stop_hits
        FROM wc GROUP BY doc_id),
    big AS (
        SELECT doc_id, bg, COUNT(*) AS c
        FROM (SELECT doc_id,
                     unnest(CASE WHEN len(w) >= 2 THEN
                         list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                         ELSE [] END) AS bg
              FROM (SELECT doc_id,
                           list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                       x -> x <> '') AS w
                    FROM documents))
        GROUP BY doc_id, bg),
    bstat AS (SELECT doc_id, SUM(c) AS n_bigrams,
                     SUM(c) - COUNT(*) AS n_dup_bigrams
              FROM big GROUP BY doc_id)
    SELECT u.doc_id,
           CAST(u.n_words AS BIGINT) AS n_words,
           CAST(u.n_word_chars AS DOUBLE) / u.n_words AS mean_word_len,
           CAST(u.top_cnt AS DOUBLE) / u.n_words AS top_unigram_share,
           CAST(COALESCE(b.n_dup_bigrams, 0) AS DOUBLE)
               / CASE WHEN COALESCE(b.n_bigrams, 0) = 0 THEN 1
                      ELSE b.n_bigrams END AS dup_bigram_share,
           (u.n_words BETWEEN {_GQ_MIN_WORDS} AND {_GQ_MAX_WORDS}) AS ok_length,
           (u.n_word_chars >= {_GQ_MWL_MIN} * u.n_words
            AND u.n_word_chars <= {_GQ_MWL_MAX} * u.n_words) AS ok_word_len,
           ({_GQ_TOP_SHARE_DEN} * u.top_cnt
                <= {_GQ_TOP_SHARE_NUM} * u.n_words) AS ok_top_share,
           ({_GQ_DUP2_DEN} * COALESCE(b.n_dup_bigrams, 0)
                <= {_GQ_DUP2_NUM} * COALESCE(b.n_bigrams, 0)) AS ok_dup_bigrams,
           (u.stop_hits >= {_GQ_MIN_STOP_HITS}) AS ok_stopwords,
           ((u.n_words BETWEEN {_GQ_MIN_WORDS} AND {_GQ_MAX_WORDS})
            AND u.n_word_chars >= {_GQ_MWL_MIN} * u.n_words
            AND u.n_word_chars <= {_GQ_MWL_MAX} * u.n_words
            AND {_GQ_TOP_SHARE_DEN} * u.top_cnt <= {_GQ_TOP_SHARE_NUM} * u.n_words
            AND {_GQ_DUP2_DEN} * COALESCE(b.n_dup_bigrams, 0)
                <= {_GQ_DUP2_NUM} * COALESCE(b.n_bigrams, 0)
            AND u.stop_hits >= {_GQ_MIN_STOP_HITS}) AS passes
    FROM uni u LEFT JOIN bstat b USING (doc_id)
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document-quality rules (the published repetition /
    length screens an LLM curation pipeline runs before training):
    word-count bounds, mean-word-length bounds, top-unigram share
    (hot-word repetition), duplicate-bigram share (phrase repetition),
    and a distinct-stopword floor, plus a composite ``passes`` verdict.

    Determinism: every verdict compares INTEGERS (cross-multiplied
    rational thresholds — never a float compare); the reported ratio
    columns are one division each. Stop-hit counting sums 0/1 per
    DISTINCT (doc, word) pair, so it needs no second pass.

    Plan shape at 100 TB: one corpus explode → (doc, word) counts →
    one doc-keyed agg (unigram stats ride the same shuffle), and one
    bigram explode → (doc, bigram) counts → doc-keyed agg; the final
    join keys on doc_id. Per-doc state is vocabulary-bounded; nothing
    is all-pairs and nothing leaves the executors."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])

    words = d.select("doc_id", F.explode(toks).alias("word"))
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("c"))
    uni = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.max("c").alias("top_cnt"),
        F.sum(F.col("c") * F.length("word")).alias("n_word_chars"),
        F.sum(
            F.array_contains(stop_arr, F.col("word")).cast("int")
        ).alias("stop_hits"),
    )

    bigrams = F.expr(
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(0, size(w) - 2), i -> concat_ws(' ', w[i], w[i+1])) "
        "ELSE array() END"
    )
    bg = (
        d.select("doc_id", toks.alias("w"))
        .select("doc_id", F.explode(bigrams).alias("bg"))
        .groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bstat = bg.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        (F.sum("c") - F.count(F.lit(1))).alias("n_dup_bigrams"),
    )

    j = uni.join(bstat, "doc_id", "left")
    nb = F.coalesce(F.col("n_bigrams"), F.lit(0))
    nd = F.coalesce(F.col("n_dup_bigrams"), F.lit(0))
    ok_length = F.col("n_words").between(_GQ_MIN_WORDS, _GQ_MAX_WORDS)
    ok_word_len = (F.col("n_word_chars") >= _GQ_MWL_MIN * F.col("n_words")) & (
        F.col("n_word_chars") <= _GQ_MWL_MAX * F.col("n_words")
    )
    ok_top = (
        _GQ_TOP_SHARE_DEN * F.col("top_cnt")
        <= _GQ_TOP_SHARE_NUM * F.col("n_words")
    )
    ok_dup = _GQ_DUP2_DEN * nd <= _GQ_DUP2_NUM * nb
    ok_stop = F.col("stop_hits") >= _GQ_MIN_STOP_HITS
    return j.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        (F.col("n_word_chars").cast("double") / F.col("n_words")).alias(
            "mean_word_len"
        ),
        (F.col("top_cnt").cast("double") / F.col("n_words")).alias(
            "top_unigram_share"
        ),
        (
            nd.cast("double")
            / F.when(nb == 0, F.lit(1)).otherwise(nb)
        ).alias("dup_bigram_share"),
        ok_length.alias("ok_length"),
        ok_word_len.alias("ok_word_len"),
        ok_top.alias("ok_top_share"),
        ok_dup.alias("ok_dup_bigrams"),
        ok_stop.alias("ok_stopwords"),
        (ok_length & ok_word_len & ok_top & ok_dup & ok_stop).alias("passes"),
    )


@register(
    "text_tokenizer_fertility",
    oracle=r"""
    WITH per_doc AS (
        SELECT doc_id, lang,
               len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                               x -> x <> '')) AS n_words,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                   AS n_tokens
        FROM documents),
    ok AS (SELECT *, (CAST(n_tokens AS BIGINT) * 1000000) // n_words
               AS fert_ppm
           FROM per_doc WHERE n_words > 0)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / SUM(n_words) AS fertility,
           CAST(MIN(fert_ppm) AS BIGINT) AS min_fert_ppm,
           CAST(MAX(fert_ppm) AS BIGINT) AS max_fert_ppm
    FROM ok GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — BPE-ish tokens emitted per
    whitespace word, the token-budget planning number an LLM pipeline
    needs per corpus slice (high-fertility languages cost more context
    per word). Corpus fertility is exact integer sums with ONE final
    division; the per-doc spread rides min/max of an integer ppm ratio
    (integer div — no float per doc).

    Plan shape: per-row token counting in codegen (regexp_extract_all
    + size — no explode), then one 5-group hash agg; the shuffle
    carries one row per doc."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    per_doc = d.select(
        "lang",
        F.size(toks).alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH), 0)).alias("n_tokens"),
    ).filter(F.col("n_words") > 0)
    per_doc = per_doc.withColumn(
        # size() is 32-bit: widen BEFORE the multiply — ×10^6 overflows
        # int for any doc beyond ~2,147 tokens (ANSI exception)
        "fert_ppm", F.expr("(cast(n_tokens AS bigint) * 1000000) div n_words")
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.sum("n_tokens").cast("double") / F.sum("n_words")).alias("fertility"),
        F.min("fert_ppm").cast("bigint").alias("min_fert_ppm"),
        F.max("fert_ppm").cast("bigint").alias("max_fert_ppm"),
    )


_LIFT_TOP_K = 20
_LIFT_MIN_COUNT = 5  # pair-frequency floor before lift is meaningful


@register(
    "bigram_lift_topk",
    oracle=rf"""
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(lower(text)), '\s+'),
                           x -> x <> '') AS w
        FROM documents),
    bg AS (
        SELECT w[i] AS w1, w[i + 1] AS w2
        FROM (SELECT w, unnest(range(1, len(w))) AS i FROM w
              WHERE len(w) >= 2)),
    pair AS (SELECT w1, w2, COUNT(*) AS c_xy FROM bg GROUP BY w1, w2),
    lhs AS (SELECT w1, SUM(c_xy) AS c_x FROM pair GROUP BY w1),
    rhs AS (SELECT w2, SUM(c_xy) AS c_y FROM pair GROUP BY w2),
    t AS (SELECT SUM(c_xy) AS total FROM pair),
    scored AS (
        SELECT p.w1, p.w2, p.c_xy,
               (CAST(p.c_xy AS DOUBLE) * CAST(t.total AS DOUBLE))
                   / (CAST(l.c_x AS DOUBLE) * CAST(r.c_y AS DOUBLE)) AS lift
        FROM pair p JOIN lhs l USING (w1) JOIN rhs r USING (w2)
        CROSS JOIN t
        WHERE p.c_xy >= {_LIFT_MIN_COUNT}),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY lift DESC, w1, w2) AS rank
        FROM scored)
    SELECT rank, w1, w2, CAST(c_xy AS BIGINT) AS c_xy, lift
    FROM ranked WHERE rank <= {_LIFT_TOP_K}
    """,
)
def bigram_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by LIFT — observed adjacent-pair frequency
    over the frequency expected if first/second slots were independent
    (lift = c_xy·T / (c_x·c_y)) — the association score behind phrase
    and multi-word-expression detection, rank-equivalent to PMI
    (log is monotone) without the non-correctly-rounded ln() the
    registry's determinism rules ban. Both products run in DOUBLE —
    c_xy·T and c_x·c_y overflow int64 at corpus scale — and every
    *, / is IEEE-correctly-rounded, so the identical expression tree
    is still bit-equal cross-engine.

    Plan shape at 100 TB: one bigram explode → (w1, w2) counts; the
    slot marginals REUSE that aggregate (two vocabulary-sized aggs, no
    second corpus pass); the total rides a 1-row broadcast; the
    frequency floor prunes before the joins; top-K is
    TakeOrderedAndProject (per-partition heaps) and the rank window
    sees only K survivor rows."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    bigrams = F.expr(
        "CASE WHEN size(w) >= 2 THEN "
        "transform(sequence(0, size(w) - 2), "
        "          i -> struct(w[i] AS w1, w[i+1] AS w2)) "
        "ELSE array() END"
    )
    pair = materialize_once(
        d.select(toks.alias("w"))
        .select(F.explode(bigrams).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    lhs = pair.groupBy("w1").agg(F.sum("c_xy").alias("c_x"))
    rhs = pair.groupBy("w2").agg(F.sum("c_xy").alias("c_y"))
    t = pair.agg(F.sum("c_xy").alias("total"))
    scored = (
        pair.filter(F.col("c_xy") >= _LIFT_MIN_COUNT)
        .join(lhs, "w1")
        .join(rhs, "w2")
        .crossJoin(F.broadcast(t))
        .select(
            "w1",
            "w2",
            "c_xy",
            (
                (F.col("c_xy").cast("double") * F.col("total").cast("double"))
                / (F.col("c_x").cast("double") * F.col("c_y").cast("double"))
            ).alias("lift"),
        )
    )
    top = scored.orderBy(
        F.col("lift").desc(), F.col("w1"), F.col("w2")
    ).limit(_LIFT_TOP_K)
    w = Window.orderBy(F.col("lift").desc(), F.col("w1"), F.col("w2"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "w1", "w2", F.col("c_xy").cast("bigint").alias("c_xy"), "lift"
    )


_COVERAGE_KS = (10, 100, 1000)


@register(
    "text_vocab_coverage_curve",
    oracle=rf"""
    WITH words AS (
        SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                  x -> x <> '')) AS word
        FROM documents),
    counts AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
        FROM counts),
    tot AS (SELECT SUM(n) AS total FROM counts),
    ks AS (SELECT unnest([{", ".join(str(k) for k in _COVERAGE_KS)}]) AS k)
    SELECT CAST(ks.k AS INT) AS k,
           CAST(COUNT(CASE WHEN ranked.rank <= ks.k THEN 1 END) AS BIGINT)
               AS vocab_used,
           CAST(COALESCE(SUM(CASE WHEN ranked.rank <= ks.k
                                  THEN ranked.n END), 0) AS BIGINT)
               AS covered_tokens,
           CAST(tot.total AS BIGINT) AS total_tokens,
           CAST(COALESCE(SUM(CASE WHEN ranked.rank <= ks.k
                                  THEN ranked.n END), 0)
                * 1000000 // tot.total AS BIGINT) AS coverage_ppm
    FROM ks CROSS JOIN tot CROSS JOIN ranked
    GROUP BY ks.k, tot.total
    """,
)
def text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve — what fraction of all corpus tokens
    the top-k vocabulary entries cover, for k in {_COVERAGE_KS}: the
    readout that sizes tokenizer vocabularies and OOV budgets (Zipfian
    corpora saturate fast; a flat curve flags corrupted/boilerplate
    text). Coverage is exact integer ppm.

    Plan shape at 100 TB: ONE wordcount hash agg (shuffle volume is
    per-partition distinct words), then per k a bounded
    TakeOrderedAndProject top-k (per-partition heaps — the vocabulary
    is NEVER globally sorted) collapsing straight into a 1-row
    aggregate; the three 1-row branches union with the broadcast total.
    Everything after the wordcount is k-bounded."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    counts = materialize_once(
        d.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("total"))
    branches = []
    for k in _COVERAGE_KS:
        topk = counts.orderBy(F.col("n").desc(), F.col("word")).limit(k)
        branches.append(
            topk.agg(
                F.lit(k).cast("int").alias("k"),
                F.count(F.lit(1)).cast("bigint").alias("vocab_used"),
                F.coalesce(F.sum("n"), F.lit(0))
                .cast("bigint")
                .alias("covered_tokens"),
            )
        )
    u = branches[0]
    for b in branches[1:]:
        u = u.unionByName(b)
    # empty-corpus parity (ADVICE r11): the oracle's CROSS JOIN over an
    # empty ranked CTE emits zero rows, while each Spark branch's 1-row
    # aggregate would emit k rows with null totals — drop them when the
    # wordcount is empty (total is the SUM over zero rows → null)
    return u.crossJoin(F.broadcast(tot)).filter(
        F.col("total").isNotNull()
    ).select(
        "k",
        "vocab_used",
        "covered_tokens",
        F.col("total").cast("bigint").alias("total_tokens"),
        F.expr("CAST((covered_tokens * 1000000) div total AS BIGINT)").alias(
            "coverage_ppm"
        ),
    )


@register(
    "text_hapax_ratio_by_lang",
    oracle=r"""
    WITH words AS (
        SELECT lang,
               unnest(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   x -> x <> '')) AS word
        FROM documents),
    counts AS (
        SELECT lang, word, COUNT(*) AS n FROM words GROUP BY lang, word)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(COUNT(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n_hapax,
           CAST(COUNT(CASE WHEN n = 1 THEN 1 END) * 1000000 // COUNT(*)
                AS BIGINT) AS hapax_ppm
    FROM counts GROUP BY lang
    """,
)
def text_hapax_ratio_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena share per language — the fraction of each
    language's vocabulary that occurs exactly once (Zipf's tail mass):
    the corpus-health readout that flags OCR noise / tokenizer damage
    (hapax share spikes) or boilerplate floods (it collapses). Exact
    integer ppm.

    Plan shape at 100 TB: one (lang, word)-keyed wordcount hash agg
    with map-side partials (shuffle volume = per-partition distinct
    words, the same bound every wordcount op here rides), then a
    lang-keyed rollup of vocabulary-bounded rows. Nothing global, no
    sort."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    counts = (
        d.select("lang", F.explode(toks).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return counts.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.count(F.when(F.col("n") == 1, 1)).cast("bigint").alias("n_hapax"),
        F.expr(
            "CAST((COUNT(CASE WHEN n = 1 THEN 1 END) * 1000000) "
            "div COUNT(*) AS BIGINT)"
        ).alias("hapax_ppm"),
    )


@register(
    "text_zipf_slope",
    oracle=r"""
    WITH words AS (
        SELECT unnest(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   x -> x <> '')) AS word
        FROM documents),
    counts AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, word) AS r
        FROM counts),
    pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
            FROM ranked),
    s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx
          FROM pts)
    SELECT CAST(m AS BIGINT) AS vocab_size,
           CAST(round((m * sxy - sx * sy) / (m * sxx - sx * sx) * 1000000)
                AS BIGINT) AS slope_ppm,
           CAST(round((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx)
                      / m * 1000000) AS BIGINT) AS intercept_ppm
    FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary — the log-log OLS slope
    of frequency against rank (natural text sits near −1; OCR noise,
    boilerplate floods, and tokenizer damage bend it). The rank is a
    DISTRIBUTED global rank: the wordcount range-partitions on
    (n DESC, word), each partition computes LOCAL ranks, and
    `skew.global_prefix` folds the K per-partition counts in-plan —
    global rank = offset[pid] + local. No single-partition window over
    the vocabulary, ever. The OLS moments are double sums whose ppm
    rounding absorbs cross-engine accumulation-order ulps.

    Plan shape at 100 TB: one wordcount hash agg (shuffle volume =
    per-partition distinct words), one range repartition of the
    vocabulary-sized count table, a per-partition window, a K-row
    broadcast offsets fold, and a 1-row moment rollup."""
    from sample_emr_on_eks_fgac_iceberg_spark.operators.skew import (
        global_prefix,
    )

    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    counts = (
        d.select(F.explode(toks).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = global_prefix(
        counts, [F.col("n").desc(), "word"], {"rk": F.lit(1)}
    ).select(
        F.col("rk").cast("double").alias("rk"),
        F.col("n").cast("double").alias("cnt"),
    )
    pts = ranked.select(
        F.log(F.col("rk")).alias("x"), F.log(F.col("cnt")).alias("y")
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("m").cast("bigint").alias("vocab_size"),
        F.round(slope * 1000000).cast("bigint").alias("slope_ppm"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / F.col("m") * 1000000
        )
        .cast("bigint")
        .alias("intercept_ppm"),
    )


@register(
    "text_readability_cli",
    oracle="""
    WITH m AS (
        SELECT lang,
               -- e0 literals force DOUBLE: DuckDB parses bare 5.88 as
               -- DECIMAL(3,2) and the decimal evaluation order breaks
               -- IEEE bit-parity with Spark's double expression
               CAST(round((5.88e0 * length(regexp_replace(text,
                               '[^A-Za-z]', '', 'g'))
                               / len(regexp_split_to_array(trim(text),
                                                           '\\s+'))
                           - 29.6e0 * len(regexp_extract_all(text, '[.!?]+'))
                               / len(regexp_split_to_array(trim(text),
                                                           '\\s+'))
                           - 15.8e0) * 100) AS BIGINT) AS centi_cli
        FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(centi_cli) AS BIGINT) AS sum_centi_cli,
           CAST(SUM(centi_cli) AS DOUBLE) / (100 * COUNT(*)) AS mean_cli
    FROM m GROUP BY lang
    """,
)
def text_readability_cli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coleman-Liau readability index per language — the quality-score
    family's grade-level readout, chosen over Flesch-Kincaid because
    it needs NO syllable counter: only letters, words, and sentences,
    all exact regexp counts both engines reproduce (letters = [A-Za-z]
    survivors, words = whitespace tokens, sentences = [.!?]+ runs).
    CLI = 0.0588·L − 0.296·S − 15.8 with L/S per 100 words; the
    per-document value is ONE fixed double expression (IEEE-identical
    cross-engine) rounded to integer centi-units BEFORE aggregation,
    so the per-language sums are exact integers (float sums are never
    hashed — registry determinism rules).

    Plan shape at 100 TB: per-row regexp work rides whole-stage
    codegen; the rollup is a ≤|langs| hash agg with map-side partials.
    One scan, no shuffle beyond the group-by."""
    d = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    letters = F.length(F.regexp_replace(F.col("text"), "[^A-Za-z]", ""))
    sents = F.expr("regexp_count(text, '[.!?]+')")
    centi = F.round(
        (
            F.lit(5.88) * letters / words
            - F.lit(29.6) * sents / words
            - F.lit(15.8)
        )
        * 100
    ).cast("bigint")
    m = d.select("lang", centi.alias("centi_cli"))
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("centi_cli").cast("bigint").alias("sum_centi_cli"),
        (
            F.sum("centi_cli").cast("double")
            / (F.lit(100) * F.count(F.lit(1)))
        ).alias("mean_cli"),
    )


@register(
    "text_lang_char_js_divergence",
    oracle="""
    WITH ch AS (
        SELECT lang, unnest(regexp_extract_all(text, '.')) AS c
        FROM documents WHERE lang IN ('en', 'de')),
    cc AS (
        SELECT c,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS na,
               SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS nb
        FROM ch GROUP BY c),
    tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM cc),
    terms AS (
        SELECT
            CASE WHEN na > 0 THEN
                (CAST(na AS DOUBLE) / ta)
                * ln((CAST(na AS DOUBLE) / ta)
                     / ((CAST(na AS DOUBLE) / ta
                         + CAST(nb AS DOUBLE) / tb) / 2))
            ELSE 0 END AS t_en,
            CASE WHEN nb > 0 THEN
                (CAST(nb AS DOUBLE) / tb)
                * ln((CAST(nb AS DOUBLE) / tb)
                     / ((CAST(na AS DOUBLE) / ta
                         + CAST(nb AS DOUBLE) / tb) / 2))
            ELSE 0 END AS t_de
        FROM cc, tot)
    SELECT CAST((SELECT ta FROM tot) AS BIGINT) AS n_chars_en,
           CAST((SELECT tb FROM tot) AS BIGINT) AS n_chars_de,
           CAST((SELECT COUNT(*) FROM cc) AS BIGINT) AS n_char_types,
           CAST(round((SUM(t_en) + SUM(t_de)) / 2 * 1000000) AS BIGINT)
               AS jsd_micro_nats
    FROM terms
    """,
)
def text_lang_char_js_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jensen-Shannon divergence between the English and German
    character-unigram distributions — the bounded, symmetric corpus-
    drift metric (0 = identical mixes, ln 2 = disjoint alphabets) a
    pipeline tracks across snapshots or sources. Counts are exact
    integers; JSD = ½KL(p‖m) + ½KL(q‖m) folds per-character terms
    written as ONE identical double expression on both engines, and
    the micro-nat rounding absorbs summation-order ulp (the
    nation_segment_entropy ln-parity precedent).

    Plan shape at 100 TB: the char explode is the tokenize-shaped
    fan-out every text operator pays, immediately collapsed by a
    (char) hash agg with map-side partials — the per-char table is
    alphabet-bounded (≤ a few thousand rows forever); totals ride a
    broadcast 1-row cross join; the statistic is a 1-row fold."""
    ch = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang").isin("en", "de"))
        .select(
            "lang",
            F.explode(F.expr("regexp_extract_all(text, '.', 0)")).alias("c"),
        )
    )
    cc = materialize_once(
        ch.groupBy("c").agg(
            F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).alias("nb"),
        )
    )
    tot = cc.agg(
        F.sum("na").alias("ta"),
        F.sum("nb").alias("tb"),
        F.count(F.lit(1)).alias("ntypes"),
    )
    j = cc.crossJoin(F.broadcast(tot))
    pa = F.col("na").cast("double") / F.col("ta")
    pb = F.col("nb").cast("double") / F.col("tb")
    m = (pa + pb) / 2
    t_en = F.when(F.col("na") > 0, pa * F.log(pa / m)).otherwise(F.lit(0.0))
    t_de = F.when(F.col("nb") > 0, pb * F.log(pb / m)).otherwise(F.lit(0.0))
    return (
        j.agg(
            F.max("ta").alias("ta"),
            F.max("tb").alias("tb"),
            F.max("ntypes").alias("ntypes"),
            F.sum(t_en).alias("se"),
            F.sum(t_de).alias("sd"),
        )
        .select(
            F.col("ta").cast("bigint").alias("n_chars_en"),
            F.col("tb").cast("bigint").alias("n_chars_de"),
            F.col("ntypes").cast("bigint").alias("n_char_types"),
            F.round((F.col("se") + F.col("sd")) / 2 * 1000000)
            .cast("bigint")
            .alias("jsd_micro_nats"),
        )
    )


_KEYNESS_TOP_K = 20
_KEYNESS_MIN_COUNT = 5


@register(
    "text_keyness_loglik_en_de",
    oracle=f"""
    WITH w AS (
        SELECT lang,
               unnest(string_split_regex(trim(lower(text)), '\\s+'))
                   AS word
        FROM documents WHERE lang IN ('en', 'de')),
    cc AS (
        SELECT word,
               SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS b
        FROM w WHERE word <> '' GROUP BY word),
    tot AS (SELECT SUM(a) AS ta, SUM(b) AS tb FROM cc),
    g2 AS (
        SELECT word, a, b,
               CAST(round(2 * (
                   CASE WHEN a > 0 THEN a * ln(CAST(a AS DOUBLE)
                       / ((CAST(a + b AS DOUBLE) * ta) / (ta + tb)))
                   ELSE 0 END
                   + CASE WHEN b > 0 THEN b * ln(CAST(b AS DOUBLE)
                       / ((CAST(a + b AS DOUBLE) * tb) / (ta + tb)))
                   ELSE 0 END) * 1000) AS BIGINT) AS g2_milli
        FROM cc, tot
        WHERE a + b >= {_KEYNESS_MIN_COUNT})
    SELECT word, CAST(a AS BIGINT) AS n_en, CAST(b AS BIGINT) AS n_de,
           g2_milli
    FROM g2
    ORDER BY g2_milli DESC, word
    LIMIT {_KEYNESS_TOP_K}
    """,
)
def text_keyness_loglik_en_de(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyness by log-likelihood ratio (Dunning's G²) between the
    English and German word distributions — WHICH terms drive the
    corpus difference (the term-level attribution partner of the
    aggregate JS divergence): G² = 2Σ obs·ln(obs/exp) with expected
    counts from the pooled marginals, per word, top-{_KEYNESS_TOP_K}
    by milli-rounded G² with a word tiebreak (deterministic order;
    words below {_KEYNESS_MIN_COUNT} total occurrences are noise and
    excluded). The per-word expression is ONE identical double formula
    on both engines; rounding happens per row, never across a
    summation, so there is no order sensitivity at all.

    Plan shape at 100 TB: tokenize explode → (word) hash agg with
    map-side partials (vocabulary-bounded) → broadcast 1-row totals →
    row-local G² → global top-K (TakeOrderedAndProject — bounded
    K-row state per partition, no global sort)."""
    w = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang").isin("en", "de"))
        .select(
            "lang",
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("word"),
        )
        .filter(F.col("word") != "")
    )
    cc = w.groupBy("word").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("lang") == "de", 1).otherwise(0)).alias("b"),
    )
    tot = cc.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    j = cc.filter(
        F.col("a") + F.col("b") >= _KEYNESS_MIN_COUNT
    ).crossJoin(F.broadcast(tot))
    ea = (
        (F.col("a") + F.col("b")).cast("double") * F.col("ta")
    ) / (F.col("ta") + F.col("tb"))
    eb = (
        (F.col("a") + F.col("b")).cast("double") * F.col("tb")
    ) / (F.col("ta") + F.col("tb"))
    term_a = F.when(
        F.col("a") > 0, F.col("a") * F.log(F.col("a").cast("double") / ea)
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        F.col("b") > 0, F.col("b") * F.log(F.col("b").cast("double") / eb)
    ).otherwise(F.lit(0.0))
    g2 = j.select(
        "word",
        F.col("a").cast("bigint").alias("n_en"),
        F.col("b").cast("bigint").alias("n_de"),
        F.round(F.lit(2) * (term_a + term_b) * 1000)
        .cast("bigint")
        .alias("g2_milli"),
    )
    return g2.orderBy(F.col("g2_milli").desc(), "word").limit(
        _KEYNESS_TOP_K
    )


@register(
    "text_vocab_richness",
    oracle=r"""
    WITH words AS (
        SELECT lang,
               unnest(list_filter(
                   string_split_regex(trim(lower(text)), '\s+'),
                   x -> x <> '')) AS word
        FROM documents),
    counts AS (
        SELECT lang, word, CAST(COUNT(*) AS HUGEINT) AS n
        FROM words GROUP BY lang, word)
    SELECT lang,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(COUNT(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS f1,
           CAST(COUNT(CASE WHEN n = 2 THEN 1 END) AS BIGINT) AS f2,
           CAST(1000 * COUNT(*)
                + CASE WHEN COUNT(CASE WHEN n = 2 THEN 1 END) > 0
                  THEN (1000
                        * COUNT(CASE WHEN n = 1 THEN 1 END)
                        * COUNT(CASE WHEN n = 1 THEN 1 END))
                       // (2 * COUNT(CASE WHEN n = 2 THEN 1 END))
                  ELSE (1000
                        * COUNT(CASE WHEN n = 1 THEN 1 END)
                        * (COUNT(CASE WHEN n = 1 THEN 1 END) - 1)) // 2
                  END AS BIGINT) AS chao1_milli,
           CAST(1000000
                - (COUNT(CASE WHEN n = 1 THEN 1 END) * 1000000) // SUM(n)
                AS BIGINT) AS gt_coverage_ppm
    FROM counts GROUP BY lang
    """,
)
def text_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-richness estimators per language — how much
    vocabulary the corpus has NOT seen yet, the question behind
    "is more data worth scraping": Chao1 (Chao 1984, the abundance
    lower bound V + f1²/2f2 from the hapax/dis-legomena counts, with
    the bias-corrected f2=0 fallback f1(f1−1)/2) and the Good-Turing
    coverage estimate 1 − f1/N (probability the NEXT token is a seen
    word). Both are pure functions of the frequency-of-frequencies, so
    everything is exact-integer: chao1 in milli via one truncating
    division, coverage in ppm.

    Plan shape at 100 TB: the same (lang, word) wordcount hash agg
    every text op rides (map-side partials bound shuffle volume by
    per-partition distinct words), then a lang-keyed fold of
    vocabulary-bounded rows. No joins, no windows, two shuffles."""
    d = fan_out(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = F.filter(_tokens(F.col("text")), lambda x: x != F.lit(""))
    counts = (
        d.select("lang", F.explode(toks).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"))
    )
    f1 = F.count(F.when(F.col("n") == 1, 1)).cast("decimal(38,0)")
    f2 = F.count(F.when(F.col("n") == 2, 1)).cast("decimal(38,0)")
    v = F.count(F.lit(1)).cast("decimal(38,0)")
    ntok = F.sum("n")
    return counts.groupBy("lang").agg(
        ntok.cast("bigint").alias("n_tokens"),
        v.cast("bigint").alias("vocab"),
        f1.cast("bigint").alias("f1"),
        f2.cast("bigint").alias("f2"),
        (
            F.lit(1000).cast("decimal(38,0)") * v
            + F.when(
                f2 > 0,
                F.expr(
                    "CAST(1000 AS DECIMAL(38,0))"
                    " * COUNT(CASE WHEN n = 1 THEN 1 END)"
                    " * COUNT(CASE WHEN n = 1 THEN 1 END)"
                    " div (2 * COUNT(CASE WHEN n = 2 THEN 1 END))"
                ),
            ).otherwise(
                F.expr(
                    "CAST(1000 AS DECIMAL(38,0))"
                    " * COUNT(CASE WHEN n = 1 THEN 1 END)"
                    " * (COUNT(CASE WHEN n = 1 THEN 1 END) - 1) div 2"
                )
            )
        )
        .cast("bigint")
        .alias("chao1_milli"),
        (
            F.lit(1000000)
            - F.expr(
                "CAST(COUNT(CASE WHEN n = 1 THEN 1 END) AS DECIMAL(38,0))"
                " * 1000000 div SUM(n)"
            )
        )
        .cast("bigint")
        .alias("gt_coverage_ppm"),
    )
