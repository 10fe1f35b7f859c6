"""Registered text-analysis queries over the ``documents`` table.

Oracle SQL strings are *generated* from the same constants
(``text.LANG_STOPWORDS``, ``text.LANG_ORDER``) the Spark expressions use,
so the two sides cannot drift apart.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ..queries.registry import register
from ..session import ensure_analytics_conf
from . import text as T


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_analytics_conf(spark)
    return load_table(spark, sf_dir, name)


# --- shared SQL fragments (DuckDB dialect) -----------------------------------

SQL_TOKENS = r"regexp_split_to_array(trim(text), '\s+')"


def _sql_lang_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS[lang])
    return f"len(list_filter({SQL_TOKENS}, t -> t IN ({words})))"


def _sql_lang_case() -> str:
    """CASE chain mirroring text.lang_id's first-max tie-break."""
    branches = []
    for lang in T.LANG_ORDER:
        conds = []
        for other in T.LANG_ORDER:
            if other == lang:
                continue
            op = ">" if T.LANG_ORDER.index(other) < T.LANG_ORDER.index(lang) else ">="
            conds.append(f"score_{lang} {op} score_{other}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


SQL_PUNCT_RATIO = (
    r"length(regexp_replace(text, '[^\x21-\x2f\x3a-\x40\x5b-\x60\x7b-\x7e]', '', 'g'))"
    r"::DOUBLE / nullif(length(text), 0)::DOUBLE"
)

_EN = ", ".join(f"'{w}'" for w in T.LANG_STOPWORDS["en"])
SQL_STOPWORD_RATIO = (
    f"len(list_filter({SQL_TOKENS}, t -> t IN ({_EN})))::DOUBLE"
    f" / nullif(len({SQL_TOKENS}), 0)::DOUBLE"
)


# --- queries -------------------------------------------------------------------


@register(
    "tx_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured,
           ROUND(
               list_sum(list_transform({SQL_TOKENS}, t -> length(t)))::DOUBLE
                   / nullif(len({SQL_TOKENS}), 0),
               6
           ) AS avg_token_len
    FROM documents
    """,
    tags=("text", "tokenize"),
)
def tx_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + per-document token-length stats (pure Catalyst HOFs)."""
    d = _t(spark, sf_dir, "documents")
    toks = T.tokens("text")
    tok_lens = F.transform(toks, F.length)
    total_len = F.aggregate(
        tok_lens, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
    )
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
        F.round(
            total_len.cast("double") / F.nullif(F.size(toks), F.lit(0)).cast("double"),
            6,
        ).alias("avg_token_len"),
    )


@register(
    "tx_lang_id",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in T.LANG_ORDER)}
        FROM documents
    )
    SELECT doc_id, lang, {_sql_lang_case()} AS pred_lang
    FROM scored
    """,
    tags=("text", "langid"),
)
def tx_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID with a deterministic argmax tie-break."""
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", T.lang_id("text").alias("pred_lang"))


@register(
    "tx_quality_score",
    oracle=f"""
    SELECT doc_id,
           ROUND(COALESCE({SQL_PUNCT_RATIO}, 0), 6) AS punct_ratio,
           ROUND(COALESCE({SQL_STOPWORD_RATIO}, 0), 6) AS stopword_ratio,
           ROUND(
               0.4 * least(length(text)::DOUBLE / 500.0, 1.0)
               + 0.3 * (1.0 - COALESCE({SQL_PUNCT_RATIO}, 0))
               + 0.3 * least(COALESCE({SQL_STOPWORD_RATIO}, 0) / 0.10, 1.0),
               6
           ) AS quality
    FROM documents
    """,
    tags=("text", "quality"),
)
def tx_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punctuation/stopword quality heuristic (functions.text.quality_score)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(F.coalesce(T.punct_ratio("text"), F.lit(0.0)), 6).alias("punct_ratio"),
        F.round(F.coalesce(T.stopword_ratio("text"), F.lit(0.0)), 6).alias(
            "stopword_ratio"
        ),
        F.round(T.quality_score("text"), 6).alias("quality"),
    )


@register(
    "tx_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(lower(trim(text))) AS fp_exact,
           md5(array_to_string(list_sort(list_distinct({SQL_TOKENS})), ' ')) AS fp_bag,
           list_min(list_transform(
               list_distinct(CASE WHEN len({SQL_TOKENS}) >= 3 THEN
                   list_transform(
                       range(1, len({SQL_TOKENS}) - 1),
                       i -> {SQL_TOKENS}[i] || ' ' || {SQL_TOKENS}[i+1] || ' ' || {SQL_TOKENS}[i+2]
                   )
               ELSE [] END),
               s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)
           )) AS fp_min_shingle
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def tx_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three document fingerprints: exact md5, token-bag md5, min-shingle-hash."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.fingerprint_md5("text").alias("fp_exact"),
        T.bag_fingerprint("text").alias("fp_bag"),
        T.min_shingle_hash("text").alias("fp_min_shingle"),
    )


@register(
    "tx_ngram_freq",
    oracle=f"""
    WITH grams AS (
        SELECT UNNEST(CASE WHEN len({SQL_TOKENS}) >= 2 THEN
                   list_transform(
                       range(1, len({SQL_TOKENS})),
                       i -> {SQL_TOKENS}[i] || ' ' || {SQL_TOKENS}[i+1]
                   )
               ELSE [] END) AS bigram
        FROM documents
    )
    SELECT bigram, COUNT(*) AS freq
    FROM grams
    GROUP BY bigram
    ORDER BY freq DESC, bigram
    LIMIT 20
    """,
    tags=("text", "ngram", "topk"),
)
def tx_ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams: explode → count → top-k.

    The shuffle key is the bigram (high cardinality, low skew); at 100 TB
    partial aggregation collapses each partition's counts before shuffle.
    """
    d = _t(spark, sf_dir, "documents")
    grams = T.word_shingles("text", n=2, distinct=False)
    return (
        d.select(F.explode(grams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("bigram"))
        .limit(20)
    )


@register(
    "tx_levenshtein",
    oracle="""
    WITH p AS (SELECT doc_id, substr(text, 1, 60) AS prefix
               FROM documents WHERE doc_id < 25)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS edit_distance
    FROM p a JOIN p b ON a.doc_id < b.doc_id
    """,
    tags=("text", "similarity"),
)
def tx_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise edit distance between document prefixes (string similarity)."""
    d = _t(spark, sf_dir, "documents")
    p = d.filter(F.col("doc_id") < 25).select(
        "doc_id", F.substring("text", 1, 60).alias("prefix")
    )
    a = p.select(F.col("doc_id").alias("a_id"), F.col("prefix").alias("pa"))
    b = p.select(F.col("doc_id").alias("b_id"), F.col("prefix").alias("pb"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.levenshtein("pa", "pb").cast("int").alias("edit_distance"),
        )
    )


@register(
    "tx_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({SQL_TOKENS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE term != '' GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               ROUND(tf.tf * ln(n.n::DOUBLE / dfreq.df), 6) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY tfidf DESC, term
               ) AS rnk
        FROM scored
    )
    SELECT doc_id, term, rnk, tfidf FROM ranked WHERE rnk <= 3
    """,
    tags=("text", "tfidf", "window"),
)
def tx_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF.

    One explode pass feeds both aggregates: term frequency per (doc, term),
    then document frequency per term derived from the tf relation itself
    (one row per doc-term, so COUNT(*) == COUNT(DISTINCT doc)) — the
    vocabulary-sized second aggregate never re-reads the corpus. Ranking
    uses the ROUNDED score so float ulp noise cannot flip the row_number
    order between engines; ties break on the term.

    Scale: tf shuffles on (doc_id, term) with map-side partial aggregation;
    dfreq is vocabulary-sized; the scalar N joins via broadcast. Top-k per
    doc is the standard row_number window — one shuffle on doc_id.
    """
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(T.tokens("text")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "rnk", "tfidf")
    )


# PII/noise scrubbing patterns — single source for Spark and oracle SQL.
# Kept to RE2∩Java syntax (char classes, bounded repeats) so both engines
# match identically; replacement order is urls → emails → digit runs.
PAT_URL = r"https?://\S+"
PAT_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PAT_NUM = r"\d{3,}"


@register(
    "tx_pii_redact",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PAT_URL}')) AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(text, '{PAT_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{PAT_NUM}')) AS BIGINT) AS n_numbers,
           md5(regexp_replace(regexp_replace(regexp_replace(
               text, '{PAT_URL}', '<URL>', 'g'),
                     '{PAT_EMAIL}', '<EMAIL>', 'g'),
                     '{PAT_NUM}', '<NUM>', 'g')) AS redacted_fp,
           CAST(length(regexp_replace(regexp_replace(regexp_replace(
               text, '{PAT_URL}', '<URL>', 'g'),
                     '{PAT_EMAIL}', '<EMAIL>', 'g'),
                     '{PAT_NUM}', '<NUM>', 'g')) AS BIGINT) AS redacted_len
    FROM documents
    """,
    tags=("text", "pii", "regex"),
)
def tx_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/noise scrubbing: count and redact URLs, emails, long digit runs.

    The training-data-cleanup primitive: pure regexp expressions (JVM-side,
    codegen) — a single projection pass, no shuffle at all. The redacted
    text is fingerprinted (md5) so the oracle value-checks the full
    rewritten string without hauling it through the comparison.
    """
    d = _t(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PAT_URL, "<URL>"),
            PAT_EMAIL,
            "<EMAIL>",
        ),
        PAT_NUM,
        "<NUM>",
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(PAT_URL), F.lit(0))).cast(
            "long"
        ).alias("n_urls"),
        F.size(F.regexp_extract_all("text", F.lit(PAT_EMAIL), F.lit(0))).cast(
            "long"
        ).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(PAT_NUM), F.lit(0))).cast(
            "long"
        ).alias("n_numbers"),
        F.md5(redacted).alias("redacted_fp"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


@register(
    "tx_sentences_udtf",
    oracle="""
    WITH s AS (
        SELECT doc_id, string_split(text, '. ') AS parts FROM documents
    ),
    e AS (
        SELECT doc_id,
               UNNEST(list_transform(
                   range(1, len(parts) + 1),
                   i -> {'i': i, 'c': length(parts[i])}
               )) AS u
        FROM s
    )
    SELECT doc_id,
           CAST(u.i AS BIGINT) AS sent_idx,
           CAST(u.c AS BIGINT) AS n_chars
    FROM e
    """,
    tags=("text", "udtf"),
)
def tx_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation via a Python UDTF (table function, LATERAL).

    Covers the UDTF API surface: one input row → N output rows with
    per-sentence positions. Row-at-a-time Python is the slow path — the
    equivalent Catalyst plan is posexplode(split(...)) and is what the
    rest of the repo uses; this exists to prove the extension point works
    end-to-end (registration, lateral join, schema). Spark also supports
    ``useArrow=True`` batched UDTFs for the same API.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx bigint, n_chars bigint")
    class SplitSentences:
        def eval(self, text):
            if text is None:
                return
            for i, part in enumerate(text.split(". "), start=1):
                yield i, len(part)

    ensure_analytics_conf(spark)
    spark.udtf.register("split_sentences", SplitSentences)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "udtf_documents"
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.n_chars
        FROM udtf_documents d, LATERAL split_sentences(d.text) s
        """
    )


# --- Gopher-style quality rules --------------------------------------------------

# Rule thresholds (Rae et al., "Scaling Language Models: ... Gopher" §A1.1
# in spirit; bounds adapted to the synthetic corpus). Shared by the Spark
# expressions AND the generated oracle SQL so the two cannot drift.
def _gopher_signals(text: str = "text"):
    """The four Gopher quality signals as Catalyst Columns — the single
    Spark-side source of the rules for tx_gopher_quality (per-doc report),
    tx_dataset_card (keep-rate summary), and any future consumer, so the
    rule set cannot silently fork (the _coservice_lpa factoring rule).
    Signals are ROUNDED exactly as the oracles round them, so boundary
    docs cannot flip between engines."""
    toks = T.tokens(text)
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    )
    mean_len = F.round(
        sum_len.cast("double") / F.nullif(F.size(toks), F.lit(0)), 6
    )
    symbol_ratio = F.round(
        F.length(F.regexp_replace(text, T.NON_SYMBOL, "")).cast("double")
        / F.nullif(F.length(text), F.lit(0)),
        6,
    )
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in T.LANG_STOPWORDS["en"]]))
    ).cast("long")
    return n_words, mean_len, symbol_ratio, stop_hits


def _gopher_keep(n_words, mean_len, symbol_ratio, stop_hits):
    """The conjunctive Gopher keep decision from the rounded signals."""
    return (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_len.between(GOPHER_MEAN_LEN_LO, GOPHER_MEAN_LEN_HI)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (stop_hits >= GOPHER_MIN_STOPWORD_HITS)
    )


GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_MEAN_LEN_LO = 2.0
GOPHER_MEAN_LEN_HI = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOPWORD_HITS = 2


@register(
    "tx_gopher_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({SQL_TOKENS}) AS BIGINT) AS n_words,
               ROUND(list_sum(list_transform({SQL_TOKENS}, t -> length(t)))::DOUBLE
                     / nullif(len({SQL_TOKENS}), 0), 6) AS mean_word_len,
               ROUND(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                     / nullif(length(text), 0), 6) AS symbol_ratio,
               CAST(len(list_intersect({SQL_TOKENS}, [{_EN}])) AS BIGINT)
                   AS stopword_hits
        FROM documents
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, stopword_hits,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
            AND mean_word_len BETWEEN {GOPHER_MEAN_LEN_LO} AND {GOPHER_MEAN_LEN_HI}
            AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
            AND stopword_hits >= {GOPHER_MIN_STOPWORD_HITS}) AS keep
    FROM t
    """,
    tags=("text", "quality", "gopher"),
)
def tx_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules, one Catalyst pass per doc:
    word-count bounds, mean word length, symbol-to-char ratio, distinct
    stopword hits → per-rule signals + the conjunctive keep decision.
    The keep flag is computed from the ROUNDED signals in both engines so
    boundary docs cannot flip between them.
    """
    d = _t(spark, sf_dir, "documents")
    n_words, mean_len, symbol_ratio, stop_hits = _gopher_signals()
    out = d.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        stop_hits.alias("stopword_hits"),
    )
    return out.withColumn(
        "keep",
        _gopher_keep(
            F.col("n_words"),
            F.col("mean_word_len"),
            F.col("symbol_ratio"),
            F.col("stopword_hits"),
        ),
    )


@register(
    "tx_repetition",
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               list_transform(range(1, len({SQL_TOKENS})),
                              i -> {SQL_TOKENS}[i] || ' ' || {SQL_TOKENS}[i + 1])
                   AS bigrams
        FROM documents
    )
    SELECT doc_id,
           CAST(len(bigrams) AS BIGINT) AS n_bigrams,
           CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct,
           ROUND(1.0 - len(list_distinct(bigrams))::DOUBLE
                     / nullif(len(bigrams), 0), 6) AS repetition_ratio
    FROM b
    """,
    tags=("text", "quality", "repetition"),
)
def tx_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition: fraction of word bigrams that are
    repeats (1 − distinct/total) — the C4/Gopher-style signal that
    catches boilerplate and looping generations that whole-doc
    fingerprints miss. NULL for docs with < 2 tokens.
    """
    d = _t(spark, sf_dir, "documents")
    bigrams = T.word_shingles("text", 2, distinct=False)
    n_total = F.size(bigrams)
    n_distinct = F.size(F.array_distinct(bigrams))
    return d.select(
        "doc_id",
        n_total.cast("long").alias("n_bigrams"),
        n_distinct.cast("long").alias("n_distinct"),
        F.round(
            1.0 - n_distinct.cast("double") / F.nullif(n_total, F.lit(0)).cast("double"),
            6,
        ).alias("repetition_ratio"),
    )


# BPE-ish pre-tokenizer: the GPT-2-style split (contraction suffixes,
# space-prefixed letter runs, digit runs, punctuation runs, whitespace)
# minus the trailing-space lookahead, which RE2 (DuckDB) cannot run. Each
# match is one "piece" — counting pieces approximates LLM token cost far
# better than whitespace words (digits and punctuation split off).
BPE_PIECE_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"
_BPE_SQL = BPE_PIECE_REGEX.replace("'", "''")  # escape for the SQL literal


@register(
    "tx_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({SQL_TOKENS}) AS BIGINT) AS n_words,
           CAST(len(regexp_extract_all(text, '{_BPE_SQL}')) AS BIGINT)
               AS n_bpe_pieces,
           ROUND(len(regexp_extract_all(text, '{_BPE_SQL}'))::DOUBLE
                 / nullif(len({SQL_TOKENS}), 0), 6) AS pieces_per_word
    FROM documents
    """,
    tags=("text", "tokenize", "bpe"),
)
def tx_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM token-cost estimation: whitespace word count vs BPE-ish piece
    count per document, one JVM-side regexp pass (no Python). Both
    engines run the identical leftmost-greedy pattern, so the counts are
    value-checked, not approximated.
    """
    d = _t(spark, sf_dir, "documents")
    n_words = F.size(T.tokens("text")).cast("long")
    n_pieces = F.regexp_count("text", F.lit(BPE_PIECE_REGEX)).cast("long")
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_pieces.alias("n_bpe_pieces"),
        F.round(
            n_pieces.cast("double") / F.nullif(n_words, F.lit(0)).cast("double"), 6
        ).alias("pieces_per_word"),
    )


# --- training-window chunking -----------------------------------------------------

CHUNK_TOKENS = 32  # window size (tokens)
CHUNK_STRIDE = 24  # hop → 8-token overlap between consecutive chunks


@register(
    "tx_chunk_plan",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
    )
    SELECT doc_id,
           r.chunk_no,
           CAST(r.chunk_no * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
           CAST(least({CHUNK_TOKENS},
                      len(toks) - r.chunk_no * {CHUNK_STRIDE}) AS BIGINT)
               AS n_tokens,
           array_to_string(
               toks[r.chunk_no * {CHUNK_STRIDE} + 1 :
                    r.chunk_no * {CHUNK_STRIDE} + {CHUNK_TOKENS}],
               ' ') AS chunk_text
    FROM t,
         LATERAL (
             SELECT UNNEST(range(0,
                 greatest(len(toks) - 1, 0) // {CHUNK_STRIDE} + 1)) AS chunk_no
         ) r
    """,
    tags=("text", "chunking", "training"),
)
def tx_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token training windows (32 tokens, stride 24 —
    the context-window packing step of an LLM data pipeline), pure
    Catalyst: sequence + posexplode + slice, no Python, no shuffle. The
    same plan shape as the audio/frame chunkers in operators/multimodal,
    applied to token arrays.
    """
    d = _t(spark, sf_dir, "documents")
    toks = T.tokens("text")
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - 1, F.lit(0)),
        F.lit(CHUNK_STRIDE),
    )
    return (
        d.select("doc_id", toks.alias("toks"), F.posexplode(starts).alias("chunk_no", "start_tok"))
        .select(
            "doc_id",
            F.col("chunk_no").cast("long").alias("chunk_no"),
            F.col("start_tok").cast("long").alias("start_tok"),
            F.least(
                F.lit(CHUNK_TOKENS), F.size("toks") - F.col("start_tok")
            ).cast("long").alias("n_tokens"),
            F.array_join(
                F.slice(F.col("toks"), F.col("start_tok") + 1, CHUNK_TOKENS), " "
            ).alias("chunk_text"),
        )
    )


# --- deterministic train/val/test split -------------------------------------------

SPLIT_BUCKETS = 100
SPLIT_TRAIN_LT = 90  # buckets [0,90) → train
SPLIT_VAL_LT = 95    # [90,95) → val; [95,100) → test


@register(
    "tx_split_assign",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % {SPLIT_BUCKETS} AS bucket
        FROM documents
    )
    SELECT CASE WHEN bucket < {SPLIT_TRAIN_LT} THEN 'train'
                WHEN bucket < {SPLIT_VAL_LT} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM s
    GROUP BY split
    """,
    tags=("text", "sampling", "split"),
)
def tx_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by portable keyed
    hash of doc_id — stable across runs, engines and cluster sizes (the
    property random() splits lack), and pure Catalyst. The same
    seeded-hash scheme as fx_hash_sample, with a 'split:' domain prefix
    so the split is independent of any sampling decision.
    """
    d = _t(spark, sf_dir, "documents")
    bucket = T.portable_hash60(
        F.concat(F.lit("split:"), F.col("doc_id").cast("string"))
    ) % SPLIT_BUCKETS
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket < SPLIT_VAL_LT, "val")
        .otherwise("test")
    )
    return (
        d.select(split.alias("split"), "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


# --- sequence packing -------------------------------------------------------------

PACK_SEQ_CHUNKS = 4  # chunks per training sequence (4 × 32 = 128 tokens)
PACK_BUCKETS = 32    # independent packing streams (the parallelism unit)


@register(
    "tx_pack_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {SQL_TOKENS} AS toks FROM documents
    ),
    c AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % {PACK_BUCKETS} AS bucket,
               r.chunk_no,
               CAST(least({CHUNK_TOKENS},
                          len(toks) - r.chunk_no * {CHUNK_TOKENS}) AS BIGINT)
                   AS n_tokens
        FROM t,
             LATERAL (
                 SELECT UNNEST(range(0,
                     greatest(len(toks) - 1, 0) // {CHUNK_TOKENS} + 1)) AS chunk_no
             ) r
    ),
    p AS (
        SELECT bucket, doc_id, n_tokens,
               (ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id, chunk_no)
                - 1) // {PACK_SEQ_CHUNKS} AS pack_id
        FROM c
    )
    SELECT bucket,
           CAST(pack_id AS BIGINT) AS pack_id,
           COUNT(*) AS n_chunks,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_tokens) / {CHUNK_TOKENS * PACK_SEQ_CHUNKS}.0, 6)
               AS fill_ratio
    FROM p
    GROUP BY bucket, pack_id
    """,
    tags=("text", "chunking", "packing", "training"),
)
def tx_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: non-overlapping 32-token chunks packed 4-per-128-token
    training sequence, with per-pack fill statistics (the step after
    tx_chunk_plan in an LLM data pipeline — batches want full windows).

    Packing is inherently sequential, so the scale design assigns each doc
    to one of {PACK_BUCKETS} independent packing streams by keyed hash and
    runs the greedy fill per stream: one shuffle on bucket, a within-bucket
    sort (row_number), no global ordering anywhere. At 100 TB you raise
    PACK_BUCKETS to O(cores) and every stream packs in parallel; the
    bucket hash is engine-portable so the oracle replays the identical
    assignment.
    """
    d = _t(spark, sf_dir, "documents")
    toks = T.tokens("text")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(CHUNK_TOKENS)
    )
    bucket = T.portable_hash60(
        F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))
    ) % PACK_BUCKETS
    chunks = d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.size(toks).alias("n_toks"),
        F.posexplode(starts).alias("chunk_no", "start_tok"),
    ).select(
        "doc_id",
        "bucket",
        "chunk_no",
        F.least(F.lit(CHUNK_TOKENS), F.col("n_toks") - F.col("start_tok"))
        .cast("long")
        .alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id", "chunk_no")
    packed = chunks.withColumn(
        "pack_id",
        F.floor((F.row_number().over(w) - 1) / PACK_SEQ_CHUNKS).cast("long"),
    )
    return packed.groupBy("bucket", "pack_id").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(
            F.sum("n_tokens") / float(CHUNK_TOKENS * PACK_SEQ_CHUNKS), 6
        ).alias("fill_ratio"),
    )


# --- corpus unigram language-model score --------------------------------------------

LOGPROB_SCALE = 1_000_000  # fixed-point grid for per-token log-probs


@register(
    "tx_unigram_logprob",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents
    ),
    tot AS (SELECT COUNT(*)::DOUBLE AS total FROM w),
    v AS (
        SELECT t,
               CAST(floor(ln(COUNT(*)::DOUBLE / (SELECT total FROM tot))
                          * {LOGPROB_SCALE} + 0.5) AS BIGINT) AS li
        FROM w GROUP BY t
    ),
    d AS (
        SELECT w.doc_id, COUNT(*) AS n_words, CAST(SUM(v.li) AS BIGINT) AS s
        FROM w JOIN v USING (t) GROUP BY w.doc_id
    )
    SELECT doc_id, n_words,
           ROUND(-(s::DOUBLE) / {LOGPROB_SCALE} / n_words, 6) AS avg_nll
    FROM d
    """,
    tags=("text", "quality", "language-model"),
)
def tx_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus's own
    unigram LM — the KenLM-style perplexity quality filter of a training
    pipeline, reduced to its SQL-expressible core (a real deployment swaps
    the corpus LM for a reference-corpus table; the plan is identical).

    Float-proofing: per-token log-probs are snapped to a fixed-point grid
    (floor(ln(p)·1e6 + 0.5) — exact BIGINTs) before the per-doc sum, so
    aggregation order cannot perturb the result; ln() on exact
    integer-ratio inputs agrees across engines to far below the grid.

    Plan shape (100 TB): explode → one map-side-combined vocab count, the
    corpus total as a broadcast single-row aggregate (the standard scalar
    pattern, not a driver round-trip), then a token→log-prob equi-join and
    a per-doc re-aggregation. The vocab relation is Zipf-small relative to
    the corpus; AQE broadcasts it when it fits, else it's a plain shuffle
    join. The exploded token relation is computed once (eager
    localCheckpoint) and feeds both the vocab count and the per-doc join.
    """
    d = _t(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    words = (
        d.repartition(n)
        .select("doc_id", F.explode(T.tokens("text")).alias("t"))
        .localCheckpoint(eager=True)
    )
    total = words.agg(F.count("*").cast("double").alias("total"))
    vocab = (
        words.groupBy("t")
        .agg(F.count("*").cast("double").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .select(
            "t",
            F.floor(
                F.log(F.col("cnt") / F.col("total")) * LOGPROB_SCALE + F.lit(0.5)
            )
            .cast("long")
            .alias("li"),
        )
    )
    return (
        words.join(vocab, "t")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_words"), F.sum("li").alias("s"))
        .select(
            "doc_id",
            "n_words",
            F.round(
                -F.col("s").cast("double") / LOGPROB_SCALE / F.col("n_words"), 6
            ).alias("avg_nll"),
        )
    )


@register(
    "tx_nll_decile",
    # decile ordering uses CAST(-s AS DOUBLE)/n_words, not the rounded
    # avg_nll: both operands are exact integers, and IEEE division is
    # correctly rounded, so BOTH engines order by bit-identical doubles —
    # rounding first would manufacture ties at decile boundaries that the
    # engines could break differently despite the doc_id tie-break.
    oracle=f"""
    WITH w AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents
    ),
    tot AS (SELECT COUNT(*)::DOUBLE AS total FROM w),
    v AS (
        SELECT t,
               CAST(floor(ln(COUNT(*)::DOUBLE / (SELECT total FROM tot))
                          * {LOGPROB_SCALE} + 0.5) AS BIGINT) AS li
        FROM w GROUP BY t
    ),
    d AS (
        SELECT w.doc_id, COUNT(*) AS n_words, CAST(SUM(v.li) AS BIGINT) AS s
        FROM w JOIN v USING (t) GROUP BY w.doc_id
    )
    SELECT doc_id,
           ROUND(-(s::DOUBLE) / {LOGPROB_SCALE} / n_words, 6) AS avg_nll,
           CAST(ntile(10) OVER (
               ORDER BY CAST(-s AS DOUBLE) / n_words, doc_id
           ) AS BIGINT) AS decile
    FROM d
    """,
    tags=("text", "quality", "language-model", "curriculum"),
)
def tx_nll_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: documents cut into 10 fluency deciles by
    their unigram-LM average NLL (decile 1 = most predictable text) — the
    ordering step of easiest-first curriculum sampling or of a
    quality-stratified mixture. The NLL is the fixed-point tx_unigram
    relation, so the decile cut points are engine-exact; at scale ntile
    over a global order is the one total sort this family ever does (and
    a production run replaces it with the bucket-offset plan tx_epoch_order
    demonstrates)."""
    d = _t(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    words = (
        d.repartition(n)
        .select("doc_id", F.explode(T.tokens("text")).alias("t"))
        .localCheckpoint(eager=True)
    )
    total = words.agg(F.count("*").cast("double").alias("total"))
    vocab = (
        words.groupBy("t")
        .agg(F.count("*").cast("double").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .select(
            "t",
            F.floor(
                F.log(F.col("cnt") / F.col("total")) * LOGPROB_SCALE + F.lit(0.5)
            )
            .cast("long")
            .alias("li"),
        )
    )
    per_doc = (
        words.join(vocab, "t")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_words"), F.sum("li").alias("s"))
    )
    w = Window.orderBy(
        (-F.col("s")).cast("double") / F.col("n_words"), F.asc("doc_id")
    )
    return per_doc.select(
        "doc_id",
        F.round(
            -F.col("s").cast("double") / LOGPROB_SCALE / F.col("n_words"), 6
        ).alias("avg_nll"),
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


# --- source-mix rebalancing ----------------------------------------------------------

MIX_PPM = 1_000_000  # keep-rate resolution (parts per million)


@register(
    "tx_source_mix",
    oracle=f"""
    WITH c AS (
        SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ),
    m AS (SELECT MIN(n_docs) AS min_docs FROM c),
    r AS (
        SELECT source, n_docs,
               (min_docs * {MIX_PPM}) // n_docs AS keep_ppm
        FROM c, m
    ),
    k AS (
        SELECT d.source, r.n_docs, r.keep_ppm,
               CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % {MIX_PPM} AS h
        FROM documents d JOIN r USING (source)
    )
    SELECT source, n_docs, keep_ppm,
           COUNT(*) FILTER (WHERE h < keep_ppm) AS n_kept
    FROM k GROUP BY source, n_docs, keep_ppm
    """,
    tags=("text", "sampling", "mixture"),
)
def tx_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic source-mix rebalancing: downsample every source to the
    smallest source's size (uniform target mixture) — the data-mixture
    stage of a training pipeline, with hash sampling instead of random()
    so the kept set is stable across runs, engines, and cluster sizes.

    Keep rates are exact integer ppm (min_docs·1e6 DIV n_docs) and the
    keep decision is the same keyed 60-bit hash as tx_split_assign under a
    'mix:' domain prefix, so mixing composes independently with splitting.

    Plan shape (100 TB): one map-side-combined count per source (the
    per-source table is tiny), broadcast back onto the fact scan, keep
    decision evaluated scan-side (no shuffle of dropped rows), then the
    same count shuffle for the report. A real pipeline would write the
    filtered rows; the report aggregate is the value-checkable surface.
    """
    d = _t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_docs"))
    m = counts.agg(F.min("n_docs").alias("min_docs"))
    rates = counts.crossJoin(F.broadcast(m)).select(
        "source",
        "n_docs",
        F.expr(f"(min_docs * {MIX_PPM}) DIV n_docs").alias("keep_ppm"),
    )
    h = T.portable_hash60(
        F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))
    ) % MIX_PPM
    return (
        d.join(F.broadcast(rates), "source")
        .select("source", "n_docs", "keep_ppm", h.alias("h"))
        .groupBy("source", "n_docs", "keep_ppm")
        .agg(
            F.sum(F.when(F.col("h") < F.col("keep_ppm"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept")
        )
    )


# --- deterministic epoch ordering ----------------------------------------------------

ORDER_BUCKETS = 64  # two-level global-position computation (the scale pattern)


@register(
    "tx_epoch_order",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM documents
    )
    SELECT doc_id, h % {ORDER_BUCKETS} AS bucket,
           ROW_NUMBER() OVER (ORDER BY h % {ORDER_BUCKETS}, h, doc_id) - 1
               AS global_pos
    FROM h
    """,
    tags=("text", "ordering", "sampling"),
)
def tx_epoch_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle order: every document gets a
    stable global position in a pseudo-random permutation (seeded hash),
    reproducible across runs, engines, and cluster sizes.

    The oracle is the naive formulation — one global ROW_NUMBER over the
    whole corpus, which on a cluster would funnel every row through a
    single task. The Spark plan computes the IDENTICAL positions with the
    two-level pattern a 100 TB run needs: a windowed row_number PER hash
    bucket (parallel, one shuffle), plus an exclusive running-sum of
    bucket counts (64-row relation) broadcast back — global_pos =
    bucket_offset + local_rank. The driver's value-hash check proves the
    decomposition exact, which is the point of registering it.
    """
    d = _t(spark, sf_dir, "documents")
    h = T.portable_hash60(
        F.concat(F.lit("order:"), F.col("doc_id").cast("string"))
    )
    hd = d.select("doc_id", h.alias("h")).withColumn(
        "bucket", F.col("h") % ORDER_BUCKETS
    )
    wlocal = Window.partitionBy("bucket").orderBy("h", "doc_id")
    ranked = hd.withColumn("rn", F.row_number().over(wlocal))
    counts = ranked.groupBy("bucket").agg(F.count("*").alias("cnt"))
    woff = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = counts.select(
        "bucket", (F.sum("cnt").over(woff) - F.col("cnt")).alias("offset")
    )
    return (
        ranked.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            "bucket",
            (F.col("offset") + F.col("rn") - 1).alias("global_pos"),
        )
    )


# --- staged quality-filter funnel ----------------------------------------------------

REP_MAX_RATIO = 0.2  # stage-2 bound on the bigram repetition ratio

_FUNNEL_STAGES = ("1_gopher", "2_repetition", "3_language", "4_exact_dedup")


def _funnel_oracle() -> str:
    scores = ",\n               ".join(
        f"{_sql_lang_score(lang)} AS score_{lang}" for lang in T.LANG_ORDER
    )
    return f"""
    WITH sig AS (
        SELECT doc_id, text,
               CAST(len({SQL_TOKENS}) AS BIGINT) AS n_words,
               ROUND(list_sum(list_transform({SQL_TOKENS}, t -> length(t)))::DOUBLE
                     / nullif(len({SQL_TOKENS}), 0), 6) AS mean_word_len,
               ROUND(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                     / nullif(length(text), 0), 6) AS symbol_ratio,
               CAST(len(list_intersect({SQL_TOKENS}, [{_EN}])) AS BIGINT)
                   AS stopword_hits,
               ROUND(1.0 - len(list_distinct(list_transform(
                         range(1, len({SQL_TOKENS})),
                         i -> {SQL_TOKENS}[i] || ' ' || {SQL_TOKENS}[i + 1])))::DOUBLE
                     / nullif(len({SQL_TOKENS}) - 1, 0), 6) AS rep_ratio,
               {scores}
        FROM documents
    ),
    flags AS (
        SELECT doc_id,
               (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND mean_word_len BETWEEN {GOPHER_MEAN_LEN_LO} AND {GOPHER_MEAN_LEN_HI}
                AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
                AND stopword_hits >= {GOPHER_MIN_STOPWORD_HITS}) AS g,
               (rep_ratio IS NULL OR rep_ratio <= {REP_MAX_RATIO}) AS r,
               ({_sql_lang_case()}) = 'en' AS l,
               doc_id = MIN(doc_id) OVER (
                   PARTITION BY md5(lower(trim(text)))) AS u
        FROM sig
    ),
    f AS (
        SELECT COUNT(*) AS n0,
               COUNT(*) FILTER (WHERE g) AS n1,
               COUNT(*) FILTER (WHERE g AND r) AS n2,
               COUNT(*) FILTER (WHERE g AND r AND l) AS n3,
               COUNT(*) FILTER (WHERE g AND r AND l AND u) AS n4
        FROM flags
    )
    SELECT '1_gopher' AS stage, n0 AS n_in, n0 - n1 AS n_dropped, n1 AS n_out FROM f
    UNION ALL
    SELECT '2_repetition', n1, n1 - n2, n2 FROM f
    UNION ALL
    SELECT '3_language', n2, n2 - n3, n3 FROM f
    UNION ALL
    SELECT '4_exact_dedup', n3, n3 - n4, n4 FROM f
    """


@register(
    "tx_filter_pipeline",
    oracle=_funnel_oracle(),
    tags=("text", "quality", "pipeline"),
)
def tx_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end quality funnel a training pipeline runs before
    tokenization: Gopher rules → repetition cut → language filter → exact
    dedup (keep the min-doc_id copy), reported as a per-stage funnel
    (n_in / n_dropped / n_out) — the observability artifact data teams
    actually review.

    Stage predicates reuse the SAME constants and rounded signals as
    tx_gopher_quality / tx_repetition / tx_lang_id, so a constant change
    shows up in both the per-doc operators and this funnel. All four
    flags come out of ONE scan (one projection + one fingerprint window);
    the funnel itself is a single 5-counter aggregate — at 100 TB this is
    a pass over the corpus plus one tiny shuffle for the dedup window and
    nothing else. The 4 report rows are a broadcast cross join of the
    one-row aggregate with a literal stage table (no re-scan per stage).
    """
    d = _t(spark, sf_dir, "documents")
    toks = T.tokens("text")
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(F.transform(toks, F.length), F.lit(0), lambda a, x: a + x)
    mean_len = F.round(sum_len.cast("double") / F.nullif(F.size(toks), F.lit(0)), 6)
    symbol_ratio = F.round(
        F.length(F.regexp_replace("text", T.NON_SYMBOL, "")).cast("double")
        / F.nullif(F.length("text"), F.lit(0)),
        6,
    )
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in T.LANG_STOPWORDS["en"]]))
    ).cast("long")
    bigrams = T.word_shingles("text", 2, distinct=False)
    rep_ratio = F.round(
        1.0
        - F.size(F.array_distinct(bigrams)).cast("double")
        / F.nullif(F.size(bigrams), F.lit(0)).cast("double"),
        6,
    )
    g = (
        n_words.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & mean_len.between(GOPHER_MEAN_LEN_LO, GOPHER_MEAN_LEN_HI)
        & (symbol_ratio <= GOPHER_MAX_SYMBOL_RATIO)
        & (stop_hits >= GOPHER_MIN_STOPWORD_HITS)
    )
    r = rep_ratio.isNull() | (rep_ratio <= REP_MAX_RATIO)
    lang = T.lang_id("text") == "en"
    from pyspark.sql import Window

    u = F.col("doc_id") == F.min("doc_id").over(
        Window.partitionBy(T.fingerprint_md5("text"))
    )
    flags = d.select(
        g.alias("g"), r.alias("r"), lang.alias("l"), u.alias("u")
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    agg = flags.agg(
        F.count("*").alias("n0"),
        cnt(F.col("g")).alias("n1"),
        cnt(F.col("g") & F.col("r")).alias("n2"),
        cnt(F.col("g") & F.col("r") & F.col("l")).alias("n3"),
        cnt(F.col("g") & F.col("r") & F.col("l") & F.col("u")).alias("n4"),
    )
    stages = spark.createDataFrame(
        [(s,) for s in _FUNNEL_STAGES], schema="stage string"
    )
    ns = [F.col(f"n{i}") for i in range(5)]
    pick_in = (
        F.when(F.col("stage") == "1_gopher", ns[0])
        .when(F.col("stage") == "2_repetition", ns[1])
        .when(F.col("stage") == "3_language", ns[2])
        .otherwise(ns[3])
    )
    pick_out = (
        F.when(F.col("stage") == "1_gopher", ns[1])
        .when(F.col("stage") == "2_repetition", ns[2])
        .when(F.col("stage") == "3_language", ns[3])
        .otherwise(ns[4])
    )
    return stages.crossJoin(F.broadcast(agg)).select(
        "stage",
        pick_in.alias("n_in"),
        (pick_in - pick_out).alias("n_dropped"),
        pick_out.alias("n_out"),
    )


# DuckDB trigram-shingle fragment (same construction as operators.dedup's
# SQL_SHINGLES3; inlined because dedup imports this module — importing it
# back would be circular at load time).
SQL_SHINGLES3_LOCAL = f"""list_distinct(CASE WHEN len({SQL_TOKENS}) >= 3 THEN
    list_transform(
        range(1, len({SQL_TOKENS}) - 1),
        i -> {SQL_TOKENS}[i] || ' ' || {SQL_TOKENS}[i+1] || ' ' || {SQL_TOKENS}[i+2]
    )
ELSE [] END)"""


@register(
    "tx_novelty_score",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {SQL_SHINGLES3_LOCAL} AS s FROM documents
    ),
    inv AS (
        SELECT doc_id, t.g FROM sh, LATERAL unnest(s) t(g) WHERE len(s) > 0
    ),
    dfreq AS (SELECT g, COUNT(*) AS df FROM inv GROUP BY g)
    SELECT inv.doc_id,
           COUNT(*) AS n_shingles,
           ROUND(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
               AS novelty
    FROM inv JOIN dfreq USING (g)
    GROUP BY inv.doc_id
    """,
    tags=("text", "novelty", "dedup"),
)
def tx_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    trigram shingles that occur in NO other document.

    The inverse of contamination/boilerplate scoring: low novelty means
    the doc is assembled from corpus-common n-grams (template/spam
    signal); high novelty marks fresh text worth keeping — a filter
    feature alongside tx_quality_score in a curation funnel.

    Plan: one shingle pass feeds two aggregations — per-doc shingle
    counts, and the document-frequency groupBy on the shingle
    (high-cardinality, low-skew — the same shuffle profile as the dedup
    inverted index). The naive formulation then joins document
    frequencies BACK onto the exploded shingle relation (a second
    shingle-cardinality shuffle); unnecessary, because a shingle with
    df = 1 belongs to exactly ONE document — min(doc_id) of its group IS
    that document. So unique-shingle counts come straight off the df
    aggregate, and the only join left is doc-level (|docs| rows, not
    |shingle occurrences|). At 100 TB both shuffles are map-side combined
    and key cardinality grows with corpus vocabulary, not corpus size².
    """
    d = _t(spark, sf_dir, "documents")
    n = d.sparkSession.sparkContext.defaultParallelism
    sh = (
        # round-robin exchange BEFORE the shingle projection: the corpus
        # often arrives as few large files, and the HOF tokenize/shingle
        # work is the expensive part — spread it across all cores
        d.repartition(n)
        .select("doc_id", T.word_shingles("text", 3).alias("sh"))
        .filter(F.size("sh") > 0)
        .select("doc_id", F.explode("sh").alias("s"))
        .localCheckpoint(eager=True)  # feeds both aggregations
    )
    per_doc = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    uniq = (
        sh.groupBy("s")
        .agg(F.count("*").alias("df"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("df") == 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_uniq"))
    )
    return per_doc.join(uniq, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.round(
            F.coalesce(F.col("n_uniq"), F.lit(0)) / F.col("n_shingles"), 6
        ).alias("novelty"),
    )


CLS_DIM = 512  # hashing-trick feature space
CLS_WMOD = 1601  # weight grid: hash % WMOD - WMOD//2 → integer milli-weights
CLS_BIAS = -1200  # milli-logit bias


@register(
    "tx_classifier_score",
    oracle=f"""
    SELECT doc_id,
           CAST({CLS_BIAS} + list_sum(list_transform(
               {SQL_TOKENS},
               t -> CAST(('0x' || substr(md5('w:' ||
                        CAST(CAST(('0x' || substr(md5('feat:' || t), 1, 15))
                             AS BIGINT) % {CLS_DIM} AS VARCHAR)), 1, 15))
                        AS BIGINT) % {CLS_WMOD} - {CLS_WMOD // 2}
           )) AS BIGINT) AS logit_milli,
           ({CLS_BIAS} + list_sum(list_transform(
               {SQL_TOKENS},
               t -> CAST(('0x' || substr(md5('w:' ||
                        CAST(CAST(('0x' || substr(md5('feat:' || t), 1, 15))
                             AS BIGINT) % {CLS_DIM} AS VARCHAR)), 1, 15))
                        AS BIGINT) % {CLS_WMOD} - {CLS_WMOD // 2}
           ))) > 0 AS keep
    FROM documents
    ORDER BY doc_id
    """,
    tags=("text", "classifier", "quality"),
)
def tx_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality-classifier INFERENCE: hashing-trick
    bag-of-words features (token → md5 hash mod {CLS_DIM}), a weight
    vector addressed by feature id, and a per-document logit =
    bias + Σ w[feat(token)].

    This is the exact runtime shape of the quality classifiers real
    pretraining pipelines sweep over their corpus (CCNet/DCLM-style): the
    model is a broadcast-sized array of weights and scoring is a single
    embarrassingly-parallel scan — no shuffle, no UDF, no model server.
    Here the weight vector is DERIVED from a keyed portable hash of the
    feature id (so the DuckDB oracle replays inference exactly); swapping
    in trained weights changes one expression, not the plan. The logit
    stays on an integer milli-grid end to end, so no exp/sigmoid float
    boundary exists — the keep decision is logit > 0, bit-identical in
    both engines.

    Plan shape (100 TB): one corpus scan; per row a transform+aggregate
    over the token array inside whole-stage codegen. Tokens never leave
    their row — the classic hashing-trick win: feature extraction and
    scoring fuse into the scan.
    """
    ensure_analytics_conf(spark)
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokens("text")

    def _weight(t):
        feat = T.portable_hash60(F.concat(F.lit("feat:"), t)) % CLS_DIM
        return (
            T.portable_hash60(F.concat(F.lit("w:"), feat.cast("string")))
            % CLS_WMOD
            - CLS_WMOD // 2
        )

    logit = (
        F.lit(CLS_BIAS)
        + F.aggregate(
            F.transform(toks, _weight),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
    ).cast("bigint")
    return d.select(
        "doc_id",
        logit.alias("logit_milli"),
        (logit > 0).alias("keep"),
    ).orderBy("doc_id")


# --- DSIR importance weighting ------------------------------------------------

DSIR_B = 1024  # hashed-feature buckets (hashing trick over unigrams)
DSIR_TARGET_SOURCE = "src0"  # stands in for the curated target corpus
DSIR_SCALE = 1_000_000  # fixed-point grid for per-feature log-probs


@register(
    "tx_dsir_weight",
    oracle=f"""
    WITH w AS (
        SELECT doc_id,
               source,
               CAST(('0x' || substr(md5('dsir:' || t), 1, 15)) AS BIGINT)
                   % {DSIR_B} AS f
        FROM (SELECT doc_id, source, unnest({SQL_TOKENS}) AS t FROM documents)
    ),
    tot AS (
        SELECT COUNT(*)::DOUBLE AS nr,
               (COUNT(*) FILTER (WHERE source = '{DSIR_TARGET_SOURCE}'))::DOUBLE
                   AS nt
        FROM w
    ),
    li AS (
        SELECT f,
               CAST(floor(ln((COUNT(*) FILTER (WHERE source =
                                  '{DSIR_TARGET_SOURCE}') + 1)::DOUBLE
                             / ((SELECT nt FROM tot) + {DSIR_B}))
                          * {DSIR_SCALE} + 0.5) AS BIGINT)
               - CAST(floor(ln((COUNT(*) + 1)::DOUBLE
                               / ((SELECT nr FROM tot) + {DSIR_B}))
                            * {DSIR_SCALE} + 0.5) AS BIGINT) AS dli
        FROM w GROUP BY f
    ),
    d AS (
        SELECT w.doc_id, COUNT(*) AS n_toks, CAST(SUM(li.dli) AS BIGINT) AS s
        FROM w JOIN li USING (f) GROUP BY w.doc_id
    )
    SELECT doc_id, n_toks,
           ROUND(s::DOUBLE / {DSIR_SCALE} / n_toks, 6) AS dsir_logratio,
           s > 0 AS keep
    FROM d ORDER BY doc_id
    """,
    tags=("text", "quality", "importance-sampling", "language-model"),
)
def tx_dsir_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    weights: per-document log importance ratio
    log p_target(doc) - log p_raw(doc) under two hashed-unigram bag
    models — target = the curated source ('src0' stands in for Wikipedia/
    books in the paper), raw = the whole corpus. Documents whose token
    distribution looks more target-like than corpus-like get positive
    weights; the paper then Gumbel-resamples by weight, here the
    deterministic keep = (weight > 0) cut makes the decision oracle-exact.

    Hashing trick (token → md5 % DSIR_B buckets) bounds BOTH models at
    DSIR_B parameters regardless of vocabulary, exactly as in the paper —
    and the per-feature log-probs (add-1 smoothed over the bucket space)
    snap to a fixed-point 1e6 grid before any summation, so aggregation
    order cannot move a result (same float-proofing as tx_unigram_logprob).

    Plan shape (100 TB): one exploded-token pass (checkpointed) feeds a
    single DSIR_B-group aggregation computing BOTH models' counts (the
    target count is a conditional agg, not a second scan) and the per-doc
    re-aggregation; the per-feature log-ratio relation is DSIR_B rows —
    broadcast to the token join. Two shuffles total (bucket agg, per-doc
    agg), both map-side combined; model size is constant, corpus passes
    are linear.
    """
    d = _t(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    w = (
        d.repartition(n)
        .select("doc_id", "source", F.explode(T.tokens("text")).alias("t"))
        .select(
            "doc_id",
            "source",
            (T.portable_hash60(F.concat(F.lit("dsir:"), F.col("t"))) % DSIR_B)
            .alias("f"),
        )
        .localCheckpoint(eager=True)  # feeds model build AND per-doc join
    )
    tot = w.agg(
        F.count("*").cast("double").alias("nr"),
        F.count(F.when(F.col("source") == DSIR_TARGET_SOURCE, True))
        .cast("double")
        .alias("nt"),
    )

    def _grid(num, den):
        return F.floor(F.log(num / den) * DSIR_SCALE + F.lit(0.5)).cast("long")

    li = (
        w.groupBy("f")
        .agg(
            F.count("*").cast("double").alias("cr"),
            F.count(F.when(F.col("source") == DSIR_TARGET_SOURCE, True))
            .cast("double")
            .alias("ct"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "f",
            (
                _grid(F.col("ct") + 1, F.col("nt") + DSIR_B)
                - _grid(F.col("cr") + 1, F.col("nr") + DSIR_B)
            ).alias("dli"),
        )
    )
    s = F.col("s")
    return (
        w.join(li, "f")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_toks"), F.sum("dli").alias("s"))
        .select(
            "doc_id",
            "n_toks",
            F.round(
                s.cast("double") / DSIR_SCALE / F.col("n_toks"), 6
            ).alias("dsir_logratio"),
            (s > 0).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --- BPE tokenizer training: first merge-step pair counts ---------------------

BPE_TOP_PAIRS = 20


@register(
    "tx_bpe_first_merges",
    oracle=f"""
    WITH wf AS (
        SELECT w, COUNT(*) AS cnt
        FROM (SELECT unnest({SQL_TOKENS}) AS w FROM documents)
        GROUP BY w
    ),
    p AS (
        SELECT unnest(list_transform(
                   range(1, length(w)),
                   i -> substr(w, i, 1) || substr(w, i + 1, 1)
               )) AS pair,
               cnt
        FROM wf
        WHERE length(w) >= 2
    )
    SELECT pair, CAST(SUM(cnt) AS BIGINT) AS cnt
    FROM p GROUP BY pair
    ORDER BY cnt DESC, pair LIMIT {BPE_TOP_PAIRS}
    """,
    tags=("text", "tokenizer", "bpe"),
)
def tx_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of BPE tokenizer training (Sennrich et al.):
    adjacent-symbol pair frequencies over the corpus at the character
    stage, i.e. the statistics that pick the first merge. Returns the
    top-BPE_TOP_PAIRS(=20) pairs — argmax(cnt) is merge #1; subsequent
    merges re-run the same plan on re-segmented words.

    The industrial-strength detail is the word-frequency compression:
    real BPE trainers never stream the corpus per merge — they collapse
    it to a (word, count) dictionary once and count pairs over the
    DICTIONARY weighted by count. Here that's one corpus groupBy to the
    Zipf-small vocab relation, then the pair explosion runs over |vocab|
    rows, not |corpus tokens| — at 100 TB the second stage's input drops
    by the token/type ratio (~1000x). Both aggregations are map-side
    combined; the pair space is bounded by alphabet², so the final
    shuffle is tiny. No Python anywhere — the per-word pair fan-out is a
    codegen'd transform over a character sequence.
    """
    d = _t(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    wf = (
        d.repartition(n)
        .select(F.explode(T.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )
    pairs = (
        wf.filter(F.length("w") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.concat(
                        F.col("w").substr(i, F.lit(1)),
                        F.col("w").substr(i + F.lit(1), F.lit(1)),
                    ),
                )
            ).alias("pair"),
            "cnt",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(BPE_TOP_PAIRS)
    )


# --- bigram language-model NLL ------------------------------------------------


@register(
    "tx_bigram_nll",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, {SQL_TOKENS} AS a FROM documents
    ),
    bg AS (
        SELECT doc_id, a[i] AS x, a[i + 1] AS y
        FROM w, unnest(range(1, len(a))) AS t(i)
    ),
    uni AS (
        SELECT x, COUNT(*) AS cx FROM bg GROUP BY x
    ),
    vv AS (
        SELECT COUNT(DISTINCT t) AS v
        FROM (SELECT unnest({SQL_TOKENS}) AS t FROM documents)
    ),
    bmod AS (
        SELECT b.x, b.y,
               CAST(floor(ln((COUNT(*) + 1)::DOUBLE
                             / (MIN(uni.cx) + (SELECT v FROM vv)))
                          * {LOGPROB_SCALE} + 0.5) AS BIGINT) AS li
        FROM bg b JOIN uni ON uni.x = b.x
        GROUP BY b.x, b.y
    )
    SELECT bg.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(-(CAST(SUM(bmod.li) AS BIGINT)::DOUBLE)
                 / {LOGPROB_SCALE} / COUNT(*), 6) AS avg_nll
    FROM bg JOIN bmod ON bmod.x = bg.x AND bmod.y = bg.y
    GROUP BY bg.doc_id
    ORDER BY bg.doc_id
    """,
    tags=("text", "quality", "language-model"),
)
def tx_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average NLL under a corpus BIGRAM model with add-1
    smoothing over the unigram vocabulary — one order up from
    tx_unigram_logprob, i.e. the actual KenLM-filter shape (perplexity
    filters run n-gram models, not bag-of-words): P(y|x) =
    (C(x,y)+1)/(C(x)+V). Same fixed-point discipline: per-bigram
    log-probs snap to the 1e6 grid before any summation.

    Plan shape (100 TB): bigrams are materialized per row with a
    transform over the token array (no self-join, no window — adjacency
    is intra-document by definition), then ONE bigram-keyed aggregation
    builds the model (the unigram context count rides along as MIN(cx)
    after an equi-join: constant per group, no second shuffle profile),
    and the per-doc re-aggregation joins the exploded bigrams back to the
    model — the same Zipf-small-model/large-corpus join as the unigram
    op, AQE-broadcast when it fits. The vocabulary size is the broadcast
    scalar pattern.
    """
    d = _t(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    arr = T.tokens("text")
    bg = (
        d.repartition(n)
        .select(
            "doc_id",
            F.explode(
                F.when(
                    F.size(arr) >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size(arr) - 1),
                        lambda i: F.struct(
                            F.element_at(arr, i).alias("x"),
                            F.element_at(arr, i + F.lit(1)).alias("y"),
                        ),
                    ),
                ).otherwise(F.array().cast("array<struct<x:string,y:string>>"))
            ).alias("b"),
        )
        .select("doc_id", F.col("b.x").alias("x"), F.col("b.y").alias("y"))
        .localCheckpoint(eager=True)  # feeds model build AND per-doc join
    )
    uni = bg.groupBy("x").agg(F.count("*").alias("cx"))
    vv = (
        d.select(F.explode(T.tokens("text")).alias("t"))
        .agg(F.countDistinct("t").cast("double").alias("v"))
    )
    bmod = (
        bg.join(uni, "x")
        .groupBy("x", "y")
        .agg(F.count("*").cast("double").alias("cxy"), F.min("cx").alias("cx"))
        .crossJoin(F.broadcast(vv))
        .select(
            "x",
            "y",
            F.floor(
                F.log((F.col("cxy") + 1) / (F.col("cx") + F.col("v")))
                * LOGPROB_SCALE
                + F.lit(0.5)
            )
            .cast("long")
            .alias("li"),
        )
    )
    return (
        bg.join(bmod, ["x", "y"])
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bigrams"), F.sum("li").alias("s"))
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                -F.col("s").cast("double") / LOGPROB_SCALE / F.col("n_bigrams"),
                6,
            ).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


# --- class-based TF-IDF (c-TF-IDF) --------------------------------------------

CTFIDF_TOP = 10


@register(
    "tx_ctfidf_source_terms",
    oracle=f"""
    WITH w AS (
        SELECT source, unnest({SQL_TOKENS}) AS t FROM documents
    ),
    tf AS (
        SELECT source, t, COUNT(*) AS tf FROM w GROUP BY source, t
    ),
    ft AS (
        SELECT t, COUNT(*) AS ft FROM w GROUP BY t
    ),
    aa AS (
        SELECT COUNT(*)::DOUBLE / COUNT(DISTINCT source) AS a FROM w
    ),
    sc AS (
        SELECT tf.source, tf.t,
               tf.tf * CAST(floor(ln(1 + (SELECT a FROM aa) / ft.ft)
                                  * {LOGPROB_SCALE} + 0.5) AS BIGINT)
                   AS score_fp
        FROM tf JOIN ft USING (t)
    )
    SELECT source, t AS term, CAST(rnk AS BIGINT) AS rnk,
           ROUND(score_fp / {LOGPROB_SCALE}.0, 6) AS ctfidf
    FROM (
        SELECT source, t, score_fp,
               ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY score_fp DESC, t
               ) AS rnk
        FROM sc
    )
    WHERE rnk <= {CTFIDF_TOP}
    ORDER BY source, rnk
    """,
    tags=("text", "tfidf", "topic-labeling"),
)
def tx_ctfidf_source_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-based TF-IDF (the BERTopic c-TF-IDF formula): treat each
    SOURCE as one class-document, score term t in class c as
    tf(t,c) · ln(1 + A / f(t)) with A = average tokens per class and
    f(t) = corpus term frequency, and report each source's top-10 terms
    — the topic-labeling step after any clustering (swap `source` for a
    cluster id column and the plan is unchanged).

    The idf-like factor snaps to the 1e6 log grid per TERM before the
    per-class multiply, so scores are exact integers and the per-class
    ranking cannot be perturbed by float association.

    Plan shape (100 TB): one exploded-token pass feeds two
    map-side-combined aggregations (class-term and term); the scalar A
    is the broadcast single-row-aggregate pattern; ranking is a window
    over the class-term relation (vocabulary-bounded, not corpus-
    bounded).
    """
    d = _t(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    w = (
        d.repartition(n)
        .select("source", F.explode(T.tokens("text")).alias("t"))
        .localCheckpoint(eager=True)  # feeds tf, ft, and A
    )
    tf = w.groupBy("source", "t").agg(F.count("*").alias("tf"))
    ft = w.groupBy("t").agg(F.count("*").alias("ft"))
    aa = w.agg(
        (F.count("*") / F.countDistinct("source")).alias("a")
    )
    sc = (
        tf.join(ft, "t")
        .crossJoin(F.broadcast(aa))
        .select(
            "source",
            "t",
            (
                F.col("tf")
                * F.floor(
                    F.log(1 + F.col("a") / F.col("ft")) * LOGPROB_SCALE
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("score_fp"),
        )
    )
    wr = Window.partitionBy("source").orderBy(F.desc("score_fp"), F.asc("t"))
    return (
        sc.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= CTFIDF_TOP)
        .select(
            "source",
            F.col("t").alias("term"),
            "rnk",
            F.round(F.col("score_fp") / float(LOGPROB_SCALE), 6).alias("ctfidf"),
        )
        .orderBy("source", "rnk")
    )


# --- hashed document vectors (feature-hashing embedder stand-in) --------------

DOCVEC_DIM = 16


@register(
    "tx_doc_vectors",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, unnest({SQL_TOKENS}) AS t FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('embv:' || t), 1, 15)) AS BIGINT)
                   % {DOCVEC_DIM} AS idx,
               CASE WHEN CAST(('0x' || substr(md5('embs:' || t), 1, 15))
                          AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn
        FROM w
    ),
    a AS (
        SELECT doc_id, idx, CAST(SUM(sgn) AS BIGINT) AS v
        FROM h GROUP BY doc_id, idx
    ),
    n AS (SELECT doc_id, COUNT(*) AS n_tokens FROM w GROUP BY doc_id),
    g AS (
        SELECT n.doc_id, j.j, COALESCE(a.v, 0) AS v
        FROM n
        CROSS JOIN (SELECT UNNEST(range(0, {DOCVEC_DIM})) AS j) j
        LEFT JOIN a ON a.doc_id = n.doc_id AND a.idx = j.j
    )
    SELECT g.doc_id, MIN(n.n_tokens) AS n_tokens,
           array_to_string(list(g.v ORDER BY g.j), ',') AS vec_csv
    FROM g JOIN n ON n.doc_id = g.doc_id
    GROUP BY g.doc_id ORDER BY g.doc_id
    """,
    tags=("text", "embedding", "feature-hashing"),
)
def tx_doc_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document vectorization by signed feature hashing (the
    hashing-vectorizer of Weinberger et al.): each token adds ±1 to one
    of DOCVEC_DIM buckets (bucket and sign from independent keyed
    hashes), giving every document a dense integer vector — the
    embed step of a pipeline with a deterministic stand-in where a real
    deployment calls a model; downstream ANN/dedup operators consume the
    vector identically (split + cast to double, the ss_*/dd_embedding_*
    plans apply unchanged). The registered surface serializes the vector
    to a CSV string because the value-hash gate compares scalars —
    in-engine consumers use the array form directly.

    Exact by construction — integer counts, no normalization — so the
    vector column itself is value-compared against the oracle, proving
    the assemble step (per-bucket sums → position-complete array) and
    not just a summary of it.

    Plan shape (100 TB): explode → (doc, bucket)-keyed map-side-combined
    sum (≤ DOCVEC_DIM rows per doc out of the combiner) → per-doc
    assembly via a map lookup over a static index sequence — no pivot,
    no per-dim shuffle, vector width a constant in the plan.
    """
    d = _t(spark, sf_dir, "documents")
    n = spark.sparkContext.defaultParallelism
    w = (
        d.repartition(n)
        .select("doc_id", F.explode(T.tokens("text")).alias("t"))
        .localCheckpoint(eager=True)  # feeds bucket sums AND token counts
    )
    h = w.select(
        "doc_id",
        (T.portable_hash60(F.concat(F.lit("embv:"), F.col("t"))) % DOCVEC_DIM)
        .alias("idx"),
        F.when(
            T.portable_hash60(F.concat(F.lit("embs:"), F.col("t"))) % 2 == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    a = h.groupBy("doc_id", "idx").agg(F.sum("sgn").cast("long").alias("v"))
    nt = w.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    vec = (
        a.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("idx"), F.col("v")))
            ).alias("m")
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0).cast("bigint"), F.lit(DOCVEC_DIM - 1)),
                    lambda j: F.coalesce(
                        F.element_at(F.col("m"), j), F.lit(0).cast("long")
                    ).cast("string"),
                ),
                ",",
            ).alias("vec_csv"),
        )
    )
    return (
        nt.join(vec, "doc_id")
        .select("doc_id", "n_tokens", "vec_csv")
        .orderBy("doc_id")
    )


# --- vocabulary Zipf fit ------------------------------------------------------

# Milli-grid for the log-log regression: ln values snap to 1e-3 BEFORE the
# sums, so aggregation order can't perturb the slope, and the integer
# cross-products stay far from int64 overflow (x,y <= ln(2^40)*1e3 ~ 2.8e4;
# with V vocabulary types n*Σxy <= V²·8e8 — safe to V ~ 3e6 types; past
# that the sums need a decimal/hugeint accumulator on both engines).
ZIPF_LN_SCALE = 1_000


@register(
    "tx_zipf_fit",
    oracle=f"""
    WITH tok AS (
        SELECT unnest({SQL_TOKENS}) AS w FROM documents
    ),
    cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    rk AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS r FROM cnt
    ),
    g AS (
        SELECT CAST(floor(ln(r::DOUBLE) * {ZIPF_LN_SCALE} + 0.5) AS BIGINT) AS x,
               CAST(floor(ln(c::DOUBLE) * {ZIPF_LN_SCALE} + 0.5) AS BIGINT) AS y
        FROM rk
    ),
    s AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM g
    )
    SELECT n AS n_types,
           ROUND((n * sxy - sx * sy)::DOUBLE
                 / NULLIF((n * sxx - sx * sx)::DOUBLE, 0), 6) AS zipf_slope
    FROM s
    """,
    tags=("text", "vocabulary", "statistics"),
)
def tx_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: the least-squares slope of
    ln(frequency) against ln(rank) — the one-number skew diagnostic a
    pipeline owner checks before trusting uniform-key assumptions (a
    natural-language corpus sits near −1; this synthetic corpus near 0;
    the round-6 boilerplate variant in between). Rank ties break on the
    token so both engines rank identically.

    Determinism: ln values snap to the ZIPF_LN_SCALE integer grid per
    TYPE before any sum (the tx_unigram_logprob argument — ln of an exact
    small integer), so the regression reduces to five exact integer sums
    and one final double division, identical on both engines.

    Plan shape (100 TB): one map-side-combined token count (the
    vocabulary relation — millions of rows, not the corpus), one
    vocabulary-sized ranking sort, five integer aggregates. The corpus
    itself is touched exactly once.
    """
    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(T.tokens("text")).alias("w"))
    cnt = tok.groupBy("w").agg(F.count("*").alias("c"))
    rk = cnt.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), F.asc("w")))
        .alias("r"),
    )
    def ln_grid(col):
        return F.floor(
            F.log(F.col(col).cast("double")) * ZIPF_LN_SCALE + F.lit(0.5)
        ).cast("bigint")
    g = rk.select(ln_grid("r").alias("x"), ln_grid("c").alias("y"))
    s = g.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        F.col("n").alias("n_types"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.nullif(
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
                    "double"
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("zipf_slope"),
    )


# --- dedup impact on the source mix -------------------------------------------


@register(
    "tx_dedup_shift",
    oracle="""
    WITH fp AS (
        SELECT doc_id, source, md5(lower(trim(text))) AS h FROM documents
    ),
    k AS (SELECT h, MIN(doc_id) AS keeper FROM fp GROUP BY h),
    s AS (
        SELECT f.source,
               COUNT(*) AS n_docs,
               COUNT(*) FILTER (WHERE f.doc_id = k.keeper) AS n_kept
        FROM fp f JOIN k ON k.h = f.h
        GROUP BY f.source
    ),
    t AS (
        SELECT CAST(SUM(n_docs) AS BIGINT) AS tot_before,
               CAST(SUM(n_kept) AS BIGINT) AS tot_after
        FROM s
    )
    SELECT s.source, s.n_docs, s.n_kept,
           CAST((1000 * s.n_kept) // s.n_docs AS BIGINT) AS kept_milli,
           CAST((1000 * s.n_docs) // t.tot_before AS BIGINT)
               AS share_before_milli,
           CAST((1000 * s.n_kept) // NULLIF(t.tot_after, 0) AS BIGINT)
               AS share_after_milli
    FROM s CROSS JOIN t
    ORDER BY s.source
    """,
    tags=("text", "dedup", "data-mix"),
)
def tx_dedup_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How exact dedup SHIFTS the source mix: per source, documents vs
    survivors (keeper = min doc_id per normalized fingerprint) and the
    corpus share before/after — the report that catches dedup silently
    re-weighting the training mixture (duplicate-heavy sources lose
    share; the Lee et al. dedup papers flag exactly this side effect).
    Composes dd_exact_groups' keeper rule with tx_source_mix's share
    table; all shares on the integer milli grid.

    Plan shape (100 TB): one fingerprint aggregation (16-byte keys,
    map-side combined), one equi-join back on the fingerprint, one
    |sources|-row conditional aggregation, 1-row broadcast totals
    (scalar-subquery pattern). Text never shuffles — only hashes.
    """
    d = _t(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "source", F.md5(F.lower(F.trim(F.col("text")))).alias("h")
    )
    k = fp.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    s = (
        fp.join(k, "h")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("doc_id") == F.col("keeper"), True)).alias(
                "n_kept"
            ),
        )
    )
    t = s.agg(
        F.sum("n_docs").alias("tot_before"), F.sum("n_kept").alias("tot_after")
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.expr("CAST((1000 * n_kept) DIV n_docs AS BIGINT)").alias(
                "kept_milli"
            ),
            F.expr("CAST((1000 * n_docs) DIV tot_before AS BIGINT)").alias(
                "share_before_milli"
            ),
            F.expr(
                "CAST((1000 * n_kept) DIV NULLIF(tot_after, 0) AS BIGINT)"
            ).alias("share_after_milli"),
        )
        .orderBy("source")
    )


# --- per-source tokenizer fertility -------------------------------------------


@register(
    "tx_tokenizer_fertility",
    oracle=f"""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(len({SQL_TOKENS})) AS BIGINT) AS n_words,
           CAST(SUM(len(regexp_extract_all(text, '{_BPE_SQL}'))) AS BIGINT)
               AS n_pieces,
           CAST((1000 * SUM(len(regexp_extract_all(text, '{_BPE_SQL}'))))
                // NULLIF(SUM(len({SQL_TOKENS})), 0) AS BIGINT)
               AS fertility_milli
    FROM documents
    GROUP BY source ORDER BY source
    """,
    tags=("text", "tokenize", "bpe", "data-mix"),
)
def tx_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per SOURCE: corpus-level BPE pieces per word
    (integer milli) — the per-slice rollup of tx_bpe_token_count's
    per-doc ratio, and the number tokenizer teams track per
    language/source (fertility creeping up on one slice means the
    vocabulary underserves it, inflating training cost and degrading
    that slice's effective context length).

    Plan shape (100 TB): ONE corpus scan with both counts as JVM regexp
    expressions, map-side-combined into |sources| rows. All-integer
    output; the ratio is DIV on summed counts, not an average of ratios
    (the per-doc mean would weight short docs equally — fertility is a
    corpus-mass property).
    """
    d = _t(spark, sf_dir, "documents")
    n_words = F.size(T.tokens("text")).cast("long")
    n_pieces = F.regexp_count("text", F.lit(BPE_PIECE_REGEX)).cast("long")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(n_words).alias("n_words"),
            F.sum(n_pieces).alias("n_pieces"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_pieces",
            F.expr(
                "CAST((1000 * n_pieces) DIV NULLIF(n_words, 0) AS BIGINT)"
            ).alias("fertility_milli"),
        )
        .orderBy("source")
    )


# --- cross-source vocabulary overlap -----------------------------------------

VOCAB_OVERLAP_TOP = 10


@register(
    "tx_source_vocab_overlap",
    oracle=r"""
    WITH tok AS (
        SELECT DISTINCT source, w
        FROM (
            SELECT source,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
            FROM documents
        )
    ),
    cnt AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY source),
    ov AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
        FROM tok a JOIN tok b ON a.w = b.w AND a.source < b.source
        GROUP BY source_a, source_b
    )
    SELECT o.source_a, o.source_b,
           CAST(o.n_shared AS BIGINT) AS n_shared,
           CAST((o.n_shared * 1000) // (ca.n + cb.n - o.n_shared) AS BIGINT)
               AS jaccard_milli
    FROM ov o
    JOIN cnt ca ON ca.source = o.source_a
    JOIN cnt cb ON cb.source = o.source_b
    ORDER BY jaccard_milli DESC, source_a, source_b
    LIMIT 10
    """,
    tags=("text", "overlap"),
)
def tx_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise lexical similarity between sources: vocabulary Jaccard over
    the distinct lowercased token sets, top-10 most-similar source pairs.

    The dataset-level twin of per-document near-dup: before mixing corpora
    a pipeline wants to know which sources are lexical clones of each other
    (scraped mirrors, re-crawls) versus genuinely distinct registers. A
    near-1000 milli-Jaccard between two "different" sources is the classic
    sign the mix double-counts one crawl.

    Plan shape (100 TB): one scan explodes tokens, then a distinct
    (source, token) aggregate — the shuffle key is the token, high
    cardinality and map-side combined, and everything after it operates on
    |vocab x sources| rows, orders of magnitude below the corpus. The
    token self-join emits at most C(|sources|, 2) rows per token (sources
    are hundreds, not millions), and the per-source totals join is a
    broadcast. Zipf skew is bounded the same way: even 'the' contributes
    only one row per source pair. All-integer Jaccard via DIV keeps the
    oracle hash exact.
    """
    d = _t(spark, sf_dir, "documents")
    tok = (
        d.select(
            "source",
            F.explode(T.tokens(F.lower("text"))).alias("w"),
        )
        .distinct()
    )
    cnt = tok.groupBy("source").agg(F.count("*").alias("n"))
    a, b = tok.alias("a"), tok.alias("b")
    ov = (
        a.join(b, (F.col("a.w") == F.col("b.w")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        ov.join(
            F.broadcast(cnt.select(F.col("source").alias("source_a"), F.col("n").alias("na"))),
            "source_a",
        )
        .join(
            F.broadcast(cnt.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.expr("CAST((n_shared * 1000) DIV (na + nb - n_shared) AS BIGINT)").alias(
                "jaccard_milli"
            ),
        )
        .orderBy(F.desc("jaccard_milli"), "source_a", "source_b")
        .limit(VOCAB_OVERLAP_TOP)
    )


# --- temperature-smoothed source mixture allocation ----------------------------

MIXTURE_BUDGET = 1_000_000  # training-token budget to allocate across sources


@register(
    "tx_mixture_alloc",
    oracle=f"""
    WITH n AS (
        SELECT source,
               CAST(SUM(len({SQL_TOKENS})) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_tokens,
               CAST(floor(sqrt(n_tokens)) AS BIGINT) AS weight
        FROM n
    )
    SELECT source, n_tokens, weight,
           CAST(({MIXTURE_BUDGET} * weight) // (SELECT SUM(weight) FROM w)
                AS BIGINT) AS alloc_tokens,
           CAST((({MIXTURE_BUDGET} * weight) // (SELECT SUM(weight) FROM w))
                * 1000 // n_tokens AS BIGINT) AS rate_milli
    FROM w
    ORDER BY source
    """,
    tags=("text", "mixture", "sampling"),
)
def tx_mixture_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed (alpha = 0.5) source-mixture token allocation:
    given a training budget, how many tokens to draw from each source.

    The mT5/Pile alpha-sampling rule — weight each source by n_tokens^alpha
    so head sources (CommonCrawl) are downsampled and tail sources (books,
    code) upsampled; rate_milli > 1000 means the source repeats across
    epochs. Exact integer arithmetic end-to-end: alpha = 0.5 is floor(sqrt)
    (IEEE sqrt is correctly rounded, so both engines floor the SAME double),
    and the allocation is integer DIV — no float summation order anywhere.

    Plan shape (100 TB): one scan with a map-side-combined SUM per source —
    the only shuffle is |sources| wide. The total-weight scalar is a
    broadcast one-row aggregate over the |sources|-row relation; every row
    after the first aggregate is per-source, not per-document.
    """
    d = _t(spark, sf_dir, "documents")
    n = d.groupBy("source").agg(F.sum(T.token_count("text")).alias("n_tokens"))
    w = n.select(
        "source",
        "n_tokens",
        F.floor(F.sqrt(F.col("n_tokens"))).cast("long").alias("weight"),
    )
    total = w.agg(F.sum("weight").alias("w_total"))
    return (
        w.crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_tokens",
            "weight",
            F.expr(f"CAST(({MIXTURE_BUDGET} * weight) DIV w_total AS BIGINT)").alias(
                "alloc_tokens"
            ),
            F.expr(
                f"CAST((({MIXTURE_BUDGET} * weight) DIV w_total) * 1000 "
                "DIV n_tokens AS BIGINT)"
            ).alias("rate_milli"),
        )
        .orderBy("source")
    )


# --- per-source unigram entropy / lexical diversity ----------------------------

UNIGRAM_ENTROPY_SCALE = 1_000_000  # ln fixed-point grid (fx_entropy rule)


@register(
    "tx_unigram_entropy",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest({SQL_TOKENS.replace("text", "lower(text)")}) AS w
        FROM documents
    ),
    c AS (
        SELECT source, w, COUNT(*) AS cnt FROM tok GROUP BY source, w
    ),
    g AS (
        SELECT source,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               COUNT(*) AS n_types,
               SUM(cnt * CAST(floor(ln(cnt::DOUBLE) * {UNIGRAM_ENTROPY_SCALE}
                                    + 0.5) AS BIGINT)) AS sterm
        FROM c GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           CAST(1000 * n_types // n_tokens AS BIGINT) AS ttr_milli,
           ROUND((CAST(floor(ln(n_tokens::DOUBLE) * {UNIGRAM_ENTROPY_SCALE}
                             + 0.5) AS BIGINT) * n_tokens - sterm)::DOUBLE
                 / (n_tokens::DOUBLE * {UNIGRAM_ENTROPY_SCALE}), 6)
               AS entropy_nats
    FROM g
    ORDER BY source
    """,
    tags=("text", "entropy", "quality"),
)
def tx_unigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram Shannon entropy (nats) and type-token ratio —
    the lexical-diversity fingerprint of a corpus source. Low entropy
    flags template/boilerplate farms (few words dominate); an anomalous
    TTR flags OCR noise or spam (every token unique). Both are standard
    pre-training corpus-quality columns (Gopher / CCNet report them).

    Exact-arithmetic entropy via the distributive rewrite
    H = ln(T) − Σ c·ln(c) / T: every ln lands on the 1e-6 fixed-point
    grid first (floor(ln·1e6 + 0.5), IEEE ln identical on both engines
    for identical integer inputs), so the big Σ is pure integer and
    order-independent; floats appear only in the final one-row division.

    Plan shape (100 TB): one scan explodes tokens; the only heavy shuffle
    keys on (source, word) — high cardinality, map-side combined, Zipf
    head words bounded because 'the' contributes ONE row per source. The
    per-source rollup is |vocab × sources| → |sources| rows.
    """
    d = _t(spark, sf_dir, "documents")
    c = (
        d.select(
            "source",
            F.explode(T.tokens(F.lower("text"))).alias("w"),
        )
        .groupBy("source", "w")
        .agg(F.count("*").alias("cnt"))
    )
    ln_fp = F.floor(F.log(F.col("cnt").cast("double")) * UNIGRAM_ENTROPY_SCALE + 0.5).cast("long")
    g = c.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.col("cnt") * ln_fp).alias("sterm"),
    )
    ln_t_fp = F.floor(
        F.log(F.col("n_tokens").cast("double")) * UNIGRAM_ENTROPY_SCALE + 0.5
    ).cast("long")
    return g.select(
        "source",
        "n_tokens",
        "n_types",
        F.expr("CAST(1000 * n_types DIV n_tokens AS BIGINT)").alias("ttr_milli"),
        F.round(
            (ln_t_fp * F.col("n_tokens") - F.col("sterm")).cast("double")
            / (F.col("n_tokens").cast("double") * UNIGRAM_ENTROPY_SCALE),
            6,
        ).alias("entropy_nats"),
    ).orderBy("source")


# --- BM25 retrieval ----------------------------------------------------------

BM25_TERMS = ("join", "filter", "window", "shuffle")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPN = 10

_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_TERMS)


@register(
    "tx_bm25_search",
    oracle=f"""
    WITH dl AS (
        SELECT doc_id, CAST(len({SQL_TOKENS}) AS BIGINT) AS dlen
        FROM documents
    ),
    stats AS (
        SELECT COUNT(*) AS n, AVG(dlen::DOUBLE) AS avgdl FROM dl
    ),
    toks AS (
        SELECT doc_id, UNNEST({SQL_TOKENS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks WHERE term IN ({_BM25_TERMS_SQL})
        GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    contrib AS (
        SELECT tf.doc_id,
               CAST(ROUND(
                   ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (tf.tf * ({BM25_K1} + 1))
                   / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                        + {BM25_B} * dl.dlen / s.avgdl))
                   * 1e6) AS BIGINT) AS c_micro
        FROM tf
        JOIN dfreq d USING (term)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats s
    )
    SELECT doc_id, CAST(SUM(c_micro) AS BIGINT) AS score_micro,
           ROUND(SUM(c_micro) / 1e6, 6) AS bm25
    FROM contrib GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id
    LIMIT {BM25_TOPN}
    """,
    tags=("text", "retrieval", "bm25"),
)
def tx_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed query-term set — the classic
    retrieval scorer over an inverted-index shape (Robertson & Zaragoza,
    "The Probabilistic Relevance Framework: BM25 and Beyond").

    Exactness: each (doc, term) contribution is computed in double and
    quantized to integer MICRO-units before summing, so the per-doc score
    is an exact BIGINT sum — per-term float math is identical on both
    engines (same inputs, same expression tree), while the SUM of several
    doubles would depend on aggregation order. Ranking ties break on
    doc_id.

    Plan shape (100 TB): the token explode filters to the query terms
    BEFORE the (doc, term) aggregation, so only matching postings shuffle
    — the distributed analogue of reading |query| posting lists, not the
    corpus. Document lengths aggregate map-side; N/avgdl is a broadcast
    scalar; df is |query terms| rows. One corpus-sized shuffle total (the
    tf aggregation), everything downstream is postings-sized.
    """
    d = _t(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(T.tokens("text")).cast("long").alias("dlen"))
    stats = dl.agg(
        F.count("*").alias("n"), F.avg(F.col("dlen").cast("double")).alias("avgdl")
    )
    tf = (
        d.select("doc_id", F.explode(T.tokens("text")).alias("term"))
        .filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "c_micro",
            F.round(
                F.log(
                    1
                    + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * (F.col("tf") * (BM25_K1 + 1))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dlen") / F.col("avgdl"))
                )
                * 1e6
            ).cast("bigint"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c_micro").cast("bigint").alias("score_micro"))
        .withColumn("bm25", F.round(F.col("score_micro") / 1e6, 6))
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(BM25_TOPN)
    )


# --- MATTR lexical diversity ---------------------------------------------------

MATTR_W = 30  # moving-window width in tokens


@register(
    "tx_mattr",
    oracle=f"""
    WITH arrs AS (
        SELECT doc_id, {SQL_TOKENS} AS arr,
               CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    wins AS (
        SELECT doc_id, n_tokens,
               UNNEST(range(1, CAST(n_tokens - {MATTR_W} + 2 AS BIGINT))) AS w
        FROM arrs WHERE n_tokens >= {MATTR_W}
    ),
    toks AS (
        SELECT a.doc_id, p.pos, a.arr[p.pos] AS tok
        FROM arrs a, LATERAL (
            SELECT UNNEST(range(1, CAST(a.n_tokens + 1 AS BIGINT))) AS pos
        ) p
        WHERE a.n_tokens >= {MATTR_W}
    ),
    u AS (
        SELECT w.doc_id, w.n_tokens, w.w,
               COUNT(DISTINCT t.tok) AS utypes
        FROM wins w JOIN toks t
          ON t.doc_id = w.doc_id
         AND t.pos BETWEEN w.w AND w.w + {MATTR_W} - 1
        GROUP BY w.doc_id, w.n_tokens, w.w
    )
    SELECT doc_id, n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(utypes) AS BIGINT) AS sum_utypes,
           CAST((1000 * SUM(utypes)) // ({MATTR_W} * COUNT(*)) AS BIGINT)
               AS mattr_milli
    FROM u GROUP BY doc_id, n_tokens
    ORDER BY doc_id
    """,
    tags=("text", "lexical-diversity", "mattr"),
)
def tx_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR (moving-average type-token ratio, Covington & McFall 2010) —
    the length-robust lexical-diversity score: the type/token ratio
    averaged over every sliding MATTR_W-token window, per document. Plain
    TTR (tx_unigram_entropy's ttr_milli) decays mechanically with
    document length; MATTR is comparable across lengths and is a standard
    quality feature next to the Gopher rules.

    Exactness: reported in integer milli-units — (1000·Σ window types)
    DIV (W·windows) — the cross-engine truncating-division pair, so no
    float reaches the hash.

    Plan shape (100 TB): one Arrow pass, each doc scored by an O(n)
    add/evict sliding counter (the n·W blowup lives ONLY in the DuckDB
    oracle, which proves the incremental counter against the
    materialized-windows definition). Per-doc state is the window
    counter; nothing shuffles but the final |docs|-sized result.
    """
    import collections

    import pandas as pd

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def mattr(it):
        for pdf in it:
            out = {"doc_id": [], "n_tokens": [], "n_windows": [], "sum_utypes": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.strip().split()
                n = len(toks)
                if n < MATTR_W:
                    continue
                cnt = collections.Counter(toks[:MATTR_W])
                total = len(cnt)
                for i in range(MATTR_W, n):
                    cnt[toks[i]] += 1
                    old = toks[i - MATTR_W]
                    cnt[old] -= 1
                    if cnt[old] == 0:
                        del cnt[old]
                    total += len(cnt)
                out["doc_id"].append(int(doc_id))
                out["n_tokens"].append(n)
                out["n_windows"].append(n - MATTR_W + 1)
                out["sum_utypes"].append(total)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                    "n_tokens": pd.Series(out["n_tokens"], dtype="int64"),
                    "n_windows": pd.Series(out["n_windows"], dtype="int64"),
                    "sum_utypes": pd.Series(out["sum_utypes"], dtype="int64"),
                }
            )

    scored = d.mapInPandas(
        mattr, "doc_id long, n_tokens long, n_windows long, sum_utypes long"
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "n_windows",
        "sum_utypes",
        F.expr(f"(1000 * sum_utypes) DIV ({MATTR_W} * n_windows)").alias(
            "mattr_milli"
        ),
    ).orderBy("doc_id")


# --- readability scoring -----------------------------------------------------------

# Flesch-Kincaid grade coefficients (Kincaid et al. 1975). Syllables are
# approximated by vowel-group counts — the standard dependency-free
# estimator; the SAME regex runs in both engines so the estimate is
# engine-exact even where it is linguistically approximate.
FK_WPS = 0.39
FK_SPW = 11.8
FK_BIAS = 15.59


@register(
    "tx_readability",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({SQL_TOKENS}) AS BIGINT) AS n_words,
               CAST(len(string_split(text, '. ')) AS BIGINT) AS n_sents,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
                   AS n_syllables
        FROM documents
    )
    SELECT doc_id, n_words, n_sents, n_syllables,
           ROUND({FK_WPS} * (n_words::DOUBLE / nullif(n_sents, 0))
                 + {FK_SPW} * (n_syllables::DOUBLE / nullif(n_words, 0))
                 - {FK_BIAS}, 6) AS fk_grade
    FROM t
    """,
    tags=("text", "quality", "readability"),
)
def tx_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade-level estimate per document — the readability
    signal quality-filter stacks (C4, FineWeb-edu style) report alongside
    Gopher rules: words per sentence and (vowel-group-estimated) syllables
    per word, combined with the published FK coefficients.

    Exactness: the three counts are integers from the shared tokenizer, a
    literal '. ' sentence split (tx_sentences_udtf's convention), and one
    vowel-group regex evaluated by both engines; the grade is a fixed
    expression over doubles rounded to 6 decimals — the same float-
    proofing every scored operator here uses.

    Plan shape (100 TB): one Catalyst projection per document, no
    shuffle at all (the scan's own partitioning is the parallelism);
    regexp_count and split are JVM-side codegen, never Python.
    """
    d = _t(spark, sf_dir, "documents")
    n_words = F.size(T.tokens("text")).cast("long")
    n_sents = F.size(F.split(F.col("text"), r"\. ")).cast("long")
    n_syll = F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("long")
    grade = F.round(
        F.lit(FK_WPS)
        * (F.col("n_words").cast("double") / F.nullif(F.col("n_sents"), F.lit(0)))
        + F.lit(FK_SPW)
        * (
            F.col("n_syllables").cast("double")
            / F.nullif(F.col("n_words"), F.lit(0))
        )
        - F.lit(FK_BIAS),
        6,
    )
    return d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syllables"),
    ).withColumn("fk_grade", grade)


# --- code-vs-prose detection --------------------------------------------------------

CODE_PUNCT_RE = r"[{}();=<>\[\]]"
CODE_KEYWORDS = (
    "def", "return", "import", "class", "for", "while", "if", "else",
    "function", "var", "const", "int", "void",
)
CODE_MIN_PUNCT = 8
CODE_SYMBOL_GT = 0.05
CODE_KW_MIN = 2


@register(
    "tx_code_detect",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[{{}}();=<>\\[\\]]')) AS BIGINT)
                   AS code_punct,
               ROUND(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))::DOUBLE
                     / nullif(length(text), 0), 6) AS symbol_ratio,
               CAST(len(list_intersect({SQL_TOKENS},
                        [{", ".join(f"'{k}'" for k in CODE_KEYWORDS)}]))
                    AS BIGINT) AS kw_hits
        FROM documents
    )
    SELECT doc_id, code_punct, symbol_ratio, kw_hits,
           ((code_punct >= {CODE_MIN_PUNCT} AND symbol_ratio > {CODE_SYMBOL_GT})
            OR kw_hits >= {CODE_KW_MIN}) AS is_code
    FROM t
    """,
    tags=("text", "quality", "code-detection"),
)
def tx_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic code-vs-prose classifier per document — the routing
    signal a mixed-corpus pipeline uses to send documents to the code or
    prose branch (different dedup thresholds, different quality rules):
    code-punctuation density, overall symbol ratio (Gopher's definition),
    and distinct programming-keyword hits, cut by fixed thresholds.

    The decision is computed from the ROUNDED symbol ratio and integer
    counts in both engines, so boundary documents cannot flip between
    them (the tx_gopher_quality convention). With a learned classifier
    the thresholds change, not the plan.

    Plan shape (100 TB): one Catalyst projection per document (regex
    count + array intersect in codegen), zero shuffles — classification
    is scan-side, so the downstream branch filter pushes to the scan.
    """
    d = _t(spark, sf_dir, "documents")
    code_punct = F.regexp_count(F.col("text"), F.lit(CODE_PUNCT_RE)).cast("long")
    symbol_ratio = F.round(
        F.length(F.regexp_replace("text", T.NON_SYMBOL, "")).cast("double")
        / F.nullif(F.length("text"), F.lit(0)),
        6,
    )
    kw_hits = F.size(
        F.array_intersect(
            T.tokens("text"), F.array(*[F.lit(k) for k in CODE_KEYWORDS])
        )
    ).cast("long")
    out = d.select(
        "doc_id",
        code_punct.alias("code_punct"),
        symbol_ratio.alias("symbol_ratio"),
        kw_hits.alias("kw_hits"),
    )
    return out.withColumn(
        "is_code",
        (
            (F.col("code_punct") >= CODE_MIN_PUNCT)
            & (F.col("symbol_ratio") > CODE_SYMBOL_GT)
        )
        | (F.col("kw_hits") >= CODE_KW_MIN),
    )


# --- language-ID evaluation (confusion matrix) --------------------------------------


@register(
    "tx_langid_confusion",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang,
               {", ".join(f"{_sql_lang_score(lang)} AS score_{lang}" for lang in T.LANG_ORDER)}
        FROM documents
    ),
    pred AS (
        SELECT lang, {_sql_lang_case()} AS pred_lang FROM scored
    ),
    tot AS (SELECT lang, COUNT(*) AS n_lang FROM pred GROUP BY lang)
    SELECT p.lang, p.pred_lang,
           COUNT(*) AS n_docs,
           (COUNT(*) * 1000000) // MAX(t.n_lang) AS share_of_true_ppm,
           p.lang = p.pred_lang AS is_correct
    FROM pred p JOIN tot t USING (lang)
    GROUP BY p.lang, p.pred_lang
    ORDER BY p.lang, p.pred_lang
    """,
    tags=("text", "langid", "evaluation"),
)
def tx_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix against the corpus's labeled ``lang``
    column: per (true, predicted) cell, document count and share of the
    true language in integer ppm — the classifier-evaluation report that
    turns tx_lang_id from a prediction into a measured pipeline stage
    (a cell off the diagonal growing round-over-round is how stopword
    drift or a new domain shows up).

    Same stopword-vote predictor and deterministic argmax tie-break as
    tx_lang_id (shared expression generators on both engines), so the
    matrix scores exactly what the pipeline runs.

    Plan shape (100 TB): one scan computing the per-language scores, one
    map-side-combined (lang, pred) count — confusion cells are
    |langs|², a constant; the per-true-language totals broadcast back.
    """
    d = _t(spark, sf_dir, "documents")
    pred = d.select("lang", T.lang_id("text").alias("pred_lang"))
    tot = pred.groupBy("lang").agg(F.count("*").alias("n_lang"))
    return (
        pred.groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "pred_lang",
            "n_docs",
            F.expr("(n_docs * 1000000) DIV n_lang").alias(
                "share_of_true_ppm"
            ),
            (F.col("lang") == F.col("pred_lang")).alias("is_correct"),
        )
        .orderBy("lang", "pred_lang")
    )


# --- boilerplate template detection ----------------------------------------------

TEMPLATE_TOP = 20


@register(
    "tx_template_detect",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[0-9]+', '#', 'g'), '\\s+', ' ', 'g'))) AS template_key
        FROM documents
    )
    SELECT template_key,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           MIN(doc_id) AS sample_doc_id
    FROM t
    GROUP BY template_key
    HAVING COUNT(*) >= 2
    ORDER BY n_docs DESC, template_key
    LIMIT {TEMPLATE_TOP}
    """,
    tags=("text", "dedup", "boilerplate", "template"),
)
def tx_template_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate TEMPLATE detection — the C4-style cleanup step between
    exact dedup and near-dup LSH: docs that differ only in numbers or
    whitespace (order confirmations, log lines, generated pages) collapse
    to one canonical key (lowercase, digit runs → '#', whitespace runs →
    one space, md5), and any key with ≥2 docs is a template cluster.
    Exact dedup misses these (bytes differ); MinHash finds them only when
    the variable part is a small fraction — the canonicalized hash
    catches them at exact-dedup cost.

    Plan shape (100 TB): scan-side Catalyst projection (lower /
    regexp_replace / md5 — all codegen'd, no UDF) followed by ONE
    hash-key aggregation; identical shuffle profile to exact dedup's
    md5-keyed groupBy. Top-k via TakeOrderedAndProject.
    """
    d = _t(spark, sf_dir, "documents")
    key = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "#"),
                T.TOKEN_SEPARATORS,
                " ",
            )
        )
    )
    return (
        d.select(key.alias("template_key"), "source", "doc_id")
        .groupBy("template_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("source").cast("long").alias("n_sources"),
            F.min("doc_id").alias("sample_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), F.asc("template_key"))
        .limit(TEMPLATE_TOP)
    )


# --- Heaps-law vocabulary growth ---------------------------------------------------

HEAPS_DECILES = 10


@register(
    "tx_vocab_growth_heaps",
    oracle=f"""
    WITH b AS (SELECT MIN(doc_id) AS lo, MAX(doc_id) AS hi FROM documents),
    dec AS (
        SELECT CAST(d AS BIGINT) AS decile,
               lo + ((hi - lo + 1) * d) // {HEAPS_DECILES} AS cut
        FROM b, range(1, {HEAPS_DECILES} + 1) t(d)
    ),
    dt AS (
        SELECT doc_id, CAST(len({SQL_TOKENS}) AS BIGINT) AS tc
        FROM documents
    ),
    firsts AS (
        SELECT tok, MIN(doc_id) AS fd FROM (
            SELECT doc_id, unnest({SQL_TOKENS}) AS tok FROM documents
        ) GROUP BY tok
    ),
    cum AS (
        SELECT dec.decile,
               COUNT(*) AS docs_cum,
               CAST(SUM(dt.tc) AS BIGINT) AS tokens_cum
        FROM dec JOIN dt ON dt.doc_id < dec.cut
        GROUP BY dec.decile
    ),
    voc AS (
        SELECT dec.decile, COUNT(*) AS vocab_cum
        FROM dec JOIN firsts ON firsts.fd < dec.cut
        GROUP BY dec.decile
    )
    SELECT cum.decile, docs_cum, tokens_cum, vocab_cum
    FROM cum JOIN voc USING (decile)
    ORDER BY decile
    """,
    tags=("text", "vocabulary", "heaps-law", "corpus-diagnostics"),
)
def tx_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: cumulative document, token and
    DISTINCT-vocabulary counts at ten id-range checkpoints of the corpus.
    The sub-linear bend of vocab_cum vs tokens_cum (V ≈ K·nᵝ) is the
    standard diagnostic for tokenizer sizing and for spotting synthetic /
    templated corpora (whose vocabulary saturates abnormally fast).

    Exactness: checkpoints partition the doc_id VALUE range (lo + ⌈range
    fraction⌉ via integer DIV — the cross-engine truncating pair), so no
    global row-number sort is needed; "cumulative distinct" is computed
    from each token's FIRST-occurrence doc id — count(tokens with
    first_doc < cut) — turning a prefix-distinct (quadratic or
    sort-dependent) into one groupBy(token).min + a 10-row broadcast
    join.

    Plan shape (100 TB): one explode + map-side-combined min per token
    (the vocab relation is the only corpus-scaled shuffle — same cost
    class as tf-idf's document-frequency pass); both checkpoint joins
    broadcast a 10-row constant relation and aggregate map-side. No
    window over a single global partition anywhere.
    """
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", T.tokens("text").alias("toks")
    )
    b = d.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    ).first()
    lo, hi = int(b["lo"]), int(b["hi"])
    cuts = [
        (dd, lo + ((hi - lo + 1) * dd) // HEAPS_DECILES)
        for dd in range(1, HEAPS_DECILES + 1)
    ]
    dec = spark.createDataFrame(cuts, schema="decile long, cut long")
    dt = d.select("doc_id", F.size("toks").cast("long").alias("tc"))
    cum = (
        dt.join(F.broadcast(dec), dt["doc_id"] < dec["cut"])
        .groupBy("decile")
        .agg(
            F.count("*").alias("docs_cum"),
            F.sum("tc").cast("long").alias("tokens_cum"),
        )
    )
    firsts = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.min("doc_id").alias("fd"))
    )
    voc = (
        firsts.join(F.broadcast(dec), F.col("fd") < F.col("cut"))
        .groupBy("decile")
        .agg(F.count("*").alias("vocab_cum"))
    )
    return cum.join(voc, "decile").orderBy("decile")


# --- per-source language mix ---------------------------------------------------------


@register(
    "tx_lang_mix_by_source",
    oracle="""
    WITH sl AS (
        SELECT source, lang, COUNT(*) AS n
        FROM documents GROUP BY source, lang
    ),
    tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n_docs,
                   CAST(COUNT(*) AS BIGINT) AS n_langs
            FROM sl GROUP BY source),
    top AS (
        SELECT source, lang AS top_lang, n AS top_n FROM (
            SELECT source, lang, n,
                   ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY n DESC, lang
                   ) AS rn
            FROM sl
        ) WHERE rn = 1
    )
    SELECT tot.source, n_docs, n_langs, top_lang,
           (top_n * 1000000) // n_docs AS top_lang_ppm
    FROM tot JOIN top USING (source)
    ORDER BY tot.source
    """,
    tags=("text", "corpus-composition", "language"),
)
def tx_lang_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source language composition from the DECLARED lang labels:
    document count, distinct languages, the majority language
    (lexicographic tie-break) and its share in ppm. The companion report
    to tx_langid_confusion (which scores the PREDICTOR against these
    labels): feeds with sudden language drift or unexpected mixing show
    up here before they skew the training mixture.

    Plan shape (100 TB): one map-side-combined (source, lang) count —
    the only corpus-scaled step — then windows and joins over the
    |sources|×|langs| relation (hundreds of rows at any corpus size).
    """
    d = _t(spark, sf_dir, "documents")
    sl = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    tot = sl.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_langs"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    top = (
        sl.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "source", F.col("lang").alias("top_lang"), F.col("n").alias("top_n")
        )
    )
    return (
        tot.join(top, "source")
        .select(
            "source",
            "n_docs",
            "n_langs",
            "top_lang",
            F.expr("(top_n * 1000000) DIV n_docs").alias("top_lang_ppm"),
        )
        .orderBy("source")
    )


# --- fixed-vocabulary token coverage -------------------------------------------

VOCAB_COVERAGE_K = 500  # vocabulary budget: global top-K words


@register(
    "tx_vocab_coverage",
    oracle=rf"""
    WITH tok AS (
        SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents
    ),
    freq AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    vocab AS (
        SELECT w FROM (
            SELECT w, ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rn FROM freq
        ) WHERE rn <= {VOCAB_COVERAGE_K}
    ),
    per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (WHERE w IN (SELECT w FROM vocab))
                    AS BIGINT) AS in_vocab
        FROM tok GROUP BY source
    )
    SELECT source, n_tokens, in_vocab,
           in_vocab * 1000000 // n_tokens AS coverage_ppm
    FROM per_source
    ORDER BY source
    """,
    tags=("text", "vocabulary", "tokenizer"),
)
def tx_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token coverage of a fixed top-K vocabulary, per source: the
    fraction of running tokens a K-word vocabulary explains — the
    OOV-rate readout that drives tokenizer vocabulary sizing and flags
    sources whose distribution a shared vocab underserves (high OOV →
    fertility blow-up downstream, see tx_tokenizer_fertility).

    Vocabulary selection is deterministic: top-K by (count DESC, word) —
    a total order, so both engines pick the identical K words.

    Plan shape (100 TB): two aggregations over the exploded token
    relation — global word counts (map-side combined; the token relation
    is computed once and reused by ReuseExchange since both consumers
    group the same scan) and per-source totals — plus a semi-join of
    tokens against the K-row vocabulary, which AQE broadcasts. The
    top-K selection runs on |vocab| rows, not tokens. No Python.
    """
    ensure_analytics_conf(spark)
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "source",
        F.explode(T.tokens(F.lower("text"))).alias("w"),
    )
    freq = tok.groupBy("w").agg(F.count("*").alias("c"))
    vocab = (
        freq.select(
            "w",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), F.asc("w")))
            .alias("rn"),
        )
        .filter(F.col("rn") <= VOCAB_COVERAGE_K)
        .select("w")
    )
    flagged = tok.join(
        F.broadcast(vocab.withColumn("_in", F.lit(1))), "w", "left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce("_in", F.lit(0))).cast("long").alias("in_vocab"),
        )
        .select(
            "source",
            "n_tokens",
            "in_vocab",
            F.expr("in_vocab * 1000000 DIV n_tokens").alias("coverage_ppm"),
        )
        .orderBy("source")
    )


# --- dataset card ---------------------------------------------------------------


def _dataset_card_oracle() -> str:
    return rf"""
    WITH base AS (
        SELECT source, lang,
               CAST(len({SQL_TOKENS}) AS BIGINT) AS n_tokens,
               md5(lower(trim(text))) AS h,
               (CAST(len({SQL_TOKENS}) AS BIGINT)
                    BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
                AND ROUND(list_sum(list_transform({SQL_TOKENS},
                                                  t -> length(t)))::DOUBLE
                          / nullif(len({SQL_TOKENS}), 0), 6)
                    BETWEEN {GOPHER_MEAN_LEN_LO} AND {GOPHER_MEAN_LEN_HI}
                AND ROUND(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))::DOUBLE
                          / nullif(length(text), 0), 6)
                    <= {GOPHER_MAX_SYMBOL_RATIO}
                AND CAST(len(list_intersect({SQL_TOKENS}, [{_EN}])) AS BIGINT)
                    >= {GOPHER_MIN_STOPWORD_HITS}) AS keep
        FROM documents
    ),
    dup AS (
        SELECT h, COUNT(*) AS c FROM base GROUP BY h
    ),
    flagged AS (
        SELECT base.*, (dup.c >= 2) AS is_dup
        FROM base JOIN dup ON base.h = dup.h
    ),
    per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS n_keep,
               CAST(COUNT(*) FILTER (WHERE is_dup) AS BIGINT) AS n_dup
        FROM flagged GROUP BY source
    ),
    lang_top AS (
        SELECT source, lang AS top_lang, c AS top_lang_docs
        FROM (
            SELECT source, lang, COUNT(*) AS c,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY COUNT(*) DESC, lang) AS rn
            FROM base GROUP BY source, lang
        ) WHERE rn = 1
    )
    SELECT p.source, p.n_docs, p.n_tokens,
           p.n_tokens * 1000 // p.n_docs AS mean_tokens_milli,
           l.top_lang,
           l.top_lang_docs * 1000000 // p.n_docs AS top_lang_ppm,
           p.n_keep * 1000000 // p.n_docs AS gopher_keep_ppm,
           p.n_dup * 1000000 // p.n_docs AS dup_ppm
    FROM per_source p JOIN lang_top l ON l.source = p.source
    ORDER BY p.source
    """


@register(
    "tx_dataset_card",
    oracle=_dataset_card_oracle(),
    tags=("text", "composite", "datasheet"),
)
def tx_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset datasheet: per-source corpus card with volume (docs,
    tokens, mean length), dominant language and its share, Gopher-rule
    keep rate, and corpus-level exact-duplicate rate — the one-page
    summary a training-data release ships with (HuggingFace dataset
    cards, Datasheets for Datasets), produced as ONE job.

    Rule provenance: the keep flag comes from the SAME ``_gopher_signals``
    / ``_gopher_keep`` helpers as tx_gopher_quality, and the dup flag from
    the same md5(lower(trim())) key as dd_exact_* — the card is an
    aggregation of the pipeline's own stage semantics, not a re-derivation
    that could drift.

    Plan shape (100 TB): one documents scan computes all per-doc signals
    (token stats, gopher conjunction, content hash) in a single Catalyst
    pass; the dup join shuffles 16-byte hashes (map-side-combined counts,
    no broadcast hint — dup mass is unbounded, the tx_corpus_build
    lesson); per-source and per-(source, lang) aggregations are
    |sources|-sized. Everything downstream of the scan moves hashes and
    counters, never text.
    """
    d = _t(spark, sf_dir, "documents")
    n_words, mean_len, symbol_ratio, stop_hits = _gopher_signals()
    base = d.select(
        "source",
        "lang",
        n_words.alias("n_tokens"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("h"),
        _gopher_keep(n_words, mean_len, symbol_ratio, stop_hits).alias("keep"),
    ).localCheckpoint(eager=True)
    dup = base.groupBy("h").agg(F.count("*").alias("c"))
    flagged = base.join(dup, "h").withColumn("is_dup", F.col("c") >= 2)
    per_source = flagged.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.sum(F.col("keep").cast("long")).cast("long").alias("n_keep"),
        F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_dup"),
    )
    from pyspark.sql import Window

    lang_top = (
        base.groupBy("source", "lang")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source").orderBy(F.desc("c"), F.asc("lang"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "source",
            F.col("lang").alias("top_lang"),
            F.col("c").alias("top_lang_docs"),
        )
    )
    return (
        per_source.join(lang_top, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr("n_tokens * 1000 DIV n_docs").alias("mean_tokens_milli"),
            "top_lang",
            F.expr("top_lang_docs * 1000000 DIV n_docs").alias("top_lang_ppm"),
            F.expr("n_keep * 1000000 DIV n_docs").alias("gopher_keep_ppm"),
            F.expr("n_dup * 1000000 DIV n_docs").alias("dup_ppm"),
        )
        .orderBy("source")
    )
