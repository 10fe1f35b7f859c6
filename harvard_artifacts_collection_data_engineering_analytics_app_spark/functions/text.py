"""Text-analysis expression library — pure Catalyst expressions, no UDFs.

Everything here returns a ``pyspark.sql.Column`` built from built-in
functions, so whole-stage codegen applies and the same logic is
re-expressible in the DuckDB oracle SQL.

Portable hashing: Spark's ``xxhash64``/``hash`` have no DuckDB equivalent,
so cross-engine-checkable operators hash with
``md5(s) → first 15 hex digits → bigint`` (60 bits, always positive).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# Small per-language function-word lists for the n-gram/stopword language-ID
# heuristic. Deliberately tiny: the point is the distributed scoring
# machinery, not linguistic accuracy.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "zu", "ist", "ein"),
    "es": ("el", "la", "de", "y", "que", "es", "un"),
    "fr": ("le", "la", "et", "les", "des", "est", "un"),
    "zh": ("的", "是", "了", "在", "和", "有", "我"),
}

# Deterministic candidate order for argmax tie-breaking (mirrored in SQL).
LANG_ORDER: tuple[str, ...] = ("de", "en", "es", "fr", "zh")


# Token separators: the DuckDB oracles' RE2 ``\s`` (SQL_TOKENS) spelled out.
# Java's ``\s`` would also match the vertical tab U+000B.
TOKEN_SEPARATORS = r"[\t\n\f\r ]+"
# What a symbol ratio does not count: ASCII letters, digits and the RE2
# ``\s`` above (the oracles' ``[A-Za-z0-9\s]``).
NON_SYMBOL = r"[A-Za-z0-9\t\n\f\r ]"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization: split(trim(text), TOKEN_SEPARATORS)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), TOKEN_SEPARATORS)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("long")


def portable_hash60(c: Column) -> Column:
    """60-bit positive hash both engines can reproduce.

    DuckDB equivalent: ``CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def seeded_hash60(c: Column, seed: int) -> Column:
    """Seed-parameterized portable hash: md5('<seed>:' || s)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), c)), 1, 15), 16, 10
    ).cast("bigint")


def word_shingles(text: Column | str, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles (array<string>), [] when < n tokens.

    Spark arrays are 0-indexed in `[]` element access; the DuckDB mirror
    uses 1-indexed ``list`` access — see operators/dedup.py oracles.
    """
    w = tokens(text)
    # Build via zip_with over shifted slices: higher-order lambdas are
    # interpreted (no codegen CSE), so an element_at(w, i+k) formulation
    # re-evaluates the split() per element — O(tokens·n) splits per row.
    # zip_with evaluates each array argument once per row: n splits total.
    n_shingles = F.size(w) - (n - 1)
    joined = F.slice(w, 1, n_shingles)
    for k in range(2, n + 1):
        joined = F.zip_with(
            joined,
            F.slice(w, k, n_shingles),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    guarded = F.when(F.size(w) >= n, joined).otherwise(
        F.array().cast("array<string>")
    )
    return F.array_distinct(guarded) if distinct else guarded


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Stopword-vote score per candidate language."""
    toks = tokens(text)

    def _counter(sw: tuple[str, ...]):
        # NB: the lambda must be unary — F.filter passes (element, index)
        # to binary callables.
        return F.size(F.filter(toks, lambda t: t.isin(*sw))).cast("long")

    return {lang: _counter(sw) for lang, sw in LANG_STOPWORDS.items()}


def lang_id(text: Column | str) -> Column:
    """Argmax language with deterministic tie-break (LANG_ORDER).

    A language wins if its score is strictly greater than every language
    earlier in LANG_ORDER and >= every language later (first-max wins).
    """
    scores = lang_scores(text)
    best = None
    for lang in LANG_ORDER:
        cond = None
        for other in LANG_ORDER:
            if other == lang:
                continue
            c = (
                scores[lang] > scores[other]
                if LANG_ORDER.index(other) < LANG_ORDER.index(lang)
                else scores[lang] >= scores[other]
            )
            cond = c if cond is None else (cond & c)
        best = (
            F.when(cond, F.lit(lang))
            if best is None
            else best.when(cond, F.lit(lang))
        )
    return best.otherwise(F.lit("und"))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"[^\x21-\x2f\x3a-\x40\x5b-\x60\x7b-\x7e]", "")
    return F.length(stripped).cast("double") / F.nullif(
        F.length(c).cast("double"), F.lit(0.0)
    )


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are English stopwords."""
    toks = tokens(text)
    sw = LANG_STOPWORDS["en"]
    n_sw = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    return n_sw.cast("double") / F.nullif(F.size(toks).cast("double"), F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Heuristic document-quality score in [0, 1].

    0.4 · length component (saturates at 500 chars)
    + 0.3 · (1 − punctuation ratio)
    + 0.3 · stopword-plausibility (saturates at 10% stopwords)
    """
    c = F.col(text) if isinstance(text, str) else text
    length_comp = F.least(F.length(c).cast("double") / 500.0, F.lit(1.0))
    punct_comp = 1.0 - F.coalesce(punct_ratio(c), F.lit(0.0))
    sw_comp = F.least(
        F.coalesce(stopword_ratio(c), F.lit(0.0)) / 0.10, F.lit(1.0)
    )
    return 0.4 * length_comp + 0.3 * punct_comp + 0.3 * sw_comp


def fingerprint_md5(text: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of the normalized (lower/trim) text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.trim(c)))


def bag_fingerprint(text: Column | str) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct tokens."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text)))))


def min_shingle_hash(text: Column | str, n: int = 3) -> Column:
    """Rolling-hash-style content fingerprint: min over shingle hashes.

    The 1-permutation MinHash — robust to small edits, cheap at scale.
    """
    sh = word_shingles(text, n)
    hashes = F.transform(sh, lambda s: portable_hash60(s))
    return F.array_min(hashes)
