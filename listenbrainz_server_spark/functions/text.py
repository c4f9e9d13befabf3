"""Text-analysis column expressions for training-data pipelines.

All pure built-in-function expressions (zero Python UDFs — the
reference's discipline, SURVEY.md §2.11, extended from its only text
ops: case-folding stats/incremental/user/artist.py:45 and genre/tag
token aggregation). Everything stays inside whole-stage codegen, so
these run at scan speed on a 100 TB documents table.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword sets for the n-gram/stopword language-ID
# heuristic. Deliberately small and deterministic (this is a heuristic
# operator, not a model); a production pipeline would swap in larger
# lists via a broadcast dimension table.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ein"),
    "es": ("el", "la", "los", "y", "que"),
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (the BPE-ish regex path is
    ``F.split(text, r"\\s+|(?=[.,!?])")`` — same operator shape)."""
    return F.split(text, " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text)).cast("bigint")


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are English stopwords."""
    toks = tokens(text)
    words = list(LANG_STOPWORDS["en"])
    hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text: Column | str) -> Column:
    """Punctuation chars / total chars."""
    col = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(col, r"[^\w\s]", "")
    return (F.length(col) - F.length(stripped)) / F.greatest(F.length(col), F.lit(1))


def top_word_count(toks: Column) -> Column:
    """Count of the single most frequent token — as a pure column
    expression (zero shuffle), replacing the explode → groupBy(doc, w)
    → groupBy(doc) max() formulation (two full-corpus exchanges).

    Sorts the token array, then folds a run-length scan over it: the
    longest run of equal adjacent tokens in a sorted array IS the top
    word's count. Stays inside whole-stage codegen; at 100 TB this is
    a map-only stage instead of two shuffles over exploded rows.
    """
    s = F.array_sort(toks)
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("bigint").alias("run"),
        F.lit(0).cast("bigint").alias("best"),
    )
    run_next = F.struct

    def step(acc, w):
        run = F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1).cast("bigint"))
        return run_next(
            w.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    return F.aggregate(s, zero, step, lambda acc: acc["best"])


def quality_flag(text: Column | str) -> Column:
    """The d_clean_corpus admission gate as a reusable boolean column:
    at least 20 tokens AND no single token over a quarter of them
    (repetition proxy).
    Pure expression (tokenize + run-length fold) — zero shuffle, so it
    is usable identically in batch scans and streaming micro-batches
    (st_quality_gate; tests/test_streaming.py pins stream ≡ batch)."""
    toks = tokens(text)
    total = F.size(toks).cast("bigint")
    return (total >= 20) & (top_word_count(toks) * 1.0 / total <= 0.25)


def quality_score(text: Column | str) -> Column:
    """Composite quality heuristic: length band + stopword presence −
    punctuation noise. Deterministic; thresholds tuned for filterable
    buckets, not linguistics."""
    n = token_count(text)
    length_ok = F.when((n >= 10) & (n <= 1000), 1.0).otherwise(0.0)
    sw = stopword_ratio(text)
    return F.round(length_ok * 0.5 + sw * 2.0 - punct_ratio(text), 6)


# The DuckDB twin of ``quality_score`` for oracle SQL: an expression over
# a CTE that exposes ``text`` and its space-split tokens ``t``.
_EN_SQL = ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"])
QUALITY_SCORE_SQL = f"""ROUND(
             (CASE WHEN len(t) BETWEEN 10 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.5
             + (len(list_filter(t, x -> x IN ({_EN_SQL}))) * 1.0
                / GREATEST(len(t), 1)) * 2.0
             - ((LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                * 1.0 / GREATEST(LENGTH(text), 1)),
           6)"""


def lang_id(text: Column | str) -> Column:
    """Stopword-vote language ID: the language whose stopword set hits
    the most tokens; 'und' (undetermined) when nothing hits.
    Ties break lexicographically by language code (deterministic).
    """
    toks = tokens(text)
    best_lang = F.lit("und")
    best_hits = F.lit(0)

    def _hit_filter(words):
        return lambda t: t.isin(*words)

    # Fold over languages in sorted order; strict > keeps first-wins
    # (lexicographic) tie behavior.
    for code in sorted(LANG_STOPWORDS):
        hits = F.size(F.filter(toks, _hit_filter(list(LANG_STOPWORDS[code]))))
        take = hits > best_hits
        best_lang = F.when(take, F.lit(code)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_lang


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized, case-folded
    text. Engine-independent (md5 is md5 everywhere) — the rolling-hash
    analog for exact-normalized dedup."""
    col = F.col(text) if isinstance(text, str) else text
    normalized = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(normalized)


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as an array of strings (distinct not
    applied — callers explode + distinct as needed)."""
    toks = tokens(text)
    k = F.size(toks) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(0)))
    make = lambda i: F.array_join(F.slice(toks, i + 1, n), " ")  # noqa: E731
    return F.when(k >= 1, F.transform(idx, make)).otherwise(F.array().cast("array<string>"))


# BPE-ish tokenization: greedy max-8-char word chunks + digit runs +
# single punctuation marks — a deterministic stand-in for subword
# vocabularies (long words split into several tokens, punctuation is
# its own token), engine-portable as one regex.
BPE_ISH_PATTERN = r"[a-z]{1,8}|[0-9]{1,8}|[^a-z0-9\s]"


def bpe_ish_tokens(text: Column | str) -> Column:
    """Subword-style token array (see BPE_ISH_PATTERN)."""
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_ISH_PATTERN), 0)


def bpe_ish_token_count(text: Column | str) -> Column:
    return F.size(bpe_ish_tokens(text)).cast("bigint")
