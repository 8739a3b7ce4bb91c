"""Text-analysis column expressions — pure Catalyst, no Python UDFs.

LLM-data-pipeline primitives over a `text` string column (the north star's
text-analysis / dedup surface; the reference stores text opaquely in the
Jina Document, executor.py:6, and never computes on it — these ops are the
[NOT IN REFERENCE] extensions mandated by BASELINE.json).

Determinism contract: every hash below is derived from md5 (available in
both Spark and DuckDB) so each operator has an exact SQL oracle. At 100 TB
these all stay inside whole-stage codegen — no shuffle except where an op
is inherently grouped.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A BPE-ish word/number/punctuation tokenizer: word pieces, digit runs, or
# single non-space symbols — close to the GPT-2 pre-tokenizer split classes.
BPE_ISH_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic and oracle-expressible (LIKE counting).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "los", "que", "de"),
    "fr": ("le", "la", "les", "et", "des"),
    "zh": ("de5", "le5", "shi4", "zai4", "he2"),
}


def hash32(col: Column) -> Column:
    """Deterministic 32-bit positive integer hash (first 8 md5 hex chars).

    Small enough that a*h+b stays below 2^63 for a,b < 2^20 — the overflow-
    safe building block for minhash/fingerprint modular arithmetic.
    DuckDB twin: CAST('0x' || substr(md5(s),1,8) AS BIGINT).
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def let1(value: Column, body) -> Column:
    """Bind ``value`` ONCE and reference it many times inside a single
    expression: transform over a one-element array makes the value a HOF
    lambda variable, which Catalyst evaluates once per row. Without this,
    an expression tree embedded inside a per-element lambda (e.g.
    ``slice(split(text), i, n)`` in a sliding-window transform) re-runs
    per ELEMENT — the word-shingle builders were O(tokens^2) regex splits
    per document until r09 (2.9 s -> 0.42 s per gram column at sf0.1)."""
    return F.transform(F.array(value), body)[0]


def words(col: Column) -> Column:
    """Whitespace tokens (fixture text is single-space separated soup)."""
    return F.split(col, r"\s+")


def word_count(col: Column) -> Column:
    return F.size(words(col))


def bpe_ish_tokens(col: Column) -> Column:
    """Regex pre-tokenization (word/digit/punct pieces)."""
    return F.regexp_extract_all(col, F.lit(BPE_ISH_REGEX), 0)


def bpe_ish_token_count(col: Column) -> Column:
    return F.size(bpe_ish_tokens(col))


def char_count(col: Column) -> Column:
    return F.length(col)


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation-ish (quality signal)."""
    stripped = F.regexp_replace(col, r"[A-Za-z0-9\s]", "")
    return F.length(stripped).cast("double") / F.greatest(F.length(col), F.lit(1)).cast("double")


def stopword_ratio(col: Column) -> Column:
    """Fraction of whitespace tokens that are stopwords (quality signal)."""
    toks = words(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"])))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def uppercase_ratio(col: Column) -> Column:
    upper = F.regexp_replace(col, r"[^A-Z]", "")
    return F.length(upper).cast("double") / F.greatest(F.length(col), F.lit(1)).cast("double")


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, low punctuation,
    reasonable mean word length. Deterministic arithmetic only."""
    wc = word_count(col).cast("double")
    mean_word_len = char_count(col).cast("double") / F.greatest(wc, F.lit(1.0))
    len_ok = F.least(wc / F.lit(50.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(col) * F.lit(5.0), F.lit(1.0))
    wordlen_ok = F.when((mean_word_len >= 3.0) & (mean_word_len <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((len_ok + punct_ok + wordlen_ok) / F.lit(3.0), 6)


def lang_score(col: Column, lang: str) -> Column:
    """Stopword-hit count for one language (language-ID heuristic input)."""
    toks = words(F.lower(col))
    return F.size(F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS[lang])))


def word_shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the text (dedup primitive).

    transform over a sliding index range; the token array is let1-bound so
    the split runs once per row, not once per shingle. Explode only
    happens in the operators that need one-row-per-shingle.
    """

    def _of(toks: Column) -> Column:
        k = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
        idx = F.sequence(F.lit(0), k - F.lit(1))
        return F.array_distinct(
            F.when(
                F.size(toks) >= n,
                F.transform(
                    idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
                ),
            ).otherwise(F.array(F.concat_ws(" ", toks)))
        )

    return let1(words(col), _of)


def word_ngrams_all(col: Column, n: int) -> Column:
    """ALL word n-grams (NON-distinct, unlike word_shingles) — the input to
    repetition metrics, where multiplicity is the signal. Empty array when
    the text has fewer than n tokens. Token array let1-bound: one split
    per row, not one per gram."""

    def _of(toks: Column) -> Column:
        idx = F.sequence(F.lit(0), F.size(toks) - F.lit(n))
        return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
            F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
        )

    return let1(words(col), _of)


def dup_fraction_of(g: Column) -> Column:
    """1 - distinct/total over a pre-projected n-gram array column — the
    Gopher repetition fraction. Takes the ARRAY (not the text) so callers
    can project the gram array once and reference it from all three size
    sites (CollapseProject keeps a non-cheap expression that is referenced
    more than once in its own projection, so the transform runs once per
    row instead of once per reference). 0.0 for empty arrays."""
    return F.when(F.size(g) <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(g)).cast("double") / F.size(g).cast("double")
    )


def top_token_fraction_tokens(toks: Column) -> Column:
    """Fraction of tokens taken by the single most frequent token (Gopher's
    'most common word' rule), over a pre-projected token array. Pure
    Catalyst, ONE pass: sort the array, then a single aggregate() fold
    tracks the longest run of equal adjacent tokens — max run length in a
    sorted array IS the max token count. O(t log t) per document, vs the
    r05 original's nested filter-per-distinct-token HOF, whose lambda got
    no common-subexpression elimination and so re-evaluated the token
    split per distinct token (O(distinct * t) splits). With this form plus
    the let1-bound gram builders the whole 3-signal repetition query reads
    1.6 s warm at sf0.1 vs 7.3 s before (and ~20 s with the original
    nested filter)."""
    s = F.array_sort(toks)
    st = F.aggregate(
        s,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return F.when(F.size(toks) <= 0, F.lit(0.0)).otherwise(
        st["best"].cast("double") / F.size(toks).cast("double")
    )


def char_ngrams(col: Column, n: int = 4) -> Column:
    """Distinct character n-grams (language-ID / similarity primitive)."""
    k = F.greatest(F.length(col) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(1), k)
    return F.array_distinct(F.transform(idx, lambda i: col.substr(i, F.lit(n))))


def fingerprint(col: Column) -> Column:
    """Rolling polynomial hash of the word sequence (document fingerprint).

    h = fold(h * 31 + hash32(word)) mod 2^31-1, left-to-right — order
    sensitive (unlike a set hash), exact SQL oracle via list_reduce.
    The modulus keeps acc*31 + h < 2^37, far from int64 overflow (a 2^61
    modulus would overflow acc*31).
    """
    mod = F.lit(2147483647)  # 2^31 - 1
    return F.aggregate(
        words(col),
        F.lit(0).cast("long"),
        lambda acc, w: (acc * F.lit(31) + hash32(w) % mod) % mod,
    )


# --- PII detection / redaction (training-data scrubbing primitives) -------
#
# Patterns restricted to the RE2 ∩ java.util.regex common subset (no
# backrefs, no lookaround) so the identical pattern string runs in Spark
# (Java regex) and in the DuckDB oracle (RE2). Redaction order matters and
# is part of the contract: emails first (an email contains dots that could
# otherwise be nibbled by the IP pattern), then IPv4, then phone.

PII_EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_REGEX = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_REGEX = r"\+\d{1,2}-\d{3}-\d{4}"


def pii_counts(col: Column) -> tuple[Column, Column, Column]:
    """(n_emails, n_ips, n_phones) — counted in redaction order, i.e. the
    IP count is over the email-redacted text and the phone count over the
    IP-redacted text, matching what redact_pii removes at each step."""
    after_email = F.regexp_replace(col, PII_EMAIL_REGEX, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, PII_IPV4_REGEX, "<IP>")
    return (
        F.regexp_count(col, F.lit(PII_EMAIL_REGEX)).cast("long"),
        F.regexp_count(after_email, F.lit(PII_IPV4_REGEX)).cast("long"),
        F.regexp_count(after_ip, F.lit(PII_PHONE_REGEX)).cast("long"),
    )


def redact_pii(col: Column) -> Column:
    """Replace emails -> <EMAIL>, IPv4 -> <IP>, phones -> <PHONE>.

    Pure Catalyst (three chained regexp_replace); at 100 TB this is a
    map-only pass inside whole-stage codegen — no shuffle, no Python.
    """
    out = F.regexp_replace(col, PII_EMAIL_REGEX, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4_REGEX, "<IP>")
    return F.regexp_replace(out, PII_PHONE_REGEX, "<PHONE>")


URL_REGEX = r"https?://([^/\s]+)"


def url_domain(col: Column) -> Column:
    """First URL's registrable host in the text ('' when none). regexp_extract
    group 1 — identical pattern in the DuckDB oracle."""
    return F.regexp_extract(col, URL_REGEX, 1)
