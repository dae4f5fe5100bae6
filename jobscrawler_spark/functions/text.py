"""Text-analysis functions for training-data pipelines — all pure Catalyst.

Language-ID (stopword-hit heuristic), quality scoring (length/punct/
stopword ratios), token counting (whitespace + BPE-ish sub-token regex),
and document fingerprinting (min-5-gram winnowing). Every function is
SQL-expressible so the DuckDB oracle verifies it exactly.

Reference analogue: the token-count/truncate stage of the embedding
pipeline (reference: src/embeddings/e5_base_v2_utils.py:37-56 tiktoken
count, embed_latest_crawled_data.py:84-132 batch stats) — re-expressed
without the Python tokenizer dependency.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny public stopword samples per language (heuristic, not a model)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "for", "with", "on"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "de": ["der", "die", "und", "das", "ist", "von", "mit", "ein", "zu", "auf"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "avec"],
}


def tokens_col(text: Column) -> Column:
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text))


def truncate_tokens(text: Column, max_tokens: int) -> Column:
    """F16: truncate to the first ``max_tokens`` tokens and rejoin — the
    reference truncates embedding text at 1000 tiktoken tokens (reference:
    src/embeddings/e5_base_v2_utils.py:37-56 truncate_text_tokens_optimized,
    applied at embed_latest_crawled_data.py:84-132). Whitespace tokens here
    (same proxy as token_count); pure Catalyst."""
    return F.array_join(F.slice(tokens_col(text), 1, max_tokens), " ")


def subtoken_count(text: Column) -> Column:
    """BPE-ish sub-token count: alpha runs, digit runs, single punctuation —
    a cheap deterministic proxy for a real tokenizer (F16)."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))


def _stopword_hits(text: Column, lang: str) -> Column:
    toks = tokens_col(F.lower(text))
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))


def lang_id(text: Column) -> Column:
    """argmax language by stopword hits; ties break alphabetically; zero
    hits everywhere -> 'und' (undetermined)."""
    scored = F.array(
        *[
            F.struct(_stopword_hits(text, lang).alias("hits"), F.lit(lang).alias("lang"))
            for lang in sorted(STOPWORDS)
        ]
    )
    # max by (hits, reverse-alphabetical lang) == first max alphabetically:
    # array_max orders structs lexicographically, later field breaks ties —
    # to make ties break toward 'de' < 'en' < ..., invert via min over
    # (-hits, lang)
    inverted = F.transform(
        scored, lambda s: F.struct((-s["hits"]).alias("neg"), s["lang"].alias("lang"))
    )
    best = F.array_min(inverted)
    return F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und"))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, F.round(punct / n, 6)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, lang: str = "en") -> Column:
    n = token_count(text)
    return F.when(n > 0, F.round(_stopword_hits(text, lang) / n, 6)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length band + low punctuation
    + stopword presence (public-practice web-text filtering features)."""
    n_tok = token_count(text)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 5000), 0.4).otherwise(0.0)
    punct_ok = F.when(punct_ratio(text) < 0.2, 0.3).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(text) > 0.01, 0.3).otherwise(0.0)
    return F.round(len_ok + punct_ok + stop_ok, 2)


def fingerprint(text: Column, k: int = 5) -> Column:
    """Winnowing-lite document fingerprint: lexicographic min of md5 over
    word k-grams of the lowercased text (order-invariant, shift-robust)."""
    toks = tokens_col(F.lower(text))
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.md5(F.array_join(F.slice(toks, i + 1, k), " ")))
    return F.array_min(grams)  # null for docs with fewer than k tokens


def _word_grams(toks: Column, k: int) -> Column:
    """Word k-grams as joined strings (empty array for docs shorter than k)."""
    n = F.size(toks)
    idx = F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))


def dup_line_fraction(text: Column) -> Column:
    """Fraction of non-empty lines that repeat an earlier line — the
    duplicate-line signal of published web-text repetition filtering
    (Gopher-style; boilerplate/nav-menu pages score high). Pure Catalyst,
    map-side."""
    lines = F.filter(
        F.transform(F.split(text, r"\r?\n"), lambda l: F.trim(l)), lambda l: l != ""
    )
    n = F.size(lines)
    dups = n - F.size(F.array_distinct(lines))
    return F.when(n > 0, F.round(dups / n, 6)).otherwise(F.lit(0.0))


def top_ngram_fraction(text: Column, k: int = 2) -> Column:
    """Fraction of all word-k-gram occurrences taken by the single most
    frequent k-gram (the top-n-gram repetition signal of the same
    published filter family). Array-expression only — per-row compute is
    O(tokens x distinct grams), no shuffle; the explode+groupBy form would
    shuffle every gram at 100 TB for a per-document statistic."""
    grams = _word_grams(tokens_col(F.lower(text)), k)
    n = F.size(grams)
    counts = F.transform(
        F.array_distinct(grams),
        lambda d: F.size(F.filter(grams, lambda g: g == d)),
    )
    return F.when(n > 0, F.round(F.array_max(counts) / n, 6)).otherwise(F.lit(0.0))


def repetition_reject(dup_line: Column, top_bigram: Column, top_trigram: Column) -> Column:
    """True = a document with these repetition fractions fails the filter
    (thresholds follow the published Gopher-rule magnitudes; tune per
    corpus)."""
    return (dup_line > 0.30) | (top_bigram > 0.18) | (top_trigram > 0.16)


def repetition_flag(text: Column) -> Column:
    """repetition_reject over ``text``'s fractions."""
    return repetition_reject(
        dup_line_fraction(text), top_ngram_fraction(text, 2), top_ngram_fraction(text, 3)
    )


# RE2-safe patterns (no lookarounds/backrefs) so the DuckDB oracle runs
# the SAME regex: email local@domain.tld and 7+-digit phone-ish runs with
# separators. Deliberately conservative — corpus redaction favors recall
# on unambiguous shapes over clever heuristics.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?[0-9][0-9()\-. ]{5,}[0-9]"


def redact_pii(text: Column, token: str = "[REDACTED]") -> Column:
    """Training-data PII scrub: mask email addresses and phone-number-like
    digit runs with ``token``. Pure Catalyst (regexp_replace); emails are
    replaced first so their digits cannot re-trigger the phone pattern."""
    return F.regexp_replace(F.regexp_replace(text, EMAIL_RE, token), PHONE_RE, token)


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_phones) per document — the audit side of redaction.
    Phone counting runs on the email-redacted text, mirroring redact_pii's
    ordering, so an email's digits are never double-counted."""
    n_email = F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0))
    n_phone = F.size(
        F.regexp_extract_all(
            F.regexp_replace(text, EMAIL_RE, "[REDACTED]"), F.lit(PHONE_RE), 0
        )
    )
    return n_email, n_phone


def c4_line_keep(line: Column, min_words: int = 3) -> Column:
    """The C4 line-level keep predicate (Raffel et al. 2020, public):
    keep a line iff it ends in terminal punctuation, has at least
    ``min_words`` whitespace words, and carries none of the boilerplate
    markers (lorem ipsum / javascript / '{'). Pure Catalyst; the DuckDB
    oracle repeats it with list_filter."""
    words = F.size(F.filter(F.split(line, r"\s+"), lambda w: w != ""))
    low = F.lower(line)
    return (
        F.rtrim(line).rlike(r'[.!?"]$')
        & (words >= min_words)
        & ~low.contains("lorem ipsum")
        & ~low.contains("javascript")
        & ~line.contains("{")
    )


def c4_clean_lines(text: Column, min_words: int = 3) -> Column:
    """C4 line filtering: split on newlines, drop lines failing
    ``c4_line_keep``, rejoin — the standard web-corpus line cleanup that
    runs BEFORE document-level quality scoring. Map-side only (a
    higher-order filter over the split array; no explode, no shuffle, no
    UDF)."""
    return F.array_join(
        F.filter(F.split(text, "\n"), lambda x: c4_line_keep(x, min_words)), "\n"
    )


# ---------------------------------------------------------------------------
# Punctuation/unicode normalization (r6) — the CCNet-style normalizer
# ---------------------------------------------------------------------------

# 1:1 character fold (curly quotes, guillemets, unicode dashes, exotic
# spaces -> ASCII), applied via translate in BOTH engines (the constants
# are shared verbatim with the oracle, like the PII patterns)
NORM_FROM = "‘’‚‹›«»“”„–—―‐‑  "
NORM_TO = "'''''\"\"\"\"\"-----  "
NORM_ZERO_WIDTH = "[​‌‍﻿]"


def normalize_punct(text: Column) -> Column:
    """CCNet-style punctuation/unicode normalization: fold curly quotes,
    guillemets, en/em/horizontal-bar dashes and non-breaking/thin spaces
    to their ASCII forms (1:1 translate), expand the ellipsis character
    to '...', and strip zero-width characters (ZWSP/ZWNJ/ZWJ/BOM — the
    invisible dedup killers: two byte-different copies of the same text).
    Pure Catalyst (translate + two RE2-safe regexps), repeated verbatim
    by the DuckDB oracle; zero shuffles. Normalization runs BEFORE
    hashing/dedup in a real pipeline so typographic variants of one
    sentence collapse onto one md5."""
    t = F.translate(text, NORM_FROM, NORM_TO)
    t = F.regexp_replace(t, "…", "...")
    return F.regexp_replace(t, NORM_ZERO_WIDTH, "")
