"""Text-analysis column functions for large-scale corpus pipelines.

All pure Column expressions (JVM-side, codegen-friendly): tokenization,
token counting, quality scoring, n-gram-heuristic language ID, document
fingerprinting.  Designed for the ``documents(doc_id, text, lang,
source, n_chars)`` table but generic over any string column.

Scale: every function is embarrassingly parallel per row — no shuffle,
no UDF, safe at 100 TB behind a parquet scan with column pruning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword-hit
# language-ID heuristic.  Deliberately small + frozen: they are part of
# the operator contract (the oracle uses the same lists).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "por", "para", "como"),
}

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def tokens(text: Column | str) -> Column:
    """Lowercased whitespace tokens; empty string → empty array."""
    c = F.col(text) if isinstance(text, str) else text
    trimmed = F.trim(F.lower(c))
    return F.when(F.length(trimmed) == 0, F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def punct_ratio(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)
    stripped = F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(n > 0, (n - stripped) / n).otherwise(F.lit(0.0))


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = ENGLISH_STOPWORDS) -> Column:
    toks = tokens(text)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Length/punctuation/stopword composite in [0,1]: rewards
    mid-length docs with low punctuation noise and a plausible
    stopword share (the usual cheap pre-filter before model-based
    quality scoring)."""
    c = F.col(text) if isinstance(text, str) else text
    n_tok = token_count(c)
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(c) * 4, F.lit(1.0))
    sw = stopword_ratio(c)
    sw_score = F.least(sw * 5, F.lit(1.0))
    return F.round(
        F.greatest(
            len_score * 0.5 + sw_score * 0.3 + (1 - punct_penalty) * 0.2, F.lit(0.0)
        ),
        6,
    )


# PII patterns shared verbatim with the DuckDB oracle: plain ASCII
# classes only (Java regex ∩ RE2 — no lookarounds, no \d shorthands
# whose Unicode semantics differ).
PII_EMAIL = "[a-z0-9._]+@[a-z0-9-]+[.][a-z0-9.]*[a-z]"
PII_URL = "https?://[a-z0-9./_-]+"
PII_PHONE = "[+][0-9][0-9-]*[0-9]"


def inject_synthetic_pii(text: Column | str, doc_id: Column | str) -> Column:
    """Deterministically append synthetic PII to 3 of every 4 docs
    (keyed by id): an email, a URL, or a phone number.  The synthetic
    corpus contains no PII-shaped spans, so redaction queries would be
    vacuous without injection; being a closed form of the id keeps the
    downstream extraction oracle-able."""
    c = F.col(text) if isinstance(text, str) else text
    i = (F.col(doc_id) if isinstance(doc_id, str) else doc_id).cast("long")
    email = F.concat(
        F.lit(" Contact user"), i.cast("string"), F.lit("@mail"),
        (i % 7).cast("string"), F.lit(".example.com now."),
    )
    url = F.concat(
        F.lit(" See https://docs"), (i % 97).cast("string"),
        F.lit(".example.org/p/"), i.cast("string"), F.lit(" for details."),
    )
    phone = F.concat(
        F.lit(" Call +94-"), (10 + i % 90).cast("string"), F.lit("-"),
        (100 + i % 900).cast("string"), F.lit("-"),
        (1000 + i % 9000).cast("string"), F.lit("."),
    )
    return (
        F.when(i % 4 == 0, F.concat(c, email))
        .when(i % 4 == 1, F.concat(c, url))
        .when(i % 4 == 2, F.concat(c, phone))
        .otherwise(c)
    )


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-doc PII span counts (email/url/phone), pure column regex."""
    c = F.col(text) if isinstance(text, str) else text
    lc = F.lower(c)
    return {
        "n_emails": F.size(F.regexp_extract_all(lc, F.lit(PII_EMAIL), 0)).cast("bigint"),
        "n_urls": F.size(F.regexp_extract_all(lc, F.lit(PII_URL), 0)).cast("bigint"),
        "n_phones": F.size(F.regexp_extract_all(lc, F.lit(PII_PHONE), 0)).cast("bigint"),
    }


def redact_pii(text: Column | str) -> Column:
    """Replace every PII span with a typed placeholder.  Order matters
    and is part of the contract: emails first (an email contains no
    URL), then URLs, then phones."""
    c = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(F.lower(c), PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_URL, "<URL>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def langid_scores(text: Column | str) -> list[tuple[str, Column]]:
    toks = tokens(text)
    out = []
    for lang, words in LANG_STOPWORDS.items():
        sw = F.array(*[F.lit(s) for s in words])
        out.append((lang, F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))))
    return out


def predict_lang(text: Column | str) -> Column:
    """Stopword-hit argmax with deterministic tie-break (list order:
    en, de, fr, es); zero hits everywhere → 'und' (undetermined)."""
    scores = langid_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    # iterate reversed so earlier languages win ties
    for lang, score in reversed(scores):
        cond = score > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, score).otherwise(best_score)
    return best_lang
