"""Text scalar functions — Spark restatements of the reference's utils.

Reference parity (all ``/root/reference/app/utils/text_utils.py`` unless
noted): normalization 11-29, regex extractors 32-143, Jaccard 146-162,
HTML strip 198-213, truncation/word counts 295-323, keyword frequency
216-275; quality-score composite ``docling_provider.py:366-466``; SHA-256
content hash ``extraction_service.py:294-296``; CNPJ/CPF check digits
``app/utils/validators.py:20-96``.

All expressions are portable: the same semantics are expressible in ANSI SQL
(DuckDB) for the oracle comparisons, which pins down regex dialects (keep to
character classes + quantifiers common to Java regex and RE2) and float
rounding (helpers round to 4 decimals).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------- regex
#: portable extraction patterns (valid in both Java regex and RE2)
RE_NUMBER = "[0-9]+(?:[.,][0-9]+)*"
RE_DATE_BR = "[0-9]{2}/[0-9]{2}/[0-9]{4}"
RE_CURRENCY_BRL = "R\\$ ?[0-9.,]+"
RE_CPF = "[0-9]{3}\\.[0-9]{3}\\.[0-9]{3}-[0-9]{2}"
RE_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
RE_WORD = "[A-Za-z0-9]+"
RE_CNPJ_FMT = "[0-9]{2}\\.[0-9]{3}\\.[0-9]{3}/[0-9]{4}-[0-9]{2}"
RE_PHONE_BR = "\\(?[0-9]{2}\\)? ?9?[0-9]{4}-[0-9]{4}"


def extract_all(col: Column | str, pattern: str) -> Column:
    """All matches of ``pattern`` (whole match, group 0 — matches DuckDB's
    regexp_extract_all default)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(pattern), F.lit(0))


#: PII redaction order: formats that embed other formats' shapes go first
#: (CNPJ's digit groups would otherwise be half-eaten by the phone rule)
_PII_RULES: list[tuple[str, str]] = [
    (RE_EMAIL, "[email]"),
    (RE_CNPJ_FMT, "[cnpj]"),
    (RE_CPF, "[cpf]"),
    (RE_PHONE_BR, "[phone]"),
]


def redact_pii(col: Column | str) -> Column:
    """Mask personally identifying spans (emails, CPF/CNPJ documents,
    Brazilian phone numbers) with typed placeholders — the set-oriented
    redaction primitive for GDPR/LGPD pipelines (pair with
    ``operators.dml.update_where`` to redact a lake table in place).

    Pure chained ``regexp_replace`` — whole-stage codegen, no UDF; the rule
    list is mirrored verbatim by the DuckDB oracle (Spark's regexp_replace
    is replace-all, DuckDB needs the 'g' flag). Pattern-based masking, not
    validation: a formatted-but-invalid CPF still redacts (the right
    default for an eraser); pair with ``cpf_valid``/``cnpj_valid`` when
    only checksum-valid documents should count.

    Reference parity: the same regex family the reference extracts
    (``/root/reference/app/utils/text_utils.py:32-143``), turned from
    extraction into erasure.
    """
    c = F.col(col) if isinstance(col, str) else col
    for pat, mask in _PII_RULES:
        c = F.regexp_replace(c, pat, mask)
    return c


def pii_counts(col: Column | str) -> Column:
    """Number of PII pattern matches in the ORIGINAL string, each rule
    counted independently (the DuckDB oracle mirrors exactly this).

    Deliberately NOT "placeholders redact_pii emits": redaction applies
    rules sequentially, so a span consumed by an earlier rule (a CPF-shaped
    substring inside an email) is counted here but never surfaces as its
    own placeholder. Independent counting is the audit-friendly semantics —
    "how many pattern hits does this text contain" — and stays one
    codegen'd expression; count on the progressively redacted string would
    serialize the rules into data dependencies.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.lit(0)
    for pat, _ in _PII_RULES:
        out = out + F.size(extract_all(c, pat))
    return out


#: Latin-1/Latin-Extended accent fold map (applied after lowercasing, so the
#: lowercase forms suffice). Covers the Portuguese/Spanish/French/German
#: corpus the reference processes; full-Unicode NFD folding lives in
#: ``normalize_text_unicode`` for anything beyond Latin scripts.
ACCENTS = "áàâãäåéèêëíìîïóòôõöúùûüçñýÿ"
ACCENTS_FOLDED = "aaaaaaeeeeiiiiooooouuuucnyy"


def normalize_text(col: Column | str) -> Column:
    """lower + accent fold + non-alnum -> space + squeeze spaces
    (text_utils.py:11-29: the reference strips accents via unicodedata NFD
    before normalizing, so ``atenção`` and ``atencao`` must fingerprint the
    same). Pure builtins (F.translate) — the JVM hot path; the pandas-UDF
    ``normalize_text_unicode`` handles non-Latin scripts when needed.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.translate(c, ACCENTS, ACCENTS_FOLDED)
    c = F.regexp_replace(c, "[^a-z0-9]+", " ")
    return F.trim(c)


@F.pandas_udf(T.StringType())
def normalize_text_unicode(s: pd.Series) -> pd.Series:
    """Accent-strip + lowercase via unicodedata (vectorized Arrow batch).

    The reference strips accents with unicodedata (text_utils.py:15-18);
    Spark has no builtin NFD fold, so this is one of the few sanctioned
    pandas UDFs.
    """
    import unicodedata

    def fold(x):
        if x is None:
            return None
        nfd = unicodedata.normalize("NFD", x)
        return "".join(ch for ch in nfd if not unicodedata.combining(ch)).lower()

    return s.map(fold)


def words(col: Column | str) -> Column:
    """Tokenize to lowercase word array (split on non-alnum)."""
    return F.filter(
        F.split(normalize_text(col), " "), lambda w: F.length(w) > 0
    )


def token_count(col: Column | str) -> Column:
    """BPE-ish token count: alnum runs + standalone punctuation marks."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(extract_all(c, RE_WORD)) + F.size(
        extract_all(c, "[^A-Za-z0-9 ]")
    )


def word_count(col: Column | str) -> Column:
    return F.size(words(col))


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def truncate_ellipsis(col: Column | str, max_len: int) -> Column:
    """truncate + '...' (text_utils.py:295-303)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) <= max_len, c).otherwise(
        F.concat(F.substring(c, 1, max_len - 3), F.lit("..."))
    )


def strip_html(col: Column | str) -> Column:
    """Remove tags + collapse whitespace (text_utils.py:198-213)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.regexp_replace(c, "<[^>]+>", " "), "\\s+", " "))


def head_middle_tail(col: Column | str, n: int = 200) -> Column:
    """Sample long text: head+middle+tail slices (extraction_service.py:523-534)."""
    c = F.col(col) if isinstance(col, str) else col
    ln = F.length(c)
    return F.when(ln <= 3 * n, c).otherwise(
        F.concat(
            F.substring(c, 1, n),
            F.lit(" ... "),
            c.substr((ln / 2).cast("int") - F.lit(n // 2), F.lit(n)),
            F.lit(" ... "),
            c.substr(ln - F.lit(n - 1), F.lit(n)),
        )
    )


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text (portable to SQL)."""
    return F.md5(normalize_text(col))


# ----------------------------------------------------------- quality scoring
STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for",
    "on", "with", "as", "at", "by", "this", "that",
]


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1] (docling_provider.py:366-466 shape):
    weighted mix of length density, alnum ratio and stopword ratio. Pure
    column arithmetic; rounded to 4 decimals for cross-engine comparison."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c).cast("double")
    n_alnum = F.length(F.regexp_replace(c, "[^A-Za-z0-9]", "")).cast("double")
    ws = words(c)
    n_words = F.size(ws).cast("double")
    n_stop = F.size(
        F.filter(ws, lambda w: w.isin(STOPWORDS_EN))
    ).cast("double")
    len_score = F.least(n_chars / 500.0, F.lit(1.0))
    alnum_ratio = F.when(n_chars > 0, n_alnum / n_chars).otherwise(0.0)
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(0.0)
    score = 0.4 * len_score + 0.3 * alnum_ratio + 0.3 * F.least(
        stop_ratio * 4.0, F.lit(1.0)
    )
    return F.round(score, 4)


# ------------------------------------------------------------- language id
#: tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "les", "de", "et", "des"],
    "de": ["der", "die", "und", "das", "ist", "von"],
    "pt": ["o", "a", "de", "que", "e", "do"],
}


def lang_id(col: Column | str) -> Column:
    """Argmax language by marker hits; deterministic tie-break by language
    code order (greatest-by with struct comparison)."""
    ws = words(col)
    scored = F.array(
        *[
            F.struct(
                F.size(F.filter(ws, lambda w: w.isin(m))).alias("hits"),
                # negative alphabetical rank -> earlier code wins ties
                F.lit(-i).alias("rank"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, m) in enumerate(sorted(LANG_MARKERS.items()))
        ]
    )
    return F.array_max(scored).getField("lang")


# ---------------------------------------------------------------- similarity
def jaccard_tokens(a: Column | str, b: Column | str) -> Column:
    """Jaccard similarity of two texts' token sets (text_utils.py:146-162)."""
    wa, wb = F.array_distinct(words(a)), F.array_distinct(words(b))
    inter = F.size(F.array_intersect(wa, wb)).cast("double")
    union = F.size(F.array_union(wa, wb)).cast("double")
    return F.round(F.when(union > 0, inter / union).otherwise(0.0), 4)


def shingles(col: Column | str, k: int = 3) -> Column:
    """Word-level k-shingles as an array of space-joined strings."""
    ws = words(col)
    n = F.size(ws)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(ws, i, k))
    )


# ----------------------------------------------------------- validators (BR)
@F.pandas_udf(T.BooleanType())
def cpf_valid(s: pd.Series) -> pd.Series:
    """CPF check-digit validation, mod-11 math (validators.py:20-58) —
    vectorized digit arithmetic in pandas/numpy."""
    import numpy as np

    def check(x):
        if x is None:
            return None
        d = [int(ch) for ch in x if ch.isdigit()]
        if len(d) != 11 or len(set(d)) == 1:
            return False
        for pos in (9, 10):
            w = np.arange(pos + 1, 1, -1)
            r = (np.dot(d[:pos], w) * 10) % 11 % 10
            if r != d[pos]:
                return False
        return True

    return s.map(check)


@F.pandas_udf(T.BooleanType())
def cnpj_valid(s: pd.Series) -> pd.Series:
    """CNPJ check-digit validation (validators.py:20-57): 14 digits, two
    mod-11 check digits with the 5..2,9..2 / 6..2,9..2 weight ladders;
    all-equal-digit strings rejected. Vectorized pandas UDF like
    ``cpf_valid``."""
    W1 = [5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]
    W2 = [6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2]

    def check(x):
        if x is None:
            return None
        d = [int(ch) for ch in x if ch.isdigit()]
        if len(d) != 14 or len(set(d)) == 1:
            return False
        for w, pos in ((W1, 12), (W2, 13)):
            r = sum(di * wi for di, wi in zip(d, w)) % 11
            if d[pos] != (0 if r < 2 else 11 - r):
                return False
        return True

    return s.map(check)
