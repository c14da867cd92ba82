"""Text-analysis functions for the training-data pipeline.

All hot-path scoring is built-in ``pyspark.sql.functions`` column
expressions (JVM, whole-stage codegen); the only Python is the winnowing
fingerprint, which is a vectorized pandas UDF (Arrow batches).

Operates on the ``documents`` table (doc_id, text, lang, source, n_chars).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

# Tiny per-language stopword inventories for the n-gram/stopword
# language-ID heuristic. Deliberately ASCII + distinctive.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "with", "for"],
    "es": ["el", "la", "los", "las", "que", "de", "con", "para"],
    "de": ["der", "die", "das", "und", "ist", "mit", "nicht", "ein"],
    "fr": ["le", "la", "les", "des", "est", "avec", "pour", "dans"],
}

_WS = r"\s+"
# BPE-ish word/number/punct splitter: letter runs, digit runs, single punct.
BPE_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col) -> Column:
    """Whitespace tokens, lowercased, empties removed."""
    return F.filter(F.split(F.lower(F.trim(col)), _WS), lambda t: t != "")


def token_count(col) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_token_count(col) -> Column:
    """BPE-ish token count: count of regex token matches (JVM-side)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_PATTERN), 0))


def stopword_ratio(col, lang: str = "en") -> Column:
    """Fraction of whitespace tokens that are stopwords of ``lang``."""
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS[lang])))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col) -> Column:
    """Punctuation chars / total chars."""
    n = F.length(col)
    p = F.length(F.regexp_replace(col, r"[^\p{Punct}]", ""))
    return F.when(n > 0, p.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(col) -> Column:
    """Heuristic [0,1] quality: length band + low punct + stopword presence.

    Mirrors the C4/Gopher-style length/symbol/stopword filters; each term
    is a codegen'd expression so the whole score fuses into the scan.
    """
    n_tok = token_count(col)
    length_term = F.when((n_tok >= 5) & (n_tok <= 100_000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_term = F.when(punct_ratio(col) < 0.3, F.lit(1.0)).otherwise(F.lit(0.0))
    stop_term = F.when(stopword_ratio(col, "en") > 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
    mean_len = F.when(n_tok > 0, F.length(col).cast("double") / n_tok).otherwise(F.lit(0.0))
    word_len_term = F.when((mean_len >= 2.0) & (mean_len <= 15.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return (length_term + punct_term + stop_term + word_len_term) / F.lit(4.0)


def lang_id(col) -> Column:
    """Stopword-vote language ID over STOPWORDS; ties broken by language
    code order (deterministic); 'und' when no stopword hits at all."""
    toks = tokens(col)

    def hits(words):
        # NB: single-arg lambda — F.filter dispatches on arity, a second
        # (defaulted) parameter would be bound to the element index.
        return F.size(F.filter(toks, lambda t: t.isin(*words)))

    scores = {lang: hits(words) for lang, words in STOPWORDS.items()}
    best = None
    best_score = None
    for lang in sorted(STOPWORDS):  # deterministic tie order
        s = scores[lang]
        if best is None:
            best, best_score = F.lit(lang), s
        else:
            cond = s > best_score
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_score = F.when(cond, s).otherwise(best_score)
    return F.when(best_score > 0, best).otherwise(F.lit("und"))


def content_fingerprint(col) -> Column:
    """Whole-document fingerprint: sha256 of the raw text, as DuckDB's ``sha256(text)``."""
    return F.sha2(col, 256)


@F.pandas_udf(LongType())
def winnow_fingerprint(s: pd.Series) -> pd.Series:
    """Winnowing-style rolling-hash fingerprint (Schleimer et al. 2003):
    min 8-gram polynomial hash — robust to local edits. Fully vectorized:
    the k-gram hashes for a document are one numpy sliding-window matmul
    (int64 wraparound arithmetic = mod 2^64), no per-window Python.
    No SQL oracle (non-relational); tested property-style."""
    import numpy as np

    k = 8
    # odd multiplier -> full-period mixing under mod-2^64 wraparound
    powers = (np.uint64(0x9E3779B97F4A7C15) ** np.arange(k, dtype=np.uint64)).astype(np.uint64)

    def one(text: str | None) -> int | None:
        if text is None:
            return None
        t = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
        if len(t) <= k:
            return int.from_bytes(hashlib.sha256(t.tobytes()).digest()[:8], "big") >> 1
        win = np.lib.stride_tricks.sliding_window_view(t, k).astype(np.uint64)
        with np.errstate(over="ignore"):
            hashes = (win * powers).sum(axis=1, dtype=np.uint64)
            # one extra mixing round to decorrelate adjacent windows
            hashes = (hashes ^ (hashes >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
        return int(hashes.min() >> np.uint64(1))  # fit signed int64

    return s.map(one)


# ---------------------------------------------------------------------------
# PII scrubbing — training-data redaction pass (engine extension; the
# reference has no text-content ops, its cleaning is cell-level
# accent/case normalization, PyOrchDB clean_db / LightCleaner).
# ---------------------------------------------------------------------------

# Patterns kept in the common RE2/Java subset (no backreferences, no
# lookaround) so the Spark plan and a DuckDB/RE2 oracle agree exactly.
PII_PATTERNS: list[tuple[str, str]] = [
    # email first: its local part would otherwise be chewed by the phone
    # pattern's digit runs
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    # IPv4 before phone (dotted quads are digit runs too)
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # international-ish phone: +CC or bare, digits with separators, >= 9
    # digits total — anchored on word boundaries
    (r"\+?\b\d[\d \-()]{7,}\d\b", "<PHONE>"),
]


def scrub_pii(col) -> Column:
    """Redact emails / IPv4s / phone-shaped digit runs with typed tokens.

    A chain of ``regexp_replace`` built-ins — whole-stage codegen, no
    UDF; order matters (see PII_PATTERNS). At 100 TB this is a pure
    map-side projection: no shuffle, pushdown-transparent.
    """
    out = col
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def repetition_stats(
    docs, text_col: str = "text", id_col: str = "doc_id"
):
    """Gopher-style intra-document repetition signals (round 4) — the
    quality filters that catch boilerplate-heavy / degenerate docs which
    per-token stats miss (Rae et al., Gopher, arXiv:2112.11446 §A1.1):

    - ``dup_line_frac``: fraction of lines that are duplicates of
      another line in the same doc — pure array expressions
      (split / array_distinct / size), whole-stage codegen, no shuffle.
    - ``top_2gram_frac``: share of all word 2-grams taken by the most
      frequent one — explode → two partial-aggregated groupBys, the
      standard scale plan (per-doc gram counts never materialize on the
      driver, and both shuffles carry (doc_id, gram) thin rows).

    Left-joins back so docs with < 2 tokens report 0.0, not NULL.
    """
    lines = F.split(F.col(text_col), "\n")
    nl = F.size(lines)
    nd = F.size(F.array_distinct(lines))
    dup_line = F.when(nl > 0, (nl - nd).cast("double") / nl).otherwise(F.lit(0.0))
    base = docs.select(F.col(id_col), dup_line.alias("dup_line_frac"))

    toks = F.split(F.lower(F.trim(F.col(text_col))), _WS)
    grams = docs.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(toks) >= 2,
                F.transform(
                    F.sequence(F.lit(2), F.size(toks)),
                    lambda i: F.concat_ws(
                        " ", F.element_at(toks, i - F.lit(1)), F.element_at(toks, i)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    top = (
        grams.groupBy(id_col, "gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg((F.max("c").cast("double") / F.sum("c")).alias("top_2gram_frac"))
    )
    return base.join(top, id_col, "left").fillna({"top_2gram_frac": 0.0})
