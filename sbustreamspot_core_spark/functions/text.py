"""Web-text functions: HTML text extraction, href extraction, text analysis.

North-rule front end (BASELINE.json input_hint): pages table
(url, warc_ts, html binary, text, lang); extracted text must be
byte-identical per url across runs.  All functions are Arrow-batched pandas
UDFs (no per-row Python UDFs) built on pandas vectorized string ops where
possible.

Text analysis ops (training-data pipeline): language-ID (stopword n-gram
heuristic), quality scoring, token counting, md5 fingerprinting.
"""

from __future__ import annotations

import html as _html
import re
from urllib.parse import urljoin

import pandas as pd
from pyspark.sql import functions as F

_TAG_DROP_RE = re.compile(
    rb"<(script|style)\b[^>]*>.*?</\1>", re.IGNORECASE | re.DOTALL)
_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(r"\s+")
_HREF_RE = re.compile(
    rb"""<a\s[^>]*?href\s*=\s*["']([^"'#>]+)["']""", re.IGNORECASE)


def extract_text_bytes(html_bytes: bytes) -> str:
    """Deterministic HTML -> text: drop script/style, strip tags, decode
    entities, canonicalize whitespace.  Pure function of the input bytes
    (same bytes in => same string out), which is the byte-identity invariant."""
    if html_bytes is None:
        return ""
    stripped = _TAG_DROP_RE.sub(b" ", html_bytes)
    stripped = _TAG_RE.sub(b" ", stripped)
    decoded = stripped.decode("utf-8", errors="replace")
    decoded = _html.unescape(decoded)
    return _WS_RE.sub(" ", decoded).strip()


def _extract_text_series(html: pd.Series) -> pd.Series:
    return html.map(extract_text_bytes)


def extract_text_udf(html_col):
    """Arrow-batched text extraction; lazy UDF construction (no session
    needed at import)."""
    return F.pandas_udf(_extract_text_series, "string")(html_col)


def extract_hrefs_bytes(html_bytes: bytes, base_url: str) -> list[str]:
    """<a href> targets resolved against the base url, document order."""
    if html_bytes is None:
        return []
    out = []
    for m in _HREF_RE.finditer(html_bytes):
        target = m.group(1).decode("utf-8", errors="replace").strip()
        if target:
            out.append(urljoin(base_url, target))
    return out


def _extract_hrefs_series(html: pd.Series, url: pd.Series) -> pd.Series:
    return pd.Series([extract_hrefs_bytes(h, u) for h, u in zip(html, url)])


def extract_hrefs_udf(html_col, url_col):
    return F.pandas_udf(_extract_hrefs_series, "array<string>")(
        html_col, url_col)


# ---------------------------------------------------------------- analysis

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "dans"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "es"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"],
}

# Token pattern shared verbatim by Python re, Java regex (Spark) and RE2
# (DuckDB oracle): alphanumeric runs with an optional 'suffix, else a single
# non-space/non-alnum char.  Whitespace is spelled as the explicit ASCII
# class [ \t\n\x0B\f\r] so all three engines agree (Python's \s would also
# match Unicode whitespace; Java/RE2's would not).
TOKEN_PATTERN = "[A-Za-z0-9]+(?:'[a-z]+)?|[^ \\t\\n\\x0B\\f\\rA-Za-z0-9]"
_TOKEN_RE = re.compile(TOKEN_PATTERN)


def lang_id_expr(text_col):
    """Heuristic language ID as a pure JVM column expression: per-language
    stopword-hit count via ``array_intersect`` (set semantics, matching the
    Python set-membership rule), argmax with alphabetical tie-break, zero
    hits -> 'und'.  Codegen'd — the default for the 100 TB path; the decision
    rule is pinned against ``lang_id_py`` in tests."""
    t = F.coalesce(text_col, F.lit(""))
    # explicit ASCII whitespace class — \s differs across Python
    # (Unicode), Java ([ \\t\\n\\x0B\\f\\r]) and RE2 (no \\x0B); see
    # TOKEN_PATTERN above
    words = F.split(F.lower(t), "[ \\t\\n\\x0B\\f\\r]+")
    langs = sorted(_STOPWORDS)
    hits = {
        lang: F.size(F.array_intersect(
            words, F.array(*[F.lit(w) for w in _STOPWORDS[lang]])))
        for lang in langs
    }
    gmax = F.greatest(*hits.values())
    pick = F.when(gmax == 0, F.lit("und"))
    for lang in langs[:-1]:
        pick = pick.when(hits[lang] == gmax, F.lit(lang))
    return pick.otherwise(F.lit(langs[-1]))


def lang_id_py(t: str) -> str:
    """Reference-fidelity Python implementation of the language-ID decision
    rule; used only in tests to pin ``lang_id_expr``."""
    if not t:
        return "und"
    words = set(re.split("[ \t\n\x0B\f\r]+", t.lower())) - {""}
    best, best_n = "und", 0
    for lang in sorted(_STOPWORDS):
        n = sum(1 for w in _STOPWORDS[lang] if w in words)
        if n > best_n:
            best, best_n = lang, n
    return best


def token_count_expr(text_col):
    """BPE-ish token count as a pure JVM column expression:
    ``size(regexp_extract_all(text, TOKEN_PATTERN))`` — codegen'd, zero
    Python, exact DuckDB oracle via RE2 ``regexp_extract_all``."""
    return F.coalesce(
        F.size(F.regexp_extract_all(
            F.coalesce(text_col, F.lit("")), F.lit(TOKEN_PATTERN), F.lit(0))),
        F.lit(0)).cast("long")


def token_count_py(t: str) -> int:
    """Reference-fidelity Python tokenizer; pins ``token_count_expr`` in
    tests."""
    return len(_TOKEN_RE.findall(t)) if t else 0


def quality_score_cols(text_col: str = "text"):
    """Column expressions for document quality signals — pure Spark SQL
    (JVM-side, codegen'd): length, words, mean word length, punctuation and
    uppercase ratios, and a composite [0,1] quality score."""
    t = F.col(text_col)
    n_chars = F.length(t)
    words = F.split(t, "[ \\t\\n\\x0B\\f\\r]+")
    n_words = F.size(words)
    punct = n_chars - F.length(
        F.regexp_replace(t, "[^\\w \\t\\n\\x0B\\f\\r]", ""))
    upper = n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))
    mean_wl = (n_chars - n_words + 1) / F.greatest(n_words, F.lit(1))
    score = (
        F.when(n_words < 5, 0.0)
        .otherwise(
            1.0
            - F.least(F.lit(1.0), punct / F.greatest(n_chars, F.lit(1)) * 4.0)
            * F.lit(0.5)
            - F.least(F.lit(1.0), F.abs(mean_wl - 5.0) / 10.0) * F.lit(0.5))
    )
    return {
        "n_chars": n_chars.cast("long"),
        "n_words": n_words.cast("long"),
        "punct_chars": punct.cast("long"),
        "upper_chars": upper.cast("long"),
        "quality": F.round(score, 6),
    }


def fingerprint_expr(text_col):
    """Document fingerprint as a pure JVM column expression: first 60 bits of
    md5(text) — codegen'd, zero Python, exact ANSI-SQL oracle
    (CAST('0x' || substring(md5(text),1,15) AS BIGINT))."""
    return F.conv(F.substring(F.md5(text_col), 1, 15), 16, 10).cast("long")
