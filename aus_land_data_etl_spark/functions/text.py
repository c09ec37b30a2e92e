"""Vectorized text / html functions (the Arrow-batched slow path).

The reference's analog is the property-description extraction grammar —
a pure Python string→structure parser run over millions of rows
(/root/reference/lib/pipeline/nsw_lrs/property_description/parse/parse.py:18-86,
grammar.py:29-193).  Here the payload is Common-Crawl-style HTML
(BASELINE.json input_hint): extraction must be a *pure, deterministic*
function of the input bytes so every replay produces byte-identical text
per url.  All UDFs are pandas (Arrow-batched) — never row-at-a-time.

Everything that can stay a Catalyst expression does (token_count,
quality_score, lang_id are pure Catalyst expressions);
only the HTML extraction and simhash need Python, and both run batch-wise.
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# html → text extraction (pandas UDF; deterministic; byte-identical per url)
# ---------------------------------------------------------------------------

_RE_SCRIPT = re.compile(rb"(?is)<(script|style)\b.*?</\1\s*>")
_RE_COMMENT = re.compile(rb"(?s)<!--.*?-->")
_RE_TAG = re.compile(rb"(?s)<[^>]*>")


def extract_text_bytes(raw: bytes | None) -> str | None:
    """Pure html-bytes → text. The unit the byte-identical invariant hangs on.

    Decode order mirrors the reference's CSV encoding fallback
    (lib/pipeline/nsw_vg/land_values/ingest.py:173-177): strict UTF-8 first,
    then ISO-8859-1 (which cannot fail).  Then: drop script/style/comments,
    strip tags, unescape entities, normalise whitespace.
    """
    if raw is None:
        return None
    stripped = _RE_TAG.sub(b" ", _RE_COMMENT.sub(b" ", _RE_SCRIPT.sub(b" ", raw)))
    try:
        text = stripped.decode("utf-8")
    except UnicodeDecodeError:
        text = stripped.decode("iso-8859-1")
    if "&" in text:  # entity decode only when entities can exist
        text = _html.unescape(text)
    # Whitespace normalisation without regex (pure C string ops, ~10×
    # cheaper than re.sub on tag-stripped text): within each line collapse
    # any whitespace run (unicode-aware, so &nbsp; collapses too) to one
    # space and strip; drop emptied lines; newlines separate lines.
    if "\n" in text:
        lines = (" ".join(line.split()) for line in text.split("\n"))
        return "\n".join(s for s in lines if s)
    return " ".join(text.split())


@F.pandas_udf(T.StringType())
def extract_text_udf(html_col: pd.Series) -> pd.Series:
    """Arrow-batched html→text extraction (series of bytes → series of str)."""
    return html_col.map(extract_text_bytes)


# ---------------------------------------------------------------------------
# language id — n-gram/stopword heuristic, pure Catalyst expressions
# ---------------------------------------------------------------------------

_LANG_MARKERS: dict[str, list[str]] = {
    # High-frequency function words per language, chosen to be disjoint.
    "en": ["the", "and", "of", "to", "is", "that", "with"],
    "de": ["der", "und", "die", "das", "nicht", "ist", "ein"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans"],
    "es": ["el", "los", "las", "una", "por", "como", "para"],
}


_TOKENS = r"split(lower(coalesce({col}, '')), r'[^\p{L}]+')"
_LANG_SCORES = "array(" + ", ".join(
    f"named_struct('score', size(filter({_TOKENS}, x -> array_contains("
    f"array({', '.join(map(repr, markers))}), x))), 'lang', '{lang}')"
    for lang, markers in _LANG_MARKERS.items()
) + ")"
#: ``lang_id`` as ONE SQL expression over ``{col}``: a single parse
#: instead of a Column tree built one py4j round trip per node.
_LANG_ID_SQL = (
    f"CASE WHEN array_max({_LANG_SCORES}).score > 0 "
    f"THEN array_max({_LANG_SCORES}).lang ELSE 'und' END"
)


def lang_id(text: str) -> Column:
    """Heuristic language id of the column named ``text``: argmax of
    per-language stopword hit counts.

    Pure column expressions: tokenize with ``split``, count marker
    membership with ``filter``/``array_contains``, take the max via a
    struct array (score, then label) — no UDF, fully codegen'd.
    """
    return F.expr(_LANG_ID_SQL.replace("{col}", "`" + text.replace("`", "``") + "`"))


# ---------------------------------------------------------------------------
# quality scoring — pure expressions
# ---------------------------------------------------------------------------

_EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"]


def quality_score(text: Column | str) -> Column:
    """Composite document-quality score in [0,1].

    Components (all Catalyst expressions): length band, alpha ratio,
    mean-word-length band, stopword ratio.  Mirrors common web-corpus
    quality filters (C4/Gopher-style rules, public literature).
    """
    t = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    n_chars = F.length(t)
    tokens = F.filter(F.split(F.lower(t), r"\s+"), lambda x: F.length(x) > 0)
    n_tokens = F.size(tokens)
    alpha_ratio = F.when(
        n_chars > 0,
        F.length(F.regexp_replace(t, r"[^\p{L}]", "")) / n_chars.cast("double"),
    ).otherwise(F.lit(0.0))
    mean_word_len = F.when(n_tokens > 0, n_chars / n_tokens.cast("double")).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(w) for w in _EN_STOPWORDS])
    stop_ratio = F.when(
        n_tokens > 0,
        F.size(F.filter(tokens, lambda x: F.array_contains(stop_arr, x)))
        / n_tokens.cast("double"),
    ).otherwise(F.lit(0.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    word_len_score = F.when((mean_word_len >= 3) & (mean_word_len <= 12), 1.0).otherwise(0.3)
    return F.round(
        0.25 * len_score
        + 0.35 * alpha_ratio
        + 0.2 * word_len_score
        + 0.2 * F.least(stop_ratio * 5.0, F.lit(1.0)),
        6,
    )


#: BPE-ish segmentation: word runs OR single non-space symbols.  RE2-safe
#: (no lookaround) so the DuckDB oracle can use the identical pattern.
TOKEN_PATTERN = r"[\p{L}\p{N}]+|[^\p{L}\p{N}\s]"


def token_count(text: Column | str) -> Column:
    """Token count under BPE-ish segmentation (word runs + symbols)."""
    t = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    return F.size(F.regexp_extract_all(t, F.lit(TOKEN_PATTERN), F.lit(0))).cast("long")


def char_ngrams(text: Column | str, n: int = 5) -> Column:
    """Array of character n-grams (shingles).

    One linear regex pass with a capturing lookahead (`(?=(.{n}))` matches
    at every position and captures the n chars ahead) — the naive
    ``transform(sequence, i -> substring(...))`` alternative is O(len²)
    per document and an order of magnitude slower at corpus scale.
    """
    t = F.lower(F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit("")))
    norm = F.regexp_replace(t, r"\s+", " ")
    return F.regexp_extract_all(norm, F.lit(f"(?=(.{{{n}}}))"), F.lit(1))


def fingerprint64(text: Column | str) -> Column:
    """64-bit document fingerprint: xxhash64 of whitespace-normalised text."""
    t = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    return F.xxhash64(F.regexp_replace(F.lower(t), r"\s+", " "))


def simhash64(text: Column | str, n: int = 4) -> Column:
    """SimHash over character n-grams, pure Catalyst (no UDF).

    For each of 64 bit positions, sum ±1 over shingle hashes' bits and take
    the sign.  Expressed with ``transform``/``aggregate`` over the shingle
    array — stays JVM-side.
    """
    shingles = char_ngrams(text, n)
    hashes = F.transform(shingles, lambda s: F.xxhash64(s))
    bits = []
    for b in range(64):
        contrib = F.transform(
            hashes,
            lambda h: F.when(h.bitwiseAND(F.lit(1 << b if b < 63 else -(2**63))) != 0, 1).otherwise(-1),
        )
        tot = F.aggregate(contrib, F.lit(0), lambda acc, x: acc + x)
        bit_val = F.when(tot > 0, F.lit(1 << b if b < 63 else -(2**63))).otherwise(F.lit(0))
        bits.append(bit_val.cast("long"))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


#: PII patterns (reference's pipeline has no PII stage — this is part of
#: the web-corpus tier, per the RefinedWeb/CCNet-style curation recipe).
#: Kept to constructs with identical semantics in Java regex (Spark),
#: RE2 (DuckDB oracle) and Python `re` (property tests): no lookaround,
#: no backreferences, ASCII word boundaries only.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+(\.[A-Za-z0-9-]+)+"
IPV4_PATTERN = r"\b(\d{1,3}\.){3}\d{1,3}\b"
PHONE_PATTERN = r"(\+?\d{1,2}[ .-]?)?\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}"


def redact_pii(text: Column | str) -> Column:
    """Mask emails / IPv4 addresses / phone-shaped numbers with typed
    placeholder tokens (``<EMAIL>`` / ``<IP>`` / ``<PHONE>``).

    The standard pre-training redaction pass, pure Catalyst — three
    chained ``regexp_replace`` calls in one projection (one codegen
    stage, zero shuffles, trivially row-parallel at any scale).  Order
    matters: emails first (their local parts contain digits), then
    IPv4 (dotted quads would half-match the phone pattern), phones
    last.  The DuckDB mirror is the same three patterns via
    ``regexp_replace(..., 'g')``.
    """
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    c = F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>")
    c = F.regexp_replace(c, IPV4_PATTERN, "<IP>")
    c = F.regexp_replace(c, PHONE_PATTERN, "<PHONE>")
    return c
