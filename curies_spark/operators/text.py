"""Text-analysis operators for large-scale training-data pipelines.

All JVM-native (split / regexp / array set-ops) — these run in the hot
path over every document at corpus scale, so no Python is allowed here.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .. import _worker

__all__ = [
    "REDACT_PATTERNS",
    "WS_CHARS",
    "WS_CLASS",
    "WS_CLASS_JAVA",
    "WS_CLASS_RE2",
    "redact_col",
    "doc_fingerprint_col",
    "language_id_col",
    "quality_features",
    "quality_score_col",
    "token_count_col",
    "tokens_col",
]

#: The canonical token-separator set — Python's ``str.isspace()``
#: character set, written out as ONE explicit list so every tokenizer in
#: the engine splits on exactly the same characters:
#:
#: - the JVM ``split`` below (Java regex, whose bare ``\s`` is
#:   ASCII-only — an NBSP or U+2028 would NOT separate tokens there),
#: - the Arrow kernels (pandas ``.str.split()`` == Python whitespace ==
#:   exactly this set; equality is asserted in tests so drift between
#:   the class and the kernels fails loud),
#: - the DuckDB oracles (RE2, whose ``\s`` is ASCII-only too — they use
#:   the :data:`WS_CLASS_RE2` rendering of the same set).
#:
#: The set covers the separators real web corpora contain: ASCII
#: whitespace, the C0 information separators, NEL, NBSP, ogham space,
#: the en/em/thin space block, line/paragraph separators, narrow NBSP,
#: math space, and ideographic space.
WS_CHARS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008"
    "\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)

#: Java-regex character class of :data:`WS_CHARS` (literal characters —
#: deliberately no ``\s``, which is ASCII-only in Java).
WS_CLASS = "[" + WS_CHARS + "]"

#: The FAST Java rendering of the same set: ``(?U)`` makes ``\s`` the
#: Unicode White_Space property — exactly :data:`WS_CHARS` minus the
#: four C0 information separators, which the class adds back. Matches
#: the explicit class character-for-character (asserted in tests) but
#: runs ~2.5× faster than the literal 29-char class (Java fast-paths
#: property classes; measured 0.087 s vs 0.215 s on the sf0.1 document
#: tokenization — the literal class had cost the dedup staging ~2×).
WS_CLASS_JAVA = r"(?U)[\s\x1c-\x1f]"

#: RE2 rendering of the same class for DuckDB oracle SQL (hex escapes
#: pass through DuckDB's single-quoted strings untouched).
WS_CLASS_RE2 = (
    "[\\t\\n\\x0b\\x0c\\r\\x1c\\x1d\\x1e\\x1f \\x{0085}\\x{00a0}"
    "\\x{1680}\\x{2000}-\\x{200a}\\x{2028}\\x{2029}\\x{202f}\\x{205f}"
    "\\x{3000}]"
)

#: minimal per-language stopword marker sets for the n-gram/stopword
#: language-ID heuristic (deliberately tiny: the operator shape is the
#: point; swap in real lists at deployment)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "for", "with", "a"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por", "con", "es"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour", "que", "avec"],
}

#: a BPE-ish token regex: words, numbers, or single punctuation marks —
#: the usual pre-tokenizer shape for token counting
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: ASCII punctuation as an explicit class — identical semantics in Java
#: regex and RE2 (\\p{Punct} is Java-only)
PUNCT_CLASS = r"[!-/:-@\[-`{-~]"


def tokens_col(text: "Column | str") -> Column:
    """Whitespace tokens, lowercased, empties removed.

    Splits on the :data:`WS_CHARS` set (via its fast
    :data:`WS_CLASS_JAVA` rendering) — Java's bare ``\\s`` is
    ASCII-only, which diverged from the Arrow kernels' Python (Unicode)
    tokenization on NBSP/U+2028-style separators real corpora contain.
    One canonical separator set keeps the JVM path, the kernels, and
    the DuckDB oracles byte-for-byte equivalent on ANY input."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), WS_CLASS_JAVA + "+"), lambda t: t != "")


def token_count_col(text: "Column | str", *, method: str = "whitespace") -> Column:
    """Token count: ``whitespace`` split or a ``bpe``-ish regex count."""
    c = F.col(text) if isinstance(text, str) else text
    if method == "whitespace":
        return F.size(tokens_col(c))
    if method == "bpe":
        return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), F.lit(0)))
    raise ValueError(f"unknown token counting method: {method}")


def language_id_col(text: "Column | str") -> Column:
    """Stopword-marker language ID: the language whose marker set has the
    most distinct hits among the document's tokens; NULL when nothing hits.

    Ties break by language code order (deterministic via max_by on a
    (hits, lang) struct with reversed lang comparison avoided — we use
    array_max over structs where hits dominate)."""
    toks = tokens_col(text)
    scored = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
                ).alias("hits"),
                # negative index so that on tied hits the earlier language wins
                F.lit(-i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, words) in enumerate(sorted(LANG_MARKERS.items()))
        ]
    )
    best = F.array_max(scored)
    return F.when(best.getField("hits") > 0, best.getField("lang"))


def quality_features(df: DataFrame, text: str = "text") -> DataFrame:
    """Attach the standard quality-heuristic features."""
    c = F.col(text)
    toks = tokens_col(c)
    n_chars = F.length(c)
    n_tokens = F.size(toks)
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_tokens.alias("q_tokens"),
        (n_chars / F.greatest(n_tokens, F.lit(1))).alias("q_mean_token_len"),
        (
            F.length(F.regexp_replace(c, f"[^{PUNCT_CLASS[1:-1]}]", ""))
            / F.greatest(n_chars, F.lit(1))
        ).alias("q_punct_ratio"),
        (
            F.size(
                F.array_intersect(
                    toks, F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
                )
            )
            / F.greatest(n_tokens, F.lit(1))
        ).alias("q_stopword_ratio"),
        (F.size(F.array_distinct(toks)) / F.greatest(n_tokens, F.lit(1))).alias(
            "q_distinct_ratio"
        ),
    )


def quality_score_col(
    *,
    min_tokens: int = 5,
    max_mean_token_len: float = 12.0,
    max_punct_ratio: float = 0.3,
) -> Column:
    """Boolean keep/drop over the q_* features (Gopher-style rule gate)."""
    return (
        (F.col("q_tokens") >= min_tokens)
        & (F.col("q_mean_token_len") <= max_mean_token_len)
        & (F.col("q_punct_ratio") <= max_punct_ratio)
    )


def doc_fingerprint_col(text: "Column | str", *, k: int = 3) -> Column:
    """Order-insensitive content fingerprint: sha256 over the sorted
    multiset of k-token shingle hashes (a rolling-hash winnowing
    fingerprint whose window is the whole document). Near-identical
    token streams collide; any token edit changes ~k shingles.

    Arrow-batched kernel (shared shingle builder + one sha256 per
    DISTINCT shingle via factorize + one digest per document over the
    byte-sorted hash buffer): value-identical to the native
    ``sha2(concat_ws('', array_sort(transform(shingles, sha2[:16]))))``
    form — kept in ``tests/differential_twins.py`` for differential
    tests — but without its per-element interpreted
    transform lambda (measured 5.4s → sub-second on the sf0.1 bench
    corpus)."""
    from pyspark.sql.types import StringType

    from .dedup import _batch_shingles

    c = F.col(text) if isinstance(text, str) else text

    @F.arrow_udf(StringType())
    def _fingerprint(arr):
        _worker.install()
        import hashlib

        import numpy as np
        import pandas as pd
        import pyarrow as pa

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        n = len(arr)
        if n == 0:
            return pa.array([], type=pa.string())
        shingles, wc, _ = _batch_shingles(arr.to_pandas(), k)
        codes, uniques = pd.factorize(shingles)
        # fixed-width S16 hex: byte order == Java UTF8String comparison
        # on the hex chars, so the per-document np sort reproduces
        # array_sort exactly (duplicates preserved — multiset)
        uniq16 = np.array(
            [hashlib.sha256(t.encode("utf-8")).hexdigest()[:16] for t in uniques],
            dtype="S16",
        )
        h = uniq16[codes]
        doc_ids = np.repeat(np.arange(n), wc)
        order = np.lexsort((h, doc_ids))
        buf = h[order].tobytes()
        ends = np.cumsum(wc)
        starts = np.concatenate(([0], ends[:-1]))
        out = [
            hashlib.sha256(buf[16 * s : 16 * e]).hexdigest()
            for s, e in zip(starts, ends)
        ]
        return pa.array(out, type=pa.string())

    return _fingerprint(c)


#: redaction patterns, ordered: URLs first so an email-shaped credential
#: or an IP host inside a URL is consumed by the URL match whole, not
#: half-replaced by a later pattern. Shared Java-regex ∩ RE2 syntax —
#: same policy as the mention regexes.
REDACT_PATTERNS = (
    ("url", r"https?://[^\s\"'<>()]+"),
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
)


def redact_col(
    text: "Column | str", *, kinds: "tuple[str, ...] | None" = None
) -> Column:
    """PII/link scrubbing for training corpora: replace emails, URLs, and
    IPv4 addresses with ``<KIND>`` placeholder tokens.

    One ``regexp_replace`` per pattern, fully JVM-side and pipelined with
    the scan; order matters (URLs first, so credentials or IP hosts
    inside a URL are consumed by the URL match whole). Placeholders are
    angle-bracket tokens so a redacted corpus re-tokenizes them as
    single units.
    """
    c = F.col(text) if isinstance(text, str) else text
    known = {k for k, _ in REDACT_PATTERNS}
    active = set(kinds) if kinds is not None else known
    unknown = active - known
    if unknown:
        # silently skipping a misspelled kind would ship PII believed
        # scrubbed — fail loud instead
        raise ValueError(
            f"unknown redaction kind(s) {sorted(unknown)}; known: {sorted(known)}"
        )
    for kind, pattern in REDACT_PATTERNS:
        if kind in active:
            c = F.regexp_replace(c, pattern, f"<{kind.upper()}>")
    return c
