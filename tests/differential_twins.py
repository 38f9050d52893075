"""Slow reference forms of the package's batch kernels, for differential
tests only: each computes the same values as its kernel by the plain
route (JVM higher-order functions, an exploded shuffle, or per-row
Python). None of them belongs on a corpus-scale pass.

- :func:`cosine_similarity_col_hof` twins ``similarity.cosine_vs_query_col``
- :func:`lsh_signature_col_hof` twins ``similarity.lsh_signature_col``
- :func:`doc_fingerprint_native_col` twins ``text.doc_fingerprint_col``
- :func:`minhash_signature_exploded` twins ``dedup.minhash_signature``
- :func:`shingles_col` twins ``dedup.shingles_arrow_col``
- :func:`simhash_reference_one` twins ``dedup.simhash_col``
- :func:`bucketed_prefix_match_if_else` twins ``kernels._prefix_match``:
  every length bucket probes every row and merges its hits into two
  whole-batch arrays with ``if_else``
"""

import hashlib

from pyspark.sql import Column, DataFrame, functions as F

from curies_spark.operators.dedup import N_PERM, _R, shingle_hash_col
from curies_spark.operators.similarity import _unit
from curies_spark.operators.text import tokens_col


def _dot_lit(vec: Column, plane: "list[float]") -> Column:
    lit = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(vec, lit, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_similarity_col_hof(vec: Column, query: "list[float]") -> Column:
    """Cosine against a constant query through ``aggregate``/``transform``:
    dim interpreted calls per row."""
    q = _unit([float(x) for x in query])
    dot = _dot_lit(vec, q)
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return dot / F.when(norm > 0, norm).otherwise(F.lit(1.0))


def lsh_signature_col_hof(vec: Column, planes: "list[list[float]]") -> Column:
    """Random-hyperplane signature via per-plane ``zip_with``/``aggregate``:
    n_planes × dim interpreted calls per row."""
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        bit = F.when(_dot_lit(vec, plane) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = sig + F.shiftleft(bit, i)
    return sig


def shingles_col(text: "Column | str", *, k: int = 3) -> Column:
    """k-token shingles of the lowercased whitespace tokenization through
    ``transform``+``slice``: n - k + 1 interpreted calls per row.

    Documents shorter than k tokens produce their full token join as a
    single shingle (so short docs still dedup exactly)."""
    toks = tokens_col(text)
    n = F.size(toks)
    full = F.array(F.concat_ws(" ", toks))
    windows = F.transform(
        F.sequence(F.lit(0), n - F.lit(k)),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.when(n >= k, windows).otherwise(full)


def doc_fingerprint_native_col(text: "Column | str", *, k: int = 3) -> Column:
    """The JVM-native fingerprint, the shape the DuckDB oracle mirrors:
    an interpreted per-element transform."""
    sh = shingles_col(text, k=k)
    hashes = F.array_sort(
        F.transform(sh, lambda s: F.substring(F.sha2(s, 256), 1, 16))
    )
    return F.sha2(F.concat_ws("", hashes), 256)


def minhash_signature_exploded(
    df: DataFrame, *, text: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Per-document MinHash signature as N_PERM min-aggregates over the
    exploded shingle hashes: one shuffle keyed by document id."""
    exploded = df.select(
        F.col(id_col), F.explode(shingles_col(text, k=k)).alias("_sh")
    ).select(F.col(id_col), shingle_hash_col(F.col("_sh")).alias("_h"))
    aggs = [
        F.min(F.col("_h").bitwiseXOR(F.lit(_R[i]))).alias(f"mh{i}")
        for i in range(N_PERM)
    ]
    return exploded.groupBy(id_col).agg(*aggs)


def simhash_reference_one(s: "str | None", n_bits: int = 64) -> "int | None":
    """Straightforward per-row SimHash."""
    if s is None:
        return None
    tokens = s.lower().split()
    if not tokens:
        return 0
    word = 0
    for b in range(n_bits):
        votes = 0
        for t in tokens:
            h = int.from_bytes(hashlib.sha256(t.encode("utf-8")).digest()[:8], "big")
            votes += 1 if (h >> b) & 1 else -1
        if votes > 0:
            word |= 1 << b
    return word - (1 << 64) if word >= (1 << 63) else word


def bucketed_prefix_match_if_else(arr, buckets):
    """(matched value, remainder) Arrow arrays via length-bucketed
    vectorized probes: one byte-slice + set-lookup per DISTINCT key
    length (typically a few dozen) — every probe a C-speed kernel over
    the whole Arrow batch, no per-row Python. Longest length first ⇒
    longest-match wins. ``buckets`` is ``[(byte_length, binary key_set,
    value_array)]``, longest first."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    raw = arr.cast(pa.binary())  # zero-copy view; byte slicing is offset math
    # value type follows the buckets (string for prefix maps, int for
    # the expand_all record-index tables)
    matched_values = pa.nulls(n, buckets[0][2].type if buckets else pa.string())
    # remainders stay BINARY until every bucket has run: a bucket's byte
    # offset can split a multi-byte UTF-8 char on rows that did NOT
    # match that bucket, and casting such a tail to string throws —
    # if_else keeps only hit rows (whose offset is a char boundary by
    # construction: the byte-prefix matched exactly), so the single
    # final cast sees valid UTF-8 everywhere it is non-null
    remainders_bin = pa.nulls(n, pa.binary())
    matched = pc.is_null(arr)
    stop = 2**31 - 1
    for length, keys, values in buckets:
        if pc.all(matched).as_py():
            break
        sliced = pc.binary_slice(raw, 0, length)
        idx = pc.index_in(sliced, value_set=keys)
        hit = pc.and_not(pc.is_valid(idx), matched)
        if pc.any(hit).as_py():
            matched_values = pc.if_else(hit, pc.take(values, idx), matched_values)
            tail = pc.binary_slice(raw, length, stop)
            remainders_bin = pc.if_else(hit, tail, remainders_bin)
            matched = pc.or_(matched, hit)
    return matched_values, remainders_bin.cast(pa.string())
