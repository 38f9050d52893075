"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design per operator:

- **Exact**: hash-groupBy on the content digest — uniform partitioning,
  partial+final aggregation, no skew risk.
- **MinHash+LSH**: shingle → 64-bit hash → per-permutation min
  aggregates (one shuffle keyed by doc) → band keys → candidate pairs
  via a self-equi-join on (band, key). The join key space is the band
  hash, which is uniform; at 10^12 docs the band join is the only wide
  operation and AQE handles residual bucket skew.
- **n-gram Jaccard**: distinct (doc, shingle) → self-join on shingle
  with a document-frequency cap (hot shingles are pruned — otherwise a
  stopword shingle creates a quadratic join blow-up) → pair intersection
  counts → Jaccard via the sizes.
- **SimHash**: the one operator whose bit-twiddling genuinely doesn't
  fit Spark expressions — implemented as an Arrow-batched pandas UDF
  with vectorized numpy popcounts; pair search is then a native
  self-join on rotated bit-bands.

Every hash derives from sha2/xxhash64 of content — deterministic,
engine-independent, no RNG.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType, LongType

from .. import _worker

__all__ = [
    "band_join",
    "band_keys",
    "band_pairs",
    "collapse_signature_families",
    "connected_components",
    "dedup_by_pairs",
    "drop_cluster_losers",
    "estimated_jaccard_col",
    "exact_dedup",
    "exact_dup_groups",
    "minhash_candidate_pairs",
    "minhash_signature",
    "minhash_signature_col",
    "ngram_jaccard_pairs",
    "shingle_hash_col",
    "shingles_arrow_col",
    "simhash_col",
    "simhash_candidate_pairs",
    "verify_pairs",
]

#: MinHash permutations: ``h_i = h XOR _R[i]`` over the 48-bit
#: shingle-hash domain. XOR by a fixed constant is a genuine permutation
#: whose argmin differs per constant. The earlier affine form
#: ``(a·h + b) mod (2^61-1)`` was monotone in h — ``a·h + b < 2^54``
#: never wrapped the modulus, so every "permutation" selected the SAME
#: argmin shingle and the 16 signature values collapsed to one degree
#: of freedom (pairwise estimates were always exactly 0 or 1). The
#: constants are the first 48 bits of sha256("curies-spark-minhash-i"),
#: written out as literals so external engines (the DuckDB oracle)
#: reproduce them exactly.
_R = [
    60469897202314,
    157039825766438,
    80656884667095,
    33245826153272,
    177231481853870,
    270809246741023,
    24659693644905,
    2572754940638,
    130313897361400,
    248948492149496,
    209943079180975,
    217500075938920,
    30879825289311,
    45459217945740,
    101331451299856,
    95423187714894,
]
N_PERM = 16
BAND_SIZE = 4  # 4 bands × 4 rows


def _batch_shingles(series, k: int):
    """Vectorized k-token shingle windows for a pandas Series of texts —
    the batch twin of ``tests/differential_twins.shingles_col`` (same
    lowercasing, same whitespace set: pandas ``.str.split()`` splits on
    exactly the engine's :data:`~curies_spark.operators.text.WS_CHARS`
    class, asserted in tests; same short-document rule: < k tokens →
    one shingle joining all tokens, NULL/empty → the ``""`` shingle).

    Returns ``(shingles, wc, seg_starts)``: the flat object array of
    every document's shingles, the per-document shingle counts, and the
    per-document segment starts into ``shingles``.
    """
    from itertools import chain

    import numpy as np

    token_lists = series.str.lower().str.split()
    counts = (
        token_lists.str.len().astype("float64").fillna(0.0).astype(np.int64).to_numpy()
    )
    flat = np.array(list(chain.from_iterable(token_lists.dropna())), dtype=object)
    offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))

    # every document contributes >= 1 shingle (short docs join all
    # their tokens; token-less docs contribute "")
    wc = np.where(counts >= k, counts - k + 1, 1)
    seg_starts = np.concatenate(([0], np.cumsum(wc)[:-1]))
    shingles = np.empty(int(wc.sum()), dtype=object)

    long_docs = counts >= k
    if long_docs.any():
        lw = wc[long_docs]
        within = np.arange(lw.sum()) - np.repeat(
            np.concatenate(([0], np.cumsum(lw)[:-1])), lw
        )
        win_start = np.repeat(offsets[long_docs], lw) + within
        s = flat[win_start]
        for j in range(1, k):
            s = s + " " + flat[win_start + j]
        shingles[np.repeat(seg_starts[long_docs], lw) + within] = s
    short_docs = ~long_docs
    if short_docs.any():
        joined = (
            token_lists[short_docs].str.join(" ").fillna("").to_numpy(dtype=object)
        )
        shingles[seg_starts[short_docs]] = joined
    return shingles, wc, seg_starts


def shingles_arrow_col(text: "Column | str", *, k: int = 3) -> Column:
    """k-token shingles of the lowercased whitespace tokenization, as an
    Arrow-batched kernel. Documents shorter than k tokens produce their
    full token join as a single shingle (so short docs still dedup
    exactly). Values are identical row-for-row to the JVM
    higher-order-function twin ``tests/differential_twins.shingles_col``
    and ~7× faster, since its ``transform``+``slice`` lambdas are
    interpreted per element (generating 264k shingles dropped from 4.0s
    to 0.6s on a 4-core host)."""
    from pyspark.sql.types import StringType

    c = F.col(text) if isinstance(text, str) else text

    @F.arrow_udf(ArrayType(StringType()))
    def _shingles(arr):
        _worker.install()
        import numpy as np
        import pyarrow as pa

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        if len(arr) == 0:
            return pa.array([], type=pa.list_(pa.string()))
        shingles, wc, _ = _batch_shingles(arr.to_pandas(), k)
        return pa.ListArray.from_arrays(
            pa.array(np.concatenate(([0], np.cumsum(wc))), type=pa.int32()),
            pa.array(shingles, type=pa.string()),
        )

    return _shingles(c)


def shingle_hash_col(shingle: Column) -> Column:
    """Deterministic 48-bit integer hash of a shingle via sha256 — stable
    across engines (unlike xxhash64, DuckDB can reproduce it), and small
    enough that ``a * h + b`` stays inside a signed 64-bit long under
    ANSI arithmetic (max a=59 → 59·2^48 < 2^63)."""
    return F.conv(F.substring(F.sha2(shingle, 256), 1, 12), 16, 10).cast(LongType())


def exact_dedup(df: DataFrame, *, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per exact content hash (the ``min`` id wins —
    deterministic, unlike dropDuplicates' arbitrary survivor)."""
    h = F.sha2(F.col(text), 256).alias("_h")
    winners = (
        df.select(h, F.col(id_col))
        .groupBy("_h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(winners, on=id_col, how="left_semi")


def exact_dup_groups(
    df: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    max_ids: "int | None" = None,
) -> DataFrame:
    """Groups of exact duplicates: (content_hash, n_docs, doc_ids sorted).

    ``max_ids`` keeps only the ``max_ids`` smallest ids per group
    (``n_docs`` stays the true count) — a reporting guard for corpora
    where one document is repeated millions of times: an unbounded
    ``collect_list`` builds the whole family as a single array in one
    aggregation buffer. The cap is applied BEFORE aggregation (rows
    past it contribute NULL, which ``collect_list`` skips), so the
    buffer itself is bounded. Leave ``None`` only when family sizes are
    known-bounded."""
    hashed = df.select(
        F.sha2(F.col(text), 256).alias("content_hash"), F.col(id_col)
    )
    if max_ids is None:
        ids = F.array_sort(F.collect_list(id_col))
    else:
        from pyspark.sql import Window

        rn = F.row_number().over(
            Window.partitionBy("content_hash").orderBy(id_col)
        )
        hashed = hashed.withColumn("_rn", rn)
        ids = F.array_sort(
            F.collect_list(F.when(F.col("_rn") <= max_ids, F.col(id_col)))
        )
    return (
        hashed.groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), ids.alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def minhash_signature(
    df: DataFrame, *, text: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Per-document MinHash signature via the shuffle-free batch kernel
    (:func:`minhash_signature_col`). Output schema AND values match
    the exploded-shuffle twin in ``tests/differential_twins.py`` on any
    input — both tokenize on the engine's ONE explicit whitespace class
    (:data:`~curies_spark.operators.text.WS_CHARS`), including
    NBSP/U+2028-style separators real corpora contain. As a map-only
    pass, no shingle explosion is ever shuffled: at corpus scale the
    signature stage costs a single read of the text column instead of a
    ~k×-the-corpus shuffle."""
    sig = minhash_signature_col(F.col(text), k=k)
    return df.select(F.col(id_col), sig.alias("_mh")).select(
        id_col, *[F.col("_mh")[i].alias(f"mh{i}") for i in range(N_PERM)]
    )


def minhash_signature_col(text: "Column | str", *, k: int = 3) -> Column:
    """Array of the N_PERM MinHash values per document — an Arrow-batched
    kernel with no per-row Python: the batch is tokenized with pandas'
    C string kernels, k-token shingle windows are built with vectorized
    object-array concatenation over the flat token array, sha256 runs
    once per DISTINCT shingle (``pd.factorize``), and the per-document
    minima are ``np.minimum.reduceat`` segment reductions.

    Matches :func:`shingle_hash_col` exactly (first 6 sha256 bytes,
    big-endian = the first 12 hex chars as a base-16 number) and the
    short-document rule of the JVM twin
    ``tests/differential_twins.shingles_col`` (fewer than ``k`` tokens
    → one shingle joining all tokens; NULL/empty text → the ``""``
    shingle). Tokenization lowercases and splits on Python's whitespace
    set — which is exactly the engine's explicit
    :data:`~curies_spark.operators.text.WS_CHARS` class used by the JVM
    twin and the oracles (equality of the two sets is asserted in
    tests), so signatures agree on ANY separators, not just ASCII.
    """
    import numpy as np

    c = F.col(text) if isinstance(text, str) else text

    @F.arrow_udf(ArrayType(LongType()))
    def _minhash(arr):
        _worker.install()
        import hashlib

        import pyarrow as pa

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        n = len(arr)
        if n == 0:
            return pa.array([], type=pa.list_(pa.int64()))
        shingles, _, seg_starts = _batch_shingles(arr.to_pandas(), k)

        # one sha256 per DISTINCT shingle, then gather
        codes, uniques = pd.factorize(shingles)
        uniq_hashes = np.fromiter(
            (
                int.from_bytes(hashlib.sha256(t.encode("utf-8")).digest()[:6], "big")
                for t in uniques
            ),
            dtype=np.int64,
            count=len(uniques),
        )
        h = uniq_hashes[codes]

        sig = np.empty((n, N_PERM), dtype=np.int64)
        for i, r in enumerate(_R):
            # h < 2^48 and r < 2^48: XOR stays in int64, matching the
            # JVM bitwiseXOR exactly
            sig[:, i] = np.minimum.reduceat(h ^ np.int64(r), seg_starts)
        # zero-copy list construction: the row-major sig matrix IS the
        # flat values buffer of a fixed-stride ListArray — no per-row
        # Python lists are ever built
        return pa.ListArray.from_arrays(
            pa.array(
                np.arange(0, (n + 1) * N_PERM, N_PERM, dtype=np.int32), type=pa.int32()
            ),
            pa.array(sig.reshape(-1)),
        )

    return _minhash(c)


def collapse_signature_families(
    rows: DataFrame, *, id_col: str = "doc_id", sig: str = "mh"
) -> "tuple[DataFrame, DataFrame]":
    """The hot-key guard of every band join: rows with IDENTICAL full
    signatures collapse to their min-id canon. Returns ``(star, reps)``:
    ``star`` is one ``(id_a=canon, id_b=member)`` pair per non-canon
    member, ``reps`` the canon rows (every input column kept) — only
    they enter the band join.

    An n-member signature family (every exact-duplicate family, plus
    near-identical contents whose signatures coincide) would otherwise
    meet itself in every band and emit O(n²) pairs (a document repeated
    10^6 times → ~10^12 pairs). Star pairs are linear in family size
    and leave the component partition unchanged: they keep the family
    connected, and any cross pair a member would find its canon finds
    (identical signature ⇒ identical band keys). Star pairs are
    distinct, and disjoint from band-join pairs (non-canon ids never
    enter the band join). Mirrored in the DuckDB oracles
    (plans/demo_training).

    The canon join is cut once with ``localCheckpoint(eager=False)``, so
    the star branch and both band-join sides read the cut instead of
    each recomputing the canon aggregate and join. Under AQE the cut
    is not lazy: building the DataFrame already runs the canon
    aggregate's stages (3 jobs when building :func:`band_pairs` over
    200 rows; none with ``spark.sql.adaptive.enabled=false``)."""
    canon = rows.groupBy(sig).agg(F.min(id_col).alias("_canon"))
    with_canon = rows.join(canon, on=sig).localCheckpoint(eager=False)
    star = with_canon.filter(F.col(id_col) != F.col("_canon")).select(
        F.col("_canon").alias("id_a"), F.col(id_col).alias("id_b")
    )
    reps = with_canon.filter(F.col(id_col) == F.col("_canon")).drop("_canon")
    return star, reps


def _explode_bands(
    rows: DataFrame,
    keys: "list[Column]",
    *,
    id_col: str = "doc_id",
    carry: "tuple[str, ...]" = (),
) -> DataFrame:
    """One row per (row, band): ``(id_col, *carry, band, key)``, band
    ``b`` keyed by ``keys[b]``; ``carry`` names the columns the check
    after :func:`band_join` needs."""
    bands = [
        F.struct(F.lit(b).alias("band"), key.alias("key"))
        for b, key in enumerate(keys)
    ]
    return rows.select(
        F.col(id_col), *carry, F.explode(F.array(*bands)).alias("bk")
    ).select(id_col, *carry, "bk.band", "bk.key")


def band_keys(
    df: DataFrame, *, id_col: str = "doc_id", sig: str = "mh"
) -> DataFrame:
    """MinHash band keys ``(id_col, band, key)``, key = the band's
    ``BAND_SIZE`` slice of the signature: the one layout of every MinHash
    band join, batch and streaming alike."""
    keys = [
        F.slice(F.col(sig), b * BAND_SIZE + 1, BAND_SIZE)
        for b in range(N_PERM // BAND_SIZE)
    ]
    return _explode_bands(df, keys, id_col=id_col)


def band_join(banded: DataFrame, *, id_col: str = "doc_id") -> DataFrame:
    """The LSH band self-join: distinct ``(id_a, id_b)``, id_a < id_b,
    over rows sharing any ``(band, key)`` — a bucketed equi-join, never
    all-pairs. Each carried column ``c`` of ``banded`` comes out once
    per side, as ``c_a`` and ``c_b``."""
    carried = [c for c in banded.columns if c not in (id_col, "band", "key")]
    left, right = banded.alias("l"), banded.alias("r")
    return (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.key") == F.col("r.key"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            *[F.col(f"l.{c}").alias(f"{c}_a") for c in carried],
            *[F.col(f"r.{c}").alias(f"{c}_b") for c in carried],
        )
        .distinct()
    )


def band_pairs(
    staged: DataFrame, *, id_col: str = "doc_id", sig: str = "mh"
) -> DataFrame:
    """MinHash LSH candidate pairs: distinct ``(id_a, id_b)``, id_a <
    id_b, of documents agreeing on any band — the star pairs of
    :func:`collapse_signature_families` plus the canons' band join."""
    star, reps = collapse_signature_families(
        staged.select(F.col(id_col), F.col(sig)), id_col=id_col, sig=sig
    )
    cross = band_join(band_keys(reps, id_col=id_col, sig=sig), id_col=id_col)
    return cross.unionByName(star)


def minhash_candidate_pairs(
    df: DataFrame, *, text: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """LSH candidate pairs: :func:`band_pairs` over the
    :func:`minhash_signature_col` signatures of ``text``. Returns
    distinct ``(id_a, id_b)``, id_a < id_b. Mirrored in the DuckDB
    oracle (plans/demo_training.oracle_minhash_pairs_sql)."""
    sigs = df.select(
        F.col(id_col), minhash_signature_col(F.col(text), k=k).alias("_mh")
    )
    return band_pairs(sigs, id_col=id_col, sig="_mh")


def estimated_jaccard_col(sig_a, sig_b) -> Column:
    """Unbiased LSH Jaccard estimate: the fraction of the N_PERM
    minhash values on which the two signatures agree.

    Unrolled to N_PERM static element comparisons — fully
    whole-stage-codegen'd JVM arithmetic. The ``zip_with``/``aggregate``
    form interprets its lambda per element (16 interpreted calls per
    candidate pair — the verify stage runs over every pair the band
    join emits, so at corpus scale this is a hot path)."""
    total = None
    for i in range(N_PERM):
        term = (sig_a[i] == sig_b[i]).cast("int")
        total = term if total is None else total + term
    return total / F.lit(N_PERM)


def verify_pairs(
    candidates: DataFrame,
    staged: DataFrame,
    *,
    id_col: str = "doc_id",
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Signature-estimate verification of candidate pairs: pure column
    arithmetic over the staged ``mh`` signatures — the text column is
    never touched. Pairs below ``min_est_jaccard`` are dropped."""
    sig = staged.select(F.col(id_col), F.col("mh"))
    return (
        candidates.join(
            sig.select(F.col(id_col).alias("id_a"), F.col("mh").alias("_ma")),
            on="id_a",
        )
        .join(
            sig.select(F.col(id_col).alias("id_b"), F.col("mh").alias("_mb")),
            on="id_b",
        )
        .withColumn("est_jaccard", estimated_jaccard_col(F.col("_ma"), F.col("_mb")))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("id_a", "id_b", "est_jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_df: "int | None" = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs ≥ threshold.

    ``max_shingle_df`` prunes shingles appearing in more than that many
    documents before the self-join — the standard guard against the
    quadratic blow-up a corpus-wide hot shingle would cause.
    """
    # Arrow shingle kernel: values identical to the JVM twin, ~7× less
    # map time per text pass (the HOF transform+slice windows are
    # interpreted per element)
    doc_shingles = (
        df.select(
            F.col(id_col), F.explode(shingles_arrow_col(text, k=k)).alias("shingle")
        )
        .distinct()
    )
    if max_shingle_df is not None:
        rare = (
            doc_shingles.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        doc_shingles = doc_shingles.join(rare, on="shingle", how="left_semi")
    sizes = doc_shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("_size"))

    a = doc_shingles.alias("a")
    b = doc_shingles.alias("b")
    inter = (
        a.join(
            b,
            on=[
                F.col("a.shingle") == F.col("b.shingle"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_size").alias("_size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_size").alias("_size_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("_inter")
                / (F.col("_size_a") + F.col("_size_b") - F.col("_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_col(text: "Column | str", *, n_bits: int = 64) -> Column:
    """64-bit SimHash over whitespace tokens — Arrow-batched pandas UDF,
    fully batch-vectorized: the whole batch is tokenized with pandas'
    C string kernels, tokens are factorized so sha256 runs once per
    DISTINCT token (Zipf makes distinct ≪ total), and the per-bit
    majority votes are numpy segment sums (``np.add.reduceat``) over the
    flat token-hash array — no per-row Python loop anywhere.

    Bit b of the signature is set iff the majority of the document's
    token hashes (first 8 bytes of sha256, big-endian) have bit b set
    (strict majority: ties clear the bit). NULL text → NULL; empty
    token list → 0. Tokenization is Python's whitespace set == the
    engine's explicit :data:`~curies_spark.operators.text.WS_CHARS`
    class (asserted in tests), so signatures agree with the JVM
    tokenizers on any separators.
    """
    import numpy as np

    c = F.col(text) if isinstance(text, str) else text

    @F.pandas_udf(LongType())
    def _simhash(series: pd.Series) -> pd.Series:
        _worker.install()
        import hashlib

        token_lists = series.str.lower().str.split()
        valid = token_lists.notna().to_numpy()
        if not valid.any():
            return pd.Series(pd.array([None] * len(series), dtype="Int64"))
        lists = token_lists[valid]
        counts = lists.str.len().to_numpy(dtype=np.int64)
        n_valid = len(lists)
        signatures = np.zeros(n_valid, dtype=np.int64)
        nonempty = counts > 0
        if nonempty.any():
            from itertools import chain

            flat = np.array(list(chain.from_iterable(lists)), dtype=object)
            # factorize → sha256 once per DISTINCT token, then gather
            codes, uniques = pd.factorize(flat)
            uniq_hashes = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.sha256(t.encode("utf-8")).digest()[:8], "big"
                    )
                    for t in uniques
                ),
                dtype=np.uint64,
                count=len(uniques),
            )
            hashes = uniq_hashes[codes]
            ne_counts = counts[nonempty]
            # offsets over ALL valid docs; empty docs occupy zero width,
            # so slicing at the nonempty docs' offsets segments `flat`
            # exactly per nonempty document
            all_offsets = np.concatenate(([0], np.cumsum(counts)[:-1]))
            starts = all_offsets[nonempty]
            # per-bit majority vote: one C-speed segment sum per bit
            # (n_bits passes over the flat array beats materializing the
            # n_flat × n_bits bit matrix at Arrow-batch sizes)
            votes = np.empty((len(ne_counts), n_bits), dtype=np.int64)
            for b in range(n_bits):
                bit_b = ((hashes >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
                votes[:, b] = np.add.reduceat(bit_b, starts)
            signs = (votes * 2) > ne_counts[:, None]
            # disjoint bit positions: sum ≡ bitwise OR, cannot overflow
            words = (
                signs.astype(np.uint64)
                * np.left_shift(np.uint64(1), np.arange(n_bits, dtype=np.uint64))
            ).sum(axis=1)
            signatures[nonempty] = words.astype(np.int64)
        full = np.zeros(len(series), dtype=np.int64)
        full[valid] = signatures
        out = pd.Series(full, dtype="Int64")
        out[~valid] = pd.NA
        return out

    return _simhash(c)


def simhash_candidate_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    simhash: str = "simhash",
    max_hamming: int = 3,
    n_tables: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: block on ``n_tables`` disjoint
    rotated bands of the 64-bit signature, then verify the exact
    hamming distance natively with bit_count(xor). By pigeonhole a pair
    within hamming distance ``max_hamming < n_tables`` agrees on at
    least one band (the default: ≤ 3 differing bits, 4 bands of 16
    bits); at ``max_hamming >= n_tables`` pairs whose differing bits
    hit every band would be silently missed, so that raises.

    Signature families collapse first
    (:func:`collapse_signature_families`): each non-canon member emits
    one star pair (hamming 0), and only canons band-join (identical
    signature ⇒ identical bands and identical hamming to any third
    document). Mirrored in the DuckDB oracle
    (plans/demo_training.oracle_simhash_pairs_sql)."""
    if max_hamming >= n_tables:
        raise ValueError(
            f"max_hamming={max_hamming} needs n_tables > max_hamming (got "
            f"n_tables={n_tables}): banded blocking only guarantees recall "
            "for hamming distances below the band count"
        )
    star, reps = collapse_signature_families(
        df.select(F.col(id_col), F.col(simhash).alias("_sh")),
        id_col=id_col,
        sig="_sh",
    )
    width = 64 // n_tables
    keys = [
        F.shiftrightunsigned(F.col("_sh"), t * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        for t in range(n_tables)
    ]
    banded = _explode_bands(reps, keys, id_col=id_col, carry=("_sh",))
    cross = (
        band_join(banded, id_col=id_col)
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("_sh_a").bitwiseXOR(F.col("_sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    # hamming 0 passes any threshold
    return cross.unionByName(star.withColumn("hamming", F.lit(0).cast("int")))


def _label_components(edges: DataFrame, *, rounds: int) -> "DataFrame | None":
    """Min-label propagation over a symmetric edge list — the dense/
    shallow-cluster fast path. Each round, every node takes the min
    label among itself and its neighbors; converged when ``sum(label)``
    stops decreasing (labels only ever decrease, so the sum is a
    strictly monotone progress measure — one cheap aggregate per round
    instead of an old-vs-new join). Rounds needed = cluster diameter.
    Returns None when not converged within ``rounds``
    (:func:`connected_components` then switches to star contraction)."""
    sym = edges.union(
        edges.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
    ).localCheckpoint(eager=False)
    labels = (
        sym.select(F.col("_s").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    total = labels.agg(
        F.sum(F.col("component").cast("decimal(38,0)")).alias("t")
    ).collect()[0]["t"]

    for _ in range(rounds):
        msgs = sym.join(labels, sym["_d"] == labels["node"]).select(
            F.col("_s").alias("node"), F.col("component")
        )
        labels = (
            msgs.unionByName(labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint(eager=True)
        )
        new_total = labels.agg(
            F.sum(F.col("component").cast("decimal(38,0)")).alias("t")
        ).collect()[0]["t"]
        if new_total == total:
            return labels
        total = new_total
    return None


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star step (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node connects its STRICTLY LARGER
    neighbors to the minimum of its closed neighborhood. Input/output
    are big→small oriented distinct pairs (``_s > _d``)."""
    sym = e.union(e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d")))
    mins = sym.groupBy("_s").agg(F.min("_d").alias("_mn"))
    m = mins.select(
        F.col("_s").alias("_u"), F.least("_s", "_mn").alias("_m")
    )
    return (
        sym.join(m, sym["_s"] == m["_u"])
        .filter(F.col("_d") > F.col("_s"))
        .select(F.col("_d").alias("_s"), F.col("_m").alias("_d"))
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star step: every node connects its smaller neighbors (and
    itself) to the minimum among them. Input/output big→small."""
    mins = e.groupBy("_s").agg(F.min("_d").alias("_m"))
    star = e.join(mins, on="_s").select(
        F.col("_d").alias("_s"), F.col("_m").alias("_d")
    )
    self_edge = mins.select(F.col("_s"), F.col("_m").alias("_d"))
    return (
        star.unionByName(self_edge)
        .filter(F.col("_s") != F.col("_d"))
        .distinct()
    )


def _star_components(edges: DataFrame, *, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star connected components — the
    O(log n)-round path for long-chain graphs where min-label
    propagation's diameter-many rounds would hang. Converges to star
    graphs rooted at each component's min id; the round count is
    logarithmic in the largest component size regardless of diameter."""
    nodes = (
        edges.select(F.col("_s").alias("node"))
        .union(edges.select(F.col("_d").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        edges.filter(F.col("_s") != F.col("_d"))
        .select(
            F.greatest("_s", "_d").alias("_s"), F.least("_s", "_d").alias("_d")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sig(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_s").cast("decimal(38,0)")).alias("ss"),
            F.sum(F.col("_d").cast("decimal(38,0)")).alias("sd"),
        ).collect()[0]
        return (row["n"], row["ss"], row["sd"])

    sig = _sig(e)
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        new_sig = _sig(e2)
        if new_sig == sig:
            # the cheap (count, sums) signature is necessary, not
            # sufficient — confirm true set equality before declaring
            # convergence (a stale fixed-point check would hand
            # dedup_by_pairs wrong clusters)
            if e2.exceptAll(e).isEmpty():
                e = e2
                break
        sig = new_sig
        e = e2
    else:
        raise RuntimeError(
            f"star-contraction components did not converge within "
            f"max_iter={max_iter} rounds — rounds are logarithmic in "
            "component size, so this indicates a bug or an extreme graph; "
            "raise max_iter"
        )
    # converged: every non-root points at its component min; roots
    # appear only on the small side. groupBy-min is defensive (the
    # fixed point has one row per non-root already).
    comp = e.groupBy("_s").agg(F.min("_d").alias("component"))
    return nodes.join(comp, nodes["node"] == comp["_s"], "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def connected_components(
    pairs: DataFrame,
    *,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    switch_after: int = 8,
) -> DataFrame:
    """Connected components over a (numeric-id) pair table →
    ``(node, component)`` where component = min node id in the cluster.

    The step a dedup pipeline needs between candidate-pair generation
    (MinHash/SimHash/Jaccard) and survivor selection: near-duplicate
    relations are not transitive pair-by-pair, so clusters must be
    closed before picking one representative per cluster.

    Two engines, one contract; the graph picks between them:

    - **min-label propagation** (:func:`_label_components`): one join +
      one aggregate per round, rounds = cluster diameter. Near-dup
      clusters are dense and shallow (2-4 rounds), so this is the fast
      path and always runs first, for ``min(switch_after, max_iter)``
      rounds.
    - **large-star/small-star contraction** (:func:`_star_components`,
      Kiveris et al.): O(log n) rounds regardless of diameter — the
      guard against adversarial long chains (10^5 templated documents
      each near-dup of the next would otherwise need 10^5 propagation
      rounds = a hung job). When propagation has not converged within
      its rounds — the diameter exceeds the dense-cluster regime — the
      job restarts on star contraction, which raises ``RuntimeError``
      if it has not converged within ``max_iter`` rounds.

    Lineage is cut with ``localCheckpoint`` per round in both engines
    so plans stay flat at any iteration count.
    """
    edges = pairs.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    labels = _label_components(edges, rounds=min(switch_after, max_iter))
    if labels is not None:
        return labels
    return _star_components(edges, max_iter=max_iter)


def dedup_by_pairs(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Keep one representative (the min id) per near-duplicate cluster.

    Rows never appearing in ``pairs`` are untouched; within each
    connected cluster only the min-id row survives — the deterministic
    survivor rule :func:`exact_dedup` uses, lifted to fuzzy pairs.
    """
    return drop_cluster_losers(
        df, connected_components(pairs, src=src, dst=dst), id_col=id_col
    )


def drop_cluster_losers(
    df: DataFrame, components: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """The survivor rule: drop each row whose ``id_col`` is a node of
    ``components`` (``node, component``) whose component is not itself.
    :func:`connected_components` labels each cluster with its min node,
    so exactly the min-id member of every cluster survives, and rows in
    no cluster are untouched."""
    losers = components.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")
