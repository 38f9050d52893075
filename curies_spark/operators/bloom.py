"""Broadcast Bloom filters for cross-snapshot corpus deduplication.

The scale scenario: a crawl increment must drop documents already
present in a multi-snapshot historical corpus. The join formulation
(``increment LEFT ANTI JOIN history ON content_hash``) shuffles the
increment AND the (much larger) history every run. A Bloom filter of
the historical content hashes turns membership into a broadcast +
map-side probe:

- **bloom-negative rows are certainly novel** (no false negatives) —
  they pass through with ZERO shuffle and zero history reads;
- **bloom-positive rows** (true duplicates + ~``fpp`` of the novel
  rows) are the only ones that touch the exact verification anti-join,
  so the join's input shrinks from |increment| to
  |dups| + fpp·|novel|.

The filter itself is bits: at the default 1% fpp it costs ~1.2 bytes
per historical document — 10^9 documents ≈ 1.2 GB, broadcastable where
the history table itself is not. Hashing is sha256-derived
(engine-independent, no RNG) with Kirsch-Mitzenmacher double hashing:
``idx_i = (h1 + i·h2) mod m`` over the first 16 digest bytes — the
standard construction whose fpp matches k independent hashes.

Build and probe share ONE hashing helper so they can never drift; both
are Arrow-batched with per-DISTINCT-value hashing (``pd.factorize``) —
no per-row Python in either pass.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import BooleanType

from .. import _worker

__all__ = [
    "BloomFilter",
    "bloom_seen_col",
    "build_bloom_filter",
    "exclude_seen",
]


#: Cap on the bitmap bytes build_bloom_filter will collect() to the
#: driver in one pass; above it an executor-side OR pass combines
#: partition bitmaps first (round-robin groups sized to half the
#: budget). Module constant so tests can force the reduction path.
BLOOM_COLLECT_BUDGET_BYTES = 1 << 30


def _hash_pair(values):
    """(h1, h2) uint64 pairs from sha256 of each distinct string value,
    gathered back to the full array — the ONE hash definition shared by
    build and probe."""
    import hashlib

    import numpy as np

    codes, uniques = pd.factorize(values)
    h1u = np.empty(len(uniques), dtype=np.uint64)
    h2u = np.empty(len(uniques), dtype=np.uint64)
    for j, v in enumerate(uniques):
        digest = hashlib.sha256(str(v).encode("utf-8")).digest()
        h1u[j] = int.from_bytes(digest[:8], "big")
        h2u[j] = int.from_bytes(digest[8:16], "big")
    return h1u[codes], h2u[codes]


@dataclass(frozen=True)
class BloomFilter:
    """An immutable, picklable (broadcast-safe) Bloom filter.

    ``bitmap`` is ``m_bits/8`` bytes; ``k`` probes per value. No false
    negatives; false-positive rate ≈ the ``fpp`` the build targeted
    (exact rate depends on the true insert count vs ``expected_items``).
    """

    bitmap: bytes
    m_bits: int
    k: int
    n_items: int

    def contains_many(self, h1, h2):
        """Vectorized membership for pre-hashed values (numpy uint64)."""
        import numpy as np

        bits = np.frombuffer(self.bitmap, dtype=np.uint8)
        m = np.uint64(self.m_bits)
        out = np.ones(len(h1), dtype=bool)
        for i in range(self.k):
            idx = (h1 + np.uint64(i) * h2) % m
            out &= (bits[(idx >> np.uint64(3)).astype(np.int64)]
                    & (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))) != 0
        return out


def _set_bits(bits, values, k: int, m: int) -> None:
    """Insert values into a bitmap in place — the ONE insert definition
    shared by the distributed build and driver-side/property tests, so
    the probe side (:meth:`BloomFilter.contains_many`) and the insert
    side can never drift."""
    import numpy as np

    h1, h2 = _hash_pair(values)
    for i in range(k):
        idx = (h1 + np.uint64(i) * h2) % np.uint64(m)
        np.bitwise_or.at(
            bits,
            (idx >> np.uint64(3)).astype(np.int64),
            (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)),
        )


def _plan_bits(expected_items: int, fpp: float) -> "tuple[int, int]":
    import math

    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    if expected_items <= 0:
        raise ValueError(f"expected_items must be positive, got {expected_items}")
    m = int(math.ceil(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, (m + 7) // 8 * 8)  # whole bytes
    k = max(1, round(m / expected_items * math.log(2)))
    return m, k


def build_bloom_filter(
    df: DataFrame,
    column: str,
    *,
    expected_items: int,
    fpp: float = 0.01,
) -> BloomFilter:
    """Build a Bloom filter of a column's (non-null) string values.

    Distributed build: every partition sets its bits into a local
    bitmap (one Arrow pass, per-distinct hashing), emits the bitmap as
    ONE row, and the driver ORs the partition bitmaps — the same shape
    as any sketch aggregation. When ``partitions × m/8`` exceeds
    :data:`BLOOM_COLLECT_BUDGET_BYTES`, an intermediate OR pass first
    combines the bitmaps executor-side (round-robin groups sized so the
    driver never ingests more than the budget) — the headline sizing
    the module advertises (10^9 items ≈ 1.2 GB bitmap) over hundreds of
    partitions would otherwise stream hundreds of GB through collect().
    NULLs are skipped: a NULL is never "seen"."""
    import numpy as np

    m, k = _plan_bits(expected_items, fpp)

    def per_partition(batches):
        _worker.install()
        bits = np.zeros(m // 8, dtype=np.uint8)
        count = 0
        for pdf in batches:
            vals = pdf[column].dropna().to_numpy(dtype=object)
            if not len(vals):
                continue
            count += len(vals)
            _set_bits(bits, vals, k, m)
        yield pd.DataFrame({"bitmap": [bits.tobytes()], "n": [count]})

    bitmaps = df.select(F.col(column).cast("string").alias(column)).mapInPandas(
        per_partition, "bitmap binary, n long"
    )
    bitmap_bytes = m // 8
    n_parts = df.rdd.getNumPartitions()
    if n_parts * bitmap_bytes > BLOOM_COLLECT_BUDGET_BYTES:
        groups = max(1, BLOOM_COLLECT_BUDGET_BYTES // (2 * bitmap_bytes))

        def or_group(batches):
            _worker.install()
            acc = np.zeros(bitmap_bytes, dtype=np.uint8)
            count = 0
            for pdf in batches:
                for buf, n in zip(pdf["bitmap"], pdf["n"]):
                    acc |= np.frombuffer(buf, dtype=np.uint8)
                    count += int(n)
            yield pd.DataFrame({"bitmap": [acc.tobytes()], "n": [count]})

        bitmaps = bitmaps.repartition(int(groups)).mapInPandas(
            or_group, "bitmap binary, n long"
        )
    rows = bitmaps.collect()
    acc = np.zeros(m // 8, dtype=np.uint8)
    total = 0
    for r in rows:
        acc |= np.frombuffer(r["bitmap"], dtype=np.uint8)
        total += r["n"]
    return BloomFilter(bitmap=acc.tobytes(), m_bits=m, k=k, n_items=total)


def bloom_seen_col(column: "Column | str", bloom: BloomFilter) -> Column:
    """Boolean membership probe against a (closure-captured, hence
    broadcast-with-the-task) Bloom filter — Arrow-batched, one hash per
    DISTINCT value, no shuffle, no history read. NULL → NULL."""
    import numpy as np

    c = F.col(column) if isinstance(column, str) else column

    @F.arrow_udf(BooleanType())
    def _probe(arr):
        _worker.install()
        import pyarrow as pa

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        series = arr.to_pandas()
        valid = series.notna().to_numpy()
        out = np.zeros(len(series), dtype=bool)
        if valid.any():
            vals = series[valid].to_numpy(dtype=object)
            h1, h2 = _hash_pair(vals)
            out[valid] = bloom.contains_many(h1, h2)
        return pa.array(out, type=pa.bool_(), mask=~valid)

    return _probe(c.cast("string"))


def exclude_seen(
    increment: DataFrame,
    bloom: BloomFilter,
    *,
    column: str = "text",
    history: "DataFrame | None" = None,
    history_column: "str | None" = None,
) -> DataFrame:
    """Rows of ``increment`` NOT present in the history the filter was
    built over.

    With ``history`` given the result is EXACT (equal to a plain
    ``left_anti`` join on the column value — property-tested), and the
    increment is NEVER shuffled:

    1. one map-side probe collects the DISTINCT bloom-positive values
       (true-duplicate values + ~fpp of the novel ones — a tiny set);
    2. that set semi-joins the history to drop the false positives,
       yielding the confirmed-duplicate values (any history value
       appearing in the increment IS bloom-positive — no false
       negatives — so nothing is missed);
    3. the increment anti-joins the confirmed set, which is small
       enough that AQE broadcasts it — a map-side drop.

    The history is touched once per run by the (tiny-left-side)
    semi-join instead of absorbing the full increment shuffle; at a
    10^9-document history the broadcast filter + confirmed-value set is
    megabytes where the join formulation moves the whole increment.

    Without ``history`` the result is approximate: all bloom-positives
    are dropped, losing ~fpp of novel rows (acceptable for some
    curation pipelines, never for exactness-sensitive ones) — but with
    ZERO history access at query time, the streaming fast path. NULL
    values are never "seen" and always pass through."""
    seen = bloom_seen_col(column, bloom)
    if history is None:
        return increment.filter(~F.coalesce(seen, F.lit(False)))
    hcol = history_column or column
    positive_vals = (
        increment.filter(F.coalesce(seen, F.lit(False)))
        .select(F.col(column).cast("string").alias("_v"))
        .distinct()
    )
    confirmed = positive_vals.join(
        history.select(F.col(hcol).cast("string").alias("_v")),
        on="_v",
        how="left_semi",
    )
    # the confirmed set is ≈ distinct duplicate values + fpp·novel —
    # broadcast it explicitly (post-shuffle AQE size estimates are too
    # conservative to pick the broadcast on their own), making the
    # final drop a map-side anti join: the increment's wide rows are
    # never shuffled
    return increment.join(
        F.broadcast(confirmed),
        increment[column].cast("string") == confirmed["_v"],
        "left_anti",
    )
