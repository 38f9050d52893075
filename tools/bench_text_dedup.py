"""Text/dedup kernel throughput: vectorized SimHash + MinHash signature
passes over an expanded documents corpus, with the per-row-Python
SimHash twin measured on a subsample as the counterfactual.

The round-2 review flagged ``simhash_col``'s per-row ``series.map``
loop as the last per-row-Python hot path; it is now batch-vectorized
(factorized token hashing + numpy segment-summed bit votes,
operators/dedup.py). This bench puts a number on that: docs/sec for
the vectorized kernel over REPLICAS x sf0.1 documents vs docs/sec for
a faithful per-row twin on a 1-replica subsample (same semantics,
same pandas-UDF transport — only the inner loop differs).

Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPLICAS = int(os.environ.get("SPARK_GRAFT_TEXT_REPLICAS", "64"))
RUNS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    import bench

    spark = bench._build_spark(cpus)

    from curies_spark.operators.dedup import minhash_signature, simhash_col

    def _per_row_simhash(s):
        """Faithful per-row twin of the pre-vectorization kernel: one
        sha256 per token, then per-bit majority votes in Python."""
        import hashlib

        if s is None:
            return None
        tokens = s.lower().split()
        if not tokens:
            return 0
        hs = [
            int.from_bytes(hashlib.sha256(t.encode("utf-8")).digest()[:8], "big")
            for t in tokens
        ]
        word = 0
        for b in range(64):
            if sum(1 if (h >> b) & 1 else -1 for h in hs) > 0:
                word |= 1 << b
        return word - (1 << 64) if word >= (1 << 63) else word

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # deterministic expansion: replica r appends a marker token so
    # signatures differ slightly across replicas without changing the
    # token-length distribution materially
    corpus = (
        base.crossJoin(spark.range(REPLICAS).withColumnRenamed("id", "r"))
        .select(
            (F.col("doc_id") * REPLICAS + F.col("r")).alias("doc_id"),
            F.concat_ws(" ", F.col("text"), F.concat(F.lit("rep"), F.col("r"))).alias(
                "text"
            ),
        )
        # the base table is one parquet file → one partition; spread the
        # expansion before checkpointing or every kernel runs single-core
        .repartition(int(cpus) * 2)
        .localCheckpoint()  # exclude expansion cost from kernel timings
    )
    n = corpus.count()

    def timed(df) -> float:
        df.write.mode("overwrite").format("noop").save()  # warm
        walls = []
        for _ in range(RUNS):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            walls.append(time.perf_counter() - t0)
        return min(walls)

    sim_wall = timed(corpus.select("doc_id", simhash_col("text").alias("sig")))
    mh_wall = timed(minhash_signature(corpus))  # 16-perm signature, one shuffle

    # counterfactual: faithful per-row twin (the pre-round-3 shape) on a
    # single replica — same transport, per-row Python inner loop
    @F.pandas_udf(LongType())
    def _simhash_per_row(series: pd.Series) -> pd.Series:
        return series.map(_per_row_simhash).astype("Int64")

    # a quarter of the corpus: big enough that per-doc marginal cost
    # dominates the ~0.4s fixed per-pass overhead on both paths
    sample = (
        corpus.where(F.col("doc_id") % 4 == 0)
        .repartition(int(cpus) * 2)
        .localCheckpoint()
    )
    n_sample = sample.count()
    per_row_wall = timed(sample.select("doc_id", _simhash_per_row("text").alias("sig")))
    vec_sample_wall = timed(sample.select("doc_id", simhash_col("text").alias("sig")))

    spark.stop()
    print(
        json.dumps(
            {
                "metric": "text_dedup_kernel_throughput",
                "rows": n,
                "cpus": int(cpus),
                "simhash_wall_sec": round(sim_wall, 2),
                "simhash_docs_per_sec": int(n / sim_wall),
                "minhash16_wall_sec": round(mh_wall, 2),
                "minhash16_docs_per_sec": int(n / mh_wall),
                "counterfactual_rows": n_sample,
                "simhash_per_row_twin_docs_per_sec": int(n_sample / per_row_wall),
                "simhash_vectorized_same_rows_docs_per_sec": int(
                    n_sample / vec_sample_wall
                ),
                "vectorization_speedup": round(per_row_wall / vec_sample_wall, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
