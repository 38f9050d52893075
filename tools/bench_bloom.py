"""Cross-snapshot dedup: Bloom-gated verification vs plain anti-join.

A crawl increment is deduped against a historical corpus two ways on
the same data:

- plain ``LEFT ANTI JOIN`` on the value (shuffles increment + history);
- ``exclude_seen``: broadcast Bloom probe (map-side, no shuffle) passes
  certainly-novel rows through; only the bloom-positive slice — true
  dups + ~fpp of novel — enters the verification anti-join.

Reports build/query walls, the filter size, and the join-input
reduction (the scale currency: at 10^9-doc histories the filter is
~1.2 GB broadcast vs re-shuffling the full increment every run).
Results are asserted equal. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_HISTORY = 600_000
N_INCREMENT = 600_000
DUP_FRACTION = 10  # one in N is a true duplicate


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")

    from pyspark.sql import functions as F

    import bench
    from perfbench import harness

    spark = bench._build_spark(cpus)
    sql = harness.SqlMetrics(spark)

    def shuffle_bytes(mark: int) -> int:
        return int(sum(e["metrics"].get("shuffle bytes written", 0) for e in sql.since(mark)))

    from curies_spark.operators import bloom as B

    hist = (
        spark.range(N_HISTORY)
        .select(
            F.concat(F.lit("hist-doc-"), F.sha2(F.col("id").cast("string"), 256))
            .alias("text")
        )
        .cache()
    )
    hist.count()
    # documents are WIDE: the dedup key is one column but a shuffle
    # anti-join moves the whole row — model that with a ~1 KB payload
    # (16 × 64-hex-char filler), the shape where avoiding the increment
    # shuffle is the whole game
    inc = (
        spark.range(N_INCREMENT)
        .select(
            F.col("id").alias("doc_id"),
            F.when(
                F.col("id") % DUP_FRACTION == 0,
                F.concat(
                    F.lit("hist-doc-"),
                    F.sha2((F.col("id") % N_HISTORY).cast("string"), 256),
                ),
            )
            .otherwise(
                F.concat(F.lit("novel-doc-"), F.sha2(F.col("id").cast("string"), 256))
            )
            .alias("text"),
            F.concat_ws(
                "",
                *[
                    F.sha2(F.concat(F.col("id").cast("string"), F.lit(str(i))), 256)
                    for i in range(16)
                ],
            ).alias("payload"),
        )
        .cache()
    )
    inc.count()

    t0 = time.perf_counter()
    bf = B.build_bloom_filter(hist, "text", expected_items=N_HISTORY, fpp=0.01)
    build_wall = time.perf_counter() - t0

    def best_of(fn, n=3):
        walls = []
        result = None
        for _ in range(n):
            t0 = time.perf_counter()
            result = fn()
            walls.append(time.perf_counter() - t0)
        return min(walls), result

    n_positive = inc.filter(B.bloom_seen_col("text", bf)).count()
    # count() would let Spark prune the payload and hide the shuffle
    # width — force full-row materialization through the noop sink
    def run_noop(df):
        df.write.mode("overwrite").format("noop").save()
        return df.count()

    approx_wall, _ = best_of(lambda: run_noop(B.exclude_seen(inc, bf)))
    mark = sql.mark()
    bloom_wall, bloom_n = best_of(
        lambda: run_noop(B.exclude_seen(inc, bf, history=hist)), n=1
    )
    bloom_shuffle = shuffle_bytes(mark)
    mark = sql.mark()
    join_wall, join_n = best_of(
        lambda: run_noop(inc.join(hist, on="text", how="left_anti")), n=1
    )
    join_shuffle = shuffle_bytes(mark)
    assert bloom_n == join_n, (bloom_n, join_n)

    spark.stop()
    print(
        json.dumps(
            {
                "metric": "bloom_cross_snapshot_dedup",
                "history_rows": N_HISTORY,
                "increment_rows": N_INCREMENT,
                "true_dups": N_INCREMENT // DUP_FRACTION,
                "filter_bytes": len(bf.bitmap),
                "filter_k": bf.k,
                "build_wall_sec": round(build_wall, 2),
                "bloom_positive_rows": n_positive,
                "verify_join_input_fraction": round(
                    n_positive / N_INCREMENT, 4
                ),
                "exclude_seen_exact_wall_sec": round(bloom_wall, 2),
                "exclude_seen_approx_wall_sec": round(approx_wall, 2),
                "plain_anti_join_wall_sec": round(join_wall, 2),
                "exclude_seen_shuffle_bytes": bloom_shuffle,
                "plain_anti_join_shuffle_bytes": join_shuffle,
                "survivors": bloom_n,
            }
        )
    )


if __name__ == "__main__":
    main()
