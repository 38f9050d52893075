"""Streaming near-dup: per-batch wall as the signature store grows.

The round-3 design banded batch+store together and self-joined the
union, so per-batch cost grew with corpus history (store×store pairs
were generated and discarded). The round-4 design bands the batch only
and joins it (broadcast) against the map-side-banded store — per-batch
work is O(batch + store-scan), with no store×store join output. This
bench drives N equal-size batches through the stream (maxFilesPerTrigger
= 1 file = 1 batch) where most documents are NOVEL (the store grows
linearly) and reports the wall per batch: the late/early ratio should
be ~1 (flat), not ~N.

Corpus per batch: 90% unique docs (sha256-derived tokens — guaranteed
signature-novel), 5% exact copies of batch 0 (store signature-match
path), 5% near-dups of batch 0 (band-join path). Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_paths import run_paths  # noqa: E402

N_BATCHES = 12
BATCH_ROWS = 20_000
N_TOKENS = 12


def main() -> None:
    with run_paths(f"{N_BATCHES}x{BATCH_ROWS}", "out", "ckpt") as paths:
        _run(paths["corpus"], paths["out"], paths["ckpt"])


def _run(src: str, out: str, ckpt: str) -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")

    from pyspark.sql import functions as F

    import bench

    spark = bench._build_spark(cpus)

    from curies_spark.streaming import start_dedup_stream, streamed_survivors

    def tok(r_col, i: int) -> "F.Column":
        return F.sha2(
            F.concat_ws("-", r_col.cast("string"), F.col("id").cast("string"), F.lit(str(i))),
            256,
        )

    for r in range(N_BATCHES):
        kind = F.col("id") % 10
        # 0 → exact copy of batch 0's row; 1 → near-dup of it (last
        # token unique); else → wholly novel
        r_eff = F.when(kind <= 1, F.lit(0)).otherwise(F.lit(r))
        toks = [tok(r_eff, i) for i in range(N_TOKENS - 1)]
        last = F.when(kind == 0, tok(F.lit(0), N_TOKENS - 1)).otherwise(
            tok(F.lit(r), N_TOKENS - 1)
        )
        batch = spark.range(BATCH_ROWS).select(
            (F.col("id") + r * BATCH_ROWS).alias("doc_id"),
            F.concat_ws(" ", *toks, last).alias("text"),
        )
        batch.coalesce(1).write.mode("append").parquet(src)

    t0 = time.perf_counter()
    q = start_dedup_stream(
        spark, src, out, ckpt,
        min_est_jaccard=0.3, max_files_per_trigger=1, compact_every=4,
    )
    q.awaitTermination(600)
    total_wall = time.perf_counter() - t0

    walls = [
        p["durationMs"]["triggerExecution"] / 1000.0
        for p in q.recentProgress
        if p["numInputRows"] > 0
    ]
    import glob

    from curies_spark.streaming.dedup import read_stream_pairs

    pairs = read_stream_pairs(spark, out)
    n_pairs = pairs.count()
    # survivor query cost: the incrementally-maintained label path (a
    # read of the folded label table) vs the full closure recompute over
    # all accumulated pairs (the round-4 on-demand design)
    t0 = time.perf_counter()
    n_survivors = streamed_survivors(spark, out).count()
    incr_wall = time.perf_counter() - t0
    t0 = time.perf_counter()
    n_survivors_full = streamed_survivors(spark, out, incremental=False).count()
    closure_wall = time.perf_counter() - t0
    assert n_survivors == n_survivors_full
    store_dirs = sorted(
        os.path.basename(p) for p in glob.glob(f"{out}/store/*") if "=" in p
    )
    early = sum(walls[1:4]) / 3
    late = sum(walls[-3:]) / 3
    print(
        json.dumps(
            {
                "metric": "streaming_dedup_per_batch_wall",
                "batches": len(walls),
                "rows_per_batch": BATCH_ROWS,
                "docs_total": N_BATCHES * BATCH_ROWS,
                "batch_walls_sec": [round(w, 2) for w in walls],
                "early_mean_sec_b1_3": round(early, 2),
                "late_mean_sec_last3": round(late, 2),
                "late_over_early": round(late / early, 2),
                "total_wall_sec": round(total_wall, 1),
                "docs_per_sec": round(N_BATCHES * BATCH_ROWS / total_wall),
                "pairs": n_pairs,
                "survivors": n_survivors,
                "survivors_incremental_sec": round(incr_wall, 2),
                "survivors_full_closure_sec": round(closure_wall, 2),
                "store_dirs_after_compaction": store_dirs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
