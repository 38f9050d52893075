"""Full KG-construction job benchmark: sharded, resumable, lineage-audited.

Runs plans.pipeline.run_pipeline (mention scan → broadcast linking →
file edges per shard → entity-edge merge phase, manifests + sha256
rollups) over a materialized synthetic corpus on a 4-executor
local-cluster, then proves checkpoint resume by deleting two shard
manifests and re-running. Prints one JSON line.

Usage: python tools/bench_pipeline.py [n_files] (default 4,000,000)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_paths import run_paths  # noqa: E402


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
    with run_paths(f"generate_repos({n_files})", "out") as paths:
        _run(n_files, paths["corpus"], paths["out"])


def _run(n_files: int, corpus: str, out: str) -> None:
    import bench
    from perfbench import harness

    spark = bench._cluster_session(4, 2)
    sql = harness.SqlMetrics(spark)

    from curies_spark.plans.pipeline import run_pipeline, validate_content_invariant
    from curies_spark.sources.synthetic import generate_repos

    generate_repos(spark, n_files, partitions=64).write.parquet(corpus)
    repos = spark.read.parquet(corpus)
    n_files = repos.count()

    def _scanned_bytes(mark: int) -> int:
        """Sum 'size of files read' over every FileScan node of every SQL
        execution since ``mark`` — the ground truth for 'how many
        bytes of parquet were actually scanned'. Stage-level inputBytes
        is unusable for this: it counts in-memory-cache reads, and
        Spark's local-file vectorized parquet path bypasses the Hadoop
        FS counters entirely (measured: a 20 MB full scan reports 8 KB).
        """
        return int(sum(e["metrics"].get("size of files read", 0) for e in sql.since(mark)))

    source_bytes = harness.dir_stats(corpus)[1]

    from curies_spark.plans.pipeline import _shard_col, handoff

    t0 = time.perf_counter()
    mark = sql.mark()
    # run the staging pass separately so its scan bytes are attributable:
    # this is the ONLY read of the raw source in the whole job. The same
    # stage and stamp run_pipeline writes, so run_pipeline resumes it
    handoff(
        spark,
        lambda: repos.withColumn("_shard", _shard_col(8)),
        f"{out}/_staged",
        partition_by=("_shard",),
        stamp=(f"{out}/_manifests/staged.json", {"n_shards": 8}),
    )
    staging_scan = _scanned_bytes(mark)
    stamp = os.path.join(out, "_manifests", "staged.json")
    staged_at = os.stat(stamp).st_mtime_ns
    mark = sql.mark()
    # resumes the staging stamp; shard + merge phases read only the
    # staged copy (partition-pruned per shard) and the job's own outputs
    totals = run_pipeline(spark, repos, out, n_shards=8)
    wall = time.perf_counter() - t0
    shard_phase_scan = _scanned_bytes(mark)
    assert os.stat(stamp).st_mtime_ns == staged_at, "run_pipeline restaged"
    staged_bytes = harness.dir_stats(os.path.join(out, "_staged"))[1]
    # the pre-staging design scanned the raw source once per shard:
    # (1 + n_shards) x source = 9x here
    source_scans = round(staging_scan / source_bytes, 2)

    invariant_ok = validate_content_invariant(repos, totals["manifests"])

    # resume: drop two shard manifests, re-run, totals must be identical
    for shard in (2, 5):
        os.remove(os.path.join(out, "_manifests", f"shard-{shard}.json"))
    t0 = time.perf_counter()
    resumed = run_pipeline(spark, repos, out, n_shards=8)
    resume_wall = time.perf_counter() - t0
    spark.stop()

    assert resumed["triples"] == totals["triples"], (resumed, totals)
    assert resumed["resumed_shards"] == 6

    print(
        json.dumps(
            {
                "metric": "kg_pipeline_end_to_end",
                "cluster": "local-cluster[4,2]",
                "input_files": n_files,
                "mentions": totals["mentions"],
                "linked_mentions": totals["linked_mentions"],
                "triples": totals["triples"],
                "wall_sec": round(wall, 2),
                "files_per_sec": int(n_files / wall),
                "triples_per_sec": int(totals["triples"] / wall),
                "content_sha256_invariant": "OK" if invariant_ok else "VIOLATED",
                "source_bytes": source_bytes,
                "staged_bytes": staged_bytes,
                "raw_source_scan_bytes": staging_scan,
                "raw_source_scans": source_scans,
                "shard_and_merge_scan_bytes": shard_phase_scan,
                "resume_wall_sec": round(resume_wall, 2),
                "resume_recomputed_shards": 2,
            }
        )
    )


if __name__ == "__main__":
    main()
