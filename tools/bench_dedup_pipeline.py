"""Corpus dedup pipeline end-to-end bench with scan accounting.

Expands sf0.1 documents REPLICAS× with engineered duplicate structure
(every replica of a doc is an exact duplicate; every 8th replica gets a
one-token edit → near-duplicate), runs
``plans.dedup_pipeline.run_dedup_pipeline``, and reports wall, stage
counts, and — the scale claim — how many bytes of the raw corpus were
actually scanned vs its size on disk (the staging contract: the text
is read ONCE; every later stage reads only staged columns).

Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_paths import run_paths  # noqa: E402

REPLICAS = int(os.environ.get("SPARK_GRAFT_DEDUP_REPLICAS", "64"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    with run_paths(os.path.realpath(sf_dir), "out") as paths:
        _run(sf_dir, paths["corpus"], paths["out"])


def _run(sf_dir: str, corpus_path: str, out: str) -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")

    from pyspark.sql import functions as F

    import bench
    from perfbench import harness

    spark = bench._build_spark(cpus)

    from curies_spark.plans.dedup_pipeline import run_dedup_pipeline

    base = spark.read.parquet(f"{sf_dir}/documents.parquet")
    expanded = (
        base.crossJoin(spark.range(REPLICAS).withColumnRenamed("id", "r"))
        .select(
            (F.col("doc_id") * REPLICAS + F.col("r")).alias("doc_id"),
            # exact duplicates by default; every 8th replica edits
            # one leading token → a near-duplicate family member
            F.when(
                F.col("r") % 8 == 0,
                F.concat(F.lit("edited"), F.expr("substring(text, 6)")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .repartition(int(cpus) * 4)
    )
    expanded.write.parquet(corpus_path)

    corpus = spark.read.parquet(corpus_path)
    corpus_bytes = harness.dir_stats(corpus_path)[1]

    sql = harness.SqlMetrics(spark)
    mark = sql.mark()
    t0 = time.perf_counter()
    manifest = run_dedup_pipeline(spark, corpus, out, min_est_jaccard=0.5)
    wall = time.perf_counter() - t0

    # 'size of files read' of the executions whose plan reads the raw
    # corpus (see bench_pipeline.py for why stage inputBytes cannot be used)
    raw_scanned = int(sum(
        e["metrics"].get("size of files read", 0)
        for e in sql.since(mark, plans=True)
        if os.path.basename(corpus_path) in e["plan"]
    ))
    n_docs = manifest["input_docs"]
    result = {
        "metric": "dedup_pipeline_end_to_end",
        "docs": n_docs,
        "cpus": int(cpus),
        "wall_sec": round(wall, 2),
        "docs_per_sec": int(n_docs / wall),
        "corpus_bytes": corpus_bytes,
        "raw_corpus_scan_bytes": raw_scanned,
        "raw_corpus_scans": round(raw_scanned / max(corpus_bytes, 1), 2),
        **{k: manifest[k] for k in (
            "exact_dup_groups_gt1", "exact_winners", "candidate_pairs",
            "verified_pairs", "clustered_docs", "survivors",
        )},
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
