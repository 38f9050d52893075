"""Persisted ANN index: probe cost vs full scan, with recall.

Builds the signature-partitioned index (operators.similarity.
build_ann_index) over a deterministic 256x expansion of the sf0.1
embeddings table (512k vectors, dim 64), then measures per-query:

- bytes actually scanned by an index probe (SQL metric `size of files
  read`) vs by the brute-force full scan — the partition-pruning win
  the index exists for;
- wall per query for both paths;
- recall@k of the probed top-k against the exact top-k.

Prints one JSON line. The corpus and every index live under one temp
dir made for the run and removed at exit
(:func:`tools.bench_paths.run_paths`).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_paths import run_paths  # noqa: E402

K = 10
N_PLANES = 8
IVF_CELLS = 64
REPLICAS = 256
QUERIES = 5


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    with run_paths(os.path.realpath(sf_dir), "index", "qindex", "ivf") as paths:
        _run(sf_dir, paths)


def _run(sf_dir: str, paths: dict) -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")

    from pyspark.sql import functions as F

    import bench
    from perfbench import harness

    spark = bench._build_spark(cpus)
    sql = harness.SqlMetrics(spark)

    from curies_spark.operators.similarity import (
        build_ann_index,
        build_ivf_index,
        cosine_topk,
        query_ann_index,
        query_ivf_index,
    )

    def scanned_bytes(mark: int) -> int:
        return int(sum(e["metrics"].get("size of files read", 0) for e in sql.since(mark)))

    # deterministic 256x expansion: replica r of vector v adds a
    # hash-derived uniform jitter in [-0.05, 0.05] per element (the base
    # vectors are unit-norm with element std 0.125, so jitter is ~20% of
    # signal) — preserves the corpus's cluster structure, the regime LSH
    # is built for, while replicas still spread within nearby buckets
    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = 64
    expanded = (
        base.crossJoin(spark.range(REPLICAS).withColumnRenamed("id", "r"))
        .select(
            (F.col("vec_id") * REPLICAS + F.col("r")).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x.cast("double")
                + 0.1
                * (
                    F.pmod(F.xxhash64(F.col("vec_id"), F.col("r"), i), F.lit(100000))
                    / 100000.0
                )
                - 0.05,
            ).alias("embedding"),
        )
    )
    expanded.write.parquet(paths["corpus"])
    corpus = spark.read.parquet(paths["corpus"])
    n = corpus.count()

    index = paths["index"]
    t0 = time.perf_counter()
    build_ann_index(corpus, index, dim=dim, n_planes=N_PLANES)
    build_wall = time.perf_counter() - t0

    queries = [r["embedding"] for r in base.limit(QUERIES).collect()]

    # exact baselines (per-query full scan)
    scan_bytes = 0
    scan_wall = 0.0
    exacts = []
    for q in queries:
        mark = sql.mark()
        t0 = time.perf_counter()
        exacts.append({r["vec_id"] for r in cosine_topk(corpus, q, k=K).collect()})
        scan_wall += time.perf_counter() - t0
        scan_bytes += scanned_bytes(mark)

    # probed top-k at increasing multiprobe radius: read fraction vs recall
    probes = {}
    for mp in (1, 2):
        probe_bytes = 0
        probe_wall = 0.0
        recall_sum = 0.0
        for q, exact in zip(queries, exacts):
            mark = sql.mark()
            t0 = time.perf_counter()
            ann = {
                r["vec_id"]
                for r in query_ann_index(
                    spark, index, q, k=K, n_planes=N_PLANES, multiprobe_bits=mp
                ).collect()
            }
            probe_wall += time.perf_counter() - t0
            probe_bytes += scanned_bytes(mark)
            recall_sum += len(ann & exact) / K
        probes[f"multiprobe_{mp}"] = {
            "probe_bytes_per_query": probe_bytes // QUERIES,
            "probe_read_fraction": round(probe_bytes / max(scan_bytes, 1), 4),
            "probe_wall_per_query_sec": round(probe_wall / QUERIES, 3),
            "recall_at_k": round(recall_sum / QUERIES, 3),
        }

    # quantized index (round 5): the ranking scan reads int8 codes
    # (~4× fewer bytes per probed bucket); rerank=0 is the pure
    # codes-ranked path, the default reranks a driver-scale shortlist
    # against the float side (bytes for that fetch are counted too —
    # at deployment it is a page-index point lookup bounded by the
    # shortlist size, but this sandbox metric charges whole probed
    # files, so the codes-only row is the clean read-fraction signal)
    qindex = paths["qindex"]
    t0 = time.perf_counter()
    build_ann_index(corpus, qindex, dim=dim, n_planes=N_PLANES, quantize=True)
    qbuild_wall = time.perf_counter() - t0

    quant = {
        "quant_build_wall_sec": round(qbuild_wall, 2),
        "float_index_bytes": harness.dir_stats(index)[1],
        "quant_codes_bytes": harness.dir_stats(os.path.join(qindex, "codes"))[1],
        "quant_vectors_bytes": harness.dir_stats(os.path.join(qindex, "vectors"))[1],
    }
    for mp in (1, 2, 3):
        for mode, rerank in (("codes_only", 0), ("rerank", None)):
            if mp == 3 and mode == "rerank":
                continue  # the equal-recall comparison point is codes-only
            probe_bytes = 0
            probe_wall = 0.0
            recall_sum = 0.0
            for q, exact in zip(queries, exacts):
                mark = sql.mark()
                t0 = time.perf_counter()
                ann = {
                    r["vec_id"]
                    for r in query_ann_index(
                        spark, qindex, q, k=K,
                        multiprobe_bits=mp, rerank=rerank,
                    ).collect()
                }
                probe_wall += time.perf_counter() - t0
                probe_bytes += scanned_bytes(mark)
                recall_sum += len(ann & exact) / K
            quant[f"quant_{mode}_multiprobe_{mp}"] = {
                "probe_bytes_per_query": probe_bytes // QUERIES,
                "probe_read_fraction": round(probe_bytes / max(scan_bytes, 1), 4),
                "probe_wall_per_query_sec": round(probe_wall / QUERIES, 3),
                "recall_at_k": round(recall_sum / QUERIES, 3),
            }

    # IVF: corpus-adaptive cells vs the data-independent LSH buckets
    ivf_path = paths["ivf"]
    t0 = time.perf_counter()
    build_ivf_index(corpus, ivf_path, dim=dim, k=IVF_CELLS, iters=3)
    ivf_build_wall = time.perf_counter() - t0

    ivf = {}
    for nprobe in (1, 4):
        probe_bytes = 0
        probe_wall = 0.0
        recall_sum = 0.0
        for q, exact in zip(queries, exacts):
            mark = sql.mark()
            t0 = time.perf_counter()
            ann = {
                r["vec_id"]
                for r in query_ivf_index(
                    spark, ivf_path, q, k=K, nprobe=nprobe
                ).collect()
            }
            probe_wall += time.perf_counter() - t0
            probe_bytes += scanned_bytes(mark)
            recall_sum += len(ann & exact) / K
        ivf[f"ivf_nprobe_{nprobe}"] = {
            "probe_bytes_per_query": probe_bytes // QUERIES,
            "probe_read_fraction": round(probe_bytes / max(scan_bytes, 1), 4),
            "probe_wall_per_query_sec": round(probe_wall / QUERIES, 3),
            "recall_at_k": round(recall_sum / QUERIES, 3),
        }

    spark.stop()
    print(
        json.dumps(
            {
                "metric": "ann_index_probe_vs_scan",
                "rows": n,
                "dim": dim,
                "n_planes": N_PLANES,
                "buckets": 2**N_PLANES,
                "ivf_cells": IVF_CELLS,
                "queries": QUERIES,
                "k": K,
                "index_build_wall_sec": round(build_wall, 2),
                "ivf_build_wall_sec": round(ivf_build_wall, 2),
                "full_scan_bytes_per_query": scan_bytes // QUERIES,
                "full_scan_wall_per_query_sec": round(scan_wall / QUERIES, 3),
                **probes,
                **quant,
                **ivf,
            }
        )
    )


if __name__ == "__main__":
    main()
