"""Structured Streaming throughput: triples ingestion + stateful discovery.

Drives the two streaming surfaces over a multi-micro-batch file source
(maxFilesPerTrigger forces real incremental processing, not one giant
batch) and reports sustained rows/s:

- `start_triples_stream`: mention scan → broadcast linking → watermark
  dedup → exactly-once parquet sink;
- `stream_discover_prefixes`: the applyInPandasWithState distinct-LUID
  threshold operator, state checkpointed across batches.

Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_paths import run_paths  # noqa: E402

N_FILES = 400_000
N_SOURCE_PARTS = 16  # written as 16 parquet files → 4 micro-batches of 4


def main() -> None:
    with run_paths(f"generate_repos({N_FILES})", "run") as paths:
        # the repos corpus, and every stream's sink and checkpoint
        _run(paths["corpus"], paths["run"])


def _run(src: str, base: str) -> None:
    from pyspark.sql import functions as F

    import bench

    spark = bench._build_spark("8")

    from curies_spark.functions.spark_converter import SparkConverter
    from curies_spark.sources.synthetic import generate_repos, pipeline_converter
    from curies_spark.streaming import read_repo_stream, stream_discover_prefixes

    out, ckpt = f"{base}/out", f"{base}/ckpt"
    generate_repos(spark, N_FILES, partitions=N_SOURCE_PARTS).write.parquet(src)
    sc = SparkConverter(spark, pipeline_converter())

    # --- triples ingestion, 4 micro-batches ---
    from curies_spark.streaming.ingest import stream_file_edges

    t0 = time.perf_counter()
    stream = read_repo_stream(spark, src, max_files_per_trigger=N_SOURCE_PARTS // 4)

    q = (
        stream_file_edges(stream, sc.broadcast)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    ingest_wall = time.perf_counter() - t0
    n_triples = spark.read.parquet(out).count()
    n_batches = len(q.recentProgress)

    # --- stateful discovery over the mention URI stream, 4 micro-batches ---
    from curies_spark.plans.pipeline import URI_MENTION_RE

    disc_out, disc_ckpt = f"{base}/disc_out", f"{base}/disc_ckpt"
    uris = (
        read_repo_stream(spark, src, max_files_per_trigger=N_SOURCE_PARTS // 4)
        .withColumn(
            "uri", F.explode(F.regexp_extract_all("content", F.lit(URI_MENTION_RE), F.lit(0)))
        )
        .select("uri")
    )
    t0 = time.perf_counter()
    q2 = (
        stream_discover_prefixes(uris, cutoff=10)
        .writeStream.format("parquet")
        .option("path", disc_out)
        .option("checkpointLocation", disc_ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(600)
    discover_wall = time.perf_counter() - t0
    n_discovered = spark.read.parquet(disc_out).count()

    # --- streaming near-dup over an expanded documents corpus ---
    from curies_spark.streaming import start_dedup_stream

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs_src = f"{base}/docs_src"
    n_doc_replicas = 32
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .crossJoin(spark.range(n_doc_replicas).withColumnRenamed("id", "r"))
        .select(
            (F.col("doc_id") * n_doc_replicas + F.col("r")).alias("doc_id"),
            F.when(
                F.col("r") % 8 == 0,
                F.concat(F.lit("edited"), F.expr("substring(text, 6)")),
            ).otherwise(F.col("text")).alias("text"),
        )
    )
    docs.repartition(8).write.parquet(docs_src)
    n_docs = n_doc_replicas * spark.read.parquet(
        f"{sf_dir}/documents.parquet"
    ).count()
    t0 = time.perf_counter()
    q3 = start_dedup_stream(
        spark,
        docs_src,
        f"{base}/dedup_out",
        f"{base}/dedup_ckpt",
        max_files_per_trigger=2,
    )
    q3.awaitTermination(600)
    dedup_wall = time.perf_counter() - t0
    dedup_batches = len(q3.recentProgress)
    from curies_spark.streaming.dedup import read_stream_pairs

    pairs_df = read_stream_pairs(spark, f"{base}/dedup_out")
    n_pairs = pairs_df.count() if pairs_df is not None else 0

    spark.stop()
    print(
        json.dumps(
            {
                "metric": "streaming_throughput",
                "input_files": N_FILES,
                "micro_batches": n_batches,
                "ingest_wall_sec": round(ingest_wall, 2),
                "ingest_files_per_sec": int(N_FILES / ingest_wall),
                "triples": n_triples,
                "triples_per_sec": int(n_triples / ingest_wall),
                "stateful_discover_wall_sec": round(discover_wall, 2),
                "stateful_discover_files_per_sec": int(N_FILES / discover_wall),
                "discovered_prefixes": n_discovered,
                "dedup_docs": n_docs,
                "dedup_micro_batches": dedup_batches,
                "dedup_wall_sec": round(dedup_wall, 2),
                "dedup_docs_per_sec": int(n_docs / dedup_wall),
                "dedup_pairs": n_pairs,
            }
        )
    )


if __name__ == "__main__":
    main()
