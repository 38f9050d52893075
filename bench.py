"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Execution is forced through the ``noop`` sink so every plan runs fully
(scan → convert → shuffle → aggregate) without measuring disk writes.

Set ``SPARK_GRAFT_SCALING=1`` to additionally run the full KG pipeline
(parquet scan → single-pass mention regex → broadcast linking →
dedup'd file edges) over a deterministic 2M-file corpus on
``local-cluster[1,2,…]`` vs ``local-cluster[4,2,…]`` — one executor JVM
vs four, the sandbox realization of the north rule's "N and 4N
executors" — and report throughput at both plus scaling efficiency.
Executor JVMs are separate processes, as on a real cluster; the
2-cores-per-executor size keeps 4N executors inside this host's
measured linear-scaling region (see BASELINE.md: single-JVM thread
counts beyond ~12 saturate this microVM and say nothing about the
job's distribution behavior).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "compress",
    "compress_trie_udf",
    "expand",
    "compress_or_standardize",
    "preprocess_parse",
    "standardize_uri",
    "expand_all",
    "triple_hash",
    "many_to_many",
    "dedup_exact",
    "discover",
    "mentions",
]


def _driver_memory() -> str:
    """Half of RAM, at most 16g: a heap larger than the host gets the JVM
    OOM-killed (the 10M-node pass of ``tools/bench_components.py`` peaks
    at 8.7 GiB resident on an 8g heap)."""
    ram_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(16 * 1024, ram_mib // 2)}m"


def _build_spark(cpus: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("curies-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k Arrow batches: framing overhead of the 10k default costs
        # ~50% on arrow_udf paths (see BENCH/round2_large_epm.json)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .getOrCreate()
    )


#: timed runs per query after the warm run; the headline reports the
#: best (the host has 3-11% CPU steal and up to 2x run-to-run wall
#: variance — a single sample reads as a phantom regression)
HEADLINE_RUNS = int(os.environ.get("SPARK_GRAFT_HEADLINE_RUNS", "3"))


def _run_suite(
    spark, sf_dir: str
) -> "tuple[dict[str, float], dict[str, float], int]":
    import statistics

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    # warm the JVM + parquet footers
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    best: dict[str, float] = {}
    median: dict[str, float] = {}
    for name in HEADLINE:
        df = queries[name](spark, sf_dir)
        # steady-state timing: the warm run pays codegen compilation,
        # broadcast construction, and AQE stage warmup; the timed runs
        # are the per-query cost that actually scales with data
        df.write.mode("overwrite").format("noop").save()
        walls = []
        for _ in range(HEADLINE_RUNS):
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            walls.append(time.perf_counter() - t0)
        best[name] = round(min(walls), 3)
        median[name] = round(statistics.median(walls), 3)
    rows = spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    return best, median, rows


def _host_calibration() -> float:
    """A fixed, Spark-free CPU workload (single-core numpy matmuls)
    timed best-of-3 — a sentinel for cross-round comparisons on this
    noisy host (documented 3-11% steal, up to 2× wall drift between
    rounds: round-4 CODE re-measured on the round-5 host ran 2.2× its
    recorded wall). Divide cross-round query walls by the calibration
    ratio before reading them as regressions."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.random((512, 512))
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        x = a
        for _ in range(60):
            x = x @ a
            x /= np.abs(x).max()
        walls.append(time.perf_counter() - t0)
    return round(min(walls), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    calibration = _host_calibration()
    spark = _build_spark(cpus)
    times, median, lineitem_rows = _run_suite(spark, sf_dir)
    spark.stop()

    total = round(sum(times.values()), 3)
    # compress+expand each process one derived value per lineitem row
    conv_secs = times["compress"] + times["expand"]
    conversions_per_sec = int(2 * lineitem_rows / conv_secs) if conv_secs else None

    result = {
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "queries_median": median,
        "runs_per_query": HEADLINE_RUNS,
        "timing_policy": "best-of-N after one warm run",
        "sf": float(sf),
        "cpus": int(cpus),
        "lineitem_rows": lineitem_rows,
        "uri_curie_conversions_per_sec": conversions_per_sec,
        # fixed single-core numpy workload: host-speed sentinel for
        # cross-round wall comparisons on this noisy box (see BASELINE.md
        # "host-drift control")
        "host_calibration_sec": calibration,
    }

    if os.environ.get("SPARK_GRAFT_SCALING") == "1":
        result.update(_scaling_run())

    print(json.dumps(result))


# ---------------------------------------------------------------------------
# N vs 4N executor scaling (north rule)
# ---------------------------------------------------------------------------

SCALING_CORPUS_DIR = os.environ.get(
    "SPARK_GRAFT_SCALING_CORPUS", "/tmp/curies_spark_scaling_corpus"
)
SCALING_ROWS = int(os.environ.get("SPARK_GRAFT_SCALING_ROWS", "2000000"))
SCALING_RUNS = int(os.environ.get("SPARK_GRAFT_SCALING_RUNS", "3"))


def _ensure_corpus() -> None:
    if os.path.exists(os.path.join(SCALING_CORPUS_DIR, "_SUCCESS")):
        return
    from curies_spark.sources.synthetic import generate_repos

    spark = _build_spark("16")
    generate_repos(spark, SCALING_ROWS, partitions=64).write.mode(
        "overwrite"
    ).parquet(SCALING_CORPUS_DIR)
    spark.stop()


def _cluster_session(workers: int, cores: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local-cluster[{workers},{cores},3072]")
        .appName("curies-spark-scaling")
        .config("spark.driver.memory", "6g")
        .config("spark.executor.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(workers * cores * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _kg_job(spark) -> "tuple[float, int]":
    """One full KG-pipeline pass; returns (wall_sec, triples)."""
    from curies_spark.functions import SparkConverter
    from curies_spark.plans.pipeline import (
        build_file_edges,
        extract_mentions,
        link_mentions,
    )
    from curies_spark.sources.synthetic import pipeline_converter

    sc = SparkConverter(spark, pipeline_converter())
    repos = spark.read.parquet(SCALING_CORPUS_DIR)
    edges = build_file_edges(link_mentions(extract_mentions(repos), sc.broadcast))
    t0 = time.perf_counter()
    edges.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0, 0


def _scaling_run() -> dict:
    _ensure_corpus()
    scaling: dict[str, dict] = {}
    triples = None
    for workers, cores in ((1, 2), (4, 2)):
        spark = _cluster_session(workers, cores)
        _kg_job(spark)  # warm: JIT + parquet footers + broadcast
        walls = [_kg_job(spark)[0] for _ in range(SCALING_RUNS)]
        if triples is None:
            from curies_spark.functions import SparkConverter
            from curies_spark.plans.pipeline import (
                build_file_edges,
                extract_mentions,
                link_mentions,
            )
            from curies_spark.sources.synthetic import pipeline_converter

            sc = SparkConverter(spark, pipeline_converter())
            repos = spark.read.parquet(SCALING_CORPUS_DIR)
            triples = build_file_edges(
                link_mentions(extract_mentions(repos), sc.broadcast)
            ).count()
        spark.stop()
        best = min(walls)
        scaling[f"{workers}x{cores}"] = {
            "executors": workers,
            "cores_per_executor": cores,
            "walls_sec": [round(w, 2) for w in walls],
            "best_sec": round(best, 2),
            "files_per_sec": int(SCALING_ROWS / best),
            "triples_per_sec": int(triples / best) if triples else None,
        }
    eff = (
        scaling["4x2"]["files_per_sec"] / scaling["1x2"]["files_per_sec"]
    ) / 4.0
    return {
        "scaling_corpus_files": SCALING_ROWS,
        "scaling_triples": triples,
        "scaling": scaling,
        "scaling_efficiency_1_to_4_executors": round(eff, 3),
    }


if __name__ == "__main__":
    main()
