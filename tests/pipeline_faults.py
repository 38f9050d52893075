"""Run the KG and dedup pipelines under injected faults on ``local[4,2]``
(two attempts per task); print what each run left behind as JSON.

``python tests/pipeline_faults.py <work dir>``

- ``retry``: the first attempt of partition 0 of each shard's mention
  stage raises, so that task runs twice. Reports every shard manifest
  and the merge manifest next to independent ``count()``s of the data,
  and how many attempts were failed on purpose.
- ``kg_write_fails`` / ``dedup_write_fails``: one write of each pipeline
  raises. Reports whether the session caches nothing before and after.

``kg_counts`` and ``dedup_counts`` are the independent counts, and
``spark_jobs`` the job counter, shared with tests/test_pipeline.py and
tests/test_dedup_pipeline.py.
"""

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark import TaskContext  # noqa: E402
from pyspark.sql import Row, SparkSession, functions as F  # noqa: E402

from curies_spark.plans import dedup_pipeline, pipeline  # noqa: E402
from curies_spark.sources.synthetic import generate_repos, pipeline_converter  # noqa: E402

N_SHARDS = 2


def kg_counts(spark, repos, out, n_shards):
    """What each shard manifest and the merge manifest record, counted
    with ``count()`` on the source and on the written triples."""
    conv = pipeline_converter()
    shards = []
    for shard in range(n_shards):
        rows = repos.filter(pipeline._shard_col(n_shards) == shard)
        linked = pipeline.link_mentions(pipeline.extract_mentions(rows), conv)
        shards.append(
            {
                "input_rows": rows.count(),
                "mentions": linked.count(),
                "linked_mentions": linked.filter(F.col("entity").isNotNull()).count(),
                "triples": spark.read.parquet(f"{out}/triples/shard={shard}").count(),
            }
        )
    return shards, spark.read.parquet(f"{out}/triples/shard=merge").count()


def dedup_counts(spark, docs, out, *, id_col="doc_id"):
    """Every count field of the dedup manifest, counted with
    ``count()`` on the corpus, the staged table and the written outputs."""
    staged = spark.read.parquet(f"{out}/staged")
    groups = staged.groupBy("content_hash").agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n")
    )
    winners = staged.join(groups.select(id_col), on=id_col, how="left_semi")
    return {
        "input_docs": docs.count(),
        "staged_docs": staged.count(),
        "exact_dup_groups_gt1": groups.filter(F.col("n") > 1).count(),
        "exact_winners": groups.count(),
        "candidate_pairs": dedup_pipeline.band_pairs(winners, id_col=id_col).count(),
        "verified_pairs": spark.read.parquet(f"{out}/pairs").count(),
        "clustered_docs": spark.read.parquet(f"{out}/clusters").count(),
        "survivors": spark.read.parquet(f"{out}/survivors").count(),
    }


def spark_jobs(spark, run) -> int:
    """How many Spark jobs ``run()`` launches, on any thread, read from
    the status tracker (the pipelines set no job group)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    run()
    return len(set(tracker.getJobIdsForGroup(None)) - before)


def _first_attempt_fails(marks: str):
    """A pass-through of ``content`` whose first attempt on partition 0
    leaves a mark file and raises."""

    def content(text):
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            Path(marks, f"task-{ctx.taskAttemptId()}").touch()
            raise RuntimeError("injected first-attempt failure")
        return text

    return F.udf(content, "string")


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _fails(run) -> bool:
    """Whether ``run`` raised the injected write failure."""
    try:
        run()
    except Exception as err:  # Spark's error types differ by where it raised
        return "injected write failure" in str(err)
    return False


def _retry(spark, repos, tmp: Path) -> dict:
    marks = tmp / "marks"
    marks.mkdir()
    flaky = _first_attempt_fails(str(marks))
    extract = pipeline.extract_mentions
    pipeline.extract_mentions = lambda df, **kw: extract(
        df.withColumn("content", flaky("content")), **kw
    )
    try:
        totals = pipeline.run_pipeline(spark, repos, str(tmp / "retry"), n_shards=N_SHARDS)
    finally:
        pipeline.extract_mentions = extract
    shards, merge = kg_counts(spark, repos, str(tmp / "retry"), N_SHARDS)
    return {
        "failed_attempts": len(list(marks.iterdir())),
        "manifests": totals["manifests"],
        "merge": totals["merge"]["triples"],
        "counted": shards,
        "counted_merge": merge,
    }


def _kg_write_fails(spark, repos, tmp: Path) -> dict:
    build = pipeline.build_file_edges
    pipeline.build_file_edges = lambda linked: build(linked).withColumn(
        "object", F.raise_error(F.lit("injected write failure")).cast("string")
    )
    before = _cache_empty(spark)
    try:
        failed = _fails(
            lambda: pipeline.run_pipeline(spark, repos, str(tmp / "kg"), n_shards=N_SHARDS)
        )
    finally:
        pipeline.build_file_edges = build
    return {"failed": failed, "empty_before": before, "empty_after": _cache_empty(spark)}


def _dedup_write_fails(spark, tmp: Path) -> dict:
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"document {i % 3} with some shared words") for i in range(12)]
    )
    drop = dedup_pipeline.drop_cluster_losers
    dedup_pipeline.drop_cluster_losers = lambda *a, **kw: drop(*a, **kw).withColumn(
        "doc_id", F.raise_error(F.lit("injected write failure")).cast("long")
    )
    before = _cache_empty(spark)
    try:
        failed = _fails(lambda: dedup_pipeline.run_dedup_pipeline(spark, docs, str(tmp / "dedup")))
    finally:
        dedup_pipeline.drop_cluster_losers = drop
    return {"failed": failed, "empty_before": before, "empty_after": _cache_empty(spark)}


def main(tmp: Path) -> None:
    tmp = tmp.resolve()
    tmp.mkdir(parents=True, exist_ok=True)
    os.chdir(REPO)  # the Python workers import the package from their cwd
    spark = (
        SparkSession.builder.master("local[4,2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("OFF")
    repos = generate_repos(spark, 2000, partitions=4)
    result = {"retry": _retry(spark, repos, tmp)}
    spark.catalog.clearCache()
    result["kg_write_fails"] = _kg_write_fails(spark, repos, tmp)
    spark.catalog.clearCache()
    result["dedup_write_fails"] = _dedup_write_fails(spark, tmp)
    spark.stop()
    print(json.dumps(result, default=str))


if __name__ == "__main__":
    main(Path(sys.argv[1]))
