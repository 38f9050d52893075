"""Structured Streaming ingestion for the KG-construction pipeline.

The reference library is batch-only (SURVEY.md §2.7: no streams,
watermarks, or stateful ops anywhere in /root/reference). This module is
the engine's forward-looking surface for continuously-arriving corpora:
new source files land as parquet under a directory (the usual shape of
an Iceberg/object-store ingestion zone) and are incrementally converted
into KG triples with exactly-once semantics via the streaming
checkpoint.

Design notes (scale-first):

- The transformation is the SAME logical plan as the batch pipeline
  (:mod:`curies_spark.plans.pipeline`): single-pass mention regex →
  broadcast-converter linking → file-scoped edge projection. Stateless,
  so it pipelines within each micro-batch with zero state store.
- ``file-mentions-entity`` edges are file-scoped and a file's mentions
  always arrive in one micro-batch (the file source delivers whole
  files), so duplicates can only occur within a short time window. A
  processing-time watermark + ``dropDuplicatesWithinWatermark`` makes
  the dedup state BOUNDED (plain streaming ``dropDuplicates`` would key
  state on every (s,p,o) ever seen — unbounded at 10^12 files) while
  remaining exact for this edge family.
- Entity-scoped rollups (repo-declares-prefix, sameAs) need cross-batch
  state; they are derived in ``foreachBatch`` by MERGE-style upsert into
  a side table, or recomputed from the triples table downstream — here
  we expose the per-batch increment and leave the global rollup to the
  batch merge phase (pipeline.run_pipeline), which is idempotent.
- Exactly-once: file source + checkpointLocation tracks which input
  files are committed; restarting after a crash resumes from the
  checkpoint without reprocessing (test_streaming.py proves it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pyspark.sql import functions as F

from .. import _worker
from ..plans.pipeline import file_edges_raw, extract_mentions, link_mentions

__all__ = [
    "REPO_SCHEMA",
    "read_repo_stream",
    "stream_discover_prefixes",
    "stream_file_edges",
    "stream_prefix_counts",
    "start_triples_stream",
]

#: watermark delay bounding the streaming dedup state; file-scoped
#: duplicates are same-batch, so any delay covering one trigger is exact
DEDUP_WATERMARK = "10 minutes"

#: input table shape per BASELINE.json input_hint
REPO_SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("lang", StringType()),
        StructField("content", StringType()),
    ]
)


def read_repo_stream(
    spark: SparkSession, source_dir: str, *, max_files_per_trigger: "int | None" = None
) -> DataFrame:
    """File-source stream over a parquet ingestion directory."""
    reader = spark.readStream.schema(REPO_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def stream_file_edges(repos: DataFrame, converter) -> DataFrame:
    """Streaming transformation: mentions → linking → file-scoped edges.

    Dedup uses a processing-time watermark so the state store holds only
    the last :data:`DEDUP_WATERMARK` of keys — exact for file-scoped
    edges (same-batch duplicates) and bounded at any corpus size.
    """
    edges = file_edges_raw(link_mentions(extract_mentions(repos), converter))
    return (
        edges.withColumn("_ingest_ts", F.current_timestamp())
        .withWatermark("_ingest_ts", DEDUP_WATERMARK)
        .dropDuplicatesWithinWatermark(["subject", "predicate", "object"])
        .drop("_ingest_ts")
    )


def stream_prefix_counts(
    repos: DataFrame,
    converter,
    *,
    window_duration: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked tumbling-window rollup of linked-entity counts per
    canonical prefix — the monitoring stream for a continuously-fed
    pipeline (link rate per vocabulary over time).

    Rows carry no event time, so ingest processing-time stands in; the
    watermark bounds the window state so the rollup runs indefinitely.
    The aggregation is partial+final per window partition — Zipfian
    prefixes are fine because counts (not value sets) accumulate.
    """
    from ..operators.triples import curie_prefix

    linked = link_mentions(extract_mentions(repos), converter)
    return (
        linked.filter(F.col("entity").isNotNull())
        .withColumn("_ingest_ts", F.current_timestamp())
        .withWatermark("_ingest_ts", watermark)
        .groupBy(
            F.window("_ingest_ts", window_duration).alias("window"),
            curie_prefix("entity").alias("prefix"),
        )
        .agg(F.count(F.lit(1)).alias("n_linked"))
    )


def stream_discover_prefixes(
    uris: DataFrame,
    *,
    cutoff: int = 30,
    delimiters: "tuple[str, ...] | None" = None,
    uri_col: str = "uri",
) -> DataFrame:
    """Streaming URI-prefix discovery: custom stateful operator via
    ``applyInPandasWithState``.

    The batch form (reference discovery.py:138-228 /
    :func:`curies_spark.operators.discovery.discover_records_df`) counts
    distinct LUIDs per candidate URI prefix and keeps prefixes with
    ≥ ``cutoff``. On an unbounded stream that distinct count needs
    cross-batch state, and Spark has no built-in
    emit-once-on-threshold distinct-count operator — exactly the case
    for a custom stateful op.

    **State is bounded by construction**: per candidate prefix we keep
    at most ``cutoff`` LUIDs (we only need to detect the threshold
    crossing, not the exact count beyond it), and once a prefix is
    emitted its LUID set is dropped — surviving state is a 1-bit
    "emitted" marker. A Zipfian URI distribution therefore costs
    O(#prefixes · cutoff) state total, independent of stream length.

    Emits each discovered prefix exactly once, in the micro-batch where
    its distinct-LUID count first reaches ``cutoff``. The candidate
    split reuses the batch operator's delimiter-priority logic, JVM-side,
    so Python sees only (prefix, luid) pairs.
    """
    from ..operators.discovery import uri_prefix_candidate_col

    candidate = uri_prefix_candidate_col(uri_col, delimiters=delimiters)
    pairs = (
        uris.select(candidate.alias("uri_prefix"), F.col(uri_col).alias("uri"))
        .where(F.col("uri_prefix").isNotNull())
        .selectExpr("uri_prefix", "substring(uri, length(uri_prefix) + 1) AS luid")
    )

    output_schema = StructType(
        [
            StructField("uri_prefix", StringType()),
            StructField("n_luids", IntegerType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("luids", ArrayType(StringType())),
            StructField("emitted", BooleanType()),
        ]
    )

    def detect(key, pdfs, state):
        _worker.install()
        if state.exists:
            (luids, was_emitted) = state.get
            seen = set(luids or ())
        else:
            seen, was_emitted = set(), False
        emitted = was_emitted
        for pdf in pdfs:  # always drain the iterator (API contract)
            if emitted:
                continue
            for luid in pdf["luid"]:
                seen.add(luid)
                if len(seen) >= cutoff:
                    emitted = True
                    break
        if emitted:
            state.update(([], True))
            if not was_emitted:  # first crossing: emit exactly once
                import pandas as pd

                yield pd.DataFrame({"uri_prefix": [key[0]], "n_luids": [cutoff]})
        else:
            state.update((sorted(seen), False))

    # append output mode: every emitted row is final (a prefix is emitted
    # exactly once), which also permits file sinks downstream
    return pairs.groupBy("uri_prefix").applyInPandasWithState(
        detect,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def start_triples_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    converter,
    *,
    available_now: bool = True,
) -> StreamingQuery:
    """Start (or resume from checkpoint) the triples ingestion stream.

    ``available_now=True`` drains everything currently in ``source_dir``
    then stops — the batch-like mode used in tests and backfills;
    ``False`` runs continuously with the default micro-batch trigger.
    """
    edges = stream_file_edges(read_repo_stream(spark, source_dir), converter)
    writer = (
        edges.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
