"""KG-construction pipeline over the source-code corpus.

north_rule end-to-end: batched mention detection (regex scan of
``content`` for URIs and CURIEs), preprocessing, entity linking against
the broadcast EPM, canonicalization to preferred CURIEs, and
materialization of a deduplicated (subject, predicate, object) graph:

- ``codefile:… cs:mentions <entity>``  — file-mentions-entity
- ``coderepo:… cs:declaresPrefix csprefix:…`` — repo-declares-prefix
- ``<entity> owl:sameAs <uri>`` — one edge per URI-prefix synonym, the
  mapping-service semantics (reference mapping_service/api.py:105-118)

Scale design:
- Everything is native Spark SQL (regexp / explode / broadcast maps);
  the only potential Python is the compress kernel's large-map path.
- The job is **sharded and checkpoint-resumable**: one staging pass (a
  :func:`handoff` stamped with ``n_shards``) materializes the shard hash
  as a partition column (``_staged/_shard=K/``). The hash is a computed
  expression no format can push down, so filtering the source on it
  would rescan the source per shard; instead it is scanned ONCE and
  each shard's filter of the staged frame prunes to its own files. Each
  shard writes its triples partition and a lineage manifest (input
  rows, sha256 rollup, per-stage counts). On restart, shards with
  manifests are skipped and a matching stamp reuses the staged copy:
  **snapshot semantics**, so recomputed shards derive from the same
  input as the manifests they join (for changed input use a fresh
  ``out_dir`` or ``resume=False``; :func:`validate_content_invariant`
  detects drift after the fact). On Iceberg at 10^12 files the staging
  pass is the ``bucket(N, …)`` partition transform at ingest.
- Manifest counts are observed (:func:`observed`) on frames the writes
  consume anyway — input rows and sha rollup on the shard's staged rows,
  (linked) mentions on the linked frame, triples on the written edges.
- The per-row invariant ``sha2(content, 256)`` is rolled up per shard
  commutatively (sum of the first 15 hex digits as bigint) and can be
  re-validated against the source at any time.

Each edge family is deduplicated once, where it is built: file edges in
:func:`build_file_edges` (per shard), declares-prefix and sameAs edges in
:func:`build_entity_edges` (in the merge). The families have different
predicates, so their union is already duplicate-free and no caller
dedups it again.
"""

from __future__ import annotations

import time
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..core.converter import Converter
from ..functions import kernels
from ..operators.triples import curie_prefix

__all__ = [
    "CURIE_MENTION_RE",
    "URI_MENTION_RE",
    "build_triples",
    "extract_mentions",
    "file_edges_raw",
    "link_mentions",
    "run_pipeline",
    "sha256_rollup",
    "validate_content_invariant",
]

#: URI mentions: scheme up to whitespace/quote/bracket. Kept simple and
#: identical across engines (Java regex ∩ RE2 syntax).
URI_MENTION_RE = r"https?://[^\s\"'<>()]+"

#: CURIE mentions: NCName-ish prefix, identifier starting alphanumeric.
CURIE_MENTION_RE = r"[A-Za-z_][A-Za-z0-9._-]*:[A-Za-z0-9][A-Za-z0-9._/-]*"


#: Single-pass scan: URI alternative first, so a URI consumes its span
#: before the CURIE alternative can fire inside it (leftmost-first
#: alternation) — equivalent to extract-URIs-then-mask-then-extract-CURIEs
#: but one regex pass over content instead of three. RE2 runs this form.
MENTION_RE = f"(?:{URI_MENTION_RE})|(?:{CURIE_MENTION_RE})"

#: :data:`MENTION_RE`'s matches, which Java scans without backtracking:
#: a possessive run stops only where the match cannot continue, and a
#: CURIE starting after ``[A-Za-z_]`` would start one character earlier
#: (no match ends before ``[A-Za-z_]``). RE2 has neither construct.
JVM_MENTION_RE = f"{URI_MENTION_RE}+|(?<![A-Za-z_]){CURIE_MENTION_RE.replace('*', '*+')}"


def extract_mentions(df: DataFrame, *, content: str = "content") -> DataFrame:
    """Scan content for URI and CURIE mentions → one row per mention.

    ``chebi:42`` inside ``https://identifiers.org/chebi:42`` is not
    double-counted: the URI alternative matches first and consumes the
    span. Pure native plan: one ``regexp_extract_all`` + one ``explode``
    — no Python, fully pipelined with the scan.
    """
    c = F.col(content)
    mentions = F.regexp_extract_all(c, F.lit(JVM_MENTION_RE), F.lit(0))
    return df.withColumn("mention", F.explode(mentions))


def link_mentions(
    mentions: DataFrame, converter, *, mention: str = "mention"
) -> DataFrame:
    """Entity-link mentions: URI → compress, CURIE → standardize, both
    against the broadcast converter; unlinkable mentions get NULL
    ``entity`` (kept for metrics, filtered by the triple builder)."""
    return mentions.withColumn(
        "entity", kernels.compress_or_standardize_col(mention, converter)
    )


def file_edges_raw(linked: DataFrame) -> DataFrame:
    """file-mentions-entity edge projection, duplicates included (one row
    per linked mention). Batch callers dedup via :func:`build_file_edges`;
    the streaming path dedups with a bounded watermark instead."""
    entities = linked.filter(F.col("entity").isNotNull())
    file_ref = F.concat(
        F.lit("codefile:"),
        F.col("repo"),
        F.lit("@"),
        F.col("commit"),
        F.lit("/"),
        F.col("path"),
    )
    return entities.select(
        file_ref.alias("subject"),
        F.lit("cs:mentions").alias("predicate"),
        F.col("entity").alias("object"),
    )


def build_file_edges(linked: DataFrame) -> DataFrame:
    """file-mentions-entity edges — file-scoped, so dedup within a shard
    is globally correct (a file lives in exactly one shard).

    ``dropDuplicates`` on the full (s, p, o) key hash-partitions
    uniformly even when prefixes are Zipfian, so no salting is needed
    here; skew handling matters for per-prefix aggregations (see
    :mod:`curies_spark.operators.skew`).
    """
    return file_edges_raw(linked).dropDuplicates(["subject", "predicate", "object"])


def build_entity_edges(repo_entities: DataFrame, converter) -> DataFrame:
    """repo-declares-prefix + curie-sameAs-uri edges from ``(repo, entity)``
    rows, duplicates allowed — each family dedups its own key here.

    These edge families are entity-scoped: the same entity appears in
    many shards, so they are built in a final merge phase over the
    shards' side outputs — the reduce stage of the job.

    Declares-prefix takes the distinct ``(repo, prefix)`` set and maps
    it injectively (fixed-literal ``concat``); sameAs takes the distinct
    ``entity`` set and explodes its expansions, made distinct per entity
    because a record may list one URI-prefix synonym twice. The two
    predicates differ, so the union holds no duplicate.
    """
    declares_edges = (
        repo_entities.select(F.col("repo"), curie_prefix("entity").alias("prefix"))
        .distinct()
        .select(
            F.concat(F.lit("coderepo:"), F.col("repo")).alias("subject"),
            F.lit("cs:declaresPrefix").alias("predicate"),
            F.concat(F.lit("csprefix:"), F.col("prefix")).alias("object"),
        )
    )
    # curie-sameAs-uri: one edge per synonym expansion of each distinct
    # entity (the dynamic owl:sameAs triples of the reference's mapping
    # service, mapping_service/api.py:96-118)
    expansions = F.array_distinct(kernels.expand_all_col("entity", converter))
    sameas_edges = (
        repo_entities.select("entity")
        .distinct()
        .select(
            F.col("entity").alias("subject"),
            F.lit("owl:sameAs").alias("predicate"),
            F.explode(expansions).alias("object"),
        )
    )
    return declares_edges.unionByName(sameas_edges)


def build_triples(linked: DataFrame, converter) -> DataFrame:
    """Single-pass (unsharded) form: all three edge families, each
    deduplicated by its builder; their predicates differ, so the union
    needs no dedup of its own."""
    entities = linked.filter(F.col("entity").isNotNull())
    return build_file_edges(linked).unionByName(
        build_entity_edges(entities.select("repo", "entity"), converter)
    )


def sha256_rollup(*, content: str = "content") -> Column:
    """Commutative rollup of per-row sha256(content): sum of the first 15
    hex digits as bigint. Order-independent, overflow-safe at 10^12 rows
    (sum fits in a Spark decimal aggregate)."""
    return F.sum(F.conv(F.substring(F.sha2(F.col(content), 256), 1, 15), 16, 10).cast("decimal(38,0)"))


def validate_content_invariant(source: DataFrame, manifests: "list[dict]") -> bool:
    """Re-derive the sha rollup from the source and compare with the sum
    of shard manifests — proves no content row was lost or altered."""
    total = source.select(sha256_rollup().alias("s")).collect()[0]["s"]
    recorded = sum(int(m["content_sha_rollup"]) for m in manifests)
    # an empty source sums to NULL; its shards record "0"
    return int(total or 0) == recorded


def observed(df: DataFrame, *metrics) -> "tuple[DataFrame, Callable[[], dict]]":
    """``df`` observing ``metrics`` (unnamed: shards run on concurrent
    driver threads), and a reader of their values to call only after
    the action consuming ``df`` returned — one that failed reads as
    zeros. Adaptive execution drops the branch under a stage that came
    out empty, and an observation in it completes with no row: only
    then does the reader compute ``metrics`` with an action of its own."""
    obs = Observation()

    def read() -> dict:
        try:
            return obs.get
        except Py4JJavaError:
            return df.agg(*metrics).first().asDict()

    return df.observe(obs, *metrics), read


def handoff(
    spark: SparkSession,
    stage: "Callable[[], DataFrame]",
    path: str,
    *,
    partition_by: "tuple[str, ...]" = (),
    stamp: "tuple[str, dict] | None" = None,
    resume: bool = False,
) -> DataFrame:
    """Write the pipeline stage ``stage()`` as parquet at ``path`` and
    return it read back with the frame's own schema, so the next stage's
    read runs no schema-inference job.

    ``stamp`` is ``(stamp_path, recipe)``: dropped before the write and
    written after it, so it only ever vouches for a finished write. With
    ``resume``, a stamp holding the same recipe skips the write without
    building the stage: the schema is then the one written in its
    footers (the frame's if a partitioned stage of no rows wrote none)."""
    from ..streaming.fsio import fs_delete, fs_parquet_schema, fs_read_json, fs_write_json

    if resume and stamp and fs_read_json(spark, stamp[0]) == stamp[1]:
        schema = fs_parquet_schema(spark, path) or stage().schema
    else:
        if stamp:
            fs_delete(spark, stamp[0])
        df = stage()
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
        if stamp:
            fs_write_json(spark, stamp[0], stamp[1])
        schema = df.schema
    return spark.read.schema(schema).parquet(path)


#: the ``_entities/shard=K`` side output: written by each shard, read by
#: a merge that may follow shards of an earlier run
_ENTITIES_SCHEMA = StructType().add("repo", "string").add("entity", "string")

#: shard jobs at once on driver threads, so the cluster never idles
#: between a shard's stages; a crash loses at most these in-flight shards
_SHARD_THREADS = 2


def _shard_col(n_shards: int):
    return F.pmod(F.xxhash64(F.col("repo"), F.col("path"), F.col("commit")), F.lit(n_shards))


def _run_shard(
    spark: SparkSession, staged: DataFrame, out: str, bc, shard: int, n_shards: int
) -> dict:
    """One shard's map phase: mentions → linking → file edges + entity
    side-output, finished by an atomic manifest write (the checkpoint
    marker — a shard is done iff its manifest exists).

    The manifest is written HERE, inside the shard job, so when shards
    run concurrently a failure in one never loses the checkpoints of
    shards that already completed.
    """
    from ..streaming.fsio import fs_write_json

    t0 = time.perf_counter()
    # _shard is a partition column: this filter prunes to the shard's
    # own files (PartitionFilters), reading 1/n_shards of the data
    shard_df, stats = observed(
        staged.filter(F.col("_shard") == shard).drop("_shard"),
        F.count(F.lit(1)).alias("input_rows"),
        sha256_rollup().alias("content_sha_rollup"),
    )
    linked, stages = observed(
        link_mentions(extract_mentions(shard_df), bc),
        F.count(F.lit(1)).alias("mentions"),
        F.count("entity").alias("linked_mentions"),
    )
    # cache only what the two writes read: not each mention's file content
    linked = linked.select("repo", "path", "commit", "entity").cache()
    try:
        file_edges, edges = observed(build_file_edges(linked), F.count(F.lit(1)).alias("triples"))
        file_edges.write.mode("overwrite").parquet(f"{out}/triples/shard={shard}")
        # side output for the merge phase: this shard's (repo, entity) set
        (
            linked.filter(F.col("entity").isNotNull())
            .select(*_ENTITIES_SCHEMA.fieldNames())
            .distinct()
            .write.mode("overwrite")
            .parquet(f"{out}/_entities/shard={shard}")
        )
    finally:
        linked.unpersist()

    counts = {**stats(), **stages(), **edges()}
    counts["content_sha_rollup"] = str(counts["content_sha_rollup"] or 0)
    manifest = {
        "shard": shard,
        # the hash-slice geometry this manifest describes: a resume under
        # a different n_shards must NOT trust it (different slice)
        "n_shards": n_shards,
        **counts,
        "wall_sec": round(time.perf_counter() - t0, 3),
    }
    fs_write_json(spark, f"{out}/_manifests/shard-{shard}.json", manifest)
    return manifest


def run_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    out_dir: str,
    *,
    converter: "Converter | None" = None,
    n_shards: int = 8,
    resume: bool = True,
) -> dict:
    """Run the sharded, resumable KG-construction job.

    Writes ``{out_dir}/triples/shard=K/`` parquet and
    ``{out_dir}/_manifests/shard-K.json`` lineage manifests; returns the
    aggregate metrics dict. With ``resume=True``, shards whose manifest
    already exists are skipped (checkpoint resume after a failure).
    """
    from concurrent.futures import ThreadPoolExecutor

    # function-level: the streaming package imports this module
    from ..streaming.fsio import fs_delete, fs_list, fs_read_json, fs_write_json

    conv = converter
    if conv is None:
        from ..sources.synthetic import pipeline_converter

        conv = pipeline_converter()
    bc = spark.sparkContext.broadcast(conv)

    manifest_dir = f"{out_dir}/_manifests"
    # each shard manifest is read once, for the guard and the resume
    manifests = {
        name: fs_read_json(spark, f"{manifest_dir}/{name}")
        for name in fs_list(spark, manifest_dir, "shard-*.json")
    }

    # geometry guard: a shard manifest produced under a different
    # n_shards describes a different hash slice — trusting it would
    # silently mix slices, and its stale shard=K outputs would still
    # be read by the directory-level merge phase. A geometry change
    # therefore invalidates ALL derived state (outputs + manifests),
    # not just the mismatched manifests.
    if any(m.get("n_shards") != n_shards for m in manifests.values()):
        for stale in ("triples", "_entities"):
            fs_delete(spark, f"{out_dir}/{stale}")
        for name in (*manifests, "merge.json"):
            fs_delete(spark, f"{manifest_dir}/{name}")
        manifests = {}

    metrics: list[dict] = []
    resumed = 0
    pending: list[int] = []
    for shard in range(n_shards):
        manifest = manifests.get(f"shard-{shard}.json")
        if resume and manifest is not None:
            metrics.append(manifest)
            resumed += 1
        else:
            pending.append(shard)

    if pending:
        staged = handoff(
            spark,
            lambda: repos.withColumn("_shard", _shard_col(n_shards)),
            f"{out_dir}/_staged",
            partition_by=("_shard",),
            stamp=(f"{manifest_dir}/staged.json", {"n_shards": n_shards}),
            resume=resume,
        )
        with ThreadPoolExecutor(max_workers=_SHARD_THREADS) as pool:
            futures = {
                shard: pool.submit(_run_shard, spark, staged, out_dir, bc, shard, n_shards)
                for shard in pending
            }
            # each shard persists its own manifest on success; one
            # failing shard therefore never discards finished ones
            for shard, future in futures.items():
                metrics.append(future.result())
    metrics.sort(key=lambda m: m["shard"])

    # merge phase: entity-scoped edges over the union of side outputs.
    # Recomputed whenever any shard ran this invocation; skipped only on
    # a fully-resumed run with an existing merge manifest.
    merge_manifest_path = f"{manifest_dir}/merge.json"
    merge_manifest = (
        fs_read_json(spark, merge_manifest_path) if resumed == n_shards else None
    )
    if merge_manifest is None:
        t0 = time.perf_counter()
        # the shards' side outputs overlap; build_entity_edges dedups
        entities = spark.read.schema(_ENTITIES_SCHEMA).parquet(f"{out_dir}/_entities")
        entity_edges = build_entity_edges(entities, bc)
        entity_edges, edges = observed(entity_edges, F.count(F.lit(1)).alias("triples"))
        entity_edges.write.mode("overwrite").parquet(f"{out_dir}/triples/shard=merge")
        merge_manifest = {
            "shard": "merge",
            "triples": edges()["triples"],
            "wall_sec": round(time.perf_counter() - t0, 3),
        }
        fs_write_json(spark, merge_manifest_path, merge_manifest)

    totals = {
        "shards": n_shards,
        "input_rows": sum(m["input_rows"] for m in metrics),
        "mentions": sum(m["mentions"] for m in metrics),
        "linked_mentions": sum(m["linked_mentions"] for m in metrics),
        "triples": sum(m["triples"] for m in metrics) + merge_manifest["triples"],
        "resumed_shards": resumed,
        "manifests": metrics,
        "merge": merge_manifest,
    }
    fs_write_json(spark, f"{manifest_dir}/_totals.json", totals)
    return totals
