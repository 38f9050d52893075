"""Streaming near-duplicate detection over a continuously-arriving
document corpus.

The reference is batch-only; this extends the engine's streaming
surface (streaming/ingest.py) to training-data curation. It exists
because round 3 made the MinHash signature a STATELESS map-only kernel
(operators/dedup.py ``minhash_signature_col`` — no Exchange): a
stateless column expression lifts to Structured Streaming unchanged,
so each micro-batch stages its documents (hash + signature) with one
pass and zero state store.

Cross-batch near-dup pairing runs in ``foreachBatch`` and is
**batch-proportional by construction**:

- Only the BATCH is banded and self-joined; the accumulated signature
  store is banded map-side and equi-joined against the (broadcast)
  batch bands — a (store, store) pair is never generated, because
  every such pair was already emitted by the batch that introduced its
  later member. Per-batch join output is O(batch × collisions), not
  O(store²).
- Signature-identical documents collapse to ONE store row: a batch doc
  whose full signature already exists in the store emits one pair to
  the store holder and never enters the store or the band join
  (identical signatures ⇒ identical band keys, so its future
  collisions are exactly the holder's). This bounds every
  signature-family — including exact-duplicate families, the common
  case — at one store row, killing the O(family²) band blow-up.
- The store carries only ``(doc_id, mh, content_hash)`` — signatures,
  never text; its growth rate is the corpus's unique-SIGNATURE rate.
- Per-batch store partitions are periodically compacted
  (``compact_every``) so the read-side directory listing stays flat
  instead of growing with batch count.

Writes are batch-id-scoped with overwrite, so a replayed batch after a
crash rewrites its own output instead of duplicating it. The store
read is scoped to partitions written by STRICTLY EARLIER batches — a
replayed batch that crashed after its store write but before the
checkpoint commit must not see its own partition as prior state (it
would exact-match itself, write an empty store partition, and
permanently lose its signatures).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.dedup import (
    band_join,
    band_keys,
    collapse_signature_families,
    connected_components,
    drop_cluster_losers,
    verify_pairs,
)
from ..plans.dedup_pipeline import stage_documents as _stage
from .fsio import fs_delete, fs_exists, fs_read_json, fs_write_json, partition_ids

__all__ = [
    "DOC_SCHEMA",
    "read_document_stream",
    "read_stream_components",
    "read_stream_pairs",
    "start_dedup_stream",
    "stream_stage_documents",
    "streamed_survivors",
]

#: schema of the streamed documents table
DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), True),
    ]
)

_STORE_COLS = ("doc_id", "mh", "content_hash")


def _signature_format(k: int) -> dict:
    """The exact signature recipe this engine version computes, as a
    comparable dict: tokenizer whitespace set, shingle k, permutation
    constants, band geometry. Any change to any of these silently
    changes MinHash signatures — a resumed stream would then
    under-pair against its pre-change store."""
    import hashlib

    from ..operators.dedup import _R, BAND_SIZE, N_PERM
    from ..operators.text import WS_CHARS

    return {
        "ws_sha": hashlib.sha256(WS_CHARS.encode("utf-8")).hexdigest()[:16],
        "k": k,
        "n_perm": N_PERM,
        "band_size": BAND_SIZE,
        "perm_sha": hashlib.sha256(
            ",".join(map(str, _R)).encode("utf-8")
        ).hexdigest()[:16],
    }


def _check_signature_format(spark: SparkSession, out_dir: str, *, k: int) -> None:
    """Fail-loud guard for the store's signature compatibility: a store
    written under a DIFFERENT tokenizer class / shingle k / permutation
    set holds signatures this code can never match, so a resumed stream
    would silently miss near-duplicates across the upgrade boundary
    (the round-5 ``\\s`` → WS_CHARS change was exactly such a break).
    Fresh stores get a ``_signature.json`` stamp; resumes compare it
    (a torn stamp gets fsio's guided rebuild error)."""
    marker = f"{out_dir}/_signature.json"
    fmt = _signature_format(k)
    recorded = fs_read_json(spark, marker)
    if recorded is not None:
        if recorded != fmt:
            raise RuntimeError(
                "streaming dedup store at "
                f"{out_dir!r} was written with signature format {recorded}, "
                f"but this engine computes {fmt}; resuming would silently "
                "miss near-duplicates across the format boundary. Rebuild "
                "the store (or run with a fresh out_dir)."
            )
        return
    if fs_exists(spark, f"{out_dir}/store"):
        raise RuntimeError(
            f"streaming dedup store at {out_dir!r} predates signature-format "
            "stamping — its tokenizer/permutation recipe is unknown, so a "
            "resume could silently under-pair. Rebuild the store (or stamp "
            f"it with fsio.fs_write_json(spark, {marker!r}, {fmt!r}) after "
            "verifying it was written by this engine version)."
        )
    fs_write_json(spark, marker, fmt)


def read_document_stream(
    spark: SparkSession,
    source_dir: str,
    *,
    max_files_per_trigger: "int | None" = None,
) -> DataFrame:
    """File-source stream of documents parquet landing in a directory."""
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def stream_stage_documents(docs: DataFrame, *, k: int = 3) -> DataFrame:
    """The staging pass on a stream — identical plan to the batch
    pipeline's :func:`~curies_spark.plans.dedup_pipeline.stage_documents`
    (stateless map-only, so it is valid on a streaming DataFrame)."""
    return _stage(docs, k=k)


def _store_parts(
    spark: SparkSession, root: str, before_batch: "int | None"
) -> "list[str]":
    """Committed partition dirs forming the state BEFORE ``before_batch``.

    ``{root}/compact=M/`` holds the folded union of all batches < M;
    ``{root}/batch=N/`` holds batch N's rows. The newest applicable
    compact (M ≤ before_batch) replaces every batch dir it covers —
    stale batch/compact dirs a crashed compaction left behind are
    simply ignored (and lazily deleted on the next compaction), so
    every step is idempotent under replay. ``before_batch=None`` reads
    everything (for post-hoc analysis like :func:`streamed_survivors`).

    Shared by the signature store AND the pairs table (both are
    batch-partitioned append-only fact sets with the identical
    superseded-dir-ignoring read rule). Listing goes through the Hadoop
    FileSystem API (:mod:`.fsio`), so the state can live wherever the
    corpus lives — local path, ``file://``, ``hdfs://``, ``s3a://``."""
    compacts = [
        n
        for n in partition_ids(spark, root, "compact")
        if before_batch is None or n <= before_batch
    ]
    base = max(compacts) if compacts else 0
    dirs = [f"{root}/compact={base}"] if compacts else []
    dirs += [
        f"{root}/batch={n}"
        for n in partition_ids(spark, root, "batch")
        if n >= base and (before_batch is None or n < before_batch)
    ]
    return dirs


def _read_store(
    spark: SparkSession, root: str, before_batch: "int | None"
) -> "DataFrame | None":
    dirs = _store_parts(spark, root, before_batch)
    return spark.read.parquet(*dirs) if dirs else None


def _compact_store(
    spark: SparkSession,
    root: str,
    batch_id: int,
    compact_every: int,
    fold=None,
) -> None:
    """Fold the partitions for batches < ``batch_id`` into one
    ``compact={batch_id}`` directory when enough per-batch dirs have
    accumulated — the read side then lists O(compact_every) dirs
    forever instead of one per historical batch.

    Runs BEFORE the batch's own writes, so a crash anywhere leaves a
    state the replay handles: compact written but olds not yet deleted
    → the olds are ignored (base wins) and deleted next time; crash
    before the compact write → nothing changed. Deletion sweeps
    UNcommitted leftovers too (``committed=False``), so a dir a crashed
    write half-filled is eventually removed, not just ignored.

    ``fold`` (optional) reduces the unioned rows before writing —
    the component-label table folds duplicate per-node rows to their
    min (the resolved label), shrinking the compact instead of merely
    concatenating history."""
    parts = _store_parts(spark, root, batch_id)
    n_batch_dirs = sum("/batch=" in p for p in parts)
    if n_batch_dirs < compact_every:
        return
    target = f"{root}/compact={batch_id}"
    if target in parts:  # replay after a completed compaction
        return
    unioned = spark.read.parquet(*parts)
    if fold is not None:
        unioned = fold(unioned)
    unioned.write.mode("overwrite").parquet(target)
    # everything the new compact covers is now dead weight; removal is
    # safe because _store_parts already ignores superseded dirs
    for prefix in ("batch", "compact"):
        for n in partition_ids(spark, root, prefix, committed=False):
            if n < batch_id:
                fs_delete(spark, f"{root}/{prefix}={n}")


#: novel docs per batch above which the batch side is no longer
#: broadcast into the store join (4 band rows/doc ≈ 50 B each → ~100 MB
#: at the cap). A cold-start backfill with no trigger cap can deliver
#: the whole corpus as batch 0 — force-broadcasting that would blow the
#: driver / Spark's broadcast limit, so past the cap the join degrades
#: to a shuffle (correct, heavier) instead of failing.
BROADCAST_NOVEL_CAP = 500_000


def _near_pairs(
    novel: DataFrame,
    store: "DataFrame | None",
    *,
    min_est_jaccard: float,
    n_novel: "int | None" = None,
) -> DataFrame:
    """Near-dup pairs: batch-banded self-join plus batch-vs-store band
    join, signature-estimate verified. The store side is never joined
    against itself — its pairs were emitted by earlier batches — and
    the batch side is broadcast (when under ``BROADCAST_NOVEL_CAP``),
    so the store is SCANNED once per batch but never shuffled."""
    batch_banded = band_keys(novel).localCheckpoint(eager=False)
    pairs = band_join(batch_banded)
    sig = novel.select("doc_id", "mh")
    if store is not None:
        store_banded = band_keys(store).alias("s")
        b = batch_banded.alias("b")
        if n_novel is None or n_novel <= BROADCAST_NOVEL_CAP:
            b = F.broadcast(b)
        cross = (
            store_banded.join(
                b,
                on=[
                    F.col("s.band") == F.col("b.band"),
                    F.col("s.key") == F.col("b.key"),
                ],
            )
            .select(
                F.least("s.doc_id", "b.doc_id").alias("id_a"),
                F.greatest("s.doc_id", "b.doc_id").alias("id_b"),
            )
            .distinct()
        )
        pairs = pairs.unionByName(cross)
        sig = sig.unionByName(store.select("doc_id", "mh"))
    return verify_pairs(
        pairs.filter(F.col("id_a") != F.col("id_b")),
        sig,
        min_est_jaccard=min_est_jaccard,
    )


def _pair_batch(
    staged_batch: DataFrame,
    store: "DataFrame | None",
    *,
    min_est_jaccard: float,
) -> "tuple[DataFrame, DataFrame]":
    """Returns (pairs, novel): the batch's duplicate pairs and the
    signature-novel staged rows to append to the store.

    Signature families collapse BEFORE the band join, exactly as in the
    batch operators
    (:func:`~curies_spark.operators.dedup.collapse_signature_families`):
    each batch member emits ONE star pair (est_jaccard = 1.0: full
    signature agreement) to the min batch id of its family. Streaming
    adds only the store-holder match: a batch canon whose signature is
    already stored pairs with the store's holder instead. Only
    signature-novel documents enter the band join and the store."""
    batch_star, winners = collapse_signature_families(staged_batch)
    batch_star = batch_star.withColumn("est_jaccard", F.lit(1.0))

    if store is not None:
        # winners whose signature already lives in the store: one pair
        # to the store's holder (≤ 1 row per signature by this very
        # invariant), and they do NOT re-enter store/banding. least/
        # greatest keeps the pairs table canonically ordered even when
        # a late arrival has a smaller id than the stored holder.
        store_sigs = store.select(
            F.col("mh"), F.col("doc_id").alias("_store_id")
        )
        matched = winners.join(store_sigs, on="mh")
        store_star = matched.select(
            F.least("_store_id", "doc_id").alias("id_a"),
            F.greatest("_store_id", "doc_id").alias("id_b"),
            F.lit(1.0).alias("est_jaccard"),
        )
        novel = winners.join(store_sigs, on="mh", how="left_anti")
        star_pairs = batch_star.unionByName(store_star)
    else:
        novel = winners
        star_pairs = batch_star

    novel = novel.localCheckpoint()
    near = _near_pairs(
        novel, store, min_est_jaccard=min_est_jaccard, n_novel=novel.count()
    )
    return star_pairs.unionByName(near), novel


def _fold_components(df: DataFrame) -> DataFrame:
    """Resolve a union of component-label delta rows: a node's component
    id only ever DECREASES (clusters merge toward the min id), so
    "latest assignment wins" is exactly "min wins" — an order-free,
    idempotent reduction that makes the label table safe to maintain as
    append-only batch deltas."""
    return df.groupBy("node").agg(F.min("component").alias("component"))


def _update_components(
    spark: SparkSession, comp_path: str, pairs: DataFrame, batch_id: int
) -> None:
    """Merge one batch's duplicate pairs into the persisted component
    labels, re-propagating ONLY the touched components.

    State: ``{comp_path}/batch=N`` delta partitions of ``(node,
    component)`` rows, resolved by :func:`_fold_components` (min-wins).
    Per batch:

    1. the batch pairs' endpoints fetch their current labels — a
       map-side scan of the delta partitions semi-joined against the
       broadcast endpoint set, then min-wins over that tiny slice;
    2. pairs contract to component ids; the contracted graph (≤ 2 ×
       batch-pair endpoints nodes, regardless of corpus size) closes
       with :func:`~curies_spark.operators.dedup.connected_components`;
    3. delta rows: the endpoints under their merged components, plus
       every PRIOR member of a losing component relabeled — again a
       map-side delta scan against the broadcast merge map. Stale rows
       can never resurrect: a superseded component id has no current
       members, so it cannot reappear among the losers.

    The write is batch-scoped overwrite and the read strictly-earlier
    (same replay contract as the store): a replayed batch recomputes the
    identical delta. Cost per batch is O(batch + touched members), not
    O(accumulated pairs) — the incremental path the on-demand closure in
    earlier rounds lacked."""
    prior = _read_store(spark, comp_path, batch_id)
    ends = (
        pairs.select(F.col("id_a").alias("node"))
        .unionByName(pairs.select(F.col("id_b").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    if prior is not None:
        end_labels = _fold_components(
            prior.join(F.broadcast(ends), on="node", how="left_semi")
        )
        cur = ends.join(end_labels, on="node", how="left").select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    else:
        cur = ends.withColumn("component", F.col("node"))
    cur = cur.localCheckpoint()
    la = cur.select(F.col("node").alias("id_a"), F.col("component").alias("_ca"))
    lb = cur.select(F.col("node").alias("id_b"), F.col("component").alias("_cb"))
    contracted = (
        pairs.select("id_a", "id_b")
        .join(F.broadcast(la), on="id_a")
        .join(F.broadcast(lb), on="id_b")
        .select(F.col("_ca").alias("id_a"), F.col("_cb").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    moves = (
        connected_components(contracted)
        .filter(F.col("node") != F.col("component"))
        .select(F.col("node").alias("_old"), F.col("component").alias("_new"))
        .localCheckpoint()
    )
    end_delta = cur.join(
        F.broadcast(moves), cur["component"] == moves["_old"], "left"
    ).select("node", F.coalesce("_new", "component").alias("component"))
    if prior is not None:
        member_delta = prior.join(
            F.broadcast(moves), prior["component"] == moves["_old"]
        ).select("node", F.col("_new").alias("component"))
        delta = end_delta.unionByName(member_delta)
    else:
        delta = end_delta
    _fold_components(delta).write.mode("overwrite").parquet(
        f"{comp_path}/batch={batch_id}"
    )


def read_stream_components(
    spark: SparkSession, out_dir: str
) -> "DataFrame | None":
    """The maintained ``(node, component)`` labels over everything the
    stream has processed (committed batches only), min-wins resolved.
    None when the stream has produced nothing yet, or ``out_dir`` was
    written before the stream maintained labels."""
    deltas = _read_store(spark, f"{out_dir}/components", None)
    return None if deltas is None else _fold_components(deltas)


def start_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    *,
    k: int = 3,
    min_est_jaccard: float = 0.5,
    available_now: bool = True,
    max_files_per_trigger: "int | None" = None,
    compact_every: int = 8,
) -> StreamingQuery:
    """Start (or resume) the streaming near-dup detector.

    Writes under ``out_dir``: ``store/batch=N/`` (the batch's novel
    signatures), ``pairs/batch=N/`` (the duplicate pairs batch N
    introduced) and ``components/batch=N/`` (the batch's delta to the
    ``(node, component)`` labels, :func:`_update_components`) — all
    three folded into ``compact=M/`` partitions every
    ``compact_every`` batches, so neither read side's directory listing
    grows with the batch count on a long-running stream (pairs are
    append-only facts, so the store's superseded-dir-ignoring read rule
    applies to them verbatim). Batch-id-scoped overwrite plus the
    strictly-earlier store read keep replays idempotent — a batch that
    crashed after its writes re-reads exactly the store state it saw
    the first time and rewrites identical output. All directory
    management goes through the Hadoop FileSystem API, so ``out_dir``
    may live on any Hadoop-supported filesystem (local, ``file://``,
    ``hdfs://``, ``s3a://``), not just a POSIX path. In a real
    deployment the store would be a bucketed table on the band-key hash
    so the batch-vs-store join prunes store buckets too; here the store
    scan is one map-side pass per batch (banded on the fly, joined
    against the broadcast batch — no store shuffle, no store×store
    pairs).
    """
    _check_signature_format(spark, out_dir, k=k)
    store_path = f"{out_dir}/store"
    pairs_path = f"{out_dir}/pairs"
    comp_path = f"{out_dir}/components"

    def process(batch: DataFrame, batch_id: int) -> None:
        if compact_every:
            _compact_store(spark, store_path, batch_id, compact_every)
            _compact_store(spark, pairs_path, batch_id, compact_every)
            _compact_store(
                spark, comp_path, batch_id, compact_every,
                fold=_fold_components,
            )
        store = _read_store(spark, store_path, batch_id)
        staged = _stage(batch, k=k).localCheckpoint()
        pairs, novel = _pair_batch(
            staged, store, min_est_jaccard=min_est_jaccard
        )
        pairs = pairs.localCheckpoint()
        # store FIRST: a crash between the writes then at worst leaves
        # batch N's novel docs visible as (unpaired) survivors until the
        # replay rewrites both — the reverse order would make a
        # concurrent/post-crash streamed_survivors() read a snapshot
        # where batch N's singleton documents exist in NEITHER table
        # (silently dropped from the survivor set). The replay itself is
        # unaffected either way: its store read is scoped to batches < N.
        novel.select(*_STORE_COLS).write.mode("overwrite").parquet(
            f"{store_path}/batch={batch_id}"
        )
        pairs.write.mode("overwrite").parquet(f"{pairs_path}/batch={batch_id}")
        _update_components(spark, comp_path, pairs, batch_id)

    writer = (
        read_document_stream(
            spark, source_dir, max_files_per_trigger=max_files_per_trigger
        )
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_stream_pairs(spark: SparkSession, out_dir: str) -> "DataFrame | None":
    """All duplicate pairs the stream has emitted so far (committed
    batches only; compacted pairs partitions replace the batch dirs
    they fold, exactly like the store read)."""
    return _read_store(spark, f"{out_dir}/pairs", None)


def streamed_survivors(
    spark: SparkSession, out_dir: str, *, incremental: bool = True
) -> DataFrame:
    """Survivor selection over everything the stream has processed:
    min-id representative per near-duplicate component, plus every
    untouched document — the same closure + survivor rule as the batch
    pipeline (plans/dedup_pipeline.py step 5-6). Returns a ``doc_id``
    DataFrame equal to the batch pipeline's survivors on the same
    corpus (asserted in tests/test_streaming.py).

    ``incremental=True`` (default) reads the losers off the component
    labels the stream maintains per batch, with NO closure recomputation
    over the accumulated pairs, so survivor queries stay cheap as pairs
    accumulate on a long-running stream. It falls back to the exact
    closure whenever the labels do not cover every pair endpoint.
    ``incremental=False`` always computes the full closure over the
    pairs table (the reference the tests compare against)."""
    store = _read_store(spark, f"{out_dir}/store", None)
    ids = store.select("doc_id") if store is not None else None
    comps = read_stream_components(spark, out_dir) if incremental else None

    if comps is not None:
        # coverage guard: the label table is only trustworthy if it
        # covers EVERY accumulated pair endpoint. A reader between batch
        # N's pairs write and its components write, or a store written
        # before labels existed, sees pairs the labels never saw —
        # silently using the partial table would let those duplicates
        # survive. One anti-join probe detects the gap and falls back to
        # the full closure.
        pairs0 = read_stream_pairs(spark, out_dir)
        if pairs0 is not None:
            endpoints = (
                pairs0.select(F.col("id_a").alias("node"))
                .unionByName(pairs0.select(F.col("id_b").alias("node")))
                .distinct()
            )
            uncovered = endpoints.join(
                comps.select("node"), on="node", how="left_anti"
            )
            if not uncovered.isEmpty():
                comps = None  # fall through to the exact closure below
        if comps is not None:
            node_ids = comps.select(F.col("node").alias("doc_id"))
            ids = node_ids if ids is None else ids.unionByName(node_ids)
            return drop_cluster_losers(ids.distinct(), comps)

    pairs = read_stream_pairs(spark, out_dir)
    if pairs is not None:
        pair_ids = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        )
        ids = pair_ids if ids is None else ids.unionByName(pair_ids)
    if ids is None:
        raise ValueError(f"no committed stream output under {out_dir!r}")
    all_ids = ids.distinct()
    if pairs is None:
        return all_ids
    return drop_cluster_losers(
        all_ids, connected_components(pairs.select("id_a", "id_b").distinct())
    )
