"""End-to-end corpus deduplication pipeline for training-data curation.

Composes the dedup operators into one resumable job over a documents
table (``doc_id, text, …``):

1. **Stage** — ONE pass over the corpus text computes everything any
   later stage needs: ``sha2`` content hash (exact dedup), the MinHash
   signature (near dedup — the shuffle-free batch kernel,
   operators/dedup.py ``minhash_signature_col``), token count and
   quality score (filter audit). Written once as parquet; every later
   stage reads the staged columns, NEVER the text again. At 100 TB the
   text is the corpus — reading it once is the difference between a
   feasible job and an infeasible one (same design as the KG
   pipeline's one-pass shard staging, plans/pipeline.py).
2. **Exact groups** — hash groupBy on the 256-bit content hash
   (uniform keys, no skew), min-id winner per group.
3. **LSH candidates** — band-key equi-join on the staged signatures
   (operators/dedup.py ``minhash_candidate_pairs``'s banding, applied
   to the staged table so signatures are not recomputed). Never
   all-pairs.
4. **Verify** — estimated Jaccard from signature agreement (the
   fraction of the N_PERM minhash values two documents share — the
   standard unbiased LSH estimator). Pure column arithmetic over the
   candidate pairs; the text column is untouched. Pairs below
   ``min_est_jaccard`` are dropped.
5. **Cluster** — connected components over surviving pairs
   (min-label propagation, lineage cut per round).
6. **Survivors** — one representative (min doc_id) per near-dup
   cluster plus every untouched document; exact duplicates collapse
   to their group winner first, so a near-dup cluster of exact
   duplicates costs one component node, not one per copy.

Outputs under ``out_dir``: ``staged/`` (hash+signature+quality),
``pairs/`` (verified near-dup pairs with their estimate),
``clusters/`` (doc_id → component), ``survivors/`` (the deduped
doc_id set), and ``manifest.json`` with per-stage counts. The staged
write is the only pass over the text; re-running with the same
``out_dir`` resumes after staging (manifest-gated, like the KG
pipeline's shard resume).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import (
    BAND_SIZE,
    N_PERM,
    connected_components,
    minhash_signature_col,
)
from ..operators.text import quality_features, quality_score_col
from .pipeline import _atomic_write

__all__ = [
    "band_keys",
    "band_pairs",
    "dedup_components_frame",
    "dedup_survivors_frame",
    "estimated_jaccard_col",
    "run_dedup_pipeline",
    "stage_documents",
    "verify_pairs",
]


def stage_documents(
    df: DataFrame, *, text: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """The single pass over the corpus text: content hash, MinHash
    signature, quality features + keep/drop gate — all map-only (the
    plan has no Exchange; asserted in tests)."""
    featured = quality_features(df.select(id_col, text), text=text)
    return featured.select(
        F.col(id_col),
        F.sha2(F.col(text), 256).alias("content_hash"),
        minhash_signature_col(F.col(text), k=k).alias("mh"),
        F.col("q_tokens").alias("n_tokens"),
        quality_score_col().alias("quality_keep"),
    )


def band_keys(
    df: DataFrame, *, id_col: str = "doc_id", sig: str = "mh"
) -> DataFrame:
    """Explode staged signatures into their LSH band keys:
    ``(id_col, band, key)`` with one row per (document, band). The
    shared banding layout for every band join (batch pipeline,
    streaming) — ONE definition so batch and stream can never disagree
    on which documents collide."""
    n_bands = N_PERM // BAND_SIZE
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.slice(F.col(sig), b * BAND_SIZE + 1, BAND_SIZE).alias("key"),
        )
        for b in range(n_bands)
    ]
    return df.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("bk")
    ).select(id_col, "bk.band", "bk.key")


def band_pairs(
    staged: DataFrame, *, id_col: str = "doc_id", sig: str = "mh"
) -> DataFrame:
    """LSH candidate pairs from staged signatures: documents agreeing
    on any (band, band-values) key; returns distinct (id_a, id_b),
    id_a < id_b — bucketed equi-join, never all-pairs.

    Documents with IDENTICAL full signatures collapse to their min-id
    canon before banding: an n-member family of signature-identical
    documents (near-identical contents — exact duplicates were already
    collapsed upstream, but e.g. n copies differing only in a rare
    shingle still share all 16 minima) would otherwise meet itself in
    every band and emit O(n²) pairs. Each member instead emits one
    star pair to the canon, and only canons enter the band join — the
    same linear-in-family-size shape the exact-duplicate collapse
    gives, one groupBy on the signature deeper. Candidate-set
    semantics are preserved up to connected components: star pairs
    keep the family connected, and any cross pair a member would have
    produced is produced by its canon (identical signature ⇒ identical
    band keys)."""
    sigs = staged.select(F.col(id_col), F.col(sig))
    canon = sigs.groupBy(sig).agg(F.min(id_col).alias("_canon"))
    # materialized once (lazily): three branches consume it (star pairs
    # + both sides of the band self-join) — without the cut each branch
    # would recompute the full-corpus canon aggregate+join
    with_canon = sigs.join(canon, on=sig).localCheckpoint(eager=False)
    star = with_canon.filter(F.col(id_col) != F.col("_canon")).select(
        F.col("_canon").alias("id_a"), F.col(id_col).alias("id_b")
    )
    reps = with_canon.filter(F.col(id_col) == F.col("_canon")).drop("_canon")

    banded = band_keys(reps, id_col=id_col, sig=sig)
    left, right = banded.alias("l"), banded.alias("r")
    cross = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.key") == F.col("r.key"),
                F.col(f"l.{id_col}") < F.col(f"r.{id_col}"),
            ],
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )
    # star pairs are already distinct (one row per non-canon member) and
    # disjoint from cross pairs (non-canon ids never enter the band join)
    return cross.unionByName(star)


def estimated_jaccard_col(sig_a, sig_b) -> "F.Column":
    """Unbiased LSH Jaccard estimate: the fraction of the N_PERM
    minhash values on which the two signatures agree.

    Unrolled to N_PERM static element comparisons — fully
    whole-stage-codegen'd JVM arithmetic. The ``zip_with``/``aggregate``
    form interprets its lambda per element (16 interpreted calls per
    candidate pair — the verify stage runs over every pair the band
    join emits, so at corpus scale this is a hot path)."""
    total = None
    for i in range(N_PERM):
        term = (sig_a[i] == sig_b[i]).cast("int")
        total = term if total is None else total + term
    return total / F.lit(N_PERM)


def verify_pairs(
    candidates: DataFrame,
    staged: DataFrame,
    *,
    id_col: str = "doc_id",
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Signature-estimate verification of candidate pairs: pure column
    arithmetic over the staged signatures — the text column is never
    touched. Pairs below ``min_est_jaccard`` are dropped."""
    sig = staged.select(F.col(id_col), F.col("mh"))
    return (
        candidates.join(
            sig.select(F.col(id_col).alias("id_a"), F.col("mh").alias("_ma")),
            on="id_a",
        )
        .join(
            sig.select(F.col(id_col).alias("id_b"), F.col("mh").alias("_mb")),
            on="id_b",
        )
        .withColumn("est_jaccard", estimated_jaccard_col(F.col("_ma"), F.col("_mb")))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
        .select("id_a", "id_b", "est_jaccard")
    )


def _survivors_frame(
    staged_winners: DataFrame, components: DataFrame, *, id_col: str = "doc_id"
) -> DataFrame:
    """Survivor selection: min-id representative per near-dup component
    plus every untouched exact winner."""
    cluster_winners = components.groupBy("component").agg(
        F.min("node").alias(id_col)
    )
    clustered_ids = components.select(F.col("node").alias(id_col))
    return (
        staged_winners.join(clustered_ids, on=id_col, how="left_anti")
        .select(id_col)
        .unionByName(cluster_winners.select(id_col))
    )


def dedup_components_frame(
    docs: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """The full dedup composition as ONE DataFrame (no writes): stage →
    exact winners → band candidates → signature verify → connected
    components, returned as ``(id_col, component, survives)`` for EVERY
    exact winner (unclustered winners are their own component; the
    survivor rule ``survives ⇔ id = component`` falls out because the
    component label IS the min member id). The oracle-gated twin of
    :func:`run_dedup_pipeline` (same stages, same helpers — the
    resumable job adds materialization and a manifest, nothing
    semantic); the DuckDB oracle is
    plans/demo_training.oracle_dedup_survivors_sql."""
    from ..operators.dedup import connected_components

    staged = stage_documents(docs, text=text, id_col=id_col, k=k)
    winners = staged.groupBy("content_hash").agg(F.min(id_col).alias(id_col))
    staged_winners = staged.join(
        winners.select(id_col), on=id_col, how="left_semi"
    ).localCheckpoint(eager=False)
    verified = verify_pairs(
        band_pairs(staged_winners, id_col=id_col),
        staged_winners,
        id_col=id_col,
        min_est_jaccard=min_est_jaccard,
    )
    components = connected_components(verified)
    return (
        staged_winners.select(id_col)
        .join(components, staged_winners[id_col] == components["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        )
        .withColumn("survives", F.col("component") == F.col(id_col))
    )


def dedup_survivors_frame(
    docs: DataFrame,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """The deduped ``id_col`` set of the full composition — the rows of
    :func:`dedup_components_frame` that survive."""
    return (
        dedup_components_frame(
            docs, text=text, id_col=id_col, k=k, min_est_jaccard=min_est_jaccard
        )
        .filter(F.col("survives"))
        .select(id_col)
    )


def run_dedup_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_est_jaccard: float = 0.5,
    resume: bool = True,
) -> "dict":
    """Run the full dedup pipeline; returns the manifest dict."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    t0 = time.perf_counter()

    staged_path = str(out / "staged")
    if not (resume and (out / "staged" / "_SUCCESS").exists()):
        stage_documents(docs, text=text, id_col=id_col, k=k).write.mode(
            "overwrite"
        ).parquet(staged_path)
    staged = spark.read.parquet(staged_path)

    # exact dedup first: one winner per content hash; near-dup stages
    # then operate on exact-group winners only. Persisted: the aggregate
    # feeds the dup-group count, the winner count, AND the semi-join —
    # unpersisted it would run three times (the same
    # recompute-per-consumer shape the candidate join had)
    winners = (
        staged.groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("_n"))
        .persist()
    )
    n_exact_winners = winners.count()
    n_exact_dups = winners.filter(F.col("_n") > 1).count()
    staged_winners = staged.join(
        winners.select(id_col), on=id_col, how="left_semi"
    )

    # persist the band self-join — the pipeline's most expensive stage —
    # so the verify join and the manifest's candidate count share ONE
    # computation instead of running the join twice (round-3 finding)
    candidates = band_pairs(staged_winners, id_col=id_col).persist()
    n_candidates = candidates.count()
    # candidate ids are winners only, so the smaller winners slice is
    # the right signature side for the verify joins
    verified = verify_pairs(
        candidates, staged_winners, id_col=id_col, min_est_jaccard=min_est_jaccard
    )
    pairs_path = str(out / "pairs")
    verified.write.mode("overwrite").parquet(pairs_path)
    candidates.unpersist()
    verified = spark.read.parquet(pairs_path)
    n_pairs = verified.count()

    components = connected_components(verified)
    clusters_path = str(out / "clusters")
    components.write.mode("overwrite").parquet(clusters_path)
    components = spark.read.parquet(clusters_path)
    n_clustered = components.count()

    survivors = _survivors_frame(staged_winners, components, id_col=id_col)
    survivors_path = str(out / "survivors")
    survivors.write.mode("overwrite").parquet(survivors_path)
    # staged_winners (via the winners semi-join) was consumed again by
    # the survivors write — only now is the aggregate free to go
    winners.unpersist()

    # counted on the narrow staged table: counting the raw corpus would
    # re-touch the text files (the staging pass must stay the ONLY read
    # of the text — bench_dedup_pipeline.py proves it); one count reused
    # for both manifest fields
    n_staged = staged.count()
    manifest = {
        "input_docs": n_staged,
        "staged_docs": n_staged,
        "exact_dup_groups_gt1": n_exact_dups,
        "exact_winners": n_exact_winners,
        "candidate_pairs": n_candidates,
        "verified_pairs": n_pairs,
        "clustered_docs": n_clustered,
        "survivors": spark.read.parquet(survivors_path).count(),
        "min_est_jaccard": min_est_jaccard,
        "k": k,
        "wall_sec": round(time.perf_counter() - t0, 2),
    }
    _atomic_write(out / "manifest.json", json.dumps(manifest, indent=1))
    return manifest
