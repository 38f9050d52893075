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
3. **LSH candidates** — operators/dedup.py ``band_pairs`` over the
   staged signatures (the same operator ``minhash_candidate_pairs``
   runs over freshly computed ones, so signatures are not
   recomputed): signature families collapse to their min-id canon,
   then canons band-join. Never all-pairs.
4. **Verify** — estimated Jaccard from signature agreement (the
   fraction of the N_PERM minhash values two documents share — the
   standard unbiased LSH estimator). Pure column arithmetic over the
   candidate pairs; the text column is untouched. Pairs below
   ``min_est_jaccard`` are dropped.
5. **Cluster** — connected components over surviving pairs
   (min-label propagation, lineage cut per round).
6. **Survivors** — every exact winner except the cluster losers
   (operators/dedup.py ``drop_cluster_losers``: components are
   labelled with their min doc_id, so each cluster keeps exactly that
   one and untouched documents pass); exact duplicates collapse
   to their group winner first, so a near-dup cluster of exact
   duplicates costs one component node, not one per copy.

Outputs under ``out_dir``: ``staged/`` (hash+signature+quality),
``pairs/`` (verified near-dup pairs with their estimate),
``clusters/`` (doc_id → component), ``survivors/`` (the deduped
doc_id set), and ``manifest.json`` with per-stage counts, observed
(plans/pipeline.py ``observed``) on frames the job consumes anyway:
staged docs and exact groups on the winners aggregate (narrow staged
columns, never the text), candidates and verified pairs on the pairs
write, clustered docs and survivors on their own writes. The staged
write is the only pass over the text, a ``handoff`` stamped
``staged.json`` with the recipe the signatures depend on,
``{k, text, id_col}``: a rerun with the same recipe resumes after it.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import (
    band_keys,
    band_pairs,
    connected_components,
    drop_cluster_losers,
    estimated_jaccard_col,
    minhash_signature_col,
    verify_pairs,
)
from ..operators.text import quality_features, quality_score_col
from .pipeline import handoff, observed

__all__ = [
    "band_keys",
    "band_pairs",
    "dedup_components_frame",
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
    from ..streaming.fsio import fs_write_json

    t0 = time.perf_counter()

    staged = handoff(
        spark,
        lambda: stage_documents(docs, text=text, id_col=id_col, k=k),
        f"{out_dir}/staged",
        stamp=(f"{out_dir}/staged.json", {"k": k, "text": text, "id_col": id_col}),
        resume=resume,
    )

    rows = F.count(F.lit(1)).alias("n")
    # exact dedup first: one winner per content hash; near-dup stages
    # then operate on exact-group winners only. Persisted: the semi-join
    # feeds the band join, both verify sides and the survivors write —
    # unpersisted, the aggregate would run once per consumer
    groups, groups_n = observed(
        staged.groupBy("content_hash").agg(
            F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("_n")
        ),
        rows,
        F.coalesce(F.sum("_n"), F.lit(0)).alias("docs"),
        F.count_if(F.col("_n") > 1).alias("dups"),
    )
    winners = groups.select(id_col).persist()
    try:
        staged_winners = staged.join(winners, on=id_col, how="left_semi")
        candidates, candidates_n = observed(band_pairs(staged_winners, id_col=id_col), rows)
        # candidate ids are winners only, so the smaller winners slice is
        # the right signature side for the verify joins
        pairs, pairs_n = observed(
            verify_pairs(
                candidates, staged_winners, id_col=id_col, min_est_jaccard=min_est_jaccard
            ),
            rows,
        )
        clusters, clusters_n = observed(
            connected_components(handoff(spark, lambda: pairs, f"{out_dir}/pairs")), rows
        )
        survivors, survivors_n = observed(
            drop_cluster_losers(
                staged_winners.select(id_col),
                handoff(spark, lambda: clusters, f"{out_dir}/clusters"),
                id_col=id_col,
            ),
            rows,
        )
        survivors.write.mode("overwrite").parquet(f"{out_dir}/survivors")
    finally:
        winners.unpersist()

    exact = groups_n()
    manifest = {
        "input_docs": exact["docs"],
        "staged_docs": exact["docs"],
        "exact_dup_groups_gt1": exact["dups"],
        "exact_winners": exact["n"],
        "candidate_pairs": candidates_n()["n"],
        "verified_pairs": pairs_n()["n"],
        "clustered_docs": clusters_n()["n"],
        "survivors": survivors_n()["n"],
        "min_est_jaccard": min_est_jaccard,
        "k": k,
        "wall_sec": round(time.perf_counter() - t0, 2),
    }
    fs_write_json(spark, f"{out_dir}/manifest.json", manifest)
    return manifest
