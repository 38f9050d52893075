"""Connected-components scale check: near-dup-shaped pair graphs.

Synthesizes a deterministic pair table shaped like LSH candidate output
(many small dense clusters + a sprinkle of longer chains), runs
operators.dedup.connected_components at two sizes, and reports wall and
per-edge throughput — evidence the min-label propagation's
rounds-until-convergence stays flat (cluster diameter, not corpus size)
while cost per round scales with the shuffle. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CLUSTER = 5  # near-dup clusters are small and dense


def main() -> None:
    from pyspark.sql import functions as F

    import bench

    spark = bench._build_spark("8")
    from curies_spark.operators.dedup import connected_components

    results = {}
    for n_nodes in (1_000_000, 4_000_000, 10_000_000):
        nodes = spark.range(n_nodes)
        # dense small clusters: consecutive ids i, i+1 in the same
        # CLUSTER-sized block, plus block-min spokes (diameter 2);
        # every 10_000th block is chained to the next (diameter grows to
        # ~4-6 locally) so >1 round is genuinely required
        intra = nodes.filter((F.col("id") % CLUSTER) != CLUSTER - 1).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        spokes = nodes.filter((F.col("id") % CLUSTER) != 0).select(
            (F.col("id") - (F.col("id") % CLUSTER)).alias("id_a"),
            F.col("id").alias("id_b"),
        )
        chains = (
            nodes.filter((F.col("id") % (CLUSTER * 10_000)) == 0)
            .filter(F.col("id") + CLUSTER < n_nodes)
            .select(F.col("id").alias("id_a"), (F.col("id") + CLUSTER).alias("id_b"))
        )
        # materialize the synthesized pairs BEFORE timing so the window
        # measures the clustering operator, not edge generation
        pairs = intra.unionByName(spokes).unionByName(chains).cache()
        n_edges = pairs.count()

        t0 = time.perf_counter()
        comp = connected_components(pairs)
        n_components = comp.select("component").distinct().count()
        wall = time.perf_counter() - t0
        pairs.unpersist()
        results[f"n{n_nodes}"] = {
            "nodes": n_nodes,
            "edges": n_edges,
            "components": n_components,
            "wall_sec": round(wall, 2),
            "edges_per_sec": int(n_edges / wall),
        }

    # the adversarial shape the round-5 star fallback exists for: ONE
    # chain of 100k nodes (diameter 10^5 — label propagation would need
    # 10^5 rounds; auto-switch finishes in logarithmic star rounds)
    chain_n = 100_000
    chain = (
        spark.range(chain_n - 1)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        .cache()
    )
    chain.count()
    t0 = time.perf_counter()
    comp = connected_components(chain, max_iter=40, switch_after=4)
    n_comp = comp.select("component").distinct().count()
    chain_wall = time.perf_counter() - t0
    assert n_comp == 1, n_comp
    chain.unpersist()

    spark.stop()
    small, large, huge = (
        results["n1000000"], results["n4000000"], results["n10000000"]
    )
    print(
        json.dumps(
            {
                "metric": "connected_components_scale",
                **results,
                "wall_ratio_4x_edges": round(
                    large["wall_sec"] / small["wall_sec"], 2
                ),
                "wall_ratio_10x_edges": round(
                    huge["wall_sec"] / small["wall_sec"], 2
                ),
                "deep_chain_nodes": chain_n,
                "deep_chain_wall_sec": round(chain_wall, 2),
            }
        )
    )


if __name__ == "__main__":
    main()
