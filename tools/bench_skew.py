"""Skew evidence: salted vs naive per-key distinct count on a Zipfian key.

The north rule calls out Zipfian prefix skew (obo/pubmed dominate).
This bench builds a corpus where ONE key owns 90% of rows and compares:

- naive  `groupBy(key).agg(countDistinct(value))` — the hot key's whole
  value set converges on one reducer;
- salted `operators.skew.salted_count_distinct` — stage 1 keys on
  (key, hash(value) % n_salt) so the hot key spans n_salt reducers.

Prints one JSON line with both times and the speedup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000_000

    from pyspark.sql import functions as F

    import bench

    spark = bench._cluster_session(4, 2)

    from curies_spark.operators.skew import salted_count_distinct

    # 90% of rows carry the hot prefix; values mostly distinct
    df = spark.range(0, rows, 1, 32).select(
        F.when(F.col("id") % 10 < 9, F.lit("obo"))
        .otherwise(F.concat(F.lit("p"), (F.col("id") % 7).cast("string")))
        .alias("prefix"),
        F.concat(F.lit("id"), (F.col("id") % (rows // 2)).cast("string")).alias(
            "identifier"
        ),
    )

    def best(d, reps=3):
        d.write.mode("overwrite").format("noop").save()
        b = 1e9
        for _ in range(reps):
            t0 = time.perf_counter()
            d.write.mode("overwrite").format("noop").save()
            b = min(b, time.perf_counter() - t0)
        return b

    # (1) countDistinct: Spark's distinct-aggregate expansion already
    # keys the partial aggregation on (key, value), so the "naive" form
    # is skew-resistant out of the box — expect parity, not speedup.
    naive_cd = df.groupBy("prefix").agg(
        F.countDistinct("identifier").alias("n_distinct")
    )
    salted_cd = salted_count_distinct(df, "prefix", "identifier")
    t_naive_cd = best(naive_cd)
    t_salted_cd = best(salted_cd)
    a = {r["prefix"]: r["n_distinct"] for r in naive_cd.collect()}
    b = {r["prefix"]: r["n_distinct"] for r in salted_cd.collect()}
    assert a == b, "salted result must equal naive"

    # (2) repartition-by-hot-key before heavy per-partition work — the
    # shape Spark does NOT fix: one partition gets 90% of rows and one
    # task runs ~9x longer than the rest. Salting spreads the hot key.
    from curies_spark.operators.skew import salted_repartition

    heavy = F.sum(F.length(F.sha2(F.concat("prefix", "identifier"), 256)))
    naive_rp = df.repartition(16, "prefix").select(heavy.alias("s"))
    salted_rp = salted_repartition(df, "prefix", 16).select(heavy.alias("s"))
    t_naive_rp = best(naive_rp)
    t_salted_rp = best(salted_rp)

    spark.stop()
    print(
        json.dumps(
            {
                "metric": "skew_handling",
                "rows": rows,
                "hot_key_share": 0.9,
                "count_distinct": {
                    "naive_sec": round(t_naive_cd, 2),
                    "salted_sec": round(t_salted_cd, 2),
                    "note": "parity expected: Spark expands distinct aggs on (key, value) already",
                },
                "repartition_then_compute": {
                    "hot_partition_sec": round(t_naive_rp, 2),
                    "salted_sec": round(t_salted_rp, 2),
                    "speedup": round(t_naive_rp / t_salted_rp, 2),
                },
                "results_equal": True,
            }
        )
    )


if __name__ == "__main__":
    main()
