"""Large-EPM (broadcast-trie pandas-UDF) compress throughput vs reference.

The demo EPM is small enough that compression compiles to a native
when-chain; real Bioregistry-scale maps (hundreds-thousands of records)
take the Arrow-batched trie-UDF path instead. This bench measures that
path on the 200-record generated EPM against the reference library's
single-core trie on identical URIs. Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.bench_reference import _load_reference  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")

    import bench

    spark = bench._build_spark(cpus)

    from curies_spark.functions import SparkConverter, kernels
    from curies_spark.plans.demo import URI_LARGE_EXPR, large_converter
    from curies_spark.sources.synthetic import generate_epm

    assert len(large_converter().reverse_prefix_map) > kernels.NATIVE_COMPRESS_THRESHOLD

    sc = SparkConverter(spark, large_converter())
    # repartition to the core count: the sf0.1 parquet is 3 files, which
    # would starve the measurement to 3 tasks — a real corpus at scale
    # has ≫ cores partitions via maxPartitionBytes, so this models the
    # deployed shape, not a tuning trick
    uris = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .selectExpr(f"{URI_LARGE_EXPR} AS uri")
        .repartition(int(cpus))
        .cache()
    )
    n = uris.count()
    out = uris.select(sc.compress("uri").alias("curie"))
    out.write.mode("overwrite").format("noop").save()  # warm
    best = 1e9
    for _ in range(3):
        t0 = time.perf_counter()
        out.write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    spark_ops = int(n / best)

    values = [r["uri"] for r in uris.collect()]
    spark.stop()

    try:
        reference = _load_reference()
    except ImportError:  # no reference checkout: report the engine alone
        ref_ops = None
    else:
        ref_conv = reference.Converter.from_extended_prefix_map(generate_epm(200))
        compress = ref_conv.compress
        ref_best = 1e9
        for _ in range(3):
            t0 = time.perf_counter()
            for u in values:
                compress(u)
            ref_best = min(ref_best, time.perf_counter() - t0)
        ref_ops = int(n / ref_best)

    print(
        json.dumps(
            {
                "metric": "large_epm_compress_ops_per_sec",
                "epm_records": 200,
                "rows": n,
                "engine_trie_udf_ops_per_sec": spark_ops,
                "engine_cpus": int(cpus),
                "reference_single_core_ops_per_sec": ref_ops,
                "speedup": round(spark_ops / ref_ops, 2) if ref_ops else None,
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
