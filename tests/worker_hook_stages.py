"""Run each Python stage of the package twice on ``local[1]``, then a
by-value probe UDF in the same Python worker; print ``{stage: {"patched",
"frozen", "tracked"}}`` as JSON: whether the worker is patched, how many
objects it holds frozen (``gc.get_freeze_count()``) and how many the
collector still tracks (``len(gc.get_objects())``).

``python tests/worker_hook_stages.py [stage ...]`` (all stages when none
is named). The probe is defined in ``__main__``, so cloudpickle ships it
by value and it imports nothing of the package: it sees the worker hook
only if the stage before it left the worker patched and frozen. The
stage runs twice so that what its first run imported has been frozen by
the second run's batches.

Python workers are pooled per environment, so each stage sets its own
entry in ``SparkContext.environment`` before building its UDFs: the
stage and its probe share one fresh worker, and no earlier stage can
have patched it.
"""

import json
import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from curies_spark.functions.spark_converter import SparkConverter  # noqa: E402
from curies_spark.operators import bloom, dedup, multimodal, similarity, text  # noqa: E402
from curies_spark.plans.demo import large_converter  # noqa: E402


def _uris(spark):
    conv = large_converter()
    uri_prefix = next(iter(conv.reverse_prefix_map))
    return spark.createDataFrame(
        [(uri_prefix + "123",), ("https://unregistered.example/x",)], "value string"
    )


def _texts(spark):
    return spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "over the lazy dog")],
        "doc_id long, text string",
    )


def _vectors(spark):
    return spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0]), (2, [0.5, -1.0, 0.0])], "vec_id long, embedding array<float>"
    )


def _large_epm(op):
    def run(spark):
        conv = SparkConverter(spark, large_converter())
        return _uris(spark).select(getattr(conv, op)("value")).collect()

    return run


def _text_col(build):
    return lambda spark: _texts(spark).select(build(F.col("text"))).collect()


def _vector_col(build):
    return lambda spark: _vectors(spark).select(build(F.col("embedding"))).collect()


def _bloom_build(spark):
    return bloom.build_bloom_filter(_texts(spark), "text", expected_items=10)


def _bloom_seen(spark):
    # an empty filter built on the driver: only the probe runs in a worker
    bf = bloom.BloomFilter(bitmap=bytes(8), m_bits=64, k=2, n_items=0)
    return _texts(spark).select(bloom.bloom_seen_col("text", bf)).collect()


def _multimodal(spark):
    media = spark.createDataFrame(
        [(1, "image", "image/png", 2, 2, None, b"\x00\x01")], multimodal.MEDIA_SCHEMA
    )
    return multimodal.extract_features(media).collect()


STAGES = {
    "compress": _large_epm("compress"),
    "standardize_uri": _large_epm("standardize_uri"),
    "compress_or_standardize": _large_epm("compress_or_standardize"),
    "minhash_signature_col": _text_col(dedup.minhash_signature_col),
    "shingles_arrow_col": _text_col(dedup.shingles_arrow_col),
    "simhash_col": _text_col(dedup.simhash_col),
    "doc_fingerprint_col": _text_col(text.doc_fingerprint_col),
    "build_bloom_filter": _bloom_build,
    "bloom_seen_col": _bloom_seen,
    "similarity_cosine": _vector_col(lambda v: similarity.cosine_similarity_col(v, [1.0, 0.0, 0.0])),
    "similarity_quantize": _vector_col(similarity.quantize_vector_col),
    "similarity_sign": _vector_col(
        lambda v: similarity.lsh_signature_col(v, similarity.hyperplanes(3, 4))
    ),
    "multimodal_map_in_pandas": _multimodal,
}


def _worker_state():
    import gc
    import zipimport

    return (
        hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__"),
        gc.get_freeze_count(),
        len(gc.get_objects()),
    )


def main(names):
    os.chdir(REPO)  # the Python workers import the package from their cwd
    spark = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    env = spark.sparkContext.environment
    result = {}
    for name in names:
        env["CURIES_SPARK_STAGE_POOL"] = name
        STAGES[name](spark)
        STAGES[name](spark)
        probe = F.udf(
            lambda _: _worker_state(), "struct<patched:boolean,frozen:long,tracked:long>"
        )
        result[name] = spark.range(1).select(probe("id").alias("s")).first()["s"].asDict()
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main(sys.argv[1:] or list(STAGES))
