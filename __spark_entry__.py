"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is a Spark-first implementation of an operator
from SURVEY.md §2 over the driver-provided parquet tables; each
``oracle_sql()`` entry is the equivalent DuckDB SQL. Shared input
derivations and oracle-SQL generators live in
:mod:`curies_spark.plans.demo` so the two sides cannot drift.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from curies_spark.functions import SparkConverter, kernels
from curies_spark.operators import triples as T
from curies_spark.operators.discovery import discover_records_df
from curies_spark.plans import demo
from curies_spark.plans.demo import (
    CURIE_EXPR,
    TRIPLE_OBJECT_EXPR,
    TRIPLE_PREDICATE_EXPR,
    TRIPLE_SUBJECT_EXPR,
    URI_EXPR,
    demo_converter,
    oracle_compress_case,
    oracle_expand_case,
    oracle_standardize_curie_case,
    oracle_standardize_prefix_case,
    oracle_standardize_uri_case,
)

_CONVERTER = demo_converter()
_LARGE_CONVERTER = demo.large_converter()
# weak-keyed by the session OBJECT: no stale entry can serve a new
# session (the id()-reuse hazard of an id-keyed dict), and a stopped,
# dereferenced session's broadcasts are not pinned for process lifetime
# (the leak a strong-keyed dict would add under multi-session benches)
_SPARK_CONVERTERS: "weakref.WeakKeyDictionary[SparkSession, dict[str, SparkConverter]]" = (
    weakref.WeakKeyDictionary()
)


#: per session, per sf dir: the temp dir that holds ``q_ann_index_topk``'s
#: index and the finalizer that removes it once the session is collected,
#: or at exit. The returned frame reads the index lazily, so the dir must
#: outlive the query; weak keys, as above, do not pin the session.
_ANN_INDEX_DIRS: (
    "weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[str, weakref.finalize]]]"
) = weakref.WeakKeyDictionary()


def _ann_index_dir(spark: SparkSession, sf_dir: str) -> str:
    per_session = _ANN_INDEX_DIRS.setdefault(spark, {})
    if sf_dir not in per_session:
        path = tempfile.mkdtemp(prefix="curies_spark_ann_qindex_")
        per_session[sf_dir] = (
            path,
            weakref.finalize(spark, shutil.rmtree, path, ignore_errors=True),
        )
    return per_session[sf_dir][0]


def _sc(spark: SparkSession, which: str = "demo") -> SparkConverter:
    per_session = _SPARK_CONVERTERS.setdefault(spark, {})
    if which not in per_session:
        conv = _CONVERTER if which == "demo" else _LARGE_CONVERTER
        per_session[which] = SparkConverter(spark, conv)
    return per_session[which]


def _t(
    spark: SparkSession, sf_dir: str, name: str, *, fanout: bool = False
) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return _fanout_scan(spark, df) if fanout else df


def _fanout_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Under-split input guard (optimization guide §2.5 "input skew …
    repartition immediately after the read", §6.1): the sf tables are ONE
    parquet file with ONE row group, so their scan runs as a single task
    and every downstream map stage inherits parallelism 1 no matter the
    core count. Fan out to the session's parallelism by hashing the
    leading key column (hash repartition skips round-robin's
    sort-before-repartition). Scale-adaptive: an input that already
    exposes >= defaultParallelism scan splits is left untouched, so this
    never adds an exchange on well-laid-out data.

    Applied per call site, only where the downstream per-row work
    outweighs one extra exchange (measured: this host pays ~2ms per
    shuffle file create, i.e. ~130ms per 64-reducer map task, so
    shuffle-light aggregations on small tables are NOT fanned out).

    Width is derived from the input size (~1 MiB of source bytes per
    partition, capped at the session's parallelism) rather than a fixed
    count: fanning a small table all the way to 32 partitions costs
    more in downstream shuffle-file creates than the extra threads
    return (width 8-16 measured within 10% of the optimum for every
    headline query on this host; 64-wide is strictly worse)."""
    target = spark.sparkContext.defaultParallelism
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    width = max(2, min(target, (size + (1 << 20) - 1) >> 20))
    if df.rdd.getNumPartitions() < width:
        df = df.repartition(width, F.col(df.columns[0]))
    return df


def _uris(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem", fanout=True).selectExpr(f"{URI_EXPR} AS uri")


def _curies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem", fanout=True).selectExpr(
        f"{CURIE_EXPR} AS curie"
    )


def _triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").selectExpr(
        f"{TRIPLE_SUBJECT_EXPR} AS subject",
        f"{TRIPLE_PREDICATE_EXPR} AS predicate",
        f"{TRIPLE_OBJECT_EXPR} AS object",
    )


_TRIPLES_SQL = (
    f"SELECT {TRIPLE_SUBJECT_EXPR} AS subject, {TRIPLE_PREDICATE_EXPR} AS predicate, "
    f"{TRIPLE_OBJECT_EXPR} AS object FROM orders"
)

_URI_TRIPLES_SQL = (
    f"SELECT {demo.URI_TRIPLE_SUBJECT_EXPR} AS subject, "
    f"{demo.URI_TRIPLE_PREDICATE_EXPR} AS predicate, "
    f"{demo.URI_TRIPLE_OBJECT_EXPR} AS object FROM orders"
)


def _uri_triples_parts_sql() -> str:
    """Every triple position as a URI stream, URI-shaped parts only —
    the oracle twin of operators.discovery.uris_from_triples."""
    return (
        f"WITH tri AS ({_URI_TRIPLES_SQL}), "
        "parts AS (SELECT subject AS uri FROM tri "
        "UNION ALL SELECT predicate FROM tri "
        "UNION ALL SELECT object FROM tri) "
        "SELECT uri FROM parts "
        "WHERE regexp_matches(uri, '^[A-Za-z][A-Za-z0-9+.\\-]*://')"
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compress + its passthrough variant as two columns of one query
    (the driver verifies at most 50 queries; merging variants keeps every
    operator oracle-checked)."""
    sc = _sc(spark)
    return _uris(spark, sf_dir).select(
        "uri",
        sc.compress("uri").alias("curie"),
        sc.compress("uri", passthrough=True).alias("curie_passthrough"),
    )


def q_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """expand + its passthrough variant, merged like q_compress."""
    sc = _sc(spark)
    return _curies(spark, sf_dir).select(
        "curie",
        sc.expand("curie").alias("uri"),
        sc.expand("curie", passthrough=True).alias("uri_passthrough"),
    )


def q_standardize_curie(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _sc(spark)
    return _curies(spark, sf_dir).select(
        "curie", sc.standardize_curie("curie").alias("std_curie")
    )


def q_standardize_uri(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _sc(spark)
    return _uris(spark, sf_dir).select(
        "uri", sc.standardize_uri("uri").alias("std_uri")
    )


def q_standardize_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _sc(spark)
    return (
        _curies(spark, sf_dir)
        .select(T.curie_prefix("curie").alias("prefix"))
        .select("prefix", sc.standardize_prefix("prefix").alias("std_prefix"))
    )


def q_parse_curie(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _sc(spark)
    parsed = sc.parse_curie("curie")
    return _curies(spark, sf_dir).select(
        "curie",
        parsed.getField("prefix").alias("prefix"),
        parsed.getField("identifier").alias("identifier"),
    )


def q_expand_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _sc(spark)
    return (
        _curies(spark, sf_dir)
        .select("curie", F.explode(sc.expand_all("curie")).alias("uri"))
    )


def _mixed_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The URI and CURIE derivations of every lineitem row from ONE scan
    (a 2-element explode) instead of a union of two full scans — the same
    multiset of values (the oracle compares sorted), at half the
    scan + fan-out cost; on a single-row-group input the serial scan is
    the floor, so halving it is the whole win."""
    return _t(spark, sf_dir, "lineitem", fanout=True).selectExpr(
        f"explode(array({URI_EXPR}, {CURIE_EXPR})) AS value"
    )


def q_compress_or_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """compress_or_standardize plus the is_uri/is_curie predicates over
    the same mixed corpus, merged into one oracle-checked query (driver
    50-query window)."""
    sc = _sc(spark)
    mixed = _mixed_values(spark, sf_dir)
    return mixed.select(
        "value",
        sc.compress_or_standardize("value").alias("curie"),
        sc.is_uri("value").alias("is_uri"),
        sc.is_curie("value").alias("is_curie"),
    )


def q_w3c(spark: SparkSession, sf_dir: str) -> DataFrame:
    values = _curies(spark, sf_dir).withColumnRenamed("curie", "value")
    return values.select(
        "value",
        kernels.is_w3c_curie_col("value").alias("w3c_curie"),
        kernels.is_w3c_prefix_col(T.curie_prefix("value")).alias("w3c_prefix"),
    )


def q_triple_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sconv = _sc(spark)
    # hashing requires fully-expandable triples (reference hash is over
    # strictly expanded URIs, triples/hash_utils.py:86-115)
    df = _t(spark, sf_dir, "orders", fanout=True).selectExpr(
        f"{demo.HASH_SUBJECT_EXPR} AS subject",
        f"{demo.HASH_PREDICATE_EXPR} AS predicate",
        f"{demo.HASH_OBJECT_EXPR} AS object",
    )
    return df.select(
        "subject",
        "predicate",
        "object",
        sconv.hash_triple("subject", "predicate", "object").alias("triple_hash"),
    )


def q_keep_prefixes_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.keep_prefixes_both(_triples(spark, sf_dir), {"p1", "p2"})


def q_exclude_same_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the derivation emits (p1, p1) strata, so this filter has real work
    return T.exclude_same_prefixes(_triples(spark, sf_dir))


def q_keep_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.keep_predicates(_triples(spark, sf_dir), "skos:exactMatch")


def q_many_to_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distinct=True collapses the triple stream before edge derivation
    # instead of deduplicating the (larger) survivor stream afterwards
    return T.get_prefix_stratified_many_to_many(_triples(spark, sf_dir), distinct=True)


def q_exclude_many_to_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the .distinct() dedups the KEPT stream — still required
    return T.exclude_prefix_stratified_many_to_many(_triples(spark, sf_dir)).distinct()


def q_reference_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward AND backward reference indexes, tagged by direction —
    both directions of ``get_reference_indexes`` in one oracle-checked
    query (driver 50-query window)."""
    t = _triples(spark, sf_dir)
    fwd = T.get_reference_index(t).select(
        F.lit("forward").alias("direction"),
        "reference",
        F.concat_ws("|", "references").alias("members"),
    )
    bwd = T.get_reference_index(t, backward=True).select(
        F.lit("backward").alias("direction"),
        "reference",
        F.concat_ws("|", "references").alias("members"),
    )
    return fwd.unionByName(bwd)


def q_unique_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.get_df_unique_prefixes(_curies(spark, sf_dir), "curie")


def q_discover(spark: SparkSession, sf_dir: str) -> DataFrame:
    return discover_records_df(_uris(spark, sf_dir), "uri", cutoff=2)


def _uri_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "orders").selectExpr(
        f"{demo.URI_TRIPLE_SUBJECT_EXPR} AS subject",
        f"{demo.URI_TRIPLE_PREDICATE_EXPR} AS predicate",
        f"{demo.URI_TRIPLE_OBJECT_EXPR} AS object",
    )


def q_discover_from_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed get_uris_from_rdf (reference discovery.py:109-135) →
    discovery: URIs harvested from every triple position, deduplicated,
    then the standard delimiter-priority prefix discovery."""
    from curies_spark.operators.discovery import discover_from_triples

    return discover_from_triples(_uri_triples(spark, sf_dir), cutoff=2)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on triples: distinct (s,p,o) with multiplicity."""
    return (
        _triples(spark, sf_dir)
        .groupBy("subject", "predicate", "object")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# training-data operator queries (dedup / similarity / text)
# ---------------------------------------------------------------------------


def _sql_over(spark: SparkSession, sf_dir: str, sql: str, tables: "list[str]") -> DataFrame:
    """Run a shared (Spark+DuckDB dialect) SQL derivation over sf tables."""
    for t in tables:
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(sql)


def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.dedup import exact_dup_groups
    from curies_spark.plans.demo_training import TRUNC_DOCS_SQL

    docs = _sql_over(spark, sf_dir, TRUNC_DOCS_SQL, ["documents"])
    return exact_dup_groups(docs).select(
        "content_hash", "n_docs", F.concat_ws(",", "doc_ids").alias("doc_ids")
    )


def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.dedup import minhash_signature
    from curies_spark.plans.demo_training import NEAR_DUP_DOCS_SQL

    docs = _sql_over(spark, sf_dir, NEAR_DUP_DOCS_SQL, ["documents"])
    return minhash_signature(docs)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.dedup import minhash_candidate_pairs
    from curies_spark.plans.demo_training import NEAR_DUP_DOCS_SQL

    docs = _sql_over(spark, sf_dir, NEAR_DUP_DOCS_SQL, ["documents"])
    return minhash_candidate_pairs(docs)


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.dedup import ngram_jaccard_pairs
    from curies_spark.plans.demo_training import NEAR_DUP_DOCS_SQL

    docs = _sql_over(spark, sf_dir, NEAR_DUP_DOCS_SQL, ["documents"])
    # the hot-shingle quadratic guard stays ON (this is the plan a
    # reader copies); the DuckDB oracle mirrors the same cap
    return ngram_jaccard_pairs(docs, threshold=0.5, max_shingle_df=100)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.text import doc_fingerprint_col
    from curies_spark.plans.demo_training import NEAR_DUP_DOCS_SQL

    docs = _sql_over(spark, sf_dir, NEAR_DUP_DOCS_SQL, ["documents"])
    return docs.select("doc_id", doc_fingerprint_col("text").alias("fingerprint"))


def q_lang_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.text import (
        language_id_col,
        quality_features,
        token_count_col,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_features(docs).select(
        "doc_id",
        language_id_col("text").alias("lang"),
        "q_chars",
        "q_tokens",
        "q_mean_token_len",
        "q_punct_ratio",
        "q_stopword_ratio",
        "q_distinct_ratio",
        token_count_col("text", method="bpe").alias("q_bpe_tokens"),
    )


def q_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures — Arrow-batched pandas-UDF path, with a full
    DuckDB value oracle (per-bit majority vote in SQL)."""
    from curies_spark.operators.dedup import simhash_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", simhash_col("text").alias("simhash"))


def _cosine_vs_query(e: "F.Column", q: "F.Column") -> "F.Column":
    """Cosine of each embedding against the (broadcast-joined) query
    vector — the BLAS pair kernel, NOT an interpreted zip_with/
    aggregate fold: on the brute-force full-corpus scan the HOF form
    pays ~3×dim interpreted lambda calls per row."""
    from curies_spark.operators.similarity import cosine_pair_col

    return cosine_pair_col(e, q, guard_zero=True)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Top-k by cosine: sort+limit compiles to TakeOrderedAndProject
    (per-partition heaps, no global shuffle/sort — THE scalable top-k),
    then the rank window runs on k rows only."""
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("_c"), "vec_id").limit(k)
    w = Window.orderBy(F.desc("_c"), F.col("vec_id"))
    return top.select(
        "vec_id",
        F.round("_c", 9).alias("cosine"),
        F.row_number().over(w).alias("rank"),
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    scored = emb.crossJoin(F.broadcast(q)).select(
        "vec_id", _cosine_vs_query(F.col("embedding"), F.col("qe")).alias("_c")
    )
    return _rank_topk(scored, 10)


def q_ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-index ANN over the QUANTIZED layout (round 5):
    build_ann_index writes the signature-partitioned codes + vectors
    tables once; the ranking scan reads ONLY the int8 codes of the
    buckets within hamming ≤ 1 of the query signature (partition
    pruning + ~4× fewer bytes per probed bucket — cosine is
    scale-invariant, so codes suffice); the driver-scale shortlist is
    then re-scored exactly against the float side. The exact rerank
    makes the answer identical to the float index's (asserted in
    tests/test_training_ops.py), so the float-path DuckDB oracle gates
    this query unchanged."""
    from pyspark.sql import Window

    from curies_spark.operators.similarity import build_ann_index, query_ann_index

    emb = _t(spark, sf_dir, "embeddings")
    index_path = os.path.join(_ann_index_dir(spark, sf_dir), "index")
    build_ann_index(emb, index_path, dim=64, n_planes=6, seed=7, quantize=True)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = query_ann_index(
        spark, index_path, qvec, k=10, multiprobe_bits=1, rerank=200
    )
    w = Window.orderBy(F.desc("cosine"), F.col("vec_id"))
    return top.select(
        "vec_id",
        F.round("cosine", 9).alias("cosine"),
        F.row_number().over(w).alias("rank"),
    )




def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline (stage → exact winners → band →
    signature verify → cluster → survivors) as one composition, over a
    corpus with manufactured exact AND near duplicates — the oracle
    covers the whole composition, not just the parts."""
    from curies_spark.plans.dedup_pipeline import dedup_components_frame
    from curies_spark.plans.demo_training import DEDUP_DOCS_SQL

    docs = _sql_over(spark, sf_dir, DEDUP_DOCS_SQL, ["documents"])
    return dedup_components_frame(docs)


def q_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mention detection + entity linking over synthetic doc content —
    the KG pipeline's hot path, oracle-checked."""
    from curies_spark.plans.pipeline import extract_mentions, link_mentions

    sc = _sc(spark)
    content = _t(spark, sf_dir, "documents", fanout=True).selectExpr(
        "doc_id", f"{demo.CONTENT_EXPR} AS content"
    )
    linked = link_mentions(extract_mentions(content), sc.broadcast)
    return (
        linked.filter(F.col("entity").isNotNull())
        .groupBy("entity")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# triple-filter / membership / skew / multimodal queries
# ---------------------------------------------------------------------------

#: deterministic reference set for membership filters (present in the
#: derived triple strata: subjects p1:0..39, objects p1/p2/p3)
_REF_SET = ["p1:5", "p1:6", "p2:7", "p1:21"]


def q_compress_trie_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression against the 200-record generated EPM — above
    NATIVE_COMPRESS_THRESHOLD, so this exercises the broadcast-trie
    Arrow-batched pandas UDF (the north star's hot path) with a full
    value oracle."""
    sc = _sc(spark, "large")
    uris = _t(spark, sf_dir, "lineitem", fanout=True).selectExpr(
        f"{demo.URI_LARGE_EXPR} AS uri"
    )
    return uris.select("uri", sc.compress("uri").alias("curie"))


def q_preprocess_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused preprocessing pipeline (preclean → rewrites → blocklist →
    parse → postprocess), the reference PreprocessingConverter.parse as
    one native column (reference preprocessing.py:199-263)."""
    rules = demo.demo_preprocessing_rules()
    values = _t(spark, sf_dir, "lineitem", fanout=True).selectExpr(
        f"{demo.PREPROC_VALUE_EXPR} AS value"
    )
    parsed = kernels.parse_preprocessed_df(values, "value", _CONVERTER, rules)
    return parsed.select(
        "value",
        F.col("parsed.prefix").alias("prefix"),
        F.col("parsed.identifier").alias("identifier"),
    )


def q_expand_or_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    sc = _sc(spark)
    mixed = _mixed_values(spark, sf_dir)
    return mixed.select("value", sc.expand_or_standardize("value").alias("uri"))


def q_filter_by_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.filter_df_by_prefixes(_curies(spark, sf_dir), "curie", ["CHEBI", "GO"])


def q_filter_by_curies(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _curies(spark, sf_dir)
    # DataFrame-valued set: the 10 smallest CURIEs never visit the
    # driver — filter_df_by_curies semi-joins against them directly
    smallest = df.select("curie").distinct().orderBy("curie").limit(10)
    return T.filter_df_by_curies(df, "curie", smallest)


def q_keep_prefixes_either(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.keep_prefixes_either(_triples(spark, sf_dir), {"p3"})


def q_exclude_object_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.exclude_object_prefixes(_triples(spark, sf_dir), {"p3"})


def q_keep_references_either(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.keep_references_either(_triples(spark, sf_dir), _REF_SET)


def q_exclude_references_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.exclude_references_both(_triples(spark, sf_dir), _REF_SET)


def q_exclude_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _triples(spark, sf_dir)
    exclusion = T.keep_predicates(t, "rdfs:seeAlso")
    return T.exclude_triples(t, exclusion).distinct()


def q_keep_triples_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    sconv = _sc(spark)
    df = _t(spark, sf_dir, "orders", fanout=True).selectExpr(
        f"{demo.HASH_SUBJECT_EXPR} AS subject",
        f"{demo.HASH_PREDICATE_EXPR} AS predicate",
        f"{demo.HASH_OBJECT_EXPR} AS object",
    )
    h = sconv.hash_triple("subject", "predicate", "object")
    # DataFrame-valued hash set: ~1/16 of all distinct triple hashes
    # stays distributed (semi-join on the recomputed hash) instead of
    # being collected to the driver to build an isin literal
    hashes = df.select(h.alias("h")).filter(F.col("h").startswith("0")).distinct()
    return T.keep_triples_by_hash(df, sconv.converter, hashes).distinct()


def q_salted_prefix_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.skew import salted_count_distinct

    parts = _curies(spark, sf_dir).select(
        T.curie_prefix("curie").alias("prefix"),
        F.substr(F.col("curie"), F.locate(":", F.col("curie")) + F.lit(1)).alias(
            "identifier"
        ),
    )
    return salted_count_distinct(parts, "prefix", "identifier")


def q_exact_dedup_keepmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.dedup import exact_dedup
    from curies_spark.plans.demo_training import TRUNC_DOCS_SQL

    docs = _sql_over(spark, sf_dir, TRUNC_DOCS_SQL, ["documents"])
    return exact_dedup(docs).select("doc_id")


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.text import quality_features, quality_score_col

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_features(docs).filter(quality_score_col()).select("doc_id")


def q_near_dup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(
        emb, threshold=0.15, n_planes=8, seed=7, dim=64
    )
    return pairs.select("id_a", "id_b", F.round("cosine", 9).alias("cosine"))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — banded blocking + exact hamming verify,
    with a full DuckDB oracle."""
    from curies_spark.operators.dedup import simhash_candidate_pairs, simhash_col
    from curies_spark.plans.demo_training import NEAR_DUP_DOCS_SQL

    docs = _sql_over(spark, sf_dir, NEAR_DUP_DOCS_SQL, ["documents"])
    signed = docs.select("doc_id", simhash_col("text").alias("simhash"))
    return simhash_candidate_pairs(signed)


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.plans.demo_training import MEDIA_SQL

    media = _sql_over(spark, sf_dir, MEDIA_SQL, ["documents"])
    # opaque payload only exists Spark-side; metadata queries must prune it
    return media.withColumn(
        "payload", F.encode(F.sha2(F.col("media_id").cast("string"), 256), "UTF-8")
    )


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.multimodal import media_metadata

    return media_metadata(_media(spark, sf_dir))


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from curies_spark.operators.multimodal import frame_sample

    return frame_sample(_media(spark, sf_dir), every_ms=1000)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction with the deterministic fake decoder
    — exercises the streaming Arrow batch path. The float features are
    quantized back to their source bytes (×255) so the DuckDB oracle can
    compare values exactly across engines."""
    from curies_spark.operators.multimodal import extract_features

    feats = extract_features(_media(spark, sf_dir))
    return feats.select(
        "media_id",
        F.concat_ws(
            ",",
            F.transform(
                F.col("feature"),
                lambda x: F.round(x * 255).cast("int").cast("string"),
            ),
        ).alias("feature_q"),
    )


# EXACTLY 50 entries: the driver's correctness gate verifies at most 50
# queries (insertion order), so variant operators ride as extra columns
# of one query (compress/expand passthrough, is_uri/is_curie,
# forward/backward reference index) — every operator stays oracle-checked.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "compress": q_compress,
    "expand": q_expand,
    "standardize_curie": q_standardize_curie,
    "standardize_uri": q_standardize_uri,
    "standardize_prefix": q_standardize_prefix,
    "parse_curie": q_parse_curie,
    "expand_all": q_expand_all,
    "compress_or_standardize": q_compress_or_standardize,
    "w3c_validation": q_w3c,
    "triple_hash": q_triple_hash,
    "keep_prefixes_both": q_keep_prefixes_both,
    "exclude_same_prefixes": q_exclude_same_prefixes,
    "keep_predicates": q_keep_predicates,
    "many_to_many": q_many_to_many,
    "exclude_many_to_many": q_exclude_many_to_many,
    "reference_index": q_reference_index,
    "unique_prefixes": q_unique_prefixes,
    "discover": q_discover,
    "discover_from_triples": q_discover_from_triples,
    "dedup_exact": q_dedup_exact,
    "dedup_exact_docs": q_dedup_exact_docs,
    "minhash_signature": q_minhash_signature,
    "minhash_pairs": q_minhash_pairs,
    "jaccard_pairs": q_jaccard_pairs,
    "fingerprint": q_fingerprint,
    "lang_quality": q_lang_quality,
    "simhash_docs": q_simhash_docs,
    "simhash_pairs": q_simhash_pairs,
    "ann_topk": q_ann_topk,
    # dedup_clusters (CC over the near-dup pair table alone) is
    # subsumed: dedup_survivors verifies the full (doc_id, component,
    # survives) map over a corpus with exact AND near duplicates
    "dedup_survivors": q_dedup_survivors,
    "ann_index_topk": q_ann_index_topk,
    "near_dup_embeddings": q_near_dup_embeddings,
    "mentions": q_mentions,
    "compress_trie_udf": q_compress_trie_udf,
    "preprocess_parse": q_preprocess_parse,
    "expand_or_standardize": q_expand_or_standardize,
    "filter_by_prefixes": q_filter_by_prefixes,
    "filter_by_curies": q_filter_by_curies,
    "keep_prefixes_either": q_keep_prefixes_either,
    "exclude_object_prefixes": q_exclude_object_prefixes,
    "keep_references_either": q_keep_references_either,
    "exclude_references_both": q_exclude_references_both,
    "exclude_triples": q_exclude_triples,
    "keep_triples_by_hash": q_keep_triples_by_hash,
    "salted_prefix_count": q_salted_prefix_count,
    "exact_dedup_keepmin": q_exact_dedup_keepmin,
    "quality_gate": q_quality_gate,
    "media_metadata": q_media_metadata,
    "frame_sample": q_frame_sample,
    "media_features": q_media_features,
}
assert len(QUERIES) == 50, "driver correctness gate verifies at most 50 queries"


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL)
# ---------------------------------------------------------------------------

_URIS_SQL = f"SELECT {URI_EXPR} AS uri FROM lineitem"
_CURIES_SQL = f"SELECT {CURIE_EXPR} AS curie FROM lineitem"
_MIXED_SQL = (
    f"SELECT uri AS value FROM ({_URIS_SQL}) "
    f"UNION ALL SELECT curie AS value FROM ({_CURIES_SQL})"
)

_NCNAME = "[A-Za-z_][A-Za-z0-9.\\-_]*"

_M2M_CTES = f"""
WITH t AS ({_TRIPLES_SQL}),
parts AS (
    SELECT subject, predicate, object,
           split_part(subject, ':', 1) AS sp,
           substr(subject, strpos(subject, ':') + 1) AS sid,
           split_part(object, ':', 1) AS op,
           substr(object, strpos(object, ':') + 1) AS oid
    FROM t
),
edges AS (SELECT DISTINCT sp, op, sid, oid FROM parts),
popular AS (
    SELECT sp, op, oid FROM edges GROUP BY sp, op, oid HAVING count(*) > 1
),
pedges AS (SELECT e.* FROM edges e JOIN popular USING (sp, op, oid)),
smany AS (
    SELECT sp, op, sid FROM pedges GROUP BY sp, op, sid HAVING count(*) > 1
),
surviving AS (SELECT pe.* FROM pedges pe JOIN smany USING (sp, op, sid)),
m2m AS (
    SELECT DISTINCT subject, predicate, object
    FROM parts JOIN surviving USING (sp, op, sid, oid)
)
"""


def _expand_all_oracle() -> str:
    conv = demo_converter()
    selects = []
    for record in conv.records:
        all_prefixes = ", ".join(f"'{p}'" for p in record._all_prefixes)
        for uri_prefix in (record.uri_prefix, *record.uri_prefix_synonyms):
            selects.append(
                "SELECT curie, concat('"
                + uri_prefix.replace("'", "''")
                + "', substr(curie, strpos(curie, ':') + 1)) AS uri "
                f"FROM ({_CURIES_SQL}) "
                f"WHERE strpos(curie, ':') > 0 AND split_part(curie, ':', 1) IN ({all_prefixes})"
            )
    return " UNION ALL ".join(selects)


def oracle_sql() -> dict[str, str]:
    compress = oracle_compress_case("uri")
    expand = oracle_expand_case("curie")
    return {
        "compress": (
            f"SELECT uri, {compress} AS curie, "
            f"{oracle_compress_case('uri', passthrough=True)} AS curie_passthrough "
            f"FROM ({_URIS_SQL})"
        ),
        "expand": (
            f"SELECT curie, {expand} AS uri, "
            f"{oracle_expand_case('curie', passthrough=True)} AS uri_passthrough "
            f"FROM ({_CURIES_SQL})"
        ),
        "standardize_curie": (
            f"SELECT curie, {oracle_standardize_curie_case('curie')} AS std_curie "
            f"FROM ({_CURIES_SQL})"
        ),
        "standardize_uri": (
            f"SELECT uri, {oracle_standardize_uri_case('uri')} AS std_uri "
            f"FROM ({_URIS_SQL})"
        ),
        "standardize_prefix": (
            "SELECT prefix, "
            + oracle_standardize_prefix_case("prefix")
            + " AS std_prefix FROM (SELECT split_part(curie, ':', 1) AS prefix "
            f"FROM ({_CURIES_SQL}))"
        ),
        "parse_curie": (
            "SELECT curie, "
            + oracle_standardize_prefix_case("split_part(curie, ':', 1)")
            + " AS prefix, CASE WHEN ("
            + oracle_standardize_prefix_case("split_part(curie, ':', 1)")
            + ") IS NOT NULL THEN substr(curie, strpos(curie, ':') + 1) END AS identifier "
            f"FROM ({_CURIES_SQL})"
        ),
        "expand_all": _expand_all_oracle(),
        "compress_or_standardize": (
            f"SELECT value, coalesce({oracle_compress_case('value')}, "
            f"{oracle_standardize_curie_case('value')}) AS curie, "
            f"({oracle_compress_case('value')}) IS NOT NULL AS is_uri, "
            f"({oracle_expand_case('value')}) IS NOT NULL AS is_curie "
            f"FROM ({_MIXED_SQL})"
        ),
        "w3c_validation": (
            "SELECT value, "
            "CASE WHEN value LIKE '%[%' OR value LIKE '%]%' THEN FALSE "
            "WHEN trim(value) = '' THEN FALSE "
            "WHEN strpos(value, ':') = 0 THEN TRUE "
            "WHEN split_part(value, ':', 1) = '' THEN TRUE "
            f"ELSE regexp_full_match(split_part(value, ':', 1), '{_NCNAME}') END AS w3c_curie, "
            f"regexp_full_match(CASE WHEN strpos(value, ':') > 0 THEN split_part(value, ':', 1) ELSE value END, '{_NCNAME}') AS w3c_prefix "
            f"FROM (SELECT curie AS value FROM ({_CURIES_SQL}))"
        ),
        "triple_hash": (
            f"SELECT subject, predicate, object, sha256(concat("
            f"{oracle_expand_case('subject')}, ' ', "
            f"{oracle_expand_case('predicate')}, ' ', "
            f"{oracle_expand_case('object')})) AS triple_hash FROM ("
            f"SELECT {demo.HASH_SUBJECT_EXPR} AS subject, "
            f"{demo.HASH_PREDICATE_EXPR} AS predicate, "
            f"{demo.HASH_OBJECT_EXPR} AS object FROM orders)"
        ),
        "keep_prefixes_both": (
            f"SELECT * FROM ({_TRIPLES_SQL}) "
            "WHERE split_part(subject, ':', 1) IN ('p1', 'p2') "
            "AND split_part(object, ':', 1) IN ('p1', 'p2')"
        ),
        "exclude_same_prefixes": (
            f"SELECT * FROM ({_TRIPLES_SQL}) "
            "WHERE split_part(subject, ':', 1) <> split_part(object, ':', 1)"
        ),
        "keep_predicates": (
            f"SELECT * FROM ({_TRIPLES_SQL}) WHERE predicate = 'skos:exactMatch'"
        ),
        "many_to_many": f"{_M2M_CTES} SELECT * FROM m2m",
        "exclude_many_to_many": (
            f"{_M2M_CTES} SELECT DISTINCT subject, predicate, object FROM t "
            "ANTI JOIN m2m USING (subject, predicate, object)"
        ),
        "reference_index": (
            f"WITH t AS ({_TRIPLES_SQL}) "
            "SELECT 'forward' AS direction, subject AS reference, "
            "string_agg(DISTINCT object, '|' ORDER BY object) AS members "
            "FROM t GROUP BY subject "
            "UNION ALL "
            "SELECT 'backward' AS direction, object AS reference, "
            "string_agg(DISTINCT subject, '|' ORDER BY subject) AS members "
            "FROM t GROUP BY object"
        ),
        "unique_prefixes": (
            f"SELECT DISTINCT split_part(curie, ':', 1) AS prefix FROM ({_CURIES_SQL})"
        ),
        "discover": demo.oracle_discover_sql(_URIS_SQL, cutoff=2),
        "discover_from_triples": demo.oracle_discover_sql(
            _uri_triples_parts_sql(), cutoff=2
        ),
        "dedup_exact": (
            f"SELECT subject, predicate, object, count(*) AS n "
            f"FROM ({_TRIPLES_SQL}) GROUP BY subject, predicate, object"
        ),
        **_filter_oracles(),
        **_training_oracles(),
    }


def _filter_oracles() -> dict[str, str]:
    from curies_spark.plans.demo_training import MEDIA_SQL

    refs = ", ".join(f"'{r}'" for r in _REF_SET)
    hash_triples_sql = (
        f"SELECT {demo.HASH_SUBJECT_EXPR} AS subject, "
        f"{demo.HASH_PREDICATE_EXPR} AS predicate, "
        f"{demo.HASH_OBJECT_EXPR} AS object FROM orders"
    )
    return {
        "compress_trie_udf": (
            "SELECT uri, "
            + oracle_compress_case("uri", converter=_LARGE_CONVERTER)
            + f" AS curie FROM (SELECT {demo.URI_LARGE_EXPR} AS uri FROM lineitem)"
        ),
        "preprocess_parse": demo.oracle_preprocess_parse_sql(
            f"SELECT {demo.PREPROC_VALUE_EXPR} AS value FROM lineitem"
        ),
        "expand_or_standardize": (
            f"SELECT value, coalesce({oracle_expand_case('value')}, "
            f"{oracle_standardize_uri_case('value')}) AS uri FROM ({_MIXED_SQL})"
        ),
        "filter_by_prefixes": (
            f"SELECT curie FROM ({_CURIES_SQL}) "
            "WHERE split_part(curie, ':', 1) IN ('CHEBI', 'GO')"
        ),
        "filter_by_curies": (
            f"SELECT curie FROM ({_CURIES_SQL}) WHERE curie IN ("
            f"SELECT DISTINCT curie FROM ({_CURIES_SQL}) ORDER BY curie LIMIT 10)"
        ),
        "keep_prefixes_either": (
            f"SELECT * FROM ({_TRIPLES_SQL}) "
            "WHERE split_part(subject, ':', 1) = 'p3' "
            "OR split_part(object, ':', 1) = 'p3'"
        ),
        "exclude_object_prefixes": (
            f"SELECT * FROM ({_TRIPLES_SQL}) "
            "WHERE split_part(object, ':', 1) <> 'p3'"
        ),
        "keep_references_either": (
            f"SELECT * FROM ({_TRIPLES_SQL}) "
            f"WHERE subject IN ({refs}) OR object IN ({refs})"
        ),
        "exclude_references_both": (
            f"SELECT * FROM ({_TRIPLES_SQL}) "
            f"WHERE subject NOT IN ({refs}) AND object NOT IN ({refs})"
        ),
        "exclude_triples": (
            f"WITH t AS ({_TRIPLES_SQL}), "
            "excl AS (SELECT * FROM t WHERE predicate = 'rdfs:seeAlso') "
            "SELECT DISTINCT subject, predicate, object FROM t "
            "ANTI JOIN excl USING (subject, predicate, object)"
        ),
        "keep_triples_by_hash": (
            f"WITH ht AS ({hash_triples_sql}), "
            "hashed AS (SELECT subject, predicate, object, sha256(concat("
            f"{oracle_expand_case('subject')}, ' ', "
            f"{oracle_expand_case('predicate')}, ' ', "
            f"{oracle_expand_case('object')})) AS h FROM ht) "
            "SELECT DISTINCT subject, predicate, object FROM hashed "
            "WHERE starts_with(h, '0')"
        ),
        "salted_prefix_count": (
            "SELECT split_part(curie, ':', 1) AS prefix, "
            "count(DISTINCT substr(curie, strpos(curie, ':') + 1)) AS n_distinct "
            f"FROM ({_CURIES_SQL}) GROUP BY split_part(curie, ':', 1)"
        ),
        "media_metadata": MEDIA_SQL,
        "frame_sample": (
            "SELECT media_id, unnest(generate_series(0, duration_ms, 1000)) "
            f"AS frame_ts FROM ({MEDIA_SQL}) WHERE kind = 'video'"
        ),
        "media_features": _dt().oracle_media_features_sql(),
    }


def _dt():
    from curies_spark.plans import demo_training

    return demo_training


def _training_oracles() -> dict[str, str]:
    from curies_spark.plans import demo_training as dt
    from curies_spark.plans.pipeline import MENTION_RE

    mention_re = MENTION_RE.replace("'", "''")
    content_cte = (
        f"WITH c AS (SELECT doc_id, {demo.CONTENT_EXPR} AS content FROM documents), "
        "m AS (SELECT doc_id, unnest(regexp_extract_all(content, "
        f"'{mention_re}')) AS mention FROM c)"
    )
    entity = (
        f"coalesce({oracle_compress_case('mention')}, "
        f"{oracle_standardize_curie_case('mention')})"
    )
    return {
        "dedup_exact_docs": (
            f"WITH docs AS ({dt.TRUNC_DOCS_SQL}) "
            "SELECT sha256(text) AS content_hash, count(*) AS n_docs, "
            "string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids "
            "FROM docs GROUP BY sha256(text) HAVING count(*) > 1"
        ),
        "exact_dedup_keepmin": dt.oracle_exact_dedup_sql(),
        "quality_gate": dt.oracle_quality_gate_sql(),
        "near_dup_embeddings": dt.oracle_near_dup_embeddings_sql(),
        "minhash_signature": dt.oracle_minhash_sql(),
        "minhash_pairs": dt.oracle_minhash_pairs_sql(),
        "jaccard_pairs": dt.oracle_jaccard_pairs_sql(max_shingle_df=100),
        "fingerprint": dt.oracle_fingerprint_sql(),
        "lang_quality": dt.oracle_lang_quality_sql(),
        "simhash_docs": dt.oracle_simhash_sql(),
        "simhash_pairs": dt.oracle_simhash_pairs_sql(),
        "ann_topk": dt.oracle_ann_topk_sql(),
        "dedup_survivors": dt.oracle_dedup_survivors_sql(),
        # the persisted index probes the same (planes, hamming ≤ 1)
        # candidate set as the on-the-fly LSH — identical answer
        "ann_index_topk": dt.oracle_ann_lsh_topk_sql(),
        "mentions": (
            f"{content_cte} SELECT entity, count(*) AS n FROM ("
            f"SELECT {entity} AS entity FROM m) WHERE entity IS NOT NULL "
            "GROUP BY entity"
        ),
    }


# ---------------------------------------------------------------------------
# flagship entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: compress the URI corpus at sf0.001 and aggregate per
    canonical prefix — exercises broadcast, longest-prefix matching, and
    partial aggregation end to end."""
    sf_dir = "/root/testdata/sf0.001"
    sc = _sc(spark)
    return (
        _uris(spark, sf_dir)
        .select(sc.compress("uri", passthrough=True).alias("curie"))
        .groupBy(T.curie_prefix("curie").alias("prefix"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("prefix")
    )
