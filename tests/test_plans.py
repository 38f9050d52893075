"""Physical-plan regression sweep over the load-bearing ``queries()``
plans — the docs/PLANS.md audit table promoted to assertions, so a plan
regression (a new shuffle, an accidental Python stage, a lost column
prune) fails CI instead of silently aging the doc.

Plans are compiled (``executedPlan``) but NOT executed; queries whose
CONSTRUCTION runs driver-side jobs (index builds, iterative clustering)
are exercised by their own tests/benches instead.
"""

from __future__ import annotations

import re
import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.001"

#: shuffle exchanges (BroadcastExchange excluded — broadcasts are the
#: point of several plans)
_SHUFFLE_RE = re.compile(r"Exchange (hash|range|SinglePartition)")
_PY_RE = re.compile(
    r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    return len(_SHUFFLE_RE.findall(plan))


#: query → (max shuffle exchanges, python stages allowed, forbidden substrings)
#: Bounds mirror docs/PLANS.md; "python" is the set of intentional
#: Arrow-kernel stages (rule 2/9: Python only where Spark lacks the
#: operator, and then only as vectorized Arrow batches).
EXPECTATIONS = {
    # conversions: the only shuffle is the round-6 adaptive scan fan-out
    # (single-row-group inputs cap scan parallelism at 1 task; see
    # __spark_entry__._fanout_scan) — the conversion itself never
    # shuffles (rule 1)
    "compress": (1, False, []),
    "expand": (1, False, []),
    "standardize_curie": (1, False, []),
    "standardize_uri": (1, False, []),
    "expand_all": (1, False, []),
    "compress_or_standardize": (1, False, []),  # one scan, a 2-element explode
    "triple_hash": (1, False, []),
    "preprocess_parse": (1, False, []),
    # the ONE intentional hot-path Python stage: large-EPM trie probe
    "compress_trie_udf": (1, True, ["BatchEvalPython"]),
    # projections / filters: map-only (no fan-out: the filter work is
    # too light to pay an exchange for)
    "keep_prefixes_either": (0, False, []),
    "exclude_object_prefixes": (0, False, []),
    "filter_by_prefixes": (1, False, []),
    "w3c_validation": (1, False, []),
    # aggregations: partial+final, bounded shuffle count (+1 fan-out
    # where the pre-aggregation map work is regex/conversion-heavy)
    "mentions": (2, False, []),
    "dedup_exact": (1, False, []),
    "unique_prefixes": (2, False, []),
    # signatures are map-only Arrow kernels (rule 8)
    "minhash_signature": (0, True, ["BatchEvalPython"]),
    "simhash_docs": (0, True, ["BatchEvalPython"]),
    "fingerprint": (0, True, ["BatchEvalPython"]),  # Arrow fingerprint kernel
    # metadata scans prune the binary payload (rule 7)
    "media_metadata": (0, False, ["payload"]),
    # text analysis is JVM-native
    "lang_quality": (0, False, []),
    "quality_gate": (0, False, []),
}


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entry

    return entry.queries()


@pytest.mark.parametrize("name", sorted(EXPECTATIONS))
def test_plan_shape(spark, queries, name):
    max_shuffles, python_ok, forbidden = EXPECTATIONS[name]
    plan = _plan(queries[name](spark, SF_DIR))
    shuffles = _shuffles(plan)
    assert shuffles <= max_shuffles, (
        f"{name}: {shuffles} shuffle exchanges (max {max_shuffles})\n{plan}"
    )
    has_py = bool(_PY_RE.search(plan))
    if python_ok:
        assert has_py, f"{name}: expected an Arrow-kernel stage\n{plan}"
    else:
        assert not has_py, f"{name}: unexpected Python stage\n{plan}"
    for sub in forbidden:
        assert sub not in plan, f"{name}: forbidden {sub!r} in plan\n{plan}"


def test_discover_plan(spark, queries):
    """discover's ns-numbering is the two-phase global sort (round 5):
    no single-partition window anywhere (the window spec must open on
    the partition id, never directly on the order column), no Python,
    and the offsets branch reuses the numbering branch's range exchange
    (ReuseExchange) so the aggregation runs once despite appearing in
    three static subtrees."""
    df = queries["discover"](spark, SF_DIR)
    static = _plan(df)
    assert "windowspecdefinition(_uri_prefix" not in static, static
    assert "windowspecdefinition(_pid" in static, static
    assert not _PY_RE.search(static), static
    # exchange reuse is an AQE runtime decision: execute (sf0.001,
    # sub-second) and read the FINAL adaptive plan
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final, final
    assert "ReusedExchange" in final, final


def test_discover_construction_is_lazy(spark, queries):
    """Constructing the discover query must run ZERO Spark jobs — an
    eager aggregation at construction time would move the real work
    outside any caller's timed region (the benchmark-honesty trap
    CLAUDE.md documents: bench.py builds the DataFrame once and times
    re-executions)."""
    import __spark_entry__ as entry
    from curies_spark.operators.discovery import discover_records_df

    uris = entry._uris(spark, SF_DIR)  # the parquet read runs its own
    # listing job; the operator under test must add NONE on top
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    discover_records_df(uris, "uri", cutoff=2)
    after = set(tracker.getJobIdsForGroup(None) or [])
    assert after == before, (
        f"discover construction launched job(s): {sorted(after - before)}"
    )


def test_ann_topk_plan(spark, queries):
    """Brute cosine top-k: pushed query-row filter, TakeOrdered (never a
    global sort), and exactly the intentional BLAS Arrow stage."""
    plan = _plan(queries["ann_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(vec_id,0\)", plan), plan
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan, plan


def test_band_pairs_shuffles_signatures_not_text(spark):
    """Rule 8: only pair GENERATION shuffles, over signature-derived
    columns. The collapse's canon join is checkpointed once (its
    shuffles live behind the ExistingRDD cut, computed a single time);
    the visible downstream shuffles are the two band sides + the
    distinct — three, not one per consuming branch."""
    from pyspark.sql import Row

    from curies_spark.plans.dedup_pipeline import band_pairs

    staged = spark.createDataFrame(
        [Row(doc_id=1, mh=[1] * 16), Row(doc_id=2, mh=[2] * 16)]
    )
    plan = _plan(band_pairs(staged))
    assert _shuffles(plan) <= 3, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan  # shared canon cut

    # the MinHash and SimHash pair operators run the same collapse and
    # band join: the same shape on their own inputs
    from curies_spark.operators.dedup import (
        minhash_candidate_pairs,
        simhash_candidate_pairs,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d"), Row(doc_id=2, text="a b c e")]
    )
    signed = spark.createDataFrame(
        [Row(doc_id=1, simhash=1), Row(doc_id=2, simhash=3)]
    )
    for pairs in (minhash_candidate_pairs(docs), simhash_candidate_pairs(signed)):
        plan = _plan(pairs)
        assert _shuffles(plan) <= 3, plan
        assert plan.count("Scan ExistingRDD") >= 3, plan

def test_large_epm_fused_canonicalization_plans(spark):
    """Past NATIVE_COMPRESS_THRESHOLD, standardize_uri and
    compress_or_standardize are each ONE Arrow stage that returns the
    finished string (rule 2): no struct read back across the boundary,
    and no ``element_at`` over a map literal after the UDF."""
    from pyspark.sql import Row

    from curies_spark.functions import SparkConverter
    from curies_spark.plans.demo import large_converter

    sc = SparkConverter(spark, large_converter())
    df = spark.createDataFrame([Row(v="NS1:1")])
    for op in ("standardize_uri", "compress_or_standardize"):
        for passthrough in (False, True):
            plan = _plan(df.select(getattr(sc, op)("v", passthrough=passthrough)))
            assert _PY_RE.findall(plan) == ["ArrowEvalPython"], (op, plan)
            assert "element_at" not in plan and "map(" not in plan, (op, plan)
