"""End-to-end corpus dedup pipeline (plans/dedup_pipeline.py): one
text pass, LSH candidates from staged signatures, signature-estimate
verification, components, survivors — plus resume semantics and the
map-only staging plan."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Row, functions as F

from curies_spark.plans import dedup_pipeline as P
from pipeline_faults import dedup_counts, spark_jobs


@pytest.fixture()
def corpus(spark):
    # long enough that a one-token edit leaves most shingles (and so
    # most minhash minima) intact → the band join must find the pairs
    base = (
        "the quick brown fox jumps over the lazy dog and then some more words "
        "follow here while the pipeline stages compute hashes signatures and "
        "quality features for every document in the corpus so that near "
        "duplicates cluster together and only representative survivors remain"
    )
    rows = []
    # exact-duplicate family: 3 copies
    for i in (0, 1, 2):
        rows.append(Row(doc_id=i, text=base))
    # near-duplicate family: one-token edits of base
    rows.append(Row(doc_id=10, text=base.replace("lazy", "sleepy")))
    rows.append(Row(doc_id=11, text=base.replace("quick", "rapid")))
    # unrelated docs
    rows.append(Row(doc_id=20, text="completely different content about spark plans"))
    rows.append(Row(doc_id=21, text="another unrelated short document entirely"))
    rows.append(Row(doc_id=22, text=None))
    rows.append(Row(doc_id=23, text=""))
    return spark.createDataFrame(rows)


def test_pipeline_end_to_end(spark, corpus, tmp_path):
    out = str(tmp_path / "dedup")
    manifest = P.run_dedup_pipeline(spark, corpus, out, min_est_jaccard=0.4)

    assert manifest["input_docs"] == 9
    assert manifest["exact_dup_groups_gt1"] >= 1  # the 3-copy family
    # null and "" tokenize to the same one-shingle doc → exact-distinct
    # but near-identical; the base family collapses to min ids
    survivors = {
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/survivors").collect()
    }
    # 0 survives for the exact family; 1,2 gone
    assert 0 in survivors and 1 not in survivors and 2 not in survivors
    # near-dups of 0 (10, 11) should cluster with it at est_jaccard 0.4
    assert 10 not in survivors and 11 not in survivors
    # unrelated docs survive
    assert 20 in survivors and 21 in survivors
    assert manifest["survivors"] == len(survivors)

    with open(f"{out}/manifest.json") as fh:
        on_disk = json.load(fh)
    assert on_disk["verified_pairs"] == manifest["verified_pairs"]

    # every count field equals an independent count(), fresh and resumed
    counted = dedup_counts(spark, corpus, out)
    assert counted["candidate_pairs"] > 0
    assert {k: manifest[k] for k in counted} == counted
    resumed = P.run_dedup_pipeline(spark, corpus, out, min_est_jaccard=0.4)
    assert {k: resumed[k] for k in counted} == dedup_counts(spark, corpus, out)


def test_empty_corpus_counts_zero(spark, tmp_path):
    """An empty corpus leaves every stage empty, so adaptive execution
    prunes the plan branches the counts are observed in: the manifest
    still reads zeros."""
    out = str(tmp_path / "empty")
    empty = spark.createDataFrame([], "doc_id long, text string")
    manifest = P.run_dedup_pipeline(spark, empty, out)
    counted = dedup_counts(spark, empty, out)
    assert set(counted.values()) == {0}
    assert {k: manifest[k] for k in counted} == counted


def test_staging_is_map_only(spark, corpus):
    plan = (
        P.stage_documents(corpus)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_verification_drops_weak_pairs(spark, corpus, tmp_path):
    strict = P.run_dedup_pipeline(
        spark, corpus, str(tmp_path / "strict"), min_est_jaccard=0.999
    )
    loose = P.run_dedup_pipeline(
        spark, corpus, str(tmp_path / "loose"), min_est_jaccard=0.05
    )
    assert strict["verified_pairs"] <= loose["verified_pairs"]
    assert strict["survivors"] >= loose["survivors"]


def test_resume_skips_staging(spark, corpus, tmp_path, monkeypatch):
    out = str(tmp_path / "resume")
    P.run_dedup_pipeline(spark, corpus, out)

    def boom(*a, **k):
        raise AssertionError("staging must not recompute on resume")

    monkeypatch.setattr(P, "stage_documents", boom)
    manifest = P.run_dedup_pipeline(spark, corpus, out, resume=True)
    assert manifest["staged_docs"] == 9
    with pytest.raises(AssertionError):
        P.run_dedup_pipeline(spark, corpus, out, resume=False)


def test_estimator_matches_hand_count(spark):
    df = spark.createDataFrame(
        [Row(a=[1, 2, 3, 4] * 4, b=[1, 2, 3, 9] * 4)]
    )
    got = df.select(
        P.estimated_jaccard_col(F.col("a"), F.col("b")).alias("e")
    ).first()["e"]
    assert got == pytest.approx(12 / 16)


def test_band_pairs_signature_family_is_linear(spark):
    """An n-member family of IDENTICAL full signatures must emit O(n)
    star pairs to its min-id canon — not the O(n²) all-pairs a direct
    band self-join would produce."""
    sig = [7, 11, 13, 17] * 4
    other = [1000 + i for i in range(16)]
    rows = [Row(doc_id=i, mh=sig) for i in range(1, 1001)]
    rows.append(Row(doc_id=5000, mh=other))
    staged = spark.createDataFrame(rows)
    pairs = P.band_pairs(staged).collect()
    assert len(pairs) == 999
    assert all(r["id_a"] == 1 and r["id_b"] != 1 for r in pairs)


def test_minhash_pairs_signature_family_collapse(spark):
    """Content-DISTINCT documents with identical signatures (same token
    stream, different whitespace → same shingles, different sha256)
    still collapse to star pairs: exact dedup upstream would NOT merge
    them, so the guard must live in the pair operator itself."""
    from curies_spark.operators.dedup import minhash_candidate_pairs

    base = " ".join(f"tok{i}" for i in range(30))
    rows = [Row(doc_id=i, text=base + " " * i) for i in range(1, 101)]
    rows.append(Row(doc_id=900, text="entirely different content here"))
    docs = spark.createDataFrame(rows)
    pairs = minhash_candidate_pairs(docs).collect()
    assert len(pairs) == 99  # star pairs only, not C(100,2) = 4950
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {
        (1, i) for i in range(2, 101)
    }


def test_components_frame_matches_pipeline_survivors(spark, corpus, tmp_path):
    """The no-write composition (dedup_components_frame) must agree with
    the materializing pipeline's survivor set."""
    out = str(tmp_path / "cmp")
    P.run_dedup_pipeline(spark, corpus, out, min_est_jaccard=0.4)
    want = {
        r["doc_id"] for r in spark.read.parquet(f"{out}/survivors").collect()
    }
    comp = P.dedup_components_frame(corpus, min_est_jaccard=0.4).collect()
    got = {r["doc_id"] for r in comp if r["survives"]}
    assert got == want
    # survivor rule falls out of the component label: survives ⇔ min id
    assert all(r["survives"] == (r["doc_id"] == r["component"]) for r in comp)


def test_simhash_pairs_signature_family_is_linear(spark):
    """SimHash gets the same identical-signature collapse as MinHash:
    an n-member family emits n-1 star pairs (hamming 0), not O(n²)."""
    from curies_spark.operators.dedup import simhash_candidate_pairs

    rows = [Row(doc_id=i, simhash=12345) for i in range(1, 501)]
    rows.append(Row(doc_id=900, simhash=12345 ^ 3))  # hamming 2 from family
    signed = spark.createDataFrame(rows)
    pairs = simhash_candidate_pairs(signed).collect()
    stars = [r for r in pairs if r["hamming"] == 0]
    crosses = [r for r in pairs if r["hamming"] != 0]
    assert len(stars) == 499
    assert all(r["id_a"] == 1 for r in stars)
    # the family's cross connectivity survives via its canon
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in crosses} == {(1, 900, 2)}


def test_family_collapse_preserves_components(spark):
    """The subsumption claim behind the collapse: star + canon-cross
    pairs partition documents into exactly the same connected
    components as the legacy all-pairs band join — randomized
    signatures with engineered duplicate families and band-level
    collisions, compared against a pure-Python union-find."""
    import random

    def components(pairs):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        groups = {}
        for n in list(parent):
            groups.setdefault(find(n), set()).add(n)
        return frozenset(frozenset(g) for g in groups.values())

    rng = random.Random(7)
    for _ in range(5):
        n = 120
        sigs = {}
        for doc in range(n):
            if doc and rng.random() < 0.2:
                sigs[doc] = sigs[rng.randrange(doc)]  # signature family
            else:
                sigs[doc] = [rng.randrange(6) for _ in range(16)]
        staged = spark.createDataFrame(
            [Row(doc_id=d, mh=s) for d, s in sigs.items()]
        )
        got = {(r["id_a"], r["id_b"]) for r in P.band_pairs(staged).collect()}
        legacy = {
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if any(
                sigs[a][i * 4 : (i + 1) * 4] == sigs[b][i * 4 : (i + 1) * 4]
                for i in range(4)
            )
        }
        assert components(got) == components(legacy)


def test_resume_restages_on_changed_k(spark, corpus, tmp_path):
    """MinHash signatures depend on the shingle size: resuming an out_dir
    staged under another ``k`` restages instead of reusing signatures
    of the wrong recipe, and the result equals a fresh run."""
    out = str(tmp_path / "resume_k")
    P.run_dedup_pipeline(spark, corpus, out, k=3, min_est_jaccard=0.4)
    resumed = P.run_dedup_pipeline(spark, corpus, out, k=5, min_est_jaccard=0.4)
    fresh = P.run_dedup_pipeline(
        spark, corpus, str(tmp_path / "fresh_k"), k=5, min_est_jaccard=0.4
    )

    staged = {r["doc_id"]: r["mh"] for r in spark.read.parquet(f"{out}/staged").collect()}
    want = {r["doc_id"]: r["mh"] for r in P.stage_documents(corpus, k=5).collect()}
    assert staged == want
    for key in ("candidate_pairs", "verified_pairs", "clustered_docs", "survivors"):
        assert resumed[key] == fresh[key], key
    with open(f"{out}/staged.json") as fh:
        assert json.load(fh) == {"k": 5, "text": "text", "id_col": "doc_id"}


def test_uri_out_dir_keeps_state_under_it(spark, corpus, tmp_path, monkeypatch):
    """A ``file://`` out_dir keeps the manifest and the staged stamp
    under that directory (none leaks into a cwd-relative ``file:``
    path), and a rerun resumes after staging."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    target = tmp_path / "dedup_uri"
    first = P.run_dedup_pipeline(spark, corpus, f"file://{target}")
    assert (target / "manifest.json").is_file()
    assert (target / "staged.json").is_file()
    assert list(cwd.iterdir()) == []

    def boom(*a, **k):
        raise AssertionError("staging must not recompute on resume")

    monkeypatch.setattr(P, "stage_documents", boom)
    again = P.run_dedup_pipeline(spark, corpus, f"file://{target}")
    assert again["survivors"] == first["survivors"]


def test_stage_reads_run_no_inference_job(spark, corpus, tmp_path):
    """``staged``, ``pairs`` and ``clusters`` are each read back with the
    schema they were written with: a run launches 33 jobs, three fewer
    than with a schema-inference job per read."""
    out = str(tmp_path / "jobs")
    jobs = spark_jobs(spark, lambda: P.run_dedup_pipeline(spark, corpus, out, min_est_jaccard=0.4))
    assert jobs == 33
