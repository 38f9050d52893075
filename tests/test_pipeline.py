"""End-to-end tests for the KG-construction pipeline."""

import json
import random
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from curies_spark.core import Converter
from curies_spark.plans.pipeline import (
    JVM_MENTION_RE,
    MENTION_RE,
    build_triples,
    extract_mentions,
    handoff,
    link_mentions,
    run_pipeline,
    validate_content_invariant,
)
from curies_spark.sources.synthetic import PIPELINE_EPM, generate_repos, pipeline_converter
from curies_spark.streaming import fsio
from pipeline_faults import kg_counts, spark_jobs


@pytest.fixture(scope="module")
def repos(spark):
    return generate_repos(spark, 2000, partitions=4).cache()


def test_generator_deterministic(spark):
    a = generate_repos(spark, 500, partitions=2).collect()
    b = generate_repos(spark, 500, partitions=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    row = a[0]
    assert set(row.asDict()) == {"repo", "path", "commit", "lang", "content"}
    assert len(row["commit"]) == 40


def test_mention_extraction_no_double_count(spark):
    df = spark.createDataFrame(
        [
            (
                "r",
                "p",
                "c",
                "py",
                "x https://identifiers.org/chebi:42 then GO:0001 end",
            )
        ],
        ["repo", "path", "commit", "lang", "content"],
    )
    mentions = sorted(
        r["mention"] for r in extract_mentions(df).select("mention").collect()
    )
    assert mentions == ["GO:0001", "https://identifiers.org/chebi:42"]


#: strings where the two mention patterns could part: a URI scheme glued
#: to a word, a CURIE prefix after a digit, chained colons, a leading
#: underscore, a colon inside a URI, Unicode separators, nothing
ADVERSARIAL = [
    "xhttp://a.b",
    "9abc:def",
    "a:b:c",
    "_x:1",
    "http://x/a:b",
    "see\u00a0GO:1\u2028pmid:2\u00a0https://a.b/c:d",
    "",
]


def _random_texts(n: int) -> "list[str]":
    """Seeded strings over the characters the two patterns treat apart."""
    rng = random.Random(7)
    pieces = [*"aZ_9:/.-x ", "http://", "https://", "h", '"', "(", "\u00a0", "\u2028"]
    return ["".join(rng.choice(pieces) for _ in range(rng.randint(0, 24))) for _ in range(n)]


def test_mention_patterns_match_alike():
    """``extract_mentions``' Java pattern finds exactly the portable
    pattern's matches (Python ``re`` has both the possessive runs and
    the lookbehind)."""
    portable, jvm = re.compile(MENTION_RE), re.compile(JVM_MENTION_RE)
    assert jvm.findall("xhttp://a.b") == ["http://a.b"]
    assert jvm.findall("9abc:def") == ["abc:def"]
    for text in ADVERSARIAL + _random_texts(20_000):
        assert jvm.findall(text) == portable.findall(text), text


def test_mention_patterns_match_alike_in_spark(spark):
    """The same equality under Java's regex, over the generated corpus
    with each adversarial string appended to its files, and the seeded
    strings."""
    files = generate_repos(spark, 500, partitions=2).select(
        F.explode(F.array(*[F.concat("content", F.lit(t)) for t in ADVERSARIAL])).alias("content")
    )
    texts = spark.createDataFrame([(t,) for t in _random_texts(2_000)], "content string")
    corpus = files.unionByName(texts)

    def matches(pattern):
        return F.regexp_extract_all("content", F.lit(pattern), F.lit(0))

    found = corpus.select(matches(MENTION_RE).alias("a"), matches(JVM_MENTION_RE).alias("b"))
    totals = found.select(
        F.count_if(F.col("a") != F.col("b")).alias("differ"),
        F.sum(F.size("a")).alias("matches"),
    ).first()
    assert totals["differ"] == 0 and totals["matches"] > 2_000, totals


def test_linking_and_canonicalization(spark):
    conv = pipeline_converter()
    df = spark.createDataFrame(
        [
            ("r", "p", "c", "py", "see http://purl.obolibrary.org/obo/CHEBI_1 and PMID:7 and nope:x"),
        ],
        ["repo", "path", "commit", "lang", "content"],
    )
    linked = link_mentions(extract_mentions(df), conv)
    got = {r["mention"]: r["entity"] for r in linked.collect()}
    assert got["http://purl.obolibrary.org/obo/CHEBI_1"] == "CHEBI:1"
    assert got["PMID:7"] == "pubmed:7"  # synonym prefix standardized
    assert got["nope:x"] is None  # unlinkable stays NULL


def _duplicate_synonym_converter():
    """The pipeline EPM with CHEBI's URI-prefix synonym listed twice in
    its record: ``expand_all`` then repeats that expansion."""
    epm = [dict(r) for r in PIPELINE_EPM]
    chebi = next(r for r in epm if r["prefix"] == "CHEBI")
    chebi["uri_prefix_synonyms"] = chebi["uri_prefix_synonyms"] * 2
    return Converter.from_extended_prefix_map(epm)


def test_triple_families(spark, tmp_path):
    df = spark.createDataFrame(
        [("orgA/x", "f.py", "c" * 40, "py", "ref http://purl.obolibrary.org/obo/CHEBI_5")],
        ["repo", "path", "commit", "lang", "content"],
    )
    dup = _duplicate_synonym_converter()
    assert len(dup.expand_all("CHEBI:5")) == 3  # the synonym repeats
    results = []
    for name, conv in (("plain", pipeline_converter()), ("dup", dup)):
        built = build_triples(link_mentions(extract_mentions(df), conv), conv).collect()
        out = str(tmp_path / name)
        run_pipeline(spark, df, out, converter=conv, n_shards=2)
        merged = spark.read.parquet(f"{out}/triples/shard=merge").select(
            "subject", "predicate", "object"
        ).collect()
        for rows in (built, merged):
            assert len(rows) == len(set(rows)), (name, rows)
        results.append(({tuple(r) for r in built}, {tuple(r) for r in merged}))
    assert results[0] == results[1]
    rows, merged = results[0]
    assert merged == {r for r in rows if r[1] != "cs:mentions"}
    assert (f"codefile:orgA/x@{'c'*40}/f.py", "cs:mentions", "CHEBI:5") in rows
    assert ("coderepo:orgA/x", "cs:declaresPrefix", "csprefix:CHEBI") in rows
    # sameAs fan-out: canonical + synonym URI prefix
    assert ("CHEBI:5", "owl:sameAs", "http://purl.obolibrary.org/obo/CHEBI_5") in rows
    assert ("CHEBI:5", "owl:sameAs", "https://identifiers.org/chebi:5") in rows


def _final_hash_exchanges(description: str) -> int:
    """Hash-partitioned shuffle exchanges in the final plan of a formatted
    physical-plan description (an adaptive one also lists its initial
    plan, whose nodes are not counted)."""
    tree = description.split("\n\n", 1)[0]
    tree = tree.split("== Final Plan ==", 1)[-1].split("== Initial Plan ==", 1)[0]
    return sum(
        bool(re.search(rf"^\({node}\) Exchange\n(?:.+\n)*?Arguments: hashpartitioning", description, re.M))
        for node in re.findall(r"\bExchange \((\d+)\)", tree)
    )


def test_each_edge_family_deduplicated_once(spark, repos, tmp_path):
    """Each edge family is deduplicated where it is built, and nothing
    dedups their union again: the merge write shuffles once per
    entity-scoped family, ``build_triples`` once per family."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        # by id: the retained count stops at spark.sql.ui.retainedExecutions
        listed = store.executionsList()
        return [listed.apply(i) for i in range(listed.size())]

    mark = max((e.executionId() for e in executions()), default=-1)
    run_pipeline(spark, repos, str(tmp_path / "kg"), n_shards=2)
    plans = [e.physicalPlanDescription() for e in executions() if e.executionId() > mark]
    merge = [plan for plan in plans if "triples/shard=merge" in plan]
    assert len(merge) == 1, merge
    assert "== Final Plan ==" in merge[0], merge[0]
    assert 0 < _final_hash_exchanges(merge[0]) <= 2, merge[0]

    conv = pipeline_converter()
    triples = build_triples(link_mentions(extract_mentions(repos), conv), conv)
    plan = triples._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange (hash|range|SinglePartition)", plan)) <= 3, plan


def _assert_counts(spark, repos, out, totals):
    """Every count of every shard manifest and of the merge manifest
    equals an independent ``count()``."""
    shards, merge = kg_counts(spark, repos, out, totals["shards"])
    for manifest, counted in zip(totals["manifests"], shards):
        assert {k: manifest[k] for k in counted} == counted, manifest["shard"]
    assert totals["merge"]["triples"] == merge


def test_pipeline_end_to_end_and_resume(spark, repos, tmp_path):
    out = str(tmp_path / "kg")
    totals = run_pipeline(spark, repos, out, n_shards=4)
    assert totals["input_rows"] == 2000
    assert totals["mentions"] > 2000  # most files embed ≥1 mention
    assert 0 < totals["linked_mentions"] <= totals["mentions"]
    assert totals["triples"] > 0
    assert totals["resumed_shards"] == 0

    # triples actually written and deduplicated
    written = spark.read.parquet(f"{out}/triples")
    assert written.count() == totals["triples"]
    assert written.count() == written.dropDuplicates(["subject", "predicate", "object"]).count()

    # sha256 invariant holds against the source
    assert validate_content_invariant(repos, totals["manifests"])
    _assert_counts(spark, repos, out, totals)

    # resume: second run skips all shards (same totals, no recompute)
    totals2 = run_pipeline(spark, repos, out, n_shards=4)
    assert totals2["resumed_shards"] == 4
    assert totals2["triples"] == totals["triples"]
    _assert_counts(spark, repos, out, totals2)

    # partial resume: delete one manifest → exactly one shard recomputes
    manifest = Path(out) / "_manifests" / "shard-2.json"
    manifest.unlink()
    totals3 = run_pipeline(spark, repos, out, n_shards=4)
    assert totals3["resumed_shards"] == 3
    assert totals3["triples"] == totals["triples"]
    _assert_counts(spark, repos, out, totals3)
    assert validate_content_invariant(repos, totals3["manifests"])


def test_content_invariant_on_empty_source(spark, repos, tmp_path):
    """A source with no rows sums to NULL, not 0: it still matches the
    manifests of empty shards, which each record ``"0"``. The same tiny
    corpus has a shard whose mentions all fail to link — adaptive
    execution then prunes the plan branch its counts are observed in,
    and the manifest must still count it exactly."""
    unlinked = ("orgZ/none", "x.py", "d" * 40, "py", "see nope:1 and https://unlinked.example.com/a")
    few = spark.createDataFrame([*repos.head(3), unlinked], repos.schema)
    out = str(tmp_path / "kg_few")
    totals = run_pipeline(spark, few, out, n_shards=8)
    assert validate_content_invariant(few, totals["manifests"])
    _assert_counts(spark, few, out, totals)
    assert any(m["mentions"] and not m["linked_mentions"] for m in totals["manifests"])
    empty_shards = [m for m in totals["manifests"] if m["input_rows"] == 0]
    assert len(empty_shards) >= 4
    assert {m["content_sha_rollup"] for m in empty_shards} == {"0"}
    assert {m["mentions"] + m["triples"] for m in empty_shards} == {0}
    assert validate_content_invariant(repos.limit(0), empty_shards)


def test_manifest_contents(spark, repos, tmp_path):
    out = str(tmp_path / "kg2")
    run_pipeline(spark, repos, out, n_shards=2)
    manifests = sorted((Path(out) / "_manifests").glob("shard-*.json"))
    assert len(manifests) == 2
    m = json.loads(manifests[0].read_text())
    assert set(m) >= {
        "shard",
        "input_rows",
        "content_sha_rollup",
        "mentions",
        "linked_mentions",
        "triples",
        "wall_sec",
    }
    assert int(m["content_sha_rollup"]) > 0


def test_unlinked_noise_stays_out(spark, repos, tmp_path):
    """The not-registered example.org URIs must never become entities."""
    conv = pipeline_converter()
    linked = link_mentions(extract_mentions(repos), conv)
    bad = linked.filter(
        F.col("entity").isNotNull() & F.col("mention").contains("unlinked.example.com")
    )
    assert bad.count() == 0


def test_staging_scans_source_once(spark, repos, tmp_path):
    """The staged layout exists, is partitioned by _shard, and each
    shard's read prunes to its own partition directory."""
    out = str(tmp_path / "kg3")
    run_pipeline(spark, repos, out, n_shards=4)
    staged = Path(out) / "_staged"
    shard_dirs = sorted(p.name for p in staged.glob("_shard=*"))
    assert shard_dirs == ["_shard=0", "_shard=1", "_shard=2", "_shard=3"]

    pruned = spark.read.parquet(str(staged)).filter(F.col("_shard") == 2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_shard" in plan
    files = pruned.inputFiles()  # logical; physical pruning shown in plan
    # staged rows reproduce the source exactly (no loss in the one pass)
    assert spark.read.parquet(str(staged)).count() == 2000

    # resume path reuses the staged copy: marker recorded with n_shards
    marker = json.loads((Path(out) / "_manifests" / "staged.json").read_text())
    assert marker == {"n_shards": 4}


def test_resume_rejects_changed_shard_geometry(spark, repos, tmp_path):
    """Re-running an out_dir with a different n_shards must NOT trust the
    old manifests (they describe different hash slices) — all derived
    state is recomputed under the new geometry and stale shard outputs
    do not leak into the merge or totals."""
    out = str(tmp_path / "kg_geom")
    totals_8 = run_pipeline(spark, repos, out, n_shards=8)
    assert totals_8["resumed_shards"] == 0

    totals_4 = run_pipeline(spark, repos, out, n_shards=4)
    # nothing resumed: every 8-shard manifest was invalidated
    assert totals_4["resumed_shards"] == 0
    assert totals_4["shards"] == 4
    # same corpus → same invariants under either geometry
    assert totals_4["input_rows"] == totals_8["input_rows"]
    assert totals_4["triples"] == totals_8["triples"]
    # stale shard=4..7 outputs are gone; written triples match totals
    written = spark.read.parquet(f"{out}/triples")
    assert written.count() == totals_4["triples"]
    manifests = sorted((Path(out) / "_manifests").glob("shard-*.json"))
    assert len(manifests) == 4
    assert all(json.loads(p.read_text())["n_shards"] == 4 for p in manifests)

    # and the new-geometry manifests resume cleanly
    totals_again = run_pipeline(spark, repos, out, n_shards=4)
    assert totals_again["resumed_shards"] == 4


def test_crash_in_merge_manifest_write_reruns_clean(spark, repos, tmp_path, monkeypatch):
    """A crash halfway through the merge-manifest write leaves no torn
    ``merge.json``: a plain rerun recomputes the merge and returns the
    totals of a clean run."""
    clean = run_pipeline(spark, repos, str(tmp_path / "clean"), n_shards=2)

    out = str(tmp_path / "crashed")
    write_file = fsio._write_file

    # the primitive's tmp write dies halfway through the merge manifest
    def dies_halfway(fs, path, text):
        if path.getName().startswith("merge."):
            write_file(fs, path, text[: len(text) // 2])
            raise OSError("killed during the merge-manifest write")
        return write_file(fs, path, text)

    monkeypatch.setattr(fsio, "_write_file", dies_halfway)
    with pytest.raises(OSError, match="merge-manifest"):
        run_pipeline(spark, repos, out, n_shards=2)
    monkeypatch.undo()

    totals = run_pipeline(spark, repos, out, n_shards=2)
    assert totals["resumed_shards"] == 2
    for key in ("shards", "input_rows", "mentions", "linked_mentions", "triples"):
        assert totals[key] == clean[key], key
    assert totals["merge"]["triples"] == clean["merge"]["triples"]
    assert spark.read.parquet(f"{out}/triples").count() == clean["triples"]
    recorded = json.loads((Path(out) / "_manifests" / "_totals.json").read_text())
    assert recorded["triples"] == clean["triples"]


def test_uri_out_dir_keeps_state_under_it(spark, repos, tmp_path, monkeypatch):
    """A ``file://`` out_dir keeps every manifest and stamp under that
    directory (none leaks into a cwd-relative ``file:`` path), and a
    rerun resumes from them."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    target = tmp_path / "kg_uri"
    totals = run_pipeline(spark, repos, f"file://{target}", n_shards=2)
    assert totals["resumed_shards"] == 0
    names = sorted(p.name for p in (target / "_manifests").glob("*.json"))
    assert names == ["_totals.json", "merge.json", "shard-0.json", "shard-1.json", "staged.json"]
    assert list(cwd.iterdir()) == []

    again = run_pipeline(spark, repos, f"file://{target}", n_shards=2)
    assert again["resumed_shards"] == 2
    assert again["triples"] == totals["triples"]


def test_crash_in_restage_does_not_trust_old_marker(spark, repos, tmp_path):
    """A restage that dies after its overwrite dropped the old staged
    copy must not leave the old ``staged.json`` vouching for it: the
    next resume restages and returns the totals of a clean run."""
    out = str(tmp_path / "restage")
    clean = run_pipeline(spark, repos, out, n_shards=2)

    killed = repos.withColumn(
        "content", F.raise_error(F.lit("killed mid-restage")).cast("string")
    )
    with pytest.raises(Exception, match="killed mid-restage"):
        run_pipeline(spark, killed, out, n_shards=2, resume=False)
    for manifest in (Path(out) / "_manifests").glob("shard-*.json"):
        manifest.unlink()

    totals = run_pipeline(spark, repos, out, n_shards=2)
    assert totals["resumed_shards"] == 0
    for key in ("input_rows", "mentions", "linked_mentions", "triples"):
        assert totals[key] == clean[key], key


def test_handoff_reads_back_the_written_schema(spark, tmp_path):
    """A handoff costs its write alone: the read back runs no job and
    has the frame's schema and rows. A resumed stamp of the same recipe
    skips the write without building the stage; the schema then comes
    from the written footers."""
    df = spark.createDataFrame([(1, "a", [2, 3])], "id long, s string, xs array<int>")
    path, stamp = str(tmp_path / "stage"), (str(tmp_path / "stage.json"), {"v": 1})
    built = []

    def stage():
        built.append(df)
        return df

    for resume, jobs in ((False, 1), (True, 0)):
        back = []
        launched = spark_jobs(
            spark, lambda: back.append(handoff(spark, stage, path, stamp=stamp, resume=resume))
        )
        assert (launched, len(built)) == (jobs, 1), resume
        assert back[0].schema == df.schema
        assert back[0].collect() == df.collect()
    assert json.loads((tmp_path / "stage.json").read_text()) == {"v": 1}


def test_stage_reads_run_no_inference_job(spark, repos, tmp_path):
    """Each shard reads the one staged frame and the merge reads
    ``_entities`` with its declared schema, so no read runs a
    schema-inference job: a fresh 2-shard run launches 14 jobs and a
    one-shard resume 8 (17 and 10 with the three and two inferred
    reads)."""
    repos.count()
    out = str(tmp_path / "kg_jobs")
    fresh = spark_jobs(spark, lambda: run_pipeline(spark, repos, out, n_shards=2))
    (Path(out) / "_manifests" / "shard-1.json").unlink()
    resumed = spark_jobs(spark, lambda: run_pipeline(spark, repos, out, n_shards=2))
    assert (fresh, resumed) == (14, 8)


def test_empty_source_runs_and_resumes(spark, repos, tmp_path):
    """A source with no rows stages no file: the shards still read the
    staged frame with its schema, fresh and on a resume that finds the
    stamp (no footer to take it from), and every count is zero."""
    out = str(tmp_path / "kg_empty")
    for resumed in (0, 1):
        totals = run_pipeline(spark, repos.limit(0), out, n_shards=2)
        assert (totals["resumed_shards"], totals["input_rows"], totals["triples"]) == (resumed, 0, 0)
        (Path(out) / "_manifests" / "shard-1.json").unlink()
