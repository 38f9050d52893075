"""Structured Streaming ingestion: incremental, exactly-once, matches batch."""

from __future__ import annotations

from pyspark.sql import functions as F

from curies_spark.functions import SparkConverter
from curies_spark.plans.pipeline import build_file_edges, extract_mentions, link_mentions
from curies_spark.sources.synthetic import generate_repos, pipeline_converter
from curies_spark.streaming import start_triples_stream


def _wait(query):
    query.awaitTermination(120)
    assert not query.isActive


def test_stream_matches_batch_and_resumes(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    sc = SparkConverter(spark, pipeline_converter())

    all_repos = generate_repos(spark, 600, partitions=2).cache()
    first = all_repos.limit(400).cache()
    first.coalesce(1).write.mode("overwrite").parquet(src)

    _wait(start_triples_stream(spark, src, out, ckpt, sc.broadcast))
    got1 = spark.read.parquet(out)
    want1 = build_file_edges(link_mentions(extract_mentions(first), sc.broadcast))
    assert got1.count() == want1.count()
    assert got1.exceptAll(want1).count() == 0

    # land a second batch of files; resuming from the checkpoint must
    # process ONLY the new files (exactly-once, no duplicates)
    second = all_repos.exceptAll(first).cache()
    second.coalesce(1).write.mode("append").parquet(src)
    _wait(start_triples_stream(spark, src, out, ckpt, sc.broadcast))

    got2 = spark.read.parquet(out)
    want_all = build_file_edges(
        link_mentions(extract_mentions(first.unionByName(second)), sc.broadcast)
    )
    # streamed rows = union of per-batch edge sets; file-scoped edges make
    # the per-batch dedup globally exact, so totals match the batch run
    assert got2.count() == want_all.count()
    assert got2.exceptAll(want_all).count() == 0

    # a third run with nothing new appends nothing
    _wait(start_triples_stream(spark, src, out, ckpt, sc.broadcast))
    assert spark.read.parquet(out).count() == want_all.count()


def test_stream_plan_is_pure_jvm(spark, tmp_path):
    """The streaming transformation must stay whole-stage-codegen'd —
    no Python workers in the hot path."""
    src = str(tmp_path / "s2")
    generate_repos(spark, 50, partitions=1).coalesce(1).write.mode("overwrite").parquet(src)
    sc = SparkConverter(spark, pipeline_converter())
    from curies_spark.streaming import read_repo_stream, stream_file_edges

    edges = stream_file_edges(read_repo_stream(spark, src), sc.broadcast)
    assert edges.isStreaming
    plan = edges._jdf.queryExecution().analyzed().toString()
    assert "pythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_stream_discover_prefixes_stateful(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): per-prefix
    distinct-LUID counting with bounded state, emitting each prefix
    exactly once when it crosses the cutoff — including a crossing whose
    LUIDs span micro-batches/runs (state must survive the checkpoint)."""
    from curies_spark.streaming import read_repo_stream, stream_discover_prefixes

    src = str(tmp_path / "dsrc")
    out = str(tmp_path / "dout")
    ckpt = str(tmp_path / "dckpt")

    def uris_df(values):
        return spark.createDataFrame([(v,) for v in values], ["content"])

    # batch 1: prefix A has 2 distinct LUIDs (below cutoff 3), B has 3
    batch1 = [
        "http://a.org/x/1",
        "http://a.org/x/2",
        "http://a.org/x/2",  # duplicate LUID must not count twice
        "http://b.org/y/1",
        "http://b.org/y/2",
        "http://b.org/y/3",
    ]
    uris_df(batch1).coalesce(1).write.mode("overwrite").parquet(src)

    def run():
        stream = (
            spark.readStream.schema("content string").parquet(src)
            .withColumnRenamed("content", "uri")
        )
        q = (
            stream_discover_prefixes(stream, cutoff=3)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _wait(q)

    run()
    got1 = {r["uri_prefix"] for r in spark.read.parquet(out).collect()}
    assert got1 == {"http://b.org/y/"}

    # batch 2: one NEW luid for A -> crosses cutoff using cross-run state;
    # more B rows must NOT re-emit B (its state is a 1-bit marker now)
    batch2 = ["http://a.org/x/3", "http://b.org/y/4", "http://b.org/y/5"]
    uris_df(batch2).coalesce(1).write.mode("append").parquet(src)
    run()
    rows = spark.read.parquet(out).collect()
    assert {r["uri_prefix"] for r in rows} == {"http://a.org/x/", "http://b.org/y/"}
    assert len(rows) == 2  # exactly-once emission per prefix
    assert all(r["n_luids"] == 3 for r in rows)


def test_stream_prefix_counts_windowed(spark, tmp_path):
    """Watermarked tumbling-window rollup: summed window counts equal the
    batch per-prefix linked-entity counts."""
    from curies_spark.operators.triples import curie_prefix
    from curies_spark.streaming import read_repo_stream, stream_prefix_counts

    src = str(tmp_path / "wsrc")
    sc = SparkConverter(spark, pipeline_converter())
    repos = generate_repos(spark, 400, partitions=2)
    repos.coalesce(1).write.mode("overwrite").parquet(src)

    counts = stream_prefix_counts(read_repo_stream(spark, src), sc.broadcast)
    assert counts.isStreaming
    q = (
        counts.writeStream.format("memory")
        .queryName("prefix_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["prefix"]: r["n"]
        for r in spark.sql(
            "SELECT prefix, sum(n_linked) AS n FROM prefix_counts GROUP BY prefix"
        ).collect()
    }
    linked = link_mentions(extract_mentions(repos), sc.broadcast)
    want = {
        r["prefix"]: r["n"]
        for r in linked.filter(F.col("entity").isNotNull())
        .groupBy(curie_prefix("entity").alias("prefix"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_dedup_cross_batch_pairs(spark, tmp_path):
    """Streaming near-dup: wave-2 documents must pair against wave-1
    signatures from the accumulated store; replaying the drained stream
    changes nothing (idempotent batch-scoped writes)."""
    from pyspark.sql import Row

    from curies_spark.streaming import start_dedup_stream

    src = str(tmp_path / "docs")
    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")

    base = " ".join(f"word{i}" for i in range(50))
    wave1 = spark.createDataFrame(
        [Row(doc_id=1, text=base),
         Row(doc_id=2, text="something unrelated entirely different")]
    )
    wave1.coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    assert not q.isActive

    def pairs():
        import glob
        dirs = glob.glob(f"{out}/pairs/batch=*")
        if not dirs:
            return set()
        df = spark.read.parquet(*dirs)
        return {(r["id_a"], r["id_b"]) for r in df.collect()}

    assert pairs() == set()  # nothing similar within wave 1

    # wave 2: a near-duplicate of doc 1 arrives later
    wave2 = spark.createDataFrame(
        [Row(doc_id=10, text=base.replace("word25", "edited"))]
    )
    wave2.coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    got = pairs()
    assert (1, 10) in got, got

    # drained replay: no new batches, nothing changes
    q = start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    assert pairs() == got


def test_stream_staging_matches_batch(spark, tmp_path):
    """The streamed staging pass produces exactly the batch pipeline's
    staged rows (same stateless plan)."""
    from pyspark.sql import Row

    from curies_spark.plans.dedup_pipeline import stage_documents
    from curies_spark.streaming import read_document_stream, stream_stage_documents

    src = str(tmp_path / "sdocs")
    sink = str(tmp_path / "staged_out")
    ckpt = str(tmp_path / "sckpt")
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"doc number {i} with words {i * 3}") for i in range(20)]
    )
    docs.coalesce(1).write.mode("overwrite").parquet(src)

    q = (
        stream_stage_documents(read_document_stream(spark, src))
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(sink).orderBy("doc_id").collect()
    want = stage_documents(docs).orderBy("doc_id").collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


def test_stream_dedup_collapses_exact_families(spark, tmp_path):
    """Exact duplicates must emit ONE pair each to the family canon
    (linear), not band-join quadratically; only unique contents enter
    the store."""
    from pyspark.sql import Row

    from curies_spark.streaming import start_dedup_stream

    src = str(tmp_path / "exdocs")
    out = str(tmp_path / "exout")
    ckpt = str(tmp_path / "exckpt")
    base = " ".join(f"tok{i}" for i in range(40))

    # wave 1: 4 exact copies + 1 unrelated
    spark.createDataFrame(
        [Row(doc_id=i, text=base) for i in (1, 2, 3, 4)]
        + [Row(doc_id=9, text="unrelated different thing")]
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)

    import glob

    def pairs():
        df = spark.read.parquet(*glob.glob(f"{out}/pairs/batch=*"))
        return {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in df.collect()}

    # exactly the 3 star pairs to the canon (min id 1) — NOT C(4,2)=6
    assert pairs() == {(1, 2): 1.0, (1, 3): 1.0, (1, 4): 1.0}
    store = spark.read.parquet(*glob.glob(f"{out}/store/batch=*"))
    assert {r["doc_id"] for r in store.collect()} == {1, 9}

    # wave 2: another exact copy + a near-dup arrive later
    spark.createDataFrame(
        [Row(doc_id=20, text=base),
         Row(doc_id=21, text=base.replace("tok20", "edited"))]
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    got = pairs()
    assert got[(1, 20)] == 1.0          # exact vs store, single pair
    assert 0.5 <= got[(1, 21)] < 1.0    # near-dup vs store canon
    store = spark.read.parquet(*glob.glob(f"{out}/store/batch=*"))
    assert {r["doc_id"] for r in store.collect()} == {1, 9, 21}


def test_stream_dedup_replay_uncommitted_batch(spark, tmp_path):
    """Crash-replay safety: a batch whose store/pairs writes completed
    but whose checkpoint commit did NOT must re-read exactly the store
    state it saw the first time — never its own store partition (which
    would make every doc exact-match itself, empty the partition, and
    permanently lose its signatures)."""
    import glob

    from pyspark.sql import Row

    from curies_spark.streaming import start_dedup_stream

    src = str(tmp_path / "rdocs")
    out = str(tmp_path / "rout")
    ckpt = str(tmp_path / "rckpt")
    base = " ".join(f"w{i}" for i in range(40))

    spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text="other thing entirely")]
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)

    # doc 11: a 3-token edit measured to flip 2 of the 16 minima
    # (est 14/16) — signature-DISTINCT from the store, unlike a 1-token
    # edit which can leave all minima intact and collapse as a family
    near = base.replace("w5", "x").replace("w20", "y").replace("w33", "z")
    spark.createDataFrame(
        [Row(doc_id=10, text=base),   # exact (= signature) match vs store
         Row(doc_id=11, text=near)]   # near-dup vs store via band join
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)

    def snapshot():
        pairs = spark.read.parquet(*glob.glob(f"{out}/pairs/batch=*"))
        store = spark.read.parquet(*glob.glob(f"{out}/store/batch=*"))
        return (
            {(r["id_a"], r["id_b"]) for r in pairs.collect()},
            {r["doc_id"] for r in store.collect()},
        )

    pairs_before, store_before = snapshot()
    assert (1, 10) in pairs_before and (1, 11) in pairs_before
    assert store_before == {1, 2, 11}

    # the store state a replay of batch 1 sees: strictly-earlier
    # partitions only — batch 1's own (already-written) partition is
    # invisible even though it sits committed on disk
    from curies_spark.plans.dedup_pipeline import stage_documents
    from curies_spark.streaming.dedup import _pair_batch, _read_store

    replay_store = _read_store(spark, f"{out}/store", 1)
    assert {r["doc_id"] for r in replay_store.collect()} == {1, 2}

    # re-execute exactly what foreachBatch does on replay (same batch
    # df, same batch_id-scoped overwrite) and assert the outputs are
    # rewritten identically — the idempotence the checkpoint relies on
    wave2 = spark.createDataFrame(
        [Row(doc_id=10, text=base), Row(doc_id=11, text=near)]
    )
    pairs, novel = _pair_batch(
        stage_documents(wave2).localCheckpoint(), replay_store,
        min_est_jaccard=0.5,
    )
    pairs.write.mode("overwrite").parquet(f"{out}/pairs/batch=1")
    novel.select("doc_id", "mh", "content_hash").write.mode(
        "overwrite"
    ).parquet(f"{out}/store/batch=1")

    pairs_after, store_after = snapshot()
    assert pairs_after == pairs_before
    assert store_after == store_before
    assert all(a != b for a, b in pairs_after)  # no degenerate self-pairs

    # and a drained restart through the real checkpoint changes nothing
    q = start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    assert snapshot() == (pairs_before, store_before)


def test_stream_dedup_compaction_bounds_store_dirs(spark, tmp_path):
    """With compact_every=2 the store folds per-batch partitions into
    compact dirs: the listing stays bounded as batches accumulate, and
    the folded state is byte-equivalent for pairing."""
    import glob
    from pathlib import Path

    from pyspark.sql import Row

    from curies_spark.streaming import start_dedup_stream, streamed_survivors

    src = str(tmp_path / "cdocs")
    out = str(tmp_path / "cout")
    ckpt = str(tmp_path / "cckpt")
    base = " ".join(f"t{i}" for i in range(40))

    texts = {
        0: base,
        1: "first unrelated document about something",
        2: "second unrelated text mentioning other things",
        3: base.replace("t7", "edited"),     # near-dup of doc 0
        4: base,                             # exact dup of doc 0
        5: "fifth document with novel content words",
    }
    for i in range(6):
        spark.createDataFrame(
            [Row(doc_id=i, text=texts[i])]
        ).coalesce(1).write.mode("append").parquet(src)
        q = start_dedup_stream(spark, src, out, ckpt, compact_every=2)
        q.awaitTermination(120)

    store_dirs = {
        Path(p).name for p in glob.glob(f"{out}/store/*") if "=" in p
    }
    # compaction ran (at least one compact dir), and fewer than one
    # batch dir per processed batch remains
    assert any(d.startswith("compact=") for d in store_dirs), store_dirs
    assert sum(d.startswith("batch=") for d in store_dirs) < 6, store_dirs

    # the pairs table compacts on the same cadence (round 5): its
    # listing is bounded too, and the folded read loses nothing
    from curies_spark.streaming.dedup import read_stream_pairs

    pairs_dirs = {
        Path(p).name for p in glob.glob(f"{out}/pairs/*") if "=" in p
    }
    assert any(d.startswith("compact=") for d in pairs_dirs), pairs_dirs
    assert sum(d.startswith("batch=") for d in pairs_dirs) < 6, pairs_dirs

    got = {
        (r["id_a"], r["id_b"])
        for r in read_stream_pairs(spark, out).collect()
    }
    assert (0, 3) in got and (0, 4) in got
    surv = {r["doc_id"] for r in streamed_survivors(spark, out).collect()}
    assert surv == {0, 1, 2, 5}


def test_incremental_components_match_closure_every_batch(spark, tmp_path):
    """The per-batch-maintained component labels must equal the full
    closure over the accumulated pairs AFTER EVERY BATCH — including
    batches that merge two previously-separate components (the case
    where prior members of the losing component must be relabeled
    without touching the rest of the table)."""
    from pyspark.sql import Row

    from curies_spark.operators.dedup import connected_components
    from curies_spark.streaming import (
        read_stream_components,
        read_stream_pairs,
        start_dedup_stream,
        streamed_survivors,
    )

    src = str(tmp_path / "idocs")
    out = str(tmp_path / "iout")
    ckpt = str(tmp_path / "ickpt")
    base_a = " ".join(f"a{i}" for i in range(30))
    base_b = " ".join(f"b{i}" for i in range(30))
    waves = [
        # two separate families form
        [Row(doc_id=10, text=base_a), Row(doc_id=20, text=base_b)],
        [Row(doc_id=11, text=base_a.replace("a5", "x")),
         Row(doc_id=21, text=base_b.replace("b5", "y"))],
        # a smaller id arrives late and becomes family A's min — every
        # existing A member must relabel (the member_delta path)
        [Row(doc_id=5, text=base_a), Row(doc_id=99, text="standalone one")],
        # late exact copies join each family under the new minima
        [Row(doc_id=12, text=base_a), Row(doc_id=22, text=base_b),
         Row(doc_id=7, text="standalone two")],
        # family B's min drops too
        [Row(doc_id=3, text=base_b)],
    ]
    for wave in waves:
        spark.createDataFrame(wave).coalesce(1).write.mode("append").parquet(src)
        q = start_dedup_stream(
            spark, src, out, ckpt, min_est_jaccard=0.4, compact_every=2
        )
        q.awaitTermination(120)

        got = {
            (r["node"], r["component"])
            for r in read_stream_components(spark, out).collect()
        }
        want = {
            (r["node"], r["component"])
            for r in connected_components(
                read_stream_pairs(spark, out).select("id_a", "id_b").distinct()
            ).collect()
        }
        assert got == want, f"after wave ending with {wave[-1]}"

        inc = {r["doc_id"] for r in streamed_survivors(spark, out).collect()}
        full = {
            r["doc_id"]
            for r in streamed_survivors(spark, out, incremental=False).collect()
        }
        assert inc == full

    # final survivors: min id per family (5 for A, 3 for B) + untouched
    assert inc == {3, 5, 7, 99}
    import pytest

    with pytest.raises(ValueError, match="no committed stream output"):
        streamed_survivors(
            spark, str(tmp_path / "nowhere"), incremental=True
        )


def test_incremental_survivors_guard_partial_labels(spark, tmp_path):
    """A store whose earlier batches were written before the stream
    maintained component labels holds pairs the label table never saw.
    The default survivors path must detect the gap and fall back to the
    exact closure (not silently trust the partial labels)."""
    import shutil

    from pyspark.sql import Row

    from curies_spark.streaming import start_dedup_stream, streamed_survivors

    src = str(tmp_path / "gdocs")
    out = str(tmp_path / "gout")
    ckpt = str(tmp_path / "gckpt")
    base = " ".join(f"g{i}" for i in range(30))
    # wave 1 (duplicates!), then its labels removed: the pre-labels shape
    spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text=base)]
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    shutil.rmtree(tmp_path / "gout" / "components")
    # wave 2 resumes on that store: labels now exist but don't cover
    # wave 1's pair
    spark.createDataFrame(
        [Row(doc_id=3, text=base), Row(doc_id=9, text="unrelated words here")]
    ).coalesce(1).write.mode("append").parquet(src)
    q = start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)

    full = {
        r["doc_id"]
        for r in streamed_survivors(spark, out, incremental=False).collect()
    }
    assert full == {1, 9}
    # default: detects the coverage gap, falls back, stays exact
    assert {r["doc_id"] for r in streamed_survivors(spark, out).collect()} == full


def test_update_components_merges_and_relabels(spark, tmp_path):
    """Direct unit test of the incremental label updater, driving the
    case streams can't engineer deterministically: a later batch's pair
    BRIDGES two existing components, so every prior member of the
    losing component must be relabeled via the map-side delta scan —
    and a replayed batch must rewrite an identical delta."""
    from curies_spark.operators.dedup import connected_components
    from curies_spark.streaming.dedup import (
        _fold_components,
        _read_store,
        _update_components,
    )

    comp_path = str(tmp_path / "comps")
    batches = [
        [(10, 11), (10, 12)],          # family A → 10
        [(20, 21)],                    # family B → 20
        [(11, 21)],                    # bridge: A ∪ B → 10 (B relabels)
        [(5, 12)],                     # new min: everything → 5
        [(40, 41), (7, 7)],            # unrelated family + self loop
    ]
    seen: list = []
    for i, b in enumerate(batches):
        pairs = spark.createDataFrame(b, ["id_a", "id_b"])
        _update_components(spark, comp_path, pairs, i)
        seen += b
        got = {
            (r["node"], r["component"])
            for r in _fold_components(
                _read_store(spark, comp_path, None)
            ).collect()
        }
        want = {
            (r["node"], r["component"])
            for r in connected_components(
                spark.createDataFrame(seen, ["id_a", "id_b"])
            ).collect()
        }
        assert got == want, f"divergence after batch {i}: {b}"
    # the bridge really merged: every member of both families → 5
    comp_of = dict(got)
    assert {comp_of[n] for n in (5, 10, 11, 12, 20, 21)} == {5}
    assert comp_of[40] == 40 and comp_of[41] == 40 and comp_of[7] == 7

    # replay batch 2 against its strictly-earlier state: identical state
    _update_components(
        spark, comp_path, spark.createDataFrame(batches[2], ["id_a", "id_b"]), 2
    )
    replayed = {
        (r["node"], r["component"])
        for r in _fold_components(_read_store(spark, comp_path, None)).collect()
    }
    assert replayed == got


def test_stream_dedup_over_hadoop_fs_uri(spark, tmp_path):
    """The store/pairs directory management goes through the Hadoop
    FileSystem API: the whole stream must run with ``out_dir`` given as
    a ``file://`` URI (the scheme-resolution path every remote
    filesystem — hdfs://, s3a:// — takes), including compaction,
    superseded-dir deletion, and survivor reads."""
    import glob
    from pathlib import Path

    from pyspark.sql import Row

    from curies_spark.streaming import start_dedup_stream, streamed_survivors
    from curies_spark.streaming.dedup import read_stream_pairs

    src = str(tmp_path / "udocs")
    out_local = tmp_path / "uout"
    out = f"file://{out_local}"
    ckpt = str(tmp_path / "uckpt")
    base = " ".join(f"w{i}" for i in range(30))
    texts = {
        0: base,
        1: "unrelated number one",
        2: base,                       # exact dup of 0
        3: base.replace("w3", "ed"),   # near-dup of 0
        4: "unrelated number two",
    }
    for i in range(5):
        spark.createDataFrame(
            [Row(doc_id=i, text=texts[i])]
        ).coalesce(1).write.mode("append").parquet(src)
        q = start_dedup_stream(spark, src, out, ckpt, compact_every=2)
        q.awaitTermination(120)

    # compaction really managed directories behind the URI
    store_dirs = {
        Path(p).name for p in glob.glob(f"{out_local}/store/*") if "=" in p
    }
    assert any(d.startswith("compact=") for d in store_dirs), store_dirs

    got = {
        (r["id_a"], r["id_b"]) for r in read_stream_pairs(spark, out).collect()
    }
    assert (0, 2) in got and (0, 3) in got
    surv = {r["doc_id"] for r in streamed_survivors(spark, out).collect()}
    assert surv == {0, 1, 4}


def test_streamed_survivors_match_batch_pipeline(spark, tmp_path):
    """Survivor selection over the stream's accumulated outputs equals
    the batch pipeline's survivors on the same corpus."""
    from pyspark.sql import Row

    from curies_spark.plans.dedup_pipeline import run_dedup_pipeline
    from curies_spark.streaming import start_dedup_stream, streamed_survivors

    src = str(tmp_path / "mdocs")
    out = str(tmp_path / "mout")
    ckpt = str(tmp_path / "mckpt")
    base = (
        "the quick brown fox jumps over the lazy dog and then some more "
        "words follow here so near duplicates cluster together nicely"
    )
    waves = [
        [Row(doc_id=3, text=base), Row(doc_id=7, text="unrelated one here")],
        [Row(doc_id=1, text=base),                         # smaller id arrives later
         Row(doc_id=4, text=base.replace("lazy", "idle"))],
        [Row(doc_id=9, text="another standalone document"),
         Row(doc_id=2, text=base.replace("quick", "swift"))],
    ]
    for wave in waves:
        spark.createDataFrame(wave).coalesce(1).write.mode("append").parquet(src)
        q = start_dedup_stream(spark, src, out, ckpt, min_est_jaccard=0.4)
        q.awaitTermination(120)

    all_docs = spark.createDataFrame([r for w in waves for r in w])
    batch_out = str(tmp_path / "batch_ref")
    run_dedup_pipeline(spark, all_docs, batch_out, min_est_jaccard=0.4)
    want = {
        r["doc_id"]
        for r in spark.read.parquet(f"{batch_out}/survivors").collect()
    }
    got = {r["doc_id"] for r in streamed_survivors(spark, out).collect()}
    assert got == want


def test_stream_ann_index_matches_batch_build(spark, tmp_path):
    """The streamed ANN index (per-batch signed appends) must probe
    identically to a batch-built index over the same vectors, resume
    across waves, replay idempotently, and refuse mismatched planes."""
    import glob

    import pytest as _pytest

    from curies_spark.operators.similarity import (
        build_ann_index,
        probe_ann_index,
        query_ann_index,
    )
    from curies_spark.streaming import start_ann_index_stream

    src = str(tmp_path / "emb_src")
    idx = str(tmp_path / "emb_idx_stream")
    ref_idx = str(tmp_path / "emb_idx_batch")
    ckpt = str(tmp_path / "emb_ckpt")

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .cache()
    )
    wave1 = emb.filter(F.col("vec_id") % 2 == 0)
    wave2 = emb.filter(F.col("vec_id") % 2 == 1)

    wave1.coalesce(1).write.mode("append").parquet(src)
    q = start_ann_index_stream(spark, src, idx, ckpt, dim=64, n_planes=6, seed=7)
    q.awaitTermination(120)
    wave2.coalesce(1).write.mode("append").parquet(src)
    q = start_ann_index_stream(spark, src, idx, ckpt, dim=64, n_planes=6, seed=7)
    q.awaitTermination(120)

    build_ann_index(emb, ref_idx, dim=64, n_planes=6, seed=7)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]

    got = probe_ann_index(spark, idx, qvec, multiprobe_bits=1)
    want = probe_ann_index(spark, ref_idx, qvec, multiprobe_bits=1)
    assert {(r["vec_id"], r["sig"]) for r in got.collect()} == {
        (r["vec_id"], r["sig"]) for r in want.collect()
    }
    got_k = [r["vec_id"] for r in query_ann_index(spark, idx, qvec, k=5).collect()]
    want_k = [r["vec_id"] for r in query_ann_index(spark, ref_idx, qvec, k=5).collect()]
    assert got_k == want_k

    # the sig filter must prune partitions in the nested layout too
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "sig#" in plan.split("PartitionFilters")[1][:200]

    # drained replay adds nothing
    n = spark.read.parquet(idx).count()
    q = start_ann_index_stream(spark, src, idx, ckpt, dim=64, n_planes=6, seed=7)
    q.awaitTermination(120)
    assert spark.read.parquet(idx).count() == n == emb.count()

    # resuming with different hyperplanes must fail loud
    with _pytest.raises(ValueError, match="built with"):
        start_ann_index_stream(spark, src, idx, ckpt, dim=64, n_planes=8, seed=7)


def test_stream_quantized_ann_index_matches_batch_build(spark, tmp_path):
    """The streamed QUANTIZED index (per-batch codes+vectors appends)
    must answer query_ann_index identically to a batch-built quantized
    index, and layout mismatches on resume fail loud both ways."""
    import pytest as _pytest

    from curies_spark.operators.similarity import build_ann_index, query_ann_index
    from curies_spark.streaming import start_ann_index_stream

    src = str(tmp_path / "qemb_src")
    idx = str(tmp_path / "qemb_idx_stream")
    ref_idx = str(tmp_path / "qemb_idx_batch")
    ckpt = str(tmp_path / "qemb_ckpt")

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .cache()
    )
    for wave in (
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    ):
        wave.coalesce(1).write.mode("append").parquet(src)
        q = start_ann_index_stream(
            spark, src, idx, ckpt, dim=64, n_planes=6, seed=7, quantize=True
        )
        q.awaitTermination(120)

    build_ann_index(emb, ref_idx, dim=64, n_planes=6, seed=7, quantize=True)
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    got = [r["vec_id"] for r in query_ann_index(spark, idx, qvec, k=5).collect()]
    want = [r["vec_id"] for r in query_ann_index(spark, ref_idx, qvec, k=5).collect()]
    assert got == want
    # the codes-only path works over the streamed layout too
    got0 = [
        r["vec_id"]
        for r in query_ann_index(spark, idx, qvec, k=5, rerank=0).collect()
    ]
    assert len(set(got0) & set(want)) >= 4

    # layout is part of the resume contract, both directions
    with _pytest.raises(ValueError, match="built with"):
        start_ann_index_stream(
            spark, src, idx, ckpt, dim=64, n_planes=6, seed=7, quantize=False
        )


def test_stream_ivf_index_matches_batch_append(spark, tmp_path):
    """Streamed IVF appends place vectors in exactly the cells the
    batch paths would (shared assignment kernel) and probe identically;
    replay adds nothing."""
    from curies_spark.operators.similarity import build_ivf_index, query_ivf_index
    from curies_spark.streaming import start_ivf_index_stream

    src = str(tmp_path / "ivf_src")
    idx = str(tmp_path / "ivf_idx_stream")
    ref_idx = str(tmp_path / "ivf_idx_batch")
    ckpt = str(tmp_path / "ivf_ckpt")

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .cache()
    )
    # identical training corpora → identical centroids for both paths
    build_ivf_index(emb, ref_idx, dim=64, k=8, iters=2)
    build_ivf_index(emb, idx, dim=64, k=8, iters=2, write_vectors=False)

    for pred in (F.col("vec_id") % 2 == 0, F.col("vec_id") % 2 == 1):
        emb.filter(pred).coalesce(1).write.mode("append").parquet(src)
        q = start_ivf_index_stream(spark, src, idx, ckpt)
        q.awaitTermination(120)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    got = [
        (r["vec_id"], r["cosine"])
        for r in query_ivf_index(spark, idx, qvec, k=5, nprobe=2).collect()
    ]
    want = [
        (r["vec_id"], r["cosine"])
        for r in query_ivf_index(spark, ref_idx, qvec, k=5, nprobe=2).collect()
    ]
    assert got == want
    # cell placement identical row-by-row
    got_cells = {(r["vec_id"], r["cid"]) for r in spark.read.parquet(idx).collect()}
    want_cells = {(r["vec_id"], r["cid"]) for r in spark.read.parquet(ref_idx).collect()}
    assert got_cells == want_cells

    n = spark.read.parquet(idx).count()
    q = start_ivf_index_stream(spark, src, idx, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(idx).count() == n == emb.count()


def test_stream_quantized_ivf_matches_batch_build(spark, tmp_path):
    """A quantized-seed IVF index (`build_ivf_index(write_vectors=False,
    quantize=True)`) makes every streamed batch write the codes+vectors
    layout; queries answer identically to a fully batch-built quantized
    index over the same vectors."""
    from curies_spark.operators.similarity import build_ivf_index, query_ivf_index
    from curies_spark.streaming import start_ivf_index_stream

    src = str(tmp_path / "qivf_src")
    idx = str(tmp_path / "qivf_idx_stream")
    ref_idx = str(tmp_path / "qivf_idx_batch")
    ckpt = str(tmp_path / "qivf_ckpt")

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", "embedding")
        .cache()
    )
    build_ivf_index(emb, ref_idx, dim=64, k=8, iters=2, quantize=True)
    build_ivf_index(
        emb, idx, dim=64, k=8, iters=2, write_vectors=False, quantize=True
    )
    for pred in (F.col("vec_id") % 2 == 0, F.col("vec_id") % 2 == 1):
        emb.filter(pred).coalesce(1).write.mode("append").parquet(src)
        q = start_ivf_index_stream(spark, src, idx, ckpt)
        q.awaitTermination(120)

    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 3).first()["embedding"]]
    got = [
        r["vec_id"]
        for r in query_ivf_index(spark, idx, qvec, k=5, nprobe=2).collect()
    ]
    want = [
        r["vec_id"]
        for r in query_ivf_index(spark, ref_idx, qvec, k=5, nprobe=2).collect()
    ]
    assert got == want
    # both sides of the layout really landed per batch
    assert spark.read.parquet(f"{idx}/codes").count() == emb.count()
    assert spark.read.parquet(f"{idx}/vectors").count() == emb.count()


def test_stream_dedup_shuffle_fallback_above_broadcast_cap(spark, tmp_path, monkeypatch):
    """Above BROADCAST_NOVEL_CAP the batch-vs-store band join degrades
    from a forced broadcast to a shuffle join — same pairs, no
    broadcast-size hazard on cold-start backfills."""
    from pyspark.sql import Row

    from curies_spark.streaming import dedup as SD

    monkeypatch.setattr(SD, "BROADCAST_NOVEL_CAP", 1)

    src = str(tmp_path / "bdocs")
    out = str(tmp_path / "bout")
    ckpt = str(tmp_path / "bckpt")
    base = " ".join(f"w{i}" for i in range(40))
    near = base.replace("w5", "x").replace("w20", "y").replace("w33", "z")

    spark.createDataFrame(
        [Row(doc_id=1, text=base), Row(doc_id=2, text="other unrelated thing")]
    ).coalesce(1).write.mode("append").parquet(src)
    q = SD.start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)
    spark.createDataFrame(
        [Row(doc_id=10, text=near), Row(doc_id=11, text="still different words")]
    ).coalesce(1).write.mode("append").parquet(src)
    q = SD.start_dedup_stream(spark, src, out, ckpt)
    q.awaitTermination(120)

    import glob

    pairs = spark.read.parquet(*glob.glob(f"{out}/pairs/batch=*"))
    assert {(r["id_a"], r["id_b"]) for r in pairs.collect()} == {(1, 10)}


def test_signature_format_guard(spark, tmp_path):
    """Round 6 (ADVICE): a resumed stream must fail loud when the store
    was written under a different tokenizer/shingle/permutation recipe,
    or under an unknown (pre-stamp) one — never silently under-pair."""
    import pytest

    from curies_spark.streaming import dedup as SD
    from curies_spark.streaming.fsio import fs_delete, fs_read_text

    out = str(tmp_path / "out")
    SD._check_signature_format(spark, out, k=3)  # fresh dir: stamps
    assert fs_read_text(spark, f"{out}/_signature.json") is not None
    SD._check_signature_format(spark, out, k=3)  # same recipe: fine
    with pytest.raises(RuntimeError, match="signature format"):
        SD._check_signature_format(spark, out, k=4)  # different shingle k

    # a torn stamp (crash mid-write) gets the guided rebuild error, never
    # a raw parse or checksum failure: first with its stale .crc (a
    # checksummed filesystem), then without one (truncated JSON)
    stamp = tmp_path / "out" / "_signature.json"
    stamp.write_text(stamp.read_text()[:7])
    for _ in range(2):
        with pytest.raises(RuntimeError, match="torn or unreadable.*Rebuild"):
            SD._check_signature_format(spark, out, k=3)
        (tmp_path / "out" / "._signature.json.crc").unlink(missing_ok=True)

    # a populated store with NO stamp is an unknown recipe: refuse
    fs_delete(spark, f"{out}/_signature.json")
    (tmp_path / "out" / "store").mkdir(parents=True)
    with pytest.raises(RuntimeError, match="predates"):
        SD._check_signature_format(spark, out, k=3)
