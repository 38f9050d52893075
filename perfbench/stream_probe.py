"""The streaming layer, measured by a probe in a traced run.

A fresh ``streaming.start_dedup_stream`` drains two batch files
(``availableNow``, ``maxFilesPerTrigger=1``, compaction every batch, so
batch 1 folds batch 0's store while it meets its history), then the
survivor query runs over what it wrote. Each batch is 90% novel
documents, 5% exact copies of batch 0 documents and 5% near-duplicates
of them (the corpus shape of ``tools/bench_streaming_dedup.py``), with
every token keyed by the seed. The probe is the benchmark's only run of
cross-batch state, checkpoint commits, per-batch writes, the MinHash
kernel, the band join and ``connected_components``. One batch costs
seconds of fixed per-job work, too much to fit the many samples an
end-to-end metric needs into a run, so its numbers are per-layer.
"""

from __future__ import annotations

import hashlib
import statistics
import time

import harness

N_BATCHES = 2
BATCH_ROWS = 1_000
N_TOKENS = 12

_PROGRESS = {
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.latest_offset_s": "latestOffset",
}

#: the per-layer metrics this probe reports
KEYS = (
    "streaming.batch_s", "streaming.docs_per_s", "streaming.survivors_s",
    *_PROGRESS,
    "streaming.executions_per_batch", "streaming.late_over_early",
    "streaming.store_rows", "streaming.store_bytes", "streaming.store_dirs",
    "streaming.pairs", "streaming.checkpoint_files",
    "operators.minhash_docs_per_s", "operators.components_s",
)


def _generate(seed: int, src_dir) -> None:
    """One parquet file per batch: doc ``i`` of batch ``r`` is an exact
    copy (i % 10 == 0) or a near-duplicate (i % 10 == 1, last token new)
    of doc ``i`` of batch 0, otherwise novel."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def tok(r: int, i: int, t: int) -> str:
        return hashlib.sha256(f"{seed}-{r}-{i}-{t}".encode()).hexdigest()[:16]

    src_dir.mkdir(parents=True, exist_ok=True)
    for r in range(N_BATCHES):
        ids, texts = [], []
        for i in range(BATCH_ROWS):
            kind = i % 10
            base = 0 if kind <= 1 else r
            toks = [tok(base, i, t) for t in range(N_TOKENS - 1)]
            toks.append(tok(0 if kind == 0 else r, i, N_TOKENS - 1))
            ids.append(r * BATCH_ROWS + i)
            texts.append(" ".join(toks))
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
            src_dir / f"batch-{r:03d}.parquet",
        )


def measure(run) -> None:
    """Drain, survivors, output checks and the streaming and operators
    per-layer metrics, into ``run.layers``."""
    from curies_spark.operators.dedup import connected_components, minhash_signature
    from curies_spark.streaming import start_dedup_stream, streamed_survivors
    from curies_spark.streaming.dedup import _read_store, read_stream_pairs

    spark, L = run.spark, run.layers
    base = run.workdir / "stream"
    src, out, ckpt = base / "src", base / "out", base / "ckpt"
    docs = N_BATCHES * BATCH_ROWS
    _generate(run.seed, src)

    mark = run.sql.mark()
    t0 = time.perf_counter()
    with run.tracer.span("streaming.start_dedup_stream"):
        q = start_dedup_stream(
            spark, str(src), str(out), str(ckpt),
            min_est_jaccard=0.3, max_files_per_trigger=1, compact_every=1,
        )
        try:
            q.awaitTermination()
        finally:
            q.stop()
    drain_s = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    executions = len(run.sql.since(mark))
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    t0 = time.perf_counter()
    with run.tracer.span("streaming.streamed_survivors"):
        survivors = streamed_survivors(spark, str(out)).count()
    L["streaming.survivors_s"] = time.perf_counter() - t0

    # batch 1 repeats 100 batch-0 docs exactly (always removed) and 100
    # nearly (removed when MinHash finds them); novel docs share no token
    run.check("stream: every batch processed",
              sum(p["numInputRows"] for p in progress) == docs)
    run.check("stream: survivors within the corpus's duplicate bounds",
              docs - 200 <= survivors <= docs - 100)
    incremental = streamed_survivors(spark, str(out))
    full = streamed_survivors(spark, str(out), incremental=False)
    run.check("stream: incremental survivors == full closure",
              incremental.exceptAll(full).isEmpty() and full.exceptAll(incremental).isEmpty())

    walls = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    # batch 0 meets an empty store; batch 1 is the one with history
    L["streaming.batch_s"] = walls[-1]
    L["streaming.late_over_early"] = walls[-1] / walls[0]
    L["streaming.docs_per_s"] = docs / drain_s
    for key, field in _PROGRESS.items():
        L[key] = statistics.median(p["durationMs"].get(field, 0) for p in progress) / 1000.0
    L["streaming.executions_per_batch"] = executions / len(progress)
    store = _read_store(spark, str(out / "store"), None)
    L["streaming.store_rows"] = store.count()
    L["streaming.store_bytes"] = harness.dir_stats(out / "store")[1]
    L["streaming.store_dirs"] = sum(1 for p in (out / "store").iterdir() if p.is_dir())
    L["streaming.pairs"] = read_stream_pairs(spark, str(out)).count()
    L["streaming.checkpoint_files"] = harness.dir_stats(ckpt)[0]
    run.detail["stream_probe"] = {
        "batches": N_BATCHES, "batch_rows": BATCH_ROWS, "survivors": survivors,
        "trigger_execution_s": walls, "drain_s": drain_s,
    }

    batch = spark.read.parquet(str(src))
    L["operators.minhash_docs_per_s"] = docs / harness.noop_median(
        run.tracer, "operators.minhash_signature", lambda: minhash_signature(batch)
    )
    pairs = read_stream_pairs(spark, str(out)).select("id_a", "id_b").distinct().cache()
    pairs.count()
    L["operators.components_s"] = harness.noop_median(
        run.tracer, "operators.connected_components", lambda: connected_components(pairs)
    )
    pairs.unpersist()
