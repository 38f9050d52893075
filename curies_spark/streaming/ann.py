"""Streaming ANN index maintenance: sign arriving embedding vectors
with the index's hyperplanes and append them to the persisted
signature-partitioned index, one idempotent batch directory at a time.

The batch counterpart (operators/similarity.py ``build_ann_index`` /
``append_to_ann_index``) already amortizes signing into the layout;
this lifts the APPEND side to Structured Streaming — the daily-
increment shape at corpus scale, where embeddings land continuously
and a full rebuild is infeasible. Each micro-batch:

- signs its vectors with the SAME hyperplanes the index was created
  with (the ``_params`` file is written once and verified at
  every stream (re)start — mismatched planes would make vectors
  silently unreachable, the hazard the batch append already guards);
- writes ``{index_path}/batch=N/sig=S/...`` with batch-scoped
  overwrite, so a crash replay rewrites its own directory instead of
  duplicating rows (the same idempotence contract as
  streaming/dedup.py).

Probing is unchanged: ``probe_ann_index`` partition-discovers
``(batch, sig)`` and the ``sig`` filter still prunes every non-probed
bucket's files at planning time — the extra ``batch`` partition level
only adds directories, never scanned bytes. Spark's partition
discovery cannot read this layout and ``build_ann_index``'s flat
``sig=S`` one at one path, so mixing them is refused: a stream will
not start on a batch-built index, and a batch append refuses a
streamed one. A streamed index lives at its own path from batch 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

from ..operators.similarity import (
    _ann_params,
    _check_ann_params,
    _ivf_assign,
    _ivf_quantized,
    _refuse_mixed_layout,
    _signed,
    _write_ann_params,
    _write_cells,
    hyperplanes,
    load_ivf_centroids,
)

__all__ = [
    "EMBEDDING_SCHEMA",
    "read_embedding_stream",
    "start_ann_index_stream",
    "start_ivf_index_stream",
]

def _embedding_schema(id_col: str, vec_col: str) -> StructType:
    return StructType(
        [
            StructField(id_col, LongType(), False),
            StructField(vec_col, ArrayType(FloatType()), True),
        ]
    )


#: default schema of the streamed embeddings table (testdata layout)
EMBEDDING_SCHEMA = _embedding_schema("vec_id", "embedding")


def read_embedding_stream(
    spark: SparkSession,
    source_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: "int | None" = None,
) -> DataFrame:
    """File-source stream of embedding parquet landing in a directory.

    The schema is pinned from ``id_col``/``vec_col`` (a file-source
    stream needs an explicit schema) — names that don't match the
    parquet columns would resolve to all-NULL, so callers must pass the
    source's real column names."""
    reader = spark.readStream.schema(_embedding_schema(id_col, vec_col))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(source_dir)


def _start_cell_stream(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint_dir: str,
    cell: str,
    quantized: bool,
    place,
    *,
    vec_col: str,
    id_col: str,
    available_now: bool,
    max_files_per_trigger: "int | None",
) -> StreamingQuery:
    """The appender both index streams share: refuse a batch-built
    index once per start, then write each micro-batch, placed into
    cells by ``place`` (``batch -> (id, vector, cell)``), as its own
    ``batch=N`` directory through the one index write."""
    _refuse_mixed_layout(spark, index_path, quantized, cell, streamed=True)

    def process(batch: DataFrame, batch_id: int) -> None:
        _write_cells(place(batch), index_path, cell, quantized, batch_id=batch_id)

    writer = (
        read_embedding_stream(
            spark,
            source_dir,
            id_col=id_col,
            vec_col=vec_col,
            max_files_per_trigger=max_files_per_trigger,
        )
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_ann_index_stream(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    dim: int,
    n_planes: int = 6,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    available_now: bool = True,
    max_files_per_trigger: "int | None" = None,
    quantize: bool = False,
) -> StreamingQuery:
    """Start (or resume) the streaming ANN index appender.

    ``quantize=True`` streams the two-table layout: each batch writes
    ``codes/batch=N/sig=S`` (int8 per-vector-scale codes) and
    ``vectors/batch=N/sig=S`` floats — the probe reads the ``codes``/
    ``vectors`` roots with (batch, sig) partition discovery, so a
    streamed quantized index answers ``query_ann_index`` exactly like a
    batch-built one. The layout rides in ``_params`` and is verified on
    every (re)start alongside the hyperplanes — resuming with the wrong
    layout would leave rows invisible to the other layout's probes."""
    from .fsio import fs_exists

    params = _ann_params(dim, n_planes, seed, quantize)
    # existence probed through the Hadoop FS API: the index path may be
    # any Hadoop filesystem URI, not just a local POSIX path
    if fs_exists(spark, index_path) or fs_exists(spark, index_path + "_params"):
        # resuming into an existing index: planes AND layout must match
        # (an index without a readable _params gets the rebuild error)
        _check_ann_params(spark, index_path, params)
    else:
        _write_ann_params(spark, index_path, params)
    planes = hyperplanes(dim, n_planes, seed=seed)
    return _start_cell_stream(
        spark,
        source_dir,
        index_path,
        checkpoint_dir,
        "sig",
        quantize,
        lambda batch: _signed(batch, planes, vec_col, id_col),
        vec_col=vec_col,
        id_col=id_col,
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )


def start_ivf_index_stream(
    spark: SparkSession,
    source_dir: str,
    index_path: str,
    checkpoint_dir: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    available_now: bool = True,
    max_files_per_trigger: "int | None" = None,
) -> StreamingQuery:
    """Start (or resume) the streaming IVF index appender.

    The index's centroids must already exist — train them once with
    ``build_ivf_index(seed_corpus, index_path, write_vectors=False)``
    (or a full batch build at a DIFFERENT path whose ``_centroids`` and
    ``_params`` are copied here): standard IVF maintenance keeps cells
    fixed between rare re-trains while appends arrive continuously. Each
    micro-batch runs the shared BLAS nearest-centroid kernel
    (``_ivf_assign`` — the same cell placement as the batch paths, so
    they can never diverge) and writes
    ``{index_path}/batch=N/cid=C/...`` with batch-scoped overwrite —
    idempotent under crash replay, and ``query_ivf_index``'s ``cid``
    filter partition-prunes the nested layout exactly like the flat
    batch one. The index's OWN recorded layout (``_params``) decides
    what each batch writes, exactly like the batch appender."""
    quantized = _ivf_quantized(spark, index_path)
    cids, cents = load_ivf_centroids(spark, index_path)
    return _start_cell_stream(
        spark,
        source_dir,
        index_path,
        checkpoint_dir,
        "cid",
        quantized,
        lambda batch: _ivf_assign(batch, cents, cids, vec_col, id_col),
        vec_col=vec_col,
        id_col=id_col,
        available_now=available_now,
        max_files_per_trigger=max_files_per_trigger,
    )
