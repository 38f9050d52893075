"""The cell-partitioned vector index (LSH ``sig=S`` / IVF ``cid=C``,
flat or quantized ``codes/`` + ``vectors/``) decides its layout once per
side: one write, one read. Mixed batch/streamed layouts are refused
before any write, each query reads ``_params`` once, and the signing
and assignment kernels share the cosine kernels' batch prep (ragged
batches fail loud)."""

import ast
import math
from pathlib import Path

import pytest
from pyspark.sql import Row, functions as F

from curies_spark.operators import similarity as S
from curies_spark.streaming import fsio
from curies_spark.streaming.ann import start_ann_index_stream, start_ivf_index_stream

REPO = Path(__file__).resolve().parent.parent
INDEX_MODULES = ("curies_spark/operators/similarity.py", "curies_spark/streaming/ann.py")


def _vectors(spark, n=40, dim=8, start=0):
    return spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[math.cos(i * 0.1 + j) for j in range(dim)])
            for i in range(start, start + n)
        ]
    )


def _ragged(spark):
    # 2 + 4 elements: a 3-dim reshape of the flat values would succeed
    return spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 2.0]), Row(vec_id=1, embedding=[3.0, 4.0, 5.0, 6.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)


def _with_nulls(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)


def test_lsh_signing_rejects_ragged_batches_and_signs_null_to_zero(spark):
    planes = S.hyperplanes(3, 4, seed=3)
    with pytest.raises(Exception, match="ragged"):
        _ragged(spark).select(S.lsh_signature_col(F.col("embedding"), planes)).collect()

    df = _with_nulls(spark, [Row(vec_id=0, embedding=None), Row(vec_id=1, embedding=[1.0, -2.0, 0.5])])
    got = {
        r["vec_id"]: r["s"]
        for r in df.select("vec_id", S.lsh_signature_col(F.col("embedding"), planes).alias("s")).collect()
    }
    assert got == {0: 0, 1: S.query_signature([1.0, -2.0, 0.5], planes)}
    # a batch with no non-NULL vector still signs (every row to 0)
    nulls = _with_nulls(spark, [Row(vec_id=0, embedding=None)])
    assert nulls.select(S.lsh_signature_col(F.col("embedding"), planes).alias("s")).first()["s"] == 0


def test_ivf_assignment_rejects_ragged_batches_and_null_vectors(spark):
    cents, cids = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]], [0, 1]
    with pytest.raises(Exception, match="ragged"):
        S._ivf_assign(_ragged(spark), cents, cids, "embedding", "vec_id").collect()
    df = _with_nulls(spark, [Row(vec_id=0, embedding=[0.1, 0.9, 0.0]), Row(vec_id=1, embedding=None)])
    with pytest.raises(Exception, match="1 NULL vector"):
        S._ivf_assign(df, cents, cids, "embedding", "vec_id").collect()


def test_cosine_kernel_scores_an_all_null_batch(spark):
    nulls = _with_nulls(spark, [Row(vec_id=0, embedding=None)])
    assert nulls.select(S.cosine_vs_query_col(F.col("embedding"), [1.0, 0.0]).alias("c")).first()["c"] is None


def _dirs(path):
    return sorted(str(p.relative_to(path)) for p in Path(path).rglob("*=*") if p.is_dir())


def test_mixed_batch_and_streamed_layouts_are_refused(spark, tmp_path):
    """A stream onto a batch-built index and a batch append onto a
    streamed index each fail with the guided error before writing
    anything; the index keeps answering queries."""
    df = _vectors(spark)
    query = [1.0] * 8
    src = str(tmp_path / "src")
    # the stream's schema pins array<float>
    df.select("vec_id", F.col("embedding").cast("array<float>")).coalesce(1).write.parquet(src)
    refused = "mixed layout"

    # stream onto batch-built: ANN (flat) and IVF (quantized)
    ann, ivf = str(tmp_path / "ann"), str(tmp_path / "ivf")
    S.build_ann_index(df, ann, dim=8)
    S.build_ivf_index(df, ivf, dim=8, k=4, iters=1, quantize=True)
    before = _dirs(ann), _dirs(ivf)
    with pytest.raises(ValueError, match=refused):
        start_ann_index_stream(spark, src, ann, str(tmp_path / "c1"), dim=8)
    with pytest.raises(ValueError, match=refused):
        start_ivf_index_stream(spark, src, ivf, str(tmp_path / "c2"))
    assert (_dirs(ann), _dirs(ivf)) == before
    assert len(S.query_ann_index(spark, ann, query, k=3).collect()) == 3
    assert len(S.query_ivf_index(spark, ivf, query, k=3).collect()) == 3

    # batch append onto streamed: ANN (quantized) and the seeded IVF (flat)
    sann, sivf = str(tmp_path / "sann"), str(tmp_path / "sivf")
    start_ann_index_stream(spark, src, sann, str(tmp_path / "c3"), dim=8, quantize=True).awaitTermination(120)
    S.build_ivf_index(df, sivf, dim=8, k=4, iters=1, write_vectors=False)
    start_ivf_index_stream(spark, src, sivf, str(tmp_path / "c4")).awaitTermination(120)
    before = _dirs(sann), _dirs(sivf)
    more = _vectors(spark, n=3, start=100)
    with pytest.raises(ValueError, match=refused):
        S.append_to_ann_index(more, sann, dim=8, quantize=True)
    with pytest.raises(ValueError, match=refused):
        S.append_to_ivf_index(more, sivf)
    assert (_dirs(sann), _dirs(sivf)) == before
    assert len(S.query_ann_index(spark, sann, query, k=3).collect()) == 3
    assert len(S.query_ivf_index(spark, sivf, query, k=3).collect()) == 3


def test_each_query_reads_params_once(spark, tmp_path, monkeypatch):
    df = _vectors(spark)
    query = [1.0] * 8
    fpath, qpath, ivf = (str(tmp_path / n) for n in ("f", "q", "ivf"))
    S.build_ann_index(df, fpath, dim=8)
    S.build_ann_index(df, qpath, dim=8, quantize=True)
    S.build_ivf_index(df, ivf, dim=8, k=4, iters=1, quantize=True)

    reads = []
    read_json = fsio.fs_read_json

    def counting(spark, path):
        reads.append(path)
        return read_json(spark, path)

    monkeypatch.setattr(fsio, "fs_read_json", counting)
    for run in (
        lambda: S.query_ann_index(spark, fpath, query, k=3),
        lambda: S.query_ann_index(spark, qpath, query, k=3),
        lambda: S.query_ann_index(spark, qpath, query, k=3, rerank=0),
        lambda: S.query_ivf_index(spark, ivf, query, k=3),
    ):
        reads.clear()
        assert len(run().collect()) == 3
        assert len(reads) == 1 and reads[0].endswith("_params")


def _functions_containing(needle):
    found = set()
    for rel in INDEX_MODULES:
        src = (REPO / rel).read_text()
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, ast.FunctionDef) and needle in ast.get_source_segment(src, node):
                found.add(node.name)
    return found


def test_index_layout_is_decided_in_one_write_and_one_read():
    assert _functions_containing(".partitionBy(") == {"_write_cells"}
    # the index payload (codes/vectors or flat) is read in one function;
    # the other parquet read is the IVF centroid side table
    assert _functions_containing(".read.parquet(") == {"_read_cells", "load_ivf_centroids"}
    for gone in ("_write_signed", "write_quantized_partitions"):
        assert not hasattr(S, gone) and gone not in S.__all__
