"""Similarity search over embedding columns (``array<float>``).

- Brute-force cosine top-k: the exact baseline. One BLAS matvec per
  Arrow batch (the same dense-linear-algebra kernel shape as LSH
  signing and IVF assignment — Spark's higher-order functions
  interpret their lambdas per element and were measured 20-22× slower
  on these paths); one pass, no shuffle until the final top-k (which
  is a TakeOrdered, not a full sort).
- LSH-bucketed ANN (random hyperplanes): the scale path. Hyperplane
  normals are derived deterministically from sha256 of (seed, plane,
  dim) so signatures are reproducible across runs and engines. Probing
  cost drops from O(N) to O(N / 2^bits) per query at the usual recall
  trade-off; multi-probe widens recall.
- Persisted LSH and IVF indexes are one cell-partitioned layout
  (``sig=S`` or ``cid=C`` directories; flat, or the quantized
  ``codes/`` + ``vectors/`` pair). :func:`_write_cells` is its one
  write (build, append and every streamed batch) and
  :func:`_read_cells` its one read; :func:`_query_cells` ranks a
  query over the cells a probe picked.
- Embedding near-duplicate pairs: bucket join on full signatures, then
  exact cosine verification.
"""

from __future__ import annotations

import hashlib
import struct

from pyspark.sql import Column, DataFrame, functions as F

from .. import _worker

__all__ = [
    "append_to_ann_index",
    "append_to_ivf_index",
    "build_ann_index",
    "build_ivf_index",
    "cosine_codes_vs_query_col",
    "cosine_pair_col",
    "cosine_similarity_col",
    "cosine_topk",
    "cosine_vs_query_col",
    "embedding_near_dup_pairs",
    "hyperplanes",
    "load_ivf_centroids",
    "lsh_signature_col",
    "lsh_topk",
    "probe_ann_index",
    "quantize_vector_col",
    "query_ann_index",
    "query_ivf_index",
    "query_signature",
]


def _unit(v: "list[float]") -> "list[float]":
    norm = sum(x * x for x in v) ** 0.5 or 1.0
    return [x / norm for x in v]


def hyperplanes(dim: int, n_planes: int, *, seed: int = 7) -> "list[list[float]]":
    """Deterministic pseudo-random unit hyperplane normals: each component
    derives from sha256(seed, plane, dim-index) mapped to [-1, 1]."""
    planes = []
    for p in range(n_planes):
        v = []
        for d in range(dim):
            digest = hashlib.sha256(struct.pack(">III", seed, p, d)).digest()
            u = int.from_bytes(digest[:8], "big") / float(1 << 64)
            v.append(2.0 * u - 1.0)
        planes.append(_unit(v))
    return planes


def _flat_valid(a, b=None, *, dim=0):
    """Shared Arrow-batch prep for the vector kernels: combine chunks,
    intersect validity, and return (valid_mask_or_None, dense matrices).
    ``flatten()`` honors list offsets AND skips null entries, so dense
    rows line up with the filtered arrays exactly. A batch with no
    non-NULL row comes back as a ``0 × dim`` matrix, so the kernel's
    product still has matching shapes."""
    import numpy as np
    import pyarrow as pa

    arrs = [x.combine_chunks() if isinstance(x, pa.ChunkedArray) else x for x in ((a, b) if b is not None else (a,))]
    valid = None
    if any(x.null_count for x in arrs):
        valid = np.ones(len(arrs[0]), dtype=bool)
        for x in arrs:
            valid &= x.is_valid().to_numpy(zero_copy_only=False)
        arrs = [x.filter(pa.array(valid)) for x in arrs]
    mats = []
    for x in arrs:
        if len(x):
            # reshape assumes equal widths; a ragged batch whose total
            # happens to divide evenly would otherwise silently score
            # every row against the wrong elements
            import pyarrow.compute as pc

            lengths = pc.list_value_length(x)
            lo, hi = pc.min_max(lengths).values()
            if lo.as_py() != hi.as_py():
                raise ValueError(
                    f"ragged vector lengths in batch: {lo.as_py()}..{hi.as_py()} "
                    "— all vectors must share one dimension"
                )
            if hi.as_py() == 0:
                # an all-zero-length batch would otherwise surface as an
                # opaque numpy reshape error (and skip the kernels' own
                # dimension checks entirely)
                raise ValueError(
                    "zero-length vectors in batch — every vector must have "
                    "at least one element"
                )
        flat = np.asarray(x.flatten(), dtype=np.float64)
        mats.append(flat.reshape(len(x), -1) if len(x) else flat.reshape(0, dim))
    return valid, mats


def _scatter(values, valid, n, *, fill=None):
    """Place kernel results (a numpy array) back at their original row
    positions; a row whose input was null gets ``fill``, or NULL when
    ``fill`` is None."""
    import numpy as np
    import pyarrow as pa

    if valid is None:
        return pa.array(values)
    out = np.full(n, 0 if fill is None else fill, dtype=values.dtype)
    out[valid] = values
    return pa.array(out, mask=None if fill is not None else ~valid)


def cosine_vs_query_col(vec: Column, query: "list[float]") -> Column:
    """Exact cosine similarity against a constant query vector — ONE
    (batch × dim) @ dim BLAS product per Arrow batch plus a vectorized
    row-norm, the ``_ivf_assign`` kernel shape. Replaces the
    ``zip_with``/``aggregate`` form (kept in
    ``tests/differential_twins.py`` for differential tests): Spark's
    higher-order functions interpret their lambdas per element, paying
    ~dim interpreted calls per ROW on a full-corpus scan — the same
    shape BASELINE.md measured 22× slower on the LSH signing path.

    The query is unit-normalized driver-side; a zero row norm divides
    by 1 instead (matching the expression form); NULL vectors → NULL.
    """
    import numpy as np

    q_arr = np.asarray(_unit([float(x) for x in query]), dtype=np.float64)

    from pyspark.sql.types import DoubleType

    @F.arrow_udf(DoubleType())
    def _cos(arr):
        _worker.install()
        valid, (vecs,) = _flat_valid(arr, dim=q_arr.shape[0])
        if vecs.shape[1] != q_arr.shape[0]:
            raise ValueError(
                f"vector dim {vecs.shape[1]} != query dim {q_arr.shape[0]}"
            )
        dots = vecs @ q_arr
        norms = np.sqrt(np.einsum("ij,ij->i", vecs, vecs))
        return _scatter(dots / np.where(norms > 0, norms, 1.0), valid, len(arr))

    return _cos(vec)


def cosine_pair_col(
    vec_a: Column, vec_b: Column, *, guard_zero: bool = False
) -> Column:
    """Row-wise cosine between two vector columns (the pair-verify
    shape): vectorized ``einsum`` dot + norms per Arrow batch, no
    per-element interpreted lambdas. ``guard_zero`` divides by 1
    instead of a zero norm; without it a zero-norm row yields NULL
    (the SQL-expression form raised under ANSI mode — NULL keeps the
    batch kernel total, and downstream threshold filters drop it).
    NULL on either side → NULL."""
    import numpy as np

    from pyspark.sql.types import DoubleType

    @F.arrow_udf(DoubleType())
    def _cos(a, b):
        _worker.install()
        import pyarrow as pa

        valid, (va, vb) = _flat_valid(a, b)
        if va.shape[0] and va.shape[1] != vb.shape[1]:
            raise ValueError(
                f"vector dims differ: {va.shape[1]} vs {vb.shape[1]}"
            )
        dots = np.einsum("ij,ij->i", va, vb)
        na = np.sqrt(np.einsum("ij,ij->i", va, va))
        nb = np.sqrt(np.einsum("ij,ij->i", vb, vb))
        if guard_zero:
            na = np.where(na > 0, na, 1.0)
            nb = np.where(nb > 0, nb, 1.0)
        denom = na * nb
        zero = denom == 0
        vals = np.where(zero, 0.0, dots) / np.where(zero, 1.0, denom)

        n = len(a)
        mask = np.zeros(n, dtype=bool)  # True = NULL out
        if valid is None:
            mask |= zero
            return pa.array(vals, type=pa.float64(), mask=mask)
        full = np.zeros(n, dtype=np.float64)
        full[valid] = vals
        mask = ~valid
        mask[np.flatnonzero(valid)[zero]] = True
        return pa.array(full, type=pa.float64(), mask=mask)

    return _cos(vec_a, vec_b)


def quantize_vector_col(vec: Column) -> Column:
    """Int8 scalar quantization with per-vector scale →
    ``struct<code: binary, scale: float>``.

    ``code[i] = round(v[i] / scale)`` with ``scale = max|v| / 127`` —
    the standard symmetric per-vector scheme: 1 byte per element
    instead of 4, reconstruction ``v ≈ scale · code``. The code buffer
    is the row's int8 elements packed as ``dim`` bytes (a
    FixedSizeBinary built zero-copy from the batch matrix — no per-row
    Python). A zero vector stores scale 0 and an all-zero code.

    Probe-side ranking never needs the scale: cosine is
    scale-invariant, so ``(code·q̂)/‖code‖`` IS the quantized cosine
    (:func:`cosine_codes_vs_query_col`). The scale rides along for
    magnitude-dependent consumers (dot-product scoring,
    reconstruction)."""
    import numpy as np

    from pyspark.sql.types import (
        BinaryType,
        FloatType,
        StructField as SF,
        StructType as ST,
    )

    @F.arrow_udf(ST([SF("code", BinaryType()), SF("scale", FloatType())]))
    def _quant(arr):
        _worker.install()
        import pyarrow as pa

        valid, (vecs,) = _flat_valid(arr)
        n, dim = vecs.shape if vecs.size else (vecs.shape[0], 0)
        absmax = np.abs(vecs).max(axis=1) if n else np.empty(0)
        scale = absmax / 127.0
        safe = np.where(scale > 0, scale, 1.0)
        codes = np.clip(
            np.rint(vecs / safe[:, None]), -127, 127
        ).astype(np.int8)
        # zero-copy fixed-size-binary over the row-major code matrix,
        # then cast to the variable-width binary Spark expects
        code_arr = pa.FixedSizeBinaryArray.from_buffers(
            pa.binary(dim), n, [None, pa.py_buffer(codes.tobytes())]
        ).cast(pa.binary())
        scale_arr = pa.array(scale.astype(np.float32), type=pa.float32())
        dense = pa.StructArray.from_arrays([code_arr, scale_arr], ["code", "scale"])
        if valid is None:
            return dense
        # scatter back to original positions, nulling null inputs (an
        # all-null batch has nothing to take from — emit pure nulls)
        if n == 0:
            return pa.array([None] * len(valid), type=dense.type)
        idx = np.cumsum(valid) - 1
        taken = dense.take(pa.array(np.where(valid, idx, 0), type=pa.int64()))
        mask = pa.array(~valid)
        return pa.StructArray.from_arrays(
            [taken.field(0), taken.field(1)], ["code", "scale"], mask=mask
        )

    return _quant(vec)


def cosine_codes_vs_query_col(code: Column, query: "list[float]") -> Column:
    """Quantized cosine against a constant query, straight from the
    int8 code bytes — ONE (batch × dim) @ dim BLAS product per Arrow
    batch, identical kernel shape to :func:`cosine_vs_query_col` but
    over a 4×-smaller column. The per-vector scale cancels out of
    cosine, so ranking needs ONLY the codes: probe scans never touch
    the float vectors (nor even the scales)."""
    import numpy as np

    q_arr = np.asarray(_unit([float(x) for x in query]), dtype=np.float64)

    from pyspark.sql.types import DoubleType

    @F.arrow_udf(DoubleType())
    def _cos(arr):
        _worker.install()
        import pyarrow as pa

        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        valid = None
        dense = arr
        if arr.null_count:
            valid = arr.is_valid().to_numpy(zero_copy_only=False)
            dense = arr.drop_null()
        n = len(dense)
        if n:
            # zero-copy over the binary array's value buffer: with one
            # shared width the rows are contiguous int8 — no per-row
            # Python materialization
            offs = np.frombuffer(dense.buffers()[1], dtype=np.int32)[
                dense.offset : dense.offset + n + 1
            ]
            widths = np.diff(offs)
            if n and (widths != widths[0]).any():
                raise ValueError(
                    "ragged code lengths in batch — all codes must share "
                    "one dimension"
                )
            data = np.frombuffer(dense.buffers()[2], dtype=np.int8)[
                offs[0] : offs[-1]
            ]
            mat = data.reshape(n, -1).astype(np.float64)
            if mat.shape[1] != q_arr.shape[0]:
                raise ValueError(
                    f"code dim {mat.shape[1]} != query dim {q_arr.shape[0]}"
                )
            dots = mat @ q_arr
            norms = np.sqrt(np.einsum("ij,ij->i", mat, mat))
            vals = dots / np.where(norms > 0, norms, 1.0)
        else:
            vals = np.empty(0)
        return _scatter(vals, valid, len(arr))

    return _cos(code)


#: public name used across the module — the BLAS kernel
cosine_similarity_col = cosine_vs_query_col


def cosine_topk(
    df: DataFrame,
    query: "list[float]",
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine similarity; ties break on id for determinism."""
    return (
        df.select(
            F.col(id_col),
            cosine_similarity_col(F.col(vec_col), query).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def lsh_signature_col(vec: Column, planes: "list[list[float]]") -> Column:
    """Random-hyperplane signature as a bigint bit field.

    One (batch × dim) @ (dim × n_planes) BLAS matmul per Arrow batch +
    a vectorized sign-bit pack — the same dense-linear-algebra kernel
    shape as :func:`_ivf_assign`, where replacing the interpreted
    ``zip_with``/``aggregate`` form was measured 22× faster (378 s →
    ~17 s on the 512k×64 build; see BASELINE.md). Bit i is set iff
    ``dot(vec, planes[i]) > 0``, identical to the driver-side
    :func:`query_signature`. NULL vectors sign to 0 (no hyperplane dot
    is positive), matching the previous expression form.
    """
    import numpy as np

    plane_matrix = np.asarray(planes, dtype=np.float64).T  # dim × n_planes
    n_planes = plane_matrix.shape[1]
    if n_planes > 63:
        raise ValueError("lsh_signature_col packs bits into a signed long; n_planes must be <= 63")
    weights = np.left_shift(
        np.uint64(1), np.arange(n_planes, dtype=np.uint64)
    )

    from pyspark.sql.types import LongType

    @F.arrow_udf(LongType())
    def _sign(arr):
        _worker.install()
        valid, (vecs,) = _flat_valid(arr, dim=plane_matrix.shape[0])
        if vecs.shape[1] != plane_matrix.shape[0]:
            raise ValueError(
                f"vector dim {vecs.shape[1]} != hyperplane dim "
                f"{plane_matrix.shape[0]} — vectors do not match the planes"
            )
        sigs = ((vecs @ plane_matrix) > 0).astype(np.uint64) @ weights
        return _scatter(sigs.astype(np.int64), valid, len(arr), fill=0)

    return _sign(vec)


def lsh_topk(
    df: DataFrame,
    query: "list[float]",
    *,
    k: int = 10,
    n_planes: int = 8,
    multiprobe_bits: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
) -> DataFrame:
    """ANN top-k: probe the query's LSH bucket (plus all buckets within
    ``multiprobe_bits`` bit flips), exact-rank inside the probed set."""
    planes = hyperplanes(len(query), n_planes, seed=seed)
    probes = _probe_set(query_signature(query, planes), n_planes, multiprobe_bits)
    sig = lsh_signature_col(F.col(vec_col), planes)
    candidates = df.withColumn("_sig", sig).filter(
        F.col("_sig").isin([int(p) for p in probes])
    )
    return cosine_topk(candidates, query, k=k, vec_col=vec_col, id_col=id_col)


def query_signature(
    query: "list[float]", planes: "list[list[float]]"
) -> int:
    """Driver-side LSH signature of a query vector (same bit order as
    :func:`lsh_signature_col`)."""
    q = _unit([float(x) for x in query])
    sig = 0
    for i, plane in enumerate(planes):
        if sum(a * b for a, b in zip(q, plane)) > 0:
            sig |= 1 << i
    return sig


def _probe_set(q_sig: int, n_planes: int, multiprobe_bits: int) -> "set[int]":
    """The query bucket plus every bucket within ``multiprobe_bits``
    hyperplane-sign flips — the recall dial: each extra flip radius
    multiplies probed buckets by ~n_planes/radius while probe cost
    stays a partition-pruned read."""
    from itertools import combinations

    probes = {q_sig}
    for radius in range(1, multiprobe_bits + 1):
        for bits in combinations(range(n_planes), radius):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probes.add(q_sig ^ flip)
    return probes


def _table_root(index_path: str, quantized: bool, table: str) -> str:
    """Directory of one table of a cell-partitioned index: ``codes`` or
    ``vectors`` under the index on the quantized layout; on the flat
    layout both are the index root itself."""
    return f"{index_path}/{table}" if quantized else index_path


def _write_cells(
    df: DataFrame,
    root: str,
    cell: str,
    quantize: bool,
    mode: str = "overwrite",
    batch_id: "int | None" = None,
) -> None:
    """THE one write of a cell-partitioned vector index: LSH and IVF
    build and append and every streamed batch go through it, so the
    layout (column names, directory names, write ORDER) cannot drift
    between writers. ``df`` is ``(id, vector, cell)``, as
    :func:`_signed` and :func:`_ivf_assign` produce it.

    One shuffle by ``cell`` so each cell directory is written by a
    single task (avoids one tiny file per cell per input task);
    ``batch_id`` nests the streamed ``batch=N`` level, whose
    batch-scoped overwrite keeps a replayed batch idempotent.

    ``quantize=True`` writes the two-table layout: ``{root}/codes``
    carries ``(id, code, scale)`` — int8 per-vector-scale quantization,
    ~4× fewer bytes per probed cell — and ``{root}/vectors`` the float
    vectors for the optional exact rerank. One staging pass (quantize +
    checkpoint) feeds both writes. The VECTORS side is written FIRST:
    the ranking scan reads codes, so a crash (or concurrent read)
    between the two writes leaves the increment wholly invisible to
    probes — consistent absence — instead of code-ranked but missing
    from the rerank fetch, which would silently drop the true nearest
    neighbors.

    A quantized rebuild (``overwrite`` without ``batch_id``) deletes
    the old index directory once the staging pass holds the rows: stale
    codes would otherwise rank ids the new vectors side lacks, and a
    flat index rebuilt as quantized would keep its old ``sig``/``cid``
    directories. A flat overwrite replaces the directory by itself."""
    from ..streaming.fsio import fs_delete

    id_col, vec_col, _ = df.columns
    staged = df.repartition(cell)
    if quantize:
        staged = staged.withColumn(
            "_q", quantize_vector_col(F.col(vec_col))
        ).localCheckpoint()  # one quantization pass for both writes
        if mode == "overwrite" and batch_id is None:
            fs_delete(df.sparkSession, root)
        tables = {
            "vectors": staged.select(id_col, vec_col, cell),
            "codes": staged.select(
                id_col,
                F.col("_q.code").alias("code"),
                F.col("_q.scale").alias("scale"),
                cell,
            ),
        }
    else:
        tables = {"vectors": staged}
    suffix = f"/batch={batch_id}" if batch_id is not None else ""
    for table, frame in tables.items():
        frame.write.mode(mode).partitionBy(cell).parquet(
            _table_root(root, quantize, table) + suffix
        )


def _read_cells(
    spark, index_path: str, quantized: bool, table: str, cells: Column
) -> DataFrame:
    """THE one read of a cell-partitioned index: the rows of ``table``
    in the cells ``cells`` selects. ``cells`` is a predicate on the
    partition column, so Spark prunes every other cell's files at
    planning time (``PartitionFilters`` in the scan node); a streamed
    index's extra ``batch`` level only adds directories."""
    root = _table_root(index_path, quantized, table)
    return spark.read.parquet(root).filter(cells)


def _query_cells(
    spark,
    index_path: str,
    quantized: bool,
    cells: Column,
    query: "list[float]",
    k: int,
    rerank: "int | None",
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Top-k of ``query`` over the cells a probe picked: the one query
    path of the LSH and IVF indexes.

    A flat index is an exact :func:`cosine_topk` over the cells. On a
    quantized index the ranking scan reads ONLY the int8 codes table
    (cosine is scale-invariant, so the codes suffice), then the top
    ``rerank`` candidates — default ``max(4k, 32)``, a driver-scale
    shortlist — are re-scored exactly against the float side of the
    same cells plus an id pushdown. ``rerank=0`` skips the float fetch
    and returns the code-ranked top-k (the minimum-bytes path;
    quantized cosine error is ~1/127 per element, so ranking flips only
    near-ties)."""
    if not quantized:
        vecs = _read_cells(spark, index_path, False, "vectors", cells)
        return cosine_topk(vecs, query, k=k, vec_col=vec_col, id_col=id_col)
    scored = (
        _read_cells(spark, index_path, True, "codes", cells)
        .select(
            F.col(id_col),
            cosine_codes_vs_query_col(F.col("code"), query).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
    )
    if rerank is None:
        rerank = max(4 * k, 32)
    if rerank <= 0:
        return scored.limit(k)
    shortlist = [r[id_col] for r in scored.limit(rerank).collect()]
    vecs = _read_cells(
        spark, index_path, True, "vectors", cells & F.col(id_col).isin(shortlist)
    )
    return cosine_topk(vecs, query, k=k, vec_col=vec_col, id_col=id_col)


def _refuse_mixed_layout(
    spark, index_path: str, quantized: bool, cell: str, *, streamed: bool
) -> None:
    """Refuse a write that would put the batch layout (``{cell}=K``)
    and the streamed one (``batch=N/{cell}=K``) under one index:
    Spark's partition discovery cannot read both, so every later query
    would fail. Decided from the directories the probe reads, once per
    append call or stream start."""
    from ..streaming.fsio import fs_list

    other = cell if streamed else "batch"
    found = fs_list(spark, _table_root(index_path, quantized, "codes"), f"{other}=*")
    if not found:
        return
    if streamed:
        how = (
            "was built in batch; streaming into it would mix layouts. "
            "Append to it with append_to_ann_index/append_to_ivf_index, or "
            "stream into a new index path"
        )
    else:
        how = (
            "was built by a stream; a batch append would mix layouts. "
            "Land the rows in the stream's source directory, or rebuild "
            "the index with build_ann_index/build_ivf_index"
        )
    raise ValueError(
        f"index at {index_path!r} ({found[0]}/...) {how} — a mixed "
        "layout makes every query fail."
    )


def _signed(
    df: DataFrame, planes: "list[list[float]]", vec_col: str, id_col: str
) -> DataFrame:
    """``(id, vector, sig)``: the one signing of the LSH build, append
    and stream batch, so the append-equals-rebuild invariant can't
    drift."""
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_signature_col(F.col(vec_col), planes).alias("sig"),
    )


def _ann_params(dim: int, n_planes: int, seed: int, quantize: bool) -> "dict":
    """An LSH index's ``_params`` record: its hyperplanes and layout."""
    return {"dim": dim, "n_planes": n_planes, "seed": seed, "quantize": int(quantize)}


def _ann_params_path(index_path: str) -> str:
    return index_path + "_params"


def _write_ann_params(spark, index_path: str, params: "dict") -> None:
    from ..streaming.fsio import fs_write_json

    fs_write_json(spark, _ann_params_path(index_path), params)


def _read_ann_params(spark, index_path: str) -> "dict[str, int]":
    """An ANN/IVF index's ``_params`` JSON file: written LAST by the
    build, so it is the index's commit record."""
    from ..streaming.fsio import fs_read_json

    stored = fs_read_json(spark, _ann_params_path(index_path))
    if stored is None:
        raise RuntimeError(
            f"index at {index_path!r} has no _params commit record: its "
            "build did not finish. Rebuild the index."
        )
    return stored


def _check_ann_params(spark, index_path: str, params: "dict") -> None:
    """A mismatched (seed, n_planes, dim) append would sign rows with
    different hyperplanes — probes prune those buckets at planning time,
    so the appended vectors become silently unreachable. Fail loud."""
    stored = {
        k: v for k, v in _read_ann_params(spark, index_path).items() if k in params
    }
    if stored != params:
        raise ValueError(
            f"ANN index at {index_path!r} was built with {stored}, "
            f"append called with {params} — mismatched hyperplanes would "
            "make the appended vectors unreachable"
        )


def build_ann_index(
    df: DataFrame,
    index_path: str,
    *,
    dim: int,
    n_planes: int = 6,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantize: bool = False,
) -> None:
    """Materialize a persisted ANN index: one pass computes every row's
    hyperplane signature, written ``partitionBy("sig")`` so each bucket
    is its own partition directory. The (seed, n_planes, dim) build
    parameters ride along in a ``_params`` JSON file so appends can
    verify compatibility.

    This is the amortization :func:`lsh_topk` lacks — ``lsh_topk``
    recomputes all N signatures per query (an O(N) scan every time);
    querying the index reads ONLY the probed buckets, and the
    ``sig = K`` filter is a *partition* filter (file pruning at the
    source, no data read from other buckets — at 100 TB that is the
    difference between touching ~2^-bits of the table and all of it).

    ``quantize=True`` additionally stores int8-quantized codes beside
    the float vectors (:func:`_write_cells`): probes then rank from
    the ~4×-smaller codes table and only the optional exact rerank
    touches floats — probe bytes are the index's scale currency. The
    choice is recorded in ``_params`` so appends/probes against a
    mismatched layout fail loud instead of silently reading the wrong
    table. ``_params`` is deleted first and written last, so a build
    that dies in between leaves an index that probes and appends refuse."""
    from ..streaming.fsio import fs_delete

    fs_delete(df.sparkSession, _ann_params_path(index_path))
    planes = hyperplanes(dim, n_planes, seed=seed)
    _write_cells(_signed(df, planes, vec_col, id_col), index_path, "sig", quantize)
    _write_ann_params(
        df.sparkSession, index_path, _ann_params(dim, n_planes, seed, quantize)
    )


def append_to_ann_index(
    df: DataFrame,
    index_path: str,
    *,
    dim: int,
    n_planes: int = 6,
    seed: int = 7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    quantize: bool = False,
) -> None:
    """Incrementally extend a persisted ANN index: sign the new vectors
    with the SAME hyperplanes (verified against the index's ``_params``
    file) and append them to their bucket partitions. At 100 TB
    this is the difference between a daily full rebuild and writing only
    the day's increment — dynamic partition append touches only the
    buckets the new vectors land in.

    ``quantize`` must match the index's build layout (it is verified
    against ``_params`` alongside the hyperplane parameters): appending
    float-only rows into a quantized index would leave them invisible
    to code-ranked probes. An index built by
    :func:`curies_spark.streaming.start_ann_index_stream` is refused:
    its ``batch=N`` layout does not mix with the batch one."""
    spark = df.sparkSession
    _check_ann_params(spark, index_path, _ann_params(dim, n_planes, seed, quantize))
    _refuse_mixed_layout(spark, index_path, quantize, "sig", streamed=False)
    planes = hyperplanes(dim, n_planes, seed=seed)
    _write_cells(
        _signed(df, planes, vec_col, id_col), index_path, "sig", quantize, "append"
    )


def _ann_cells(
    spark,
    index_path: str,
    query: "list[float]",
    n_planes: "int | None",
    multiprobe_bits: int,
    seed: "int | None",
) -> "tuple[bool, Column]":
    """``(quantized, sig filter)`` of a query against a persisted ANN
    index, from ONE read of its ``_params`` and one derivation of its
    hyperplanes; explicit ``n_planes``/``seed`` must match the build."""
    stored = _read_ann_params(spark, index_path)
    if len(query) != stored["dim"]:
        raise ValueError(
            f"query dim {len(query)} != index dim {stored['dim']} at {index_path!r}"
        )
    for name, given in (("n_planes", n_planes), ("seed", seed)):
        if given is not None and given != stored[name]:
            raise ValueError(
                f"ANN index at {index_path!r} was built with "
                f"{name}={stored[name]}, probe called with {name}={given} — "
                "mismatched hyperplanes would probe the wrong buckets"
            )
    n_planes = stored["n_planes"]
    planes = hyperplanes(len(query), n_planes, seed=stored["seed"])
    probes = _probe_set(query_signature(query, planes), n_planes, multiprobe_bits)
    return bool(stored["quantize"]), F.col("sig").isin(sorted(int(p) for p in probes))


def probe_ann_index(
    spark,
    index_path: str,
    query: "list[float]",
    *,
    n_planes: "int | None" = None,
    multiprobe_bits: int = 1,
    seed: "int | None" = None,
    table: str = "codes",
) -> DataFrame:
    """Candidate rows for a query: read only the buckets within
    ``multiprobe_bits`` bit flips of the query's signature. The
    ``isin`` filter lands on the partition column, so Spark prunes
    every other bucket's files at planning time (check
    ``PartitionFilters`` in the scan node).

    ``n_planes``/``seed`` default to the values the index was BUILT
    with (read from its ``_params`` file); passing explicit
    values that disagree with the build fails loud — probing with the
    wrong hyperplanes would silently select the wrong buckets and
    return arbitrarily poor candidates (the same unreachability hazard
    :func:`append_to_ann_index` guards against on the write side).

    On a quantized index, ``table`` selects which side the probe reads:
    ``"codes"`` (default — the 4×-smaller int8 table the ranking scan
    should touch) or ``"vectors"`` (the float side, for the exact
    rerank). Ignored on a float-only index.
    """
    quantized, cells = _ann_cells(
        spark, index_path, query, n_planes, multiprobe_bits, seed
    )
    return _read_cells(spark, index_path, quantized, table, cells)


def query_ann_index(
    spark,
    index_path: str,
    query: "list[float]",
    *,
    k: int = 10,
    n_planes: "int | None" = None,
    multiprobe_bits: int = 1,
    seed: "int | None" = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank: "int | None" = None,
) -> DataFrame:
    """Top-k over the probed buckets only — per-query cost is
    O(N / 2^n_planes · |probes|) rows read instead of O(N).
    ``n_planes``/``seed`` default to the index's build parameters.
    On a quantized index the ranking reads only the int8 codes and
    ``rerank`` sets the exact-rerank shortlist (:func:`_query_cells`)."""
    quantized, cells = _ann_cells(
        spark, index_path, query, n_planes, multiprobe_bits, seed
    )
    return _query_cells(
        spark, index_path, quantized, cells, query, k, rerank, vec_col, id_col
    )


def _ivf_assign(
    frame: DataFrame,
    cents: "list[list[float]]",
    cids: "list[int]",
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Assign every vector to its nearest centroid: ONE shared kernel for
    build and append so their cell placement can never diverge.

    Map-only argmin via one BLAS matmul per Arrow batch:
    argmin_c ||v − c||² = argmax_c (v·c − ½||c||²), so a
    (batch × dim) @ (dim × k) product + a row argmax assigns the whole
    batch at C speed. A zip_with/aggregate per centroid was measured
    20× slower (378 s vs ~19 s for the 512k×64 build) — Spark's
    higher-order functions interpret the lambda per element; dense
    linear algebra belongs in numpy.

    ``cids[i]`` is the REAL cell id of ``cents[i]`` — argmax positions
    are mapped through it, so non-contiguous centroid tables (a re-train
    that dropped empty cells) still place vectors in existing cells.
    """
    import numpy as np

    cent_matrix = np.asarray(cents, dtype=np.float64).T  # dim × k
    half_norms = 0.5 * (cent_matrix * cent_matrix).sum(axis=0)  # k
    cid_arr = np.asarray(cids, dtype=np.int32)

    from pyspark.sql.types import IntegerType

    @F.arrow_udf(IntegerType())
    def _nearest(arr):
        _worker.install()
        import pyarrow as pa

        valid, (vecs,) = _flat_valid(arr, dim=cent_matrix.shape[0])
        if valid is not None:
            raise ValueError(
                f"{len(arr) - int(valid.sum())} NULL vector(s) in IVF cell "
                "assignment — a NULL vector has no nearest centroid; drop "
                "or fill NULL embeddings first"
            )
        if vecs.shape[1] != cent_matrix.shape[0]:
            raise ValueError(
                f"vector dim {vecs.shape[1]} != centroid dim "
                f"{cent_matrix.shape[0]} — increment does not match the index"
            )
        scores = vecs @ cent_matrix - half_norms
        return pa.array(cid_arr[np.argmax(scores, axis=1)])

    return frame.select(id_col, vec_col, _nearest(F.col(vec_col)).alias("cid"))


def build_ivf_index(
    df: DataFrame,
    index_path: str,
    *,
    dim: int,
    k: int = 16,
    iters: int = 5,
    train_fraction: float = 1.0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    write_vectors: bool = True,
    quantize: bool = False,
) -> None:
    """Materialize an IVF (inverted-file) ANN index: deterministic
    Lloyd's k-means over the corpus, vectors written
    ``partitionBy("cid")`` so each cell is its own partition directory.

    The complement of the hyperplane index (:func:`build_ann_index`):
    LSH cells are data-independent (stable under re-index, no training
    pass), IVF cells adapt to the corpus's cluster structure, giving
    better recall-per-probed-row on clustered embeddings.

    Everything is DataFrame-native and deterministic:

    - **init**: the ``k`` vectors with the smallest ``xxhash64(id)`` —
      a seedless deterministic sample, one TakeOrdered job;
    - **assign** (:func:`_ivf_assign`, shared with append): map-only
      nearest-centroid via ONE (batch × dim) @ (dim × k) BLAS matmul
      per Arrow batch — argmin ‖v−c‖² ≡ argmax (v·c − ½‖c‖²) — no
      shuffle, no per-row Python (an interpreted ``zip_with`` form was
      measured 20× slower and rejected; see the kernel's docstring);
    - **update**: per-cell elementwise mean as ``array(avg(vec[0]),
      …, avg(vec[dim-1]))`` — partial+final aggregate, skew-free
      (k cells);
    - ties break toward the lower ``cid`` (argmax takes the first
      maximum) for cross-run determinism.

    ``train_fraction < 1`` runs the Lloyd's iterations on a
    deterministic ``xxhash64(id)``-sliced sample (no RNG, stable across
    runs) and then assigns the FULL corpus to the trained centroids —
    the standard sample-then-assign pattern: at 100 TB the train loop
    touches a few million vectors while the single full-corpus pass is
    the map-only assignment.

    ``write_vectors=False`` trains and persists ONLY the centroid side
    table (no vector partitions) — the seed step for a streamed index
    (:func:`curies_spark.streaming.start_ivf_index_stream`), whose
    batch-scoped layout is refused beside the flat one. ``_params`` is
    deleted first and written after the vectors and ``_centroids``.
    """
    from ..streaming.fsio import fs_delete

    if not 0.0 < train_fraction <= 1.0:
        raise ValueError(f"train_fraction must be in (0, 1], got {train_fraction}")
    fs_delete(df.sparkSession, _ann_params_path(index_path))
    # quantize + write_vectors=False is the SEED for a streamed
    # quantized IVF index: no payload is written here, but _params
    # records the layout so every streamed batch writes codes+vectors
    tagged = df.select(F.col(id_col), F.col(vec_col))
    if train_fraction < 1.0:
        # deterministic slice: keep ids whose xxhash64 lands below the
        # fraction cut — same rows every run, unlike df.sample(seed=…)
        # whose row selection depends on partitioning
        cut = int((2**64) * train_fraction) - 2**63
        train = tagged.filter(F.xxhash64(F.col(id_col)) < F.lit(cut))
    else:
        train = tagged
    centroids = [
        r[vec_col]
        for r in train.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(k)
        .collect()
    ]
    # fewer rows than requested cells: clamp k (every vector is its own
    # cell) instead of indexing past the init sample in the update step
    k = len(centroids)
    if k == 0:
        raise ValueError("build_ivf_index: input DataFrame is empty")

    contiguous = list(range(k))
    for _ in range(iters):
        assigned = _ivf_assign(train, centroids, contiguous, vec_col, id_col)
        mean_vec = F.array(
            *[F.avg(F.col(vec_col)[i].cast("double")) for i in range(dim)]
        )
        new_rows = (
            assigned.groupBy("cid").agg(mean_vec.alias("_mean")).collect()
        )
        by_cid = {r["cid"]: r["_mean"] for r in new_rows}
        # empty cells keep their previous centroid (standard Lloyd's)
        centroids = [by_cid.get(i, centroids[i]) for i in range(k)]

    if write_vectors:
        final = _ivf_assign(tagged, centroids, contiguous, vec_col, id_col)
        _write_cells(final, index_path, "cid", quantize)
    # centroids ride along as a driver-scale side table for the prober
    df.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        ["cid", "centroid"],
    ).coalesce(1).write.mode("overwrite").parquet(index_path + "_centroids")
    # the layout rides along so probes/appends against the wrong one
    # fail loud; written last, it commits the build
    _write_ann_params(
        df.sparkSession, index_path, {"quantize": int(quantize), "dim": dim}
    )


def load_ivf_centroids(
    spark, index_path: str
) -> "tuple[list[int], list[list[float]]]":
    """Read an IVF index's centroid side table as ``(cids, centroids)``
    sorted by cell id — ONE definition shared by the batch appender and
    the streaming appender so their cell placement inputs can't drift."""
    rows = sorted(
        (r["cid"], r["centroid"])
        for r in spark.read.parquet(index_path + "_centroids").collect()
    )
    return [cid for cid, _ in rows], [c for _, c in rows]


def _ivf_quantized(spark, index_path: str) -> bool:
    """Whether an IVF index uses the quantized two-table layout."""
    return bool(_read_ann_params(spark, index_path)["quantize"])


def append_to_ivf_index(
    df: DataFrame,
    index_path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Incrementally extend a persisted IVF index: assign new vectors to
    the EXISTING centroids (read from the index's side table — no
    re-training, real cell ids preserved even if non-contiguous) and
    append them to their cell partitions. Standard IVF maintenance:
    cells drift slowly, so periodic re-trains are a separate, rarer
    operation than daily appends. The index's own layout (float vs
    quantized, from ``_params``) decides what the append writes — both
    sides on a quantized index, so appended rows stay visible to
    code-ranked probes. An index built by
    :func:`curies_spark.streaming.start_ivf_index_stream` is refused:
    its ``batch=N`` layout does not mix with the batch one.
    """
    spark = df.sparkSession
    quantized = _ivf_quantized(spark, index_path)
    _refuse_mixed_layout(spark, index_path, quantized, "cid", streamed=False)
    cids, cents = load_ivf_centroids(spark, index_path)
    # a dim mismatch fails loud inside _ivf_assign's kernel (per-batch
    # shape check) — no driver-side scan needed here
    assigned = _ivf_assign(df, cents, cids, vec_col, id_col)
    _write_cells(assigned, index_path, "cid", quantized, "append")


def query_ivf_index(
    spark,
    index_path: str,
    query: "list[float]",
    *,
    k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank: "int | None" = None,
) -> DataFrame:
    """Top-k over the ``nprobe`` nearest IVF cells only.

    Cell selection is driver-side (centroids are k rows); the ``cid``
    filter lands on the partition column, so every other cell's files
    are pruned at planning time — per-query read cost is
    O(nprobe / k) of the corpus. On a quantized index the ranking scan
    reads only the int8 codes side (``rerank`` as in
    :func:`query_ann_index`).
    """
    quantized = _ivf_quantized(spark, index_path)
    cids, cents = load_ivf_centroids(spark, index_path)
    q = [float(x) for x in query]
    if len(q) != len(cents[0]):
        # zip would silently truncate and score a dim-prefix — mirror
        # _ivf_assign's loud shape check on the write path
        raise ValueError(
            f"query dim {len(q)} != index dim {len(cents[0])} at {index_path!r}"
        )
    scored = sorted(
        (sum((a - b) ** 2 for a, b in zip(q, c)), cid) for cid, c in zip(cids, cents)
    )
    cells = F.col("cid").isin([cid for _, cid in scored[:nprobe]])
    return _query_cells(
        spark, index_path, quantized, cells, query, k, rerank, vec_col, id_col
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.95,
    n_planes: int = 12,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 7,
    dim: "int | None" = None,
) -> DataFrame:
    """Near-duplicate embedding pairs: bucket on the full signature (very
    similar vectors almost surely share all sign bits), verify with exact
    cosine inside buckets.

    ``dim`` is required (pass it or carry it in schema metadata under key
    ``"dim"``): inferring it with ``.first()`` would run a driver-side
    job mid-plan-construction — a scan of a 100 TB table just to read one
    array length.
    """
    if dim is None:
        meta = df.schema[vec_col].metadata or {}
        dim = meta.get("dim")
    if dim is None:
        raise ValueError(
            f"embedding_near_dup_pairs requires dim= (or {vec_col!r} schema "
            "metadata key 'dim'); it is not inferred from data to avoid a "
            "driver-side scan"
        )
    planes = hyperplanes(dim, n_planes, seed=seed)
    sig = lsh_signature_col(F.col(vec_col), planes)
    tagged = df.select(F.col(id_col), F.col(vec_col), sig.alias("_sig"))
    a, b = tagged.alias("a"), tagged.alias("b")
    pairs = a.join(
        b,
        on=[
            F.col("a._sig") == F.col("b._sig"),
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        ],
    )
    # exact verify as the BLAS pair kernel — bucket selectivity bounds
    # the pair count, but an interpreted zip_with/aggregate here still
    # paid ~3×dim lambda calls per candidate pair
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine_pair_col(
                F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
