"""Persisted state goes through one primitive (streaming/fsio.py
``fs_write_json``/``fs_read_json``): atomic replace, ``None`` for an
absent record, and one guided rebuild error for an unreadable one —
including the ANN/IVF ``_params`` commit record in every crash window."""

from pathlib import Path

import pytest
from pyspark.sql import Row

from curies_spark.operators import similarity as S
from curies_spark.streaming import fsio
from curies_spark.streaming.ann import start_ann_index_stream, start_ivf_index_stream

REPO = Path(__file__).resolve().parent.parent

GUIDED = "torn or unreadable.*Rebuild"


def test_write_json_round_trip_and_replace(spark, tmp_path):
    path = f"file://{tmp_path}/state/record.json"
    assert fsio.fs_read_json(spark, path) is None
    fsio.fs_write_json(spark, path, {"v": 1})
    fsio.fs_write_json(spark, path, {"v": 2, "nested": [1, "a"]})
    assert fsio.fs_read_json(spark, path) == {"v": 2, "nested": [1, "a"]}
    assert not (tmp_path / "state" / "record.json.tmp").exists()


def test_crash_between_tmp_write_and_rename_keeps_old_record(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "record.json")
    fsio.fs_write_json(spark, path, {"v": 1})
    write_file = fsio._write_file

    def dies_before_rename(fs, target, text):
        write_file(fs, target, text)
        raise OSError("killed before the rename")

    monkeypatch.setattr(fsio, "_write_file", dies_before_rename)
    with pytest.raises(OSError, match="before the rename"):
        fsio.fs_write_json(spark, path, {"v": 2})
    monkeypatch.undo()
    assert fsio.fs_read_json(spark, path) == {"v": 1}
    # the leftover tmp file does not block the next write
    fsio.fs_write_json(spark, path, {"v": 3})
    assert fsio.fs_read_json(spark, path) == {"v": 3}


def test_read_json_guides_on_unreadable_records(spark, tmp_path):
    torn = tmp_path / "torn.json"
    fsio.fs_write_json(spark, str(torn), {"key": "value"})
    torn.write_text(torn.read_text()[:5])
    # with its stale .crc (checksum mismatch), then without (bad JSON)
    for _ in range(2):
        with pytest.raises(RuntimeError, match=GUIDED):
            fsio.fs_read_json(spark, str(torn))
        (tmp_path / ".torn.json.crc").unlink(missing_ok=True)
    # a directory at the path: the layout DataFrame.write.json left
    (tmp_path / "legacy.json").mkdir()
    with pytest.raises(RuntimeError, match=GUIDED):
        fsio.fs_read_json(spark, str(tmp_path / "legacy.json"))


def test_state_has_one_writer_and_one_reader():
    """No package module writes or reads state around the primitive:
    no pathlib writer, no Path-wrapped out_dir, no Spark JSON job."""
    offenders = [
        (path.relative_to(REPO).as_posix(), needle)
        for path in sorted((REPO / "curies_spark").rglob("*.py"))
        for needle in ("_atomic_write", "fs_write_text", "Path(out_dir)", ".json(")
        if needle in path.read_text()
    ]
    assert offenders == []


def _vectors(spark, n=120, dim=8):
    import math

    return spark.createDataFrame(
        [
            Row(vec_id=i, embedding=[math.cos(i * 0.1 + j) for j in range(dim)])
            for i in range(n)
        ]
    )


def _refused(spark, df, path, tmp_path, match):
    """Append, query and stream start each give the guided error."""
    query = [1.0] * 8
    with pytest.raises(RuntimeError, match=match):
        S.append_to_ann_index(df.limit(3), path, dim=8)
    with pytest.raises(RuntimeError, match=match):
        S.query_ann_index(spark, path, query, k=3)
    with pytest.raises(RuntimeError, match=match):
        start_ann_index_stream(
            spark, str(tmp_path / "src"), path, str(tmp_path / "ckpt"), dim=8
        )


def test_ann_index_without_readable_params_is_refused(spark, tmp_path, monkeypatch):
    df = _vectors(spark)
    path = str(tmp_path / "ann")
    params = path + "_params"
    S.build_ann_index(df, path, dim=8)
    assert fsio.fs_read_json(spark, params) == {
        "dim": 8, "n_planes": 6, "seed": 7, "quantize": 0,
    }

    # a rebuild that dies after its data write, before the commit record
    def killed(*a, **k):
        raise OSError("killed before _params")

    monkeypatch.setattr(S, "_write_ann_params", killed)
    with pytest.raises(OSError, match="before _params"):
        S.build_ann_index(df, path, dim=8)
    monkeypatch.undo()
    _refused(spark, df, path, tmp_path, "no _params commit record.*Rebuild")

    # an empty _params/ directory (a pre-file-layout index mid-write)
    Path(params).mkdir()
    _refused(spark, df, path, tmp_path, GUIDED)

    # a torn _params file
    fsio.fs_delete(spark, params)
    fsio.fs_write_json(spark, params, {"dim": 8, "n_planes": 6, "seed": 7, "quantize": 0})
    Path(params).write_text(Path(params).read_text()[:9])
    _refused(spark, df, path, tmp_path, GUIDED)

    # a rebuild commits again
    S.build_ann_index(df, path, dim=8)
    assert len(S.query_ann_index(spark, path, [1.0] * 8, k=3).collect()) == 3


def test_quantized_ivf_index_without_params_refuses_append(spark, tmp_path):
    df = _vectors(spark)
    path = str(tmp_path / "qivf")
    S.build_ivf_index(df, path, dim=8, k=4, iters=2, quantize=True)
    assert S._ivf_quantized(spark, path)
    fsio.fs_delete(spark, path + "_params")

    match = "no _params commit record.*Rebuild"
    with pytest.raises(RuntimeError, match=match):
        S.append_to_ivf_index(df.limit(3), path)
    with pytest.raises(RuntimeError, match=match):
        S.query_ivf_index(spark, path, [1.0] * 8, k=3)
    with pytest.raises(RuntimeError, match=match):
        start_ivf_index_stream(spark, str(tmp_path / "src"), path, str(tmp_path / "ckpt"))
    # the refused append wrote no float-layout rows beside codes/vectors
    assert sorted(p.name for p in Path(path).iterdir()) == ["codes", "vectors"]
