"""``__spark_entry__`` queries that write on the side: the persisted-ANN
query builds its index in a temp dir of its own per session and sf dir,
and the dir goes when its session does."""

import tempfile

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"


def test_ann_index_topk_builds_in_its_own_dir_and_removes_it(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    (tmp_path / "tmp").mkdir()
    other_sf = tmp_path / "sf"
    other_sf.mkdir()
    (other_sf / "embeddings.parquet").symlink_to(f"{SF_DIR}/embeddings.parquet")
    first, second = spark.newSession(), spark.newSession()
    runs = [(first, SF_DIR), (first, SF_DIR), (second, SF_DIR), (first, str(other_sf))]

    answers = [
        sorted(tuple(r) for r in entry.q_ann_index_topk(s, sf).collect()) for s, sf in runs
    ]
    dirs = [entry._ANN_INDEX_DIRS[s][sf] for s, sf in runs]
    paths = [path for path, _ in dirs]
    # one dir per session and sf dir: a second call in the same pair reuses it
    assert paths[0] == paths[1] and len(set(paths)) == 3
    assert sorted(p.name for p in (tmp_path / "tmp").iterdir()) == sorted(
        path.rsplit("/", 1)[1] for path in set(paths)
    )
    assert all(p.name.startswith("curies_spark_ann_qindex_") for p in (tmp_path / "tmp").iterdir())

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'")
    want = sorted(con.execute(entry.oracle_sql()["ann_index_topk"]).fetchall())
    assert len(want) == 10
    for got in answers:
        assert [(v, r) for v, _, r in got] == [(v, r) for v, _, r in want]
        assert [c for _, c, _ in got] == pytest.approx([c for _, c, _ in want], abs=1e-6)

    # each dir's finalizer is tied to its session and runs at exit if the
    # session outlives the process; once it runs, the index is gone
    for (_, finalizer), (session, _) in zip(dirs, runs):
        assert finalizer.peek()[0] is session and finalizer.atexit
    for _, finalizer in dirs:
        finalizer()  # a second call of one finalizer does nothing
    assert list((tmp_path / "tmp").iterdir()) == []
