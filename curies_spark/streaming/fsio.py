"""Hadoop FileSystem helpers for persisted state: partition
directories, small JSON state files and the schema in a parquet
footer, on ANY Hadoop filesystem.

Partition stores list committed ``batch=N`` dirs, fold them into
``compact=M`` dirs and delete superseded ones. Everything goes through
Hadoop's FileSystem API via the session's JVM gateway (``spark._jvm``),
so ONE code path drives ``/local/path``, ``file://``, ``hdfs://``,
``s3a://``, … — Hadoop resolves the implementation from the scheme.

Paths are always the caller's own root string joined with the child
name (``f"{out_dir}/_manifests/merge.json"``), never Hadoop's
re-qualified URIs nor ``pathlib`` (which turns ``file://x`` into the
relative ``file:/x``), so the caller's scheme survives verbatim.

Persisted state (manifests, stamps, index ``_params``) is one JSON file
per record, written only by :func:`fs_write_json` and read only by
:func:`fs_read_json`. The write goes to a sibling ``.tmp`` that a
plain rename moves to the target, or, when the target exists,
``FileContext.rename(..., Options.Rename.OVERWRITE)``, so no reader
ever sees a torn record. The replace is atomic on HDFS. On the local
filesystem Hadoop deletes the target and then renames, and on s3a it
copies and deletes, so there a crash can leave the target absent,
which every caller treats as a missing record: it redoes the step or
refuses with the rebuild error. The reader gives one guided rebuild
error for whatever it cannot parse. The local filesystem keeps a
hidden ``.x.crc`` checksum beside each file ``x``: Hadoop renames and
deletes it with ``x``; a file truncated outside Hadoop fails its
checksum on read, and one deleted outside Hadoop leaves a ``.crc``
the next rename over it replaces.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

__all__ = [
    "fs_delete",
    "fs_exists",
    "fs_list",
    "fs_parquet_schema",
    "fs_read_json",
    "fs_read_text",
    "fs_write_json",
    "partition_ids",
]


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _glob(spark: SparkSession, pattern: str) -> list:
    fs, jp = _fs_and_path(spark, pattern)
    # None when the parent does not exist (no output yet)
    return list(fs.globStatus(jp) or [])


def partition_ids(
    spark: SparkSession, root: str, prefix: str, *, committed: bool = True
) -> "list[int]":
    """Numeric ids N of the ``{root}/{prefix}=N`` child directories.

    ``committed=True`` (the read side) lists only directories holding a
    ``_SUCCESS`` marker — a dir a crashed write left half-filled is
    invisible to readers. ``committed=False`` (the compaction delete
    side) lists every matching dir, so stale uncommitted leftovers are
    cleaned up too."""
    pattern = f"{root}/{prefix}=*/_SUCCESS" if committed else f"{root}/{prefix}=*"
    ids = []
    for st in _glob(spark, pattern):
        p = st.getPath()
        name = (p.getParent() if committed else p).getName()
        ids.append(int(name.split("=", 1)[1]))
    return sorted(ids)


def fs_list(spark: SparkSession, root: str, pattern: str) -> "list[str]":
    """Sorted names of the children of ``root`` matching the glob
    ``pattern``; ``[]`` when ``root`` does not exist."""
    return sorted(st.getPath().getName() for st in _glob(spark, f"{root}/{pattern}"))


def fs_parquet_schema(spark: SparkSession, path: str) -> "StructType | None":
    """The Spark schema its writer recorded in the footer of the first
    parquet file under ``path`` (partition columns are not in it), or
    None when there is no such file. Read on the driver: no Spark job."""
    fs, jp = _fs_and_path(spark, path)
    files = fs.listFiles(jp, True)
    while files.hasNext():
        status = files.next()
        name = status.getPath().getName()
        if name.endswith(".parquet") and not name.startswith((".", "_")):
            parquet = spark._jvm.org.apache.parquet.hadoop
            conf = spark._jsc.hadoopConfiguration()
            reader = parquet.ParquetFileReader.open(parquet.util.HadoopInputFile.fromStatus(status, conf))
            try:
                meta = reader.getFileMetaData().getKeyValueMetaData()
            finally:
                reader.close()
            return StructType.fromJson(json.loads(meta.get("org.apache.spark.sql.parquet.row.metadata")))
    return None


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, jp = _fs_and_path(spark, path)
    return bool(fs.exists(jp))


def fs_read_text(spark: SparkSession, path: str) -> "str | None":
    """UTF-8 contents of a small marker/metadata file, or None when the
    path does not exist. Driver-side, for KB-scale state stamps only."""
    fs, jp = _fs_and_path(spark, path)
    if not fs.exists(jp):
        return None
    stream = fs.open(jp)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _write_file(fs, jpath, text: str) -> None:
    stream = fs.create(jpath, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()


def fs_write_json(spark: SparkSession, path: str, obj) -> None:
    """Persist ``obj`` as the JSON file ``path`` (see the module
    docstring). ``FileSystem.rename`` is not a replace — it returns
    false when ``path`` exists — so replacing a record goes through
    ``FileContext``."""
    # one package lookup per call: each costs a py4j reflection round
    # trip per name segment
    hfs = spark._jvm.org.apache.hadoop.fs
    conf = spark._jsc.hadoopConfiguration()
    jp = hfs.Path(path)
    fs = jp.getFileSystem(conf)
    # qualified against the FileSystem's working dir: FileContext would
    # resolve a relative path against the home dir instead
    dst = fs.makeQualified(jp)
    tmp = dst.suffix(".tmp")
    _write_file(fs, tmp, json.dumps(obj, indent=1, sort_keys=True))
    # a plain rename is atomic but refuses an existing target; it is
    # also the cheap path on the local filesystem, where FileContext's
    # rename forks a `readlink` per status check (~60 ms CPU per write)
    if fs.rename(tmp, dst):
        return
    rename = getattr(hfs, "Options$Rename")
    overwrite = spark.sparkContext._gateway.new_array(rename, 1)
    overwrite[0] = rename.OVERWRITE
    hfs.FileContext.getFileContext(dst.toUri(), conf).rename(tmp, dst, overwrite)


def fs_read_json(spark: SparkSession, path: str):
    """The JSON record at ``path``, or None when the path does not
    exist. A record that exists but cannot be read raises the guided
    rebuild ``RuntimeError``."""
    try:
        text = fs_read_text(spark, path)
        return None if text is None else json.loads(text)
    except (ValueError, Py4JJavaError) as exc:
        raise RuntimeError(
            f"persisted state file {path!r} is torn or unreadable, so the "
            "output it describes cannot be trusted. Rebuild that output "
            "(or use a fresh output path)."
        ) from exc


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; absent paths are a no-op (matching the
    ``shutil.rmtree(..., ignore_errors=True)`` this replaces)."""
    fs, jp = _fs_and_path(spark, path)
    fs.delete(jp, True)
