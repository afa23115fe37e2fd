"""Hadoop-FileSystem helpers for control-plane filesystem access.

The accumulator's staging/checkpoint/history dirs are plain paths locally
but must also work on object stores (``s3a://``, ``gs://``) and HDFS at
cluster scale — ``os.listdir``-style calls only survive the local case
(reference parity target: the store-backed batch state in
src/component/lib.ts:87-96, 622-634, which has no filesystem at all).
Every helper resolves the correct FileSystem for the path's scheme via the
JVM gateway, so callers never assume locality. Data-plane reads/writes
(parquet) already go through ``spark.read``/``write`` and need nothing.

Per-call overhead is one py4j round-trip (~100 µs) — these are
control-plane operations (a handful per flush/vacuum), never per-row.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def check_name(kind: str, name: str) -> str:
    """``name`` unchanged if it is exactly one path component, else
    ValueError. Caller-supplied ids become file or directory names under
    a state dir; an empty id, ``.``, ``..`` or a separator would land
    outside it (or in a subdirectory that was never created)."""
    if name in ("", ".", "..") or "/" in name or os.sep in name:
        raise ValueError(f"{kind} {name!r} must be one path component "
                         "(non-empty, not '.' or '..', no path separator)")
    return name


def _fs_path(spark: SparkSession, path: str):
    jp = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jp.getFileSystem(spark._jsc.hadoopConfiguration()), jp


def exists(spark: SparkSession, path: str) -> bool:
    fs, jp = _fs_path(spark, path)
    return bool(fs.exists(jp))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, jp = _fs_path(spark, path)
    return bool(fs.exists(jp)) and bool(fs.getFileStatus(jp).isDirectory())


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, jp = _fs_path(spark, path)
    fs.mkdirs(jp)


def listdir(spark: SparkSession, path: str) -> list[str]:
    """Child basenames of a directory (non-recursive); [] if absent."""
    fs, jp = _fs_path(spark, path)
    if not fs.exists(jp):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jp)]


def delete(spark: SparkSession, path: str, recursive: bool = False) -> bool:
    """Delete a path (``recursive=True`` for directories with contents);
    False if the path didn't exist."""
    fs, jp = _fs_path(spark, path)
    return bool(fs.delete(jp, recursive))


def list_statuses(spark: SparkSession, path: str) -> dict[str, float]:
    """Child basename -> modification time in epoch seconds (Hadoop
    reports millis); {} if the directory is absent. One listStatus call
    for the whole directory — never stat files one by one (a file may
    vanish between a listing and a per-file stat, and per-file py4j
    round-trips make listings O(files))."""
    fs, jp = _fs_path(spark, path)
    if not fs.exists(jp):
        return {}
    return {
        st.getPath().getName(): st.getModificationTime() / 1000.0
        for st in fs.listStatus(jp)
    }


def content_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under a path (recursive); 0 if absent."""
    fs, jp = _fs_path(spark, path)
    if not fs.exists(jp):
        return 0
    return int(fs.getContentSummary(jp).getLength())


def read_text(spark: SparkSession, path: str) -> str:
    """Whole small file as UTF-8 text (checkpoint logs are a few KB)."""
    fs, jp = _fs_path(spark, path)
    stream = fs.open(jp)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, spark._jvm.java.nio.charset.StandardCharsets.UTF_8
        )
    finally:
        stream.close()


def write_text(spark: SparkSession, path: str, text: str,
               overwrite: bool = False) -> None:
    """Write a small control-plane file via tmp + rename. For a NEW path
    this is an atomic commit (rename is atomic on HDFS/local posix; on
    S3-style stores it is copy+delete — pair with unique version-stamped
    names so a half-committed file is never read). Overwriting an
    EXISTING path is NOT atomic (Hadoop rename won't replace: there is a
    delete-then-rename window) — callers must opt in with
    ``overwrite=True`` and tolerate the window; the matview avoids it
    entirely by never rewriting a committed manifest."""
    fs, jp = _fs_path(spark, path)
    if fs.exists(jp) and not overwrite:
        raise FileExistsError(f"{path} exists (pass overwrite=True for the "
                              "non-atomic replace path)")
    tmp = spark._jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(text.encode("utf-8")))
    finally:
        stream.close()
    # the pre-rename delete happens ONLY on the opted-in overwrite path:
    # with overwrite=False, a concurrent writer that won the race between
    # the exists-check above and this point must surface as rename()
    # returning false below — an unconditional delete would remove the
    # winner's committed file and report success (exclusive-create broken)
    if overwrite and fs.exists(jp):
        fs.delete(jp, False)
    # Hadoop rename reports failure by RETURNING false (e.g. the target
    # was recreated by a concurrent writer inside the delete-rename
    # window, or the tmp file was swept) — returning normally here would
    # report a committed write that never landed
    if not fs.rename(tmp, jp):
        raise IOError(f"write_text commit failed: rename {path}.tmp -> {path} "
                      "returned false (concurrent writer or swept tmp file)")
