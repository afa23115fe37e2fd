"""Hadoop-FileSystem helpers for control-plane filesystem access.

The accumulator's staging/checkpoint/history dirs are plain paths locally
but must also work on object stores (``s3a://``, ``gs://``) and HDFS at
cluster scale — ``os.listdir``-style calls only survive the local case
(reference parity target: the store-backed batch state in
src/component/lib.ts:87-96, 622-634, which has no filesystem at all).
Every helper resolves the correct FileSystem for the path's scheme via the
JVM gateway, so callers never assume locality. Data-plane reads/writes
(parquet) go through ``spark.read``/``write``; a small file serialized on
the driver (the accumulator's one-add and history parquet files) is
committed with ``write_bytes``.

Per-call overhead is a few py4j round-trips of ~0.15 ms each: on a
4-core host ~0.7 ms for an ``exists`` and ~2 ms for a ``read_text``.
Resolving a JVM class by its dotted name costs one round-trip per name
segment (~4 ms for ``org.apache.hadoop.fs.Path``), so the classes are
looked up once per gateway (``_jvm_classes``). These are control-plane
operations (a handful per add/flush/vacuum), never per-row.

The many-file readers (``read_files``, ``parquet_row_counts``) resolve
one FileSystem per directory, then pay four round-trips per file
(``read_files``: path, open, read, close) or seven
(``parquet_row_counts``: path, stat, length, open, seek, read, close).
Measured warm on a 4-core host (``local[2]``, local FS, 2 KB files):
about 1 ms per file for ``read_files`` and 1.6 ms for
``parquet_row_counts``. Parquet's own ``ParquetFileReader.open`` took
17 ms per file there, so the footer is parsed by pyarrow instead.

Writes cost more. A warm ``write_text`` of a 100-byte file (tmp create,
write, close, rename) took 8.8 ms median (7.5–13 ms over 40 calls) on
the same host (Hadoop 3.4.2, native library not loaded), where one
local ``setPermission`` call alone took 3 ms. An ``os`` tmp write and
``os.replace`` of the same bytes took 0.04 ms.
"""

from __future__ import annotations

import functools
import os
import uuid
from typing import NamedTuple

from py4j.protocol import Py4JJavaError
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


class _JvmClasses(NamedTuple):
    Path: object
    IOUtils: object
    UTF_8: object
    FileNotFound: object  # the java.lang.Class of FileNotFoundException


@functools.lru_cache(maxsize=1)
def _classes_for(gateway) -> _JvmClasses:
    jvm = gateway.jvm
    return _JvmClasses(
        jvm.org.apache.hadoop.fs.Path,
        jvm.org.apache.commons.io.IOUtils,
        jvm.java.nio.charset.StandardCharsets.UTF_8,
        jvm.java.lang.Class.forName("java.io.FileNotFoundException"),
    )


def _jvm_classes(spark: SparkSession) -> _JvmClasses:
    """The JVM classes these helpers call, resolved once per py4j gateway.
    A handle belongs to the gateway that resolved it, so a replaced
    ``SparkContext._gateway`` is a new cache key and resolves afresh."""
    return _classes_for(spark.sparkContext._gateway)


def _fs_path(spark: SparkSession, path: str):
    jp = _jvm_classes(spark).Path(path)
    return jp.getFileSystem(spark._jsc.hadoopConfiguration()), jp


def exists(spark: SparkSession, path: str) -> bool:
    fs, jp = _fs_path(spark, path)
    return bool(fs.exists(jp))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, jp = _fs_path(spark, path)
    return bool(fs.exists(jp)) and bool(fs.getFileStatus(jp).isDirectory())


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


def read_text(spark: SparkSession, path: str) -> str:
    """Whole small file as UTF-8 text (checkpoint logs are a few KB)."""
    fs, jp = _fs_path(spark, path)
    jvm = _jvm_classes(spark)
    stream = fs.open(jp)
    try:
        return jvm.IOUtils.toString(stream, jvm.UTF_8)
    finally:
        stream.close()


def _read_each(spark: SparkSession, directory: str, names, read) -> dict:
    """``read(fs, path, classes)`` for each of ``names`` in ``directory``,
    through one FileSystem. A file that vanished since the caller listed
    it (a concurrent delete) is left out, not raised."""
    fs, dir_jp = _fs_path(spark, directory)
    jvm = _jvm_classes(spark)
    out = {}
    for name in names:
        try:
            out[name] = read(fs, jvm.Path(dir_jp, name), jvm)
        except Py4JJavaError as e:
            if not jvm.FileNotFound.isInstance(e.java_exception):
                raise
    return out


def _read_whole(fs, jp, jvm) -> bytes:
    stream = fs.open(jp)
    try:
        return bytes(jvm.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def read_files(spark: SparkSession, directory: str, names) -> dict[str, bytes]:
    """Basename -> whole contents for each of ``names`` in ``directory``
    (small control-plane files); a vanished file is left out."""
    return _read_each(spark, directory, names, _read_whole)


#: bytes read from a parquet file's end for its footer; a larger footer
#: costs a second read
FOOTER_TAIL = 64 << 10


def _footer_rows(fs, jp, jvm) -> int:
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    size = fs.getFileStatus(jp).getLen()
    stream = fs.open(jp)
    try:
        stream.seek(size - min(size, FOOTER_TAIL))
        tail = jvm.IOUtils.toByteArray(stream)
        # the file ends with <footer length: 4 bytes LE> b"PAR1"
        need = int.from_bytes(tail[-8:-4], "little") + 8
        if need > len(tail):
            stream.seek(size - need)
            tail = jvm.IOUtils.toByteArray(stream)
    finally:
        stream.close()
    return pq.read_metadata(pa.BufferReader(tail)).num_rows


def parquet_row_counts(spark: SparkSession, directory: str, names) -> dict[str, int]:
    """Basename -> row count for each parquet file among ``names`` in
    ``directory``, read from the file's footer on the driver: no Spark
    job, and only the file's tail crosses the gateway. A vanished file
    is left out, as Spark's ``ignoreMissingFiles`` would skip it."""
    return _read_each(spark, directory, names, _footer_rows)


# bytes per py4j write call: a large buffer crosses the gateway in slices
WRITE_SLICE = 4 << 20


def write_bytes(spark: SparkSession, path: str, data: bytes,
                overwrite: bool = False) -> None:
    """Write a file via a hidden tmp sibling + rename; missing parent
    dirs are created. The tmp name starts with ``_``, so Spark's file
    listing (batch reads and the streaming file source alike) never sees
    a half-written file, and is unique per call (``_<name>.<uuid>.tmp``),
    so a concurrent writer of the same path never truncates this one's
    bytes before its rename. For a NEW path the rename is an atomic commit
    (atomic on HDFS/local posix; on S3-style stores it is copy+delete —
    pair with unique names so a half-committed file is never read).
    Overwriting an EXISTING path is NOT atomic (Hadoop rename won't
    replace: there is a delete-then-rename window) — callers must opt in
    with ``overwrite=True`` and tolerate the window; the accumulator's
    epoch log avoids it entirely by never rewriting a committed entry."""
    fs, jp = _fs_path(spark, path)
    if fs.exists(jp) and not overwrite:
        raise FileExistsError(f"{path} exists (pass overwrite=True for the "
                              "non-atomic replace path)")
    head, name = os.path.split(path)
    tmp_path = os.path.join(head, f"_{name}.{uuid.uuid4().hex}.tmp")
    tmp = _jvm_classes(spark).Path(tmp_path)
    stream = fs.create(tmp, True)
    try:
        for at in range(0, len(data), WRITE_SLICE):
            stream.write(data[at:at + WRITE_SLICE])
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
        raise IOError(f"write commit failed: rename {tmp_path} -> {path} "
                      "returned false (concurrent writer or swept tmp file)")


def write_text(spark: SparkSession, path: str, text: str,
               overwrite: bool = False) -> None:
    """``write_bytes`` of ``text`` as UTF-8 (small control-plane files)."""
    write_bytes(spark, path, text.encode("utf-8"), overwrite=overwrite)
