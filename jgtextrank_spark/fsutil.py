"""Scheme-agnostic filesystem helpers for driver-side state IO.

The iterative solvers and streaming sinks keep small driver-side state
beside their parquet: checkpoint discovery (list the ``superstep_*`` /
``scc_outer_*`` / ``batch_id=N`` directories), meta JSON validity
markers (written LAST so their presence marks the parquet tables
complete), the HyperBall per-superstep totals file, and the job's
``metrics.json``. A solver whose state lives on the driver also writes
and reads its checkpoint parquet bytes through here
(``supersteps.write_table`` / ``read_table``), so that state never makes
a round trip through a Spark job.

Doing that with ``os.path`` / ``open()`` silently breaks the moment the
checkpoint/state dir lives on HDFS or S3 — the normal multi-executor
deployment (the data half of the checkpoint lands remotely; the
discovery half looks at the driver's LOCAL disk, finds nothing, and
every run cold-starts — or the meta ``open()`` raises after the parquet
writes already succeeded). These helpers route the same operations
through the JVM Hadoop FileSystem API obtained from the active
``SparkSession``, so one code path serves ``/local/dir``,
``file:///...``, ``hdfs://...`` and ``s3a://...`` alike. Local-path
behavior is unchanged (Hadoop's ``LocalFileSystem`` backs bare paths,
and writes a ``.<name>.crc`` checksum file beside each file it
creates).

``read_bytes`` / ``write_bytes`` move a whole file in one py4j call
each; ``read_text`` / ``write_text`` are their UTF-8 wrappers. They are
meant for driver-sized files: the bytes cross py4j in one piece.

Semantics notes for object stores:

* ``write_bytes`` uses ``create(overwrite=True)`` — single-writer
  contexts only (our meta markers are written once per checkpoint by
  the one driver; microbatches are sequential per streaming query).
* ``replace_text`` emulates ``os.replace`` with write-tmp + rename,
  falling back to a plain overwrite where rename-onto is refused
  (rename-based atomicity is not available on S3 anyway; the totals
  file tolerates a re-write because the reader validates contents).
"""

from __future__ import annotations

import functools

from pyspark.sql import SparkSession

__all__ = [
    "fs_and_path",
    "exists",
    "list_dir",
    "read_bytes",
    "write_bytes",
    "read_text",
    "write_text",
    "replace_text",
    "delete",
]


@functools.lru_cache(maxsize=4)
def _path_class(jvm):
    """Hadoop's ``Path`` class, looked up once per JVM view: each package
    segment of ``jvm.org.apache.hadoop.fs.Path`` costs a py4j round
    trip."""
    return jvm.org.apache.hadoop.fs.Path


def fs_and_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Hadoop Path) for ``path`` under the session's
    Hadoop configuration — the FS is resolved per path scheme."""
    hpath = _path_class(spark._jvm)(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = fs_and_path(spark, path)
    return bool(fs.exists(p))


def list_dir(spark: SparkSession, path: str) -> list[str]:
    """Sorted child basenames of ``path``; [] if it doesn't exist or is
    not a directory (mirrors the old isdir+listdir discovery contract)."""
    fs, p = fs_and_path(spark, path)
    if not fs.exists(p) or not fs.getFileStatus(p).isDirectory():
        return []
    return sorted(
        st.getPath().getName() for st in fs.listStatus(p)
    )


def read_bytes(spark: SparkSession, path: str) -> bytes:
    """Full contents of a (small) file. Raises if missing."""
    fs, p = fs_and_path(spark, path)
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes())  # drained JVM-side in one call
    finally:
        stream.close()


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Create/overwrite a small file with ``data`` (parents created)."""
    fs, p = fs_and_path(spark, path)
    stream = fs.create(p, True)  # overwrite=True
    try:
        stream.write(bytearray(data))
    finally:
        stream.close()


def read_text(spark: SparkSession, path: str) -> str:
    """``read_bytes`` decoded as UTF-8."""
    return read_bytes(spark, path).decode("utf-8")


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """``write_bytes`` of ``text`` encoded as UTF-8."""
    write_bytes(spark, path, text.encode("utf-8"))


def replace_text(spark: SparkSession, path: str, text: str) -> None:
    """Write ``text`` to ``path`` via tmp-file + rename (atomic on
    HDFS/local; best-effort on object stores, where a plain overwrite is
    the fallback — acceptable for state whose reader validates it)."""
    fs, p = fs_and_path(spark, path)
    tmp = _path_class(spark._jvm)(str(p) + ".tmp")
    write_text(spark, str(tmp), text)
    if fs.exists(p):
        fs.delete(p, False)
    if not fs.rename(tmp, p):
        # rename refused (some object stores): fall back to direct write
        write_text(spark, path, text)
        fs.delete(tmp, False)


def delete(spark: SparkSession, path: str, recursive: bool = False) -> bool:
    fs, p = fs_and_path(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))
