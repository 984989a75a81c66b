"""Filesystem operations routed through Hadoop's FileSystem API.

The storage tables live wherever Spark can read them — local disk in tests,
HDFS or object storage (s3a://, gs://, abfs://) at the 100 TB target. Python
``os.path`` / ``os.rename`` / ``shutil.rmtree`` only exist on a local POSIX
filesystem, so every existence check, rename, and delete in the engine goes
through the JVM's ``org.apache.hadoop.fs.FileSystem`` instead: the scheme in
the path picks the implementation, and the same code runs against any store
Spark itself can reach.

Atomicity caveat (documented, not hidden): HDFS and local POSIX renames are
atomic; object-store "renames" are copy+delete. The compaction swap in
``SparkParquetStorage.compact_samples`` / ``streaming.rollup.compact_rollup``
is therefore correct only under its stated single-writer/offline contract —
on an object store a concurrent reader can observe a partially-copied table.
A pointer-file (manifest) flip or a table format is the upgrade path if
online compaction is ever needed.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_path(spark, path)
    return bool(fs.exists(jpath))


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Move ``src`` to ``dst`` (atomic on HDFS/POSIX, copy+delete on object
    stores). Raises if the filesystem refuses the rename."""
    fs, jsrc = _fs_path(spark, src)
    jdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    if not fs.rename(jsrc, jdst):
        raise OSError(f"rename failed: {src} -> {dst}")


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete a file or tree; returns False if it did not exist."""
    fs, jpath = _fs_path(spark, path)
    return bool(fs.delete(jpath, recursive))


def copy(spark: SparkSession, src: str, dst: str) -> None:
    """Recursively copy ``src`` to ``dst`` (Hadoop ``FileUtil.copy``), so
    snapshots work against any store Spark can reach. Not atomic — callers
    copy into a staging name and rename into place."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    src_fs, jsrc = _fs_path(spark, src)
    jdst = jvm.org.apache.hadoop.fs.Path(dst)
    dst_fs = jdst.getFileSystem(conf)
    if not jvm.org.apache.hadoop.fs.FileUtil.copy(
        src_fs, jsrc, dst_fs, jdst, False, False, conf
    ):
        raise OSError(f"copy failed: {src} -> {dst}")


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs_path(spark, path)
    fs.mkdirs(jpath)


def content_summary(spark: SparkSession, path: str) -> tuple[int, int]:
    """(file count, total bytes) of the tree at ``path``, in two filesystem
    calls; (0, 0) if it is absent."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return (0, 0)
    summary = fs.getContentSummary(jpath)
    return (int(summary.getFileCount()), int(summary.getLength()))


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the direct children of ``path`` (empty if it is absent)."""
    fs, jpath = _fs_path(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]
