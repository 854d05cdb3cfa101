"""Hadoop-FileSystem path helpers for jobs that keep state on disk.

Every probe, delete and sidecar read/write goes through the Hadoop
FileSystem API of the session, so hdfs:// and s3a:// paths behave
exactly like local ones.  ``jobs/incremental_dedup.py`` uses them for
its band index, its ``__frozen`` tombstones, its ``__compact_tmp``
staging dir and its ``__meta`` bucket-count sidecar.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def path_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem-agnostic existence probe via the Hadoop FileSystem
    API.  ``os.path.exists`` is silently False for every non-local URI
    (hdfs://, s3a://), so an "is the index there yet?" gate built on it
    treats the store as absent on exactly the cluster deployments the
    incremental-dedup jobs target — each batch would re-create the
    index and lose all cross-batch pairs (r9 ADVICE)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return bool(p.getFileSystem(hconf).exists(p))


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursive delete through the same Hadoop FileSystem API (staging
    cleanup for rewrite-in-place maintenance jobs); True if anything
    was removed."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return bool(p.getFileSystem(hconf).delete(p, True))


def write_text(spark: SparkSession, path: str, content: str) -> None:
    """Small sidecar files (index metadata) through the Hadoop FS API,
    so hdfs:// and s3a:// paths behave exactly like local ones (the
    path_exists rationale applied to writes)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    out = p.getFileSystem(hconf).create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def read_text(spark: SparkSession, path: str) -> str:
    """Sidecar read counterpart of :func:`write_text`."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    stream = p.getFileSystem(hconf).open(p)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, hconf, False)
        return bytes(baos.toByteArray()).decode("utf-8")
    finally:
        stream.close()
