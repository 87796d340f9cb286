"""Filesystem probes through Spark's Hadoop FileSystem layer.

Incremental writers (materialized views, designated-ts upsert) need to
distinguish "target does not exist yet → initialize" from "target exists
but the read failed → raise". Catching the read's exception cannot make
that distinction: a transient storage error, permission failure, or
corrupt footer on an EXISTING store would be misread as first-write and
the history silently overwritten. This probe asks the filesystem
directly — and goes through ``FileSystem.get`` on the session's Hadoop
conf, so the same call works on local paths in tests and on HDFS/object
stores (s3a/gs/abfs) in a real deployment, exactly like Spark's own
writers resolve paths.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists per the Hadoop FileSystem that owns it."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def holds_no_parquet(exc: Exception) -> bool:
    """True iff ``exc``, raised by a parquet read, means the path read
    holds no parquet files: it vanished, or it is a directory of stray
    markers with no footer to infer a schema from (every partition
    dropped). Readers answer that as an empty table. Any other error
    (storage, permissions, a corrupt footer) is False and must
    propagate."""
    msg = str(exc)
    return "UNABLE_TO_INFER_SCHEMA" in msg or "PATH_NOT_FOUND" in msg
