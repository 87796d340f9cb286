"""SparkSession construction and configuration.

Two entry points:

- :func:`get_spark` builds a session with the engine's posture (AQE on,
  UTC timezone, sized shuffle partitions).
- :func:`configure` applies the runtime-settable subset to an *existing*
  session — needed because the verification driver passes us its own
  ``SparkSession``; all confs here are SQL confs that take effect at
  runtime.

For a local master, :func:`get_spark` also puts a small JVM class
(``jvm/NioLocalFileSystem.java``, compiled once into the user cache by
:func:`local_fs_classpath`) on the classpath as the ``file://`` filesystem.

Scale posture (100 TB): AQE handles runtime coalescing, skew-join
splitting, and broadcast demotion/promotion; shuffle-partition count is a
starting hint only. Nothing here is local-mode-specific except the
defaults used by tests/bench.
"""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import weakref
from pathlib import Path

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

#: The ``file://`` filesystem of local sessions built by :func:`get_spark`.
LOCAL_FS_CLASS = "questdb_etl_jobs_spark.jvm.NioLocalFileSystem"
_LOCAL_FS_SOURCE = Path(__file__).with_name("jvm") / "NioLocalFileSystem.java"

# Runtime-settable SQL confs applied to any session (ours or the driver's).
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics across engines (oracle = DuckDB,
    # which is timezone-naive); the reference's timestamps are naive ISO-8601
    # (reference cloud_function.py:88).
    "spark.sql.session.timeZone": "UTC",
    # The driver's test tables store events.ts as parquet TIMESTAMP(NANOS),
    # which Spark does not map to a Catalyst type; read it as LongType
    # (nanos since epoch) and convert losslessly — the data is µs-precision
    # (verified: max sub-µs component is 0). See sources/tables.py.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Parquet TIMESTAMP(isAdjustedToUTC=false) would otherwise surface as
    # TIMESTAMP_NTZ, which half the timestamp builtins (unix_micros,
    # window, …) reject. With the session pinned to UTC above, reading it
    # as TimestampType is value-identical and keeps one timestamp type
    # throughout the engine and the DuckDB oracle comparison.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Adaptive execution: runtime re-plan (partition coalescing, skew-join
    # handling, SMJ→BHJ conversion) — the 100 TB posture.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Prefer shuffled-hash over sort-merge when one side is much smaller /
    # local-map-sized: skips sorting BOTH sides of every fact-fact equi-join.
    # Measured on this workload: dq10 (lineitem⋈orders at 60M⋈15M) 13.0s →
    # 9.6s, as-of join 0.67s → 0.47s, nothing slower. Caveat at 100 TB:
    # the SHJ build-side HashedRelation is in-memory (NOT spillable), so a
    # skewed build partition that AQE's stats miss can OOM a task; Spark
    # only picks SHJ when one side is below the per-partition threshold,
    # and joins where neither side qualifies still get SMJ.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Arrow for any toPandas()/pandas-UDF boundary (vectorized transfer),
    # and for Python UDTF row exchange (functions/udtfs.py).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
}


#: Sessions already configured — every conf.set is a py4j round trip
#: (~10 of them ≈ 30-80 ms), and load_table calls configure() on every
#: table load, so an un-memoized configure() taxes each query build.
_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session
    (idempotent and memoized per session object)."""
    if spark in _CONFIGURED:
        return spark
    _CONFIGURED.add(spark)
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # Conf not recognized/settable in this build — non-fatal.
            pass
    try:
        if spark.conf.get("spark.master", "").startswith("local"):
            # Local benches read MB-scale files; the 128m default (plus
            # the 4m per-file open cost) bins many files into one scan
            # task and the job runs a few-wide on a 32-core box. 16m keeps
            # ~one task per file for the local tiers' 2-10 MB files.
            # Finer (4m) is counterproductive: parquet readers parallelize
            # at ROW-GROUP granularity, so sub-file splits of a
            # single-row-group file only add empty tasks — measured at
            # sf10 (32-file tables): dq10 13.8s @4m vs 3.9s @16m. Cluster
            # deployments keep the 128m default — at real scale inputs
            # are many 100 MB+ files with multiple row groups.
            spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
            # Streaming checkpoints (offset/commit/source logs, state-store
            # deltas and their checksums) go through the FileSystem-based
            # manager. The FileContext default asks for link status on
            # every rename, and without Hadoop's native library the local
            # FS answers that by forking `readlink`: 1,904 forks for the 12
            # files of one layerbench stream_ingest run (about 160 per
            # file), against none here. Both managers commit with the same
            # rename(2) after the same exists check and keep the .crc
            # sidecars and state-store checksum files. Cluster deployments
            # keep Spark's default.
            spark.conf.set(
                "spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager",
            )
    except Exception:
        pass
    return spark


def local_fs_classpath() -> str | None:
    """Class directory holding :data:`LOCAL_FS_CLASS`, or ``None``.

    Compiled once with ``javac`` against Spark's Hadoop client jar into
    ``$XDG_CACHE_HOME`` (or ``~/.cache``), keyed by the source, the jar name
    and the JDK release, and published with one rename so a concurrent
    caller never sees a half-written directory. Returns ``None``, with one
    debug record saying why, when ``javac`` or the jar is missing, the
    compile fails or the cache cannot be written.
    """
    javac = shutil.which("javac")
    if javac is None:
        _log.debug("no javac on PATH; local sessions keep Hadoop's file system")
        return None
    try:
        spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
        jars = sorted(Path(spark_home, "jars").glob("hadoop-client-api-*.jar"))
        if not jars:
            _log.debug("no hadoop-client-api jar under %s; local sessions "
                       "keep Hadoop's file system", spark_home)
            return None
        jdk = Path(os.path.realpath(javac)).parent.parent
        release = jdk / "release"
        jdk_id = release.read_bytes() if release.is_file() else bytes(jdk)
        source = _LOCAL_FS_SOURCE.read_bytes()
        key = hashlib.sha256(
            b"\0".join([source, jars[-1].name.encode(), jdk_id])
        ).hexdigest()[:16]
        cache = Path(
            os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache",
            "questdb_etl_jobs_spark", "jvm",
        )
        out = cache / key
        if out.is_dir():
            return str(out)
        cache.mkdir(parents=True, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".build-", dir=cache)
        try:
            subprocess.run(
                [javac, "--release", "17", "-cp", str(jars[-1]),
                 "-d", tmp, str(_LOCAL_FS_SOURCE)],
                check=True, capture_output=True, timeout=300,
            )
            try:
                os.replace(tmp, out)
            except OSError:
                if not out.is_dir():  # else another process published first
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return str(out)
    except (OSError, RuntimeError, subprocess.SubprocessError) as exc:
        _log.debug("cannot build %s; local sessions keep Hadoop's file "
                   "system: %s", LOCAL_FS_CLASS, exc)
        return None


def _local_fs_confs(master: str | None) -> dict[str, str]:
    """Builder confs that make :data:`LOCAL_FS_CLASS` the ``file://``
    filesystem, or ``{}`` where the session must keep Hadoop's default.

    Without Hadoop's native library, RawLocalFileSystem.setPermission forks
    `chmod` for every file, .crc sidecar and directory it creates: 850 forks
    in a 12-file layerbench stream_ingest run (about 70 per file: checkpoint
    logs, state-store deltas, part files) and 546 in an hourly_ingest run
    (about 17 per run_batch). LOCAL_FS_CLASS is the same checksummed
    LocalFileSystem whose raw layer makes one chmod(2) call with the same
    mode bits instead. Only a local master gets it (``master=None`` is left
    to spark-submit, which may point it at a cluster whose executors lack
    the class), and only when this call starts the JVM: the classpath is
    fixed at JVM launch, so a JVM started elsewhere (spark-submit, an
    earlier session) could not load the class.
    """
    if (
        master is None
        or not master.startswith("local")
        or SparkContext._gateway is not None
        or "PYSPARK_GATEWAY_PORT" in os.environ
    ):
        return {}
    classes = local_fs_classpath()
    if classes is None:
        return {}
    return {
        "spark.driver.extraClassPath": classes,
        "spark.executor.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
    }


def get_spark(
    app_name: str = "questdb-etl-jobs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine posture.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when unset and no
    cluster master is configured — tests and bench run single-JVM; a real
    deployment passes its own master/conf via spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    if master is None or master.startswith("local"):
        # Local mode: driver JVM == executor. The 1g default driver heap
        # forces spill on anything past sf0.1; size it to the box — half
        # of physical RAM, capped at 24g (leaves headroom for Python
        # workers / page cache so the JVM is never bigger than the
        # machine). $SPARK_GRAFT_DRIVER_MEM overrides. Only effective for
        # the process's FIRST session — harmless otherwise.
        try:
            phys_gb = (
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            ) // (1 << 30)
            default_mem = f"{max(1, min(24, phys_gb // 2))}g"
        except (ValueError, OSError):
            default_mem = "4g"
        builder = builder.config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_mem),
        )
    if shuffle_partitions is None:
        # Local default: match core count so tiny benches don't pay for
        # hundreds of empty reduce tasks; AQE coalesces further at runtime.
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in _local_fs_confs(master).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return configure(spark)
