"""Session construction: the local ``file://`` filesystem that sets
permissions in-process, and the cases that keep Hadoop's default."""

from __future__ import annotations

import logging
import os
import shutil
from datetime import datetime

import pytest
from pyspark import SparkContext

from questdb_etl_jobs_spark import session
from questdb_etl_jobs_spark.plans.designated import write_designated_ts

needs_javac = pytest.mark.skipif(
    shutil.which("javac") is None, reason="no javac to build the local FS"
)


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )


@needs_javac
def test_local_session_uses_nio_local_fs(spark):
    fs = _local_fs(spark)
    assert fs.getClass().getName() == session.LOCAL_FS_CLASS
    assert fs.getRaw().getClass().getName() == session.LOCAL_FS_CLASS + "$Raw"
    # FileSystem.getLocal casts to LocalFileSystem: still checksummed.
    local = spark._jvm.org.apache.hadoop.fs.FileSystem.getLocal(
        spark._jsc.hadoopConfiguration()
    )
    assert local.getClass().getName() == session.LOCAL_FS_CLASS


@needs_javac
def test_set_permission_matches_hadoop_chmod(spark, tmp_path):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration())
    ours = _local_fs(spark).getRaw()
    cases = [("f", False, 0o644), ("d", True, 0o755), ("sticky", True, 0o1777)]
    for name, is_dir, mode in cases:
        perm = jvm.org.apache.hadoop.fs.permission.FsPermission(
            jvm.java.lang.Short.valueOf(str(mode))
        )
        modes = []
        for fs, side in ((ours, "ours"), (stock, "stock")):
            p = tmp_path / f"{name}-{side}"
            if is_dir:
                p.mkdir(mode=0o700)
            else:
                p.write_text("x")
                p.chmod(0o600)
            fs.setPermission(hpath(str(p)), perm)
            modes.append(os.stat(p).st_mode)
        assert modes[0] == modes[1], name
        assert modes[0] & 0o7777 == mode, name
    with pytest.raises(Exception, match="NoSuchFile"):
        ours.setPermission(hpath(str(tmp_path / "missing")), perm)


@needs_javac
def test_parquet_write_keeps_crc_and_mode_bits(spark, tmp_path):
    path = tmp_path / "events"
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10)), (2, datetime(2024, 1, 2, 10))],
        "id long, ts timestamp",
    )
    write_designated_ts(df, str(path), "ts")
    conf = spark._jsc.hadoopConfiguration()
    umask = spark._jvm.org.apache.hadoop.fs.permission.FsPermission.getUMask(
        conf
    ).toShort()
    data = []
    for root, dirs, files in os.walk(path):
        for d in dirs:
            assert os.stat(os.path.join(root, d)).st_mode & 0o7777 == (
                0o777 & ~umask
            ), d
        for f in files:
            assert os.stat(os.path.join(root, f)).st_mode & 0o7777 == (
                0o666 & ~umask
            ), f
            if not f.startswith("."):
                data.append(os.path.join(root, f))
                assert f".{f}.crc" in files, f
    assert len(data) >= 3  # two part files and _SUCCESS


def test_no_javac_keeps_default_confs(monkeypatch, tmp_path, caplog):
    monkeypatch.setenv("PATH", str(tmp_path))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    with caplog.at_level(logging.DEBUG, logger=session.__name__):
        assert session.local_fs_classpath() is None
        assert session._local_fs_confs("local[2]") == {}
    assert any("javac" in r.getMessage() for r in caplog.records)


@needs_javac
def test_unwritable_cache_keeps_default_confs(monkeypatch, tmp_path):
    blocker = tmp_path / "cache"
    blocker.write_text("a file, not a directory")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    assert session.local_fs_classpath() is None
    assert session._local_fs_confs("local[2]") == {}


@needs_javac
def test_local_fs_confs_only_when_a_local_master_starts_the_jvm(
    spark, monkeypatch, tmp_path
):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    # The suite's JVM is up: its classpath is fixed, so nothing is added.
    assert session._local_fs_confs("local[2]") == {}
    monkeypatch.setattr(SparkContext, "_gateway", None)
    confs = session._local_fs_confs("local[2]")
    classes = confs["spark.driver.extraClassPath"]
    assert confs == {
        "spark.driver.extraClassPath": classes,
        "spark.executor.extraClassPath": classes,
        "spark.hadoop.fs.file.impl": session.LOCAL_FS_CLASS,
    }
    assert os.path.isfile(
        os.path.join(classes, *session.LOCAL_FS_CLASS.split(".")) + ".class"
    )
    # Compiled once: the second call reuses the published directory and
    # no temporary build directory is left behind.
    assert session.local_fs_classpath() == classes
    assert os.listdir(os.path.dirname(classes)) == [os.path.basename(classes)]
    for master in (None, "spark://host:7077", "yarn", "k8s://https://h:443"):
        assert session._local_fs_confs(master) == {}, master
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert session._local_fs_confs("local[2]") == {}


def test_only_session_module_sets_session_confs():
    """Session confs are shared by every thread of the session, so the
    package sets them only in ``session.py``; a write that needs another
    behaviour passes it as an option of its own writer."""
    import ast
    from pathlib import Path

    root = Path(session.__file__).resolve().parent
    offenders = []
    for module in sorted(root.rglob("*.py")):
        if module.name == "session.py" and module.parent == root:
            continue
        for node in ast.walk(ast.parse(module.read_text())):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("set", "unset")
                and isinstance(node.value, ast.Attribute)
                and node.value.attr == "conf"
            ):
                offenders.append(
                    f"{module.relative_to(root)}:{node.lineno}"
                )
    assert offenders == []
