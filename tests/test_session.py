"""The session factory's local FileSystem: which class serves ``file:``,
that it leaves the stock file modes, that a lake write forks no
process, and the pure rule that decides the conf keys."""

import os
from datetime import datetime
from types import SimpleNamespace

import pytest
import pyspark.core.context
from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import SparkSession

from duckdb_pipeline_spark import session
from duckdb_pipeline_spark.session import LOCAL_FS_CLASS, local_fs_conf
from duckdb_pipeline_spark.transform import DataLakeTransformer
from tests.test_transform import _land_hours, append_hour

JAR = "/x/nofork-fs.jar"
CP = "spark.driver.extraClassPath"
IMPL = "spark.hadoop.fs.file.impl"
NO_JAR = "no jar (no javac, or the compile failed): Spark's stock local FS serves file:"


def _fast_path() -> bool:
    """Whether this host builds the jar: a JDK with ``javac``, or the jar
    already cached. A JRE-only host keeps Spark's stock local FS."""
    return session.local_fs_jar() is not None


def _local_fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"), spark._jsc.hadoopConfiguration()
    )


def test_file_scheme_is_served_by_the_nofork_fs(spark):
    fs = _local_fs(spark)
    if not _fast_path():  # Spark's stock choice, which differs by build
        assert fs.getClass().getName() != LOCAL_FS_CLASS
        return
    assert fs.getClass().getName() == LOCAL_FS_CLASS
    assert fs.getRawFileSystem().getClass().getName() == LOCAL_FS_CLASS + "$Raw"
    assert fs.getClass().getSuperclass().getName() == "org.apache.hadoop.fs.LocalFileSystem"


@pytest.mark.parametrize("kind", ["file", "dir"])
def test_set_permission_leaves_the_stock_mode(spark, tmp_path, kind):
    """The engine's raw FS and a stock ``RawLocalFileSystem`` leave the
    same mode for each permission; a sticky bit takes the stock path."""
    if not _fast_path():
        pytest.skip(NO_JAR)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    raw = _local_fs(spark).getRawFileSystem()
    assert raw.getClass().getName() == LOCAL_FS_CLASS + "$Raw"
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    for perm in ("0600", "0644", "0700", "0755", "0777", "1777"):
        modes = []
        for name, fs in (("engine", raw), ("stock", stock)):
            p = tmp_path / f"{kind}-{perm}-{name}"
            if kind == "dir":
                p.mkdir()
            else:
                p.write_bytes(b"x")
            os.chmod(p, 0o640)
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(p)),
                             jvm.org.apache.hadoop.fs.permission.FsPermission(perm))
            modes.append(os.stat(p).st_mode)
        assert modes[0] == modes[1] and modes[0] & 0o7777 == int(perm, 8), (perm, modes)


def _reaped_ticks(spark) -> int:
    """``cutime + cstime`` of the JVM: CPU of the children it reaped."""
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return int(fields[13]) + int(fields[14])


def test_lake_writes_reap_no_child_process(spark, tmp_path):
    """A flat hourly export and a 32-bucket append fork no process: the
    JVM reaps no child while they run (the stock FS forks a ``chmod``
    per file and directory, about 15 ticks for these two writes)."""
    if not _fast_path():
        pytest.skip(NO_JAR)
    if not os.path.exists("/proc/self/stat"):
        pytest.skip("reaped-children CPU is read from /proc")
    rows = [
        {"id": i, "actor": {"id": i, "login": f"u{i}", "display_login": f"U{i}"},
         "type": "PushEvent", "repo": {"id": 200 + i, "name": f"r{i}", "url": "u"},
         "created_at": "2023-01-01 12:00:00"}
        for i in range(64)
    ]
    cfg = _land_hours(tmp_path / "lake", {11: rows, 12: rows})
    t = DataLakeTransformer("gharchive/events", spark, cfg)
    try:
        t.serialise_raw_data(datetime(2023, 1, 1, 11))  # warm the write paths
        append_hour(t, 11, n_buckets=32)
        before = _reaped_ticks(spark)
        t.serialise_raw_data(datetime(2023, 1, 1, 12))
        append_hour(t, 12, n_buckets=32)
        assert _reaped_ticks(spark) == before
        assert spark.table(t._bucketed_silver_table()).count() == 128
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t._bucketed_silver_table()}")


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_local_masters_get_both_keys(master):
    assert local_fs_conf(master, {}, JAR) == {
        "spark.driver.extraClassPath": JAR,
        "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
    }


@pytest.mark.parametrize("master", ["local-cluster[2,1,1024]", "spark://h:7077", "yarn"])
def test_other_masters_get_neither_key(master):
    assert local_fs_conf(master, {}, JAR) == {}


def test_caller_class_path_is_kept_and_jar_appended():
    got = local_fs_conf("local[2]", {CP: "/a.jar"}, JAR)
    assert got[CP] == "/a.jar" + os.pathsep + JAR


@pytest.mark.parametrize("submit_args", [None, "--properties-file {} pyspark-shell",
                                         "--properties-file={} pyspark-shell"])
def test_properties_file_class_path_is_kept(monkeypatch, tmp_path, submit_args):
    """A builder key replaces the value spark-submit reads from its
    properties file, so the file's class path is merged in by hand."""
    (tmp_path / "spark-defaults.conf").write_text(f"# defaults\n{CP}   /d.jar\n")
    (tmp_path / "p.conf").write_text(f"spark.ui.enabled=false\n{CP}=/p.jar\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    if submit_args is None:
        monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    else:
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", submit_args.format(tmp_path / "p.conf"))
    monkeypatch.setattr(session, "local_fs_jar", lambda: JAR)
    launched = []
    monkeypatch.setattr(session, "_driver_loads", lambda options, cls: launched.append(options[CP]) or True)
    opts = session._with_local_fs(SparkSession.builder, "local[2]", {})._options
    assert opts[CP] == ("/d.jar" if submit_args is None else "/p.jar") + os.pathsep + JAR
    assert opts[IMPL] == LOCAL_FS_CLASS
    assert launched == [opts[CP]]  # the JVM is launched with the merged class path
    opts = session._with_local_fs(SparkSession.builder, "local[2]", {CP: "/a.jar"})._options
    assert opts[CP] == "/a.jar" + os.pathsep + JAR


def test_caller_fs_impl_wins():
    got = local_fs_conf("local[2]", {IMPL: "my.FS"}, JAR)
    assert IMPL not in got


def test_missing_jar_adds_neither_key():
    assert local_fs_conf("local[2]", {}, None) == {}


def test_no_javac_builds_no_jar(monkeypatch, tmp_path):
    monkeypatch.setattr(session, "SCRATCH", str(tmp_path))
    monkeypatch.setattr(session, "_javac", lambda: None)
    assert session.local_fs_jar() is None
    assert not os.listdir(tmp_path)


def test_driver_jvm_loads_only_classes_on_its_class_path(spark):
    """The running driver JVM's class path was fixed at launch: a class
    on it loads, one off it does not."""
    assert session._driver_loads({}, LOCAL_FS_CLASS) == _fast_path()
    assert not session._driver_loads({}, LOCAL_FS_CLASS + "Absent")


def test_joined_jvm_without_the_class_gets_no_fs_impl(monkeypatch):
    """Under spark-submit the driver JVM runs before Python starts and
    pyspark joins it through ``PYSPARK_GATEWAY_PORT``, ignoring every
    builder key: neither key is added unless that JVM loads the FS."""
    joined = []

    def for_name(cls):
        raise Py4JJavaError("ClassNotFoundException", SimpleNamespace(_target_id="o1"))

    jvm = SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(Class=SimpleNamespace(forName=for_name))))

    def join(conf=None, popen_kwargs=None):
        assert os.environ["PYSPARK_GATEWAY_PORT"] == "1"
        joined.append(conf)
        return SimpleNamespace(jvm=jvm)

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.setattr(pyspark.core.context, "launch_gateway", join)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    monkeypatch.setattr(session, "local_fs_jar", lambda: JAR)
    opts = session._with_local_fs(SparkSession.builder, "local[2]", {})._options
    assert len(joined) == 1
    assert CP not in opts and IMPL not in opts
