"""SparkSession factory with scale-oriented defaults.

Single place where execution knobs live so tests, bench and the driver
contract agree. The reference engine's parallelism knobs (``pipeline.worker``,
``input.kafka.worker`` — reference agent/pipeline/pipeline.go:27,
agent/input/kafka/kafka.go:33) map to core count / shuffle partitions here.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

JVM_SRC_DIR = os.path.join(os.path.dirname(__file__), "jvm")
LOCAL_FS = "log_formatter_spark.jvm.ForklessLocalFileSystem"


def get_spark(
    app_name: str = "log-formatter-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE on (coalesce + skew-join): runtime re-planning is our first line
      of skew defense; explicit salting (operators/skew.py) is the second.
    - Arrow on: the grok parser's arrow engine is an ``arrow_udf`` (no
      per-row Python, per the north rule).
    - UTC session timezone: keeps timestamp rendering identical between
      Spark and the DuckDB oracle over the same parquet files.
    - ``file:`` is ``jvm/ForklessLocalFileSystem.java``, when this call
      launches the JVM (one started elsewhere cannot load the class).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    master = os.environ.get(
        "SPARK_GRAFT_MASTER", f"local[{cores}]" if cores else "local[*]"
    )
    if shuffle_partitions is None:
        n = cores or os.cpu_count() or 8
        shuffle_partitions = max(8, n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesces post-shuffle stages by BYTES, but several hot
        # stages here are digest-dense, not byte-dense: minhash
        # signatures over a groupBy-assembled conversation corpus carry
        # ~6 MD5s per character of text, so the default 1 MB floor
        # packed 36M digests into 2 tasks at 32 cores. A 64 KB floor
        # keeps such stages at full parallelism (capped by
        # spark.sql.shuffle.partitions, so task counts cannot explode)
        # and is inert at cluster scale, where post-shuffle partitions
        # exceed the advisory size anyway. Measured: conv_neardup
        # 10.1 s -> 3.5 s at sf0.1/32 cores; map/agg controls neutral
        # (min-of-5: 4.32 s -> 4.11 s over nine sub-second entries).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # G1 with a relaxed pause goal: this pipeline allocates strings at
        # a high rate (regex extraction); measured 27% faster at 32 cores
        # than default GC settings, neutral at low core counts. NOTE: a
        # *larger* heap is slower here — 8g beat 40g by 2.6x at 32 threads
        # (GC copy cost tracks live-set locality, not heap headroom).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseG1GC -XX:MaxGCPauseMillis=500",
        )
    )
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        for k, v in local_fs_conf(jvm_jar()).items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_fs_conf(jar: str) -> dict[str, str]:
    """Spark conf that makes ``file:`` the forkless local file system
    from ``jar``, for the FileSystem and the FileContext API alike.

    Without ``libhadoop.so`` Hadoop's local file system forks ``chmod``
    after every mkdir and permissioned create, and ``readlink`` for
    every link status a FileContext reads (the streaming checkpoint);
    the replacement does both in-process and keeps the ``.crc``
    checksum files."""
    return {
        "spark.driver.extraClassPath": jar,
        "spark.executor.extraClassPath": jar,
        "spark.hadoop.fs.file.impl": LOCAL_FS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": LOCAL_FS + "$Fs",
    }


def jvm_jar() -> str:
    """The jar of ``jvm/*.java``, compiled with ``javac`` against the
    Spark jars once per sha256 of the sources and cached under
    ``$XDG_CACHE_HOME/log_formatter_spark/`` (default ``~/.cache``). The
    jar is built in a temporary directory and moved into place with
    ``os.replace``, so concurrent sessions never see a partial jar."""
    sources = sorted(glob.glob(os.path.join(JVM_SRC_DIR, "*.java")))
    digest = hashlib.sha256()
    for src in sources:
        with open(src, "rb") as f:
            digest.update(os.path.basename(src).encode() + b"\0" + f.read() + b"\0")
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "log_formatter_spark",
    )
    jar = os.path.join(cache, f"lfs-jvm-{digest.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    java_home = os.environ.get("JAVA_HOME")
    javac = (java_home and shutil.which("javac", path=os.path.join(java_home, "bin"))) or (
        shutil.which("javac")
    )
    if not javac:
        raise RuntimeError(
            "log_formatter_spark needs a JDK: no javac on JAVA_HOME/bin or PATH "
            f"to compile {JVM_SRC_DIR}/*.java"
        )
    os.makedirs(cache, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        classes = os.path.join(tmp, "classes")
        classpath = os.path.join(_find_spark_home(), "jars", "*")
        cmd = [javac, "--release", "17", "-cp", classpath, "-d", classes, *sources]
        done = subprocess.run(cmd, capture_output=True, text=True)
        if done.returncode:
            raise RuntimeError(f"javac failed on {JVM_SRC_DIR}:\n{done.stderr}")
        built = os.path.join(tmp, "out.jar")
        with zipfile.ZipFile(built, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(classes):
                for name in files:
                    path = os.path.join(root, name)
                    z.write(path, os.path.relpath(path, classes))
        os.replace(built, jar)
    return jar


def zip_reload_guard():
    """Return ``install()``: called at the top of a UDF body, it makes the
    Python worker re-read a zip archive's directory only when the archive
    changed.

    PySpark calls ``importlib.invalidate_caches()`` at the start of every
    task, and on CPython 3.11 that re-reads the directory of every
    ``zipimporter`` in pure Python (lazy since 3.12, gh-103200).
    ``install()`` replaces ``zipimporter.invalidate_caches``, once per
    worker process, with a version that re-reads an archive only when
    its ``(st_mtime_ns, st_size)`` differs from the stamp of that
    importer's last read, so a changed or newly added archive is still
    re-read. It is a nested function, so cloudpickle ships it by value
    and the worker needs only the standard library to run it.
    """

    def install() -> None:
        import os
        import sys
        import zipimport

        cls = zipimport.zipimporter
        if "_lfs_unguarded" in cls.__dict__:
            return
        reload = cls.invalidate_caches

        def stamp(archive):
            try:
                st = os.stat(archive)
            except OSError:
                return None
            return st.st_mtime_ns, st.st_size

        def invalidate_caches(self):
            # stat before the read: an archive rewritten during the read
            # leaves an older stamp, so the next call reads it again
            now = stamp(self.archive)
            if now is None or now != getattr(self, "_lfs_stamp", None):
                reload(self)
                self._lfs_stamp = now

        # the task's set-up (setup_spark_files) has just re-read every
        # archive known so far, and no worker file changes mid-task
        for imp in list(sys.path_importer_cache.values()):
            if isinstance(imp, cls):
                imp._lfs_stamp = stamp(imp.archive)
        cls._lfs_unguarded = reload
        cls.invalidate_caches = invalidate_caches

    return install
