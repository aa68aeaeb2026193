"""``file:`` is ``jvm/ForklessLocalFileSystem.java``: Hadoop's checksummed
local file system, minus the ``chmod`` and ``readlink`` child processes
Hadoop starts without ``libhadoop.so``. The pipeline must run without
starting a process, and the file system must answer as Hadoop's does."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
from functools import partial
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from log_formatter_spark.pipeline import PipelineOptions
from log_formatter_spark.plans import run_batch
from log_formatter_spark.session import LOCAL_FS, get_spark
from log_formatter_spark.streaming import run_streaming_pipeline
from log_formatter_spark.transcripts import transcripts_from_events

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def src(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("local_fs") / "in")
    transcripts_from_events(spark, sf_dir).repartition(2).write.parquet(path)
    return path


def _process_starts(spark, tmp_path, run) -> list[str]:
    """The ``jdk.ProcessStart`` events the JVM records while ``run()``
    runs."""
    jvm = spark._jvm
    # Spark's executor metrics fork `getconf PAGESIZE` once per JVM, at
    # their first poll; take that one fork before recording
    jvm.org.apache.spark.executor.ProcfsMetricsGetter.pTreeInfo()
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    dump = jvm.java.io.File(str(tmp_path / "run.jfr")).toPath()
    rec.start()
    try:
        run()
    finally:
        rec.stop()
        rec.dump(dump)
        rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    return [events.get(i).getString("command") for i in range(events.size())]


def _run_pipeline(spark, src: str, out: Path) -> None:
    """A jvm-engine batch run with its aggregate table, then a two-batch
    checkpointed stream, both over ``src``."""
    pipe = PipelineOptions(engine="jvm").section()
    cfg = {
        "input": {"target": "parquet", "path": src},
        "pipeline": pipe,
        "output": {"target": "parquet", "path": f"{out}/routed", "aggregates": f"{out}/agg"},
    }
    run_batch(spark, cfg)
    ledger = run_streaming_pipeline(
        spark, src, str(out / "stream"), str(out / "ckpt"), pipe, max_files_per_trigger=1
    )
    assert ledger.snapshot()["rows_in"] == spark.read.parquet(src).count()


def test_pipeline_starts_no_process(src, tmp_path):
    """A batch run with its aggregate table and a two-batch checkpointed
    stream fork nothing (Hadoop's local file system forked over 100
    ``chmod``/``readlink`` processes here).

    The run gets a JVM of its own. Spark forks ``rm -rf`` for the artifact
    directory of every SparkSession it garbage-collects, every streaming
    query clones the session, and a clone stays reachable from PySpark's
    ``RDD.toDF`` until the next clone replaces it and from the cached
    exchange threads the stream started until they idle out (60 s). In
    the suite's shared JVM a clone left by an earlier test could be freed,
    and forked for, inside the recording."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY_")}
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    proc = subprocess.run(
        [sys.executable, "-m", "tests.test_local_fs", src, str(tmp_path)],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"stdout:\n{proc.stdout}\nstderr:\n{proc.stderr}"
    assert json.loads(proc.stdout.splitlines()[-1]) == []


def _modes(root: str) -> set[tuple[str, int]]:
    kinds = set()
    for d, dirs, files in os.walk(root):
        kinds |= {("dir", stat.S_IMODE(os.stat(os.path.join(d, x)).st_mode)) for x in dirs}
        kinds |= {("file", stat.S_IMODE(os.stat(os.path.join(d, x)).st_mode)) for x in files}
    return kinds


def test_local_fs_writes_like_hadoop(spark, src, tmp_path):
    """Both APIs resolve ``file:`` to the new classes; a partitioned write
    leaves Hadoop's modes (dirs 0755, files 0644 under the default
    ``fs.permissions.umask-mode`` 022) and a ``.crc`` beside every part
    file, which keeps read-time checksum verification."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    assert jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf).getClass().getName() == LOCAL_FS
    ctx = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    assert ctx.getDefaultFileSystem().getClass().getName() == LOCAL_FS + "$Fs"

    out = str(tmp_path / "routed")
    spark.read.parquet(src).write.partitionBy("role").parquet(out)
    assert _modes(out) == {("dir", 0o755), ("file", 0o644)}
    parts = [
        (d, f) for d, _, files in os.walk(out) for f in files if f.endswith(".parquet")
    ]
    assert parts
    for d, f in parts:
        assert os.path.isfile(os.path.join(d, f".{f}.crc"))


def _link_status(get, path) -> str:
    try:
        return get(path).toString()
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()


def test_local_fs_link_status_matches_hadoop(spark, tmp_path):
    """``getFileLinkStatus`` answers as Hadoop's own classes do, through
    the FileSystem and the FileContext API, on a directory, a symlink, a
    dangling symlink and a missing path."""
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "dir", tmp_path / "link")
    os.symlink(tmp_path / "nowhere", tmp_path / "dangling")
    names = ["dir", "link", "dangling", "missing"]

    jvm = spark._jvm
    fs_pkg = jvm.org.apache.hadoop.fs
    conf = spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    hadoop_conf = jvm.org.apache.hadoop.conf.Configuration(conf)
    hadoop_conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    hadoop_raw = fs_pkg.RawLocalFileSystem()
    hadoop_raw.initialize(uri, hadoop_conf)
    pairs = {
        "FileSystem": (
            fs_pkg.FileSystem.get(uri, conf).getRawFileSystem(), hadoop_raw
        ),
        "FileContext": (
            fs_pkg.FileContext.getFileContext(uri, conf),
            fs_pkg.FileContext.getFileContext(uri, hadoop_conf),
        ),
    }
    for api, (ours, hadoops) in pairs.items():
        for name in names:
            path = fs_pkg.Path(str(tmp_path / name))
            got = _link_status(ours.getFileLinkStatus, path)
            assert got == _link_status(hadoops.getFileLinkStatus, path), (api, name)
            if name == "missing":
                assert got == "java.io.FileNotFoundException"


def _main(src: str, out: str) -> None:
    spark = get_spark("lfs-process-starts", cores=2)
    try:
        run = partial(_run_pipeline, spark, src, Path(out) / "out")
        print(json.dumps(_process_starts(spark, Path(out), run)))
    finally:
        spark.stop()


if __name__ == "__main__":
    # python -m tests.test_local_fs SRC OUT: run the pipeline over SRC in
    # a new JVM and print the commands of the processes it started, as
    # one JSON list
    _main(*sys.argv[1:])
