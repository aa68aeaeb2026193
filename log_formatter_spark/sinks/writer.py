"""Multi-sink fan-out writers.

The reference's ES sink routes each doc to an index computed from its
own fields (``index: "logs-{{level}}"`` — reference
agent/output/elasticsearch/elasticsearch.go:82 + util/config.go:16-32).
The Spark rendering:

- **Routed rows**: one single-pass ``partitionBy(route)`` write. The
  route column becomes the partition directory — one scan, no per-sink
  jobs, and downstream readers get partition pruning on the route for
  free.
- **Pipeline output** (``write_pipeline_output``): that write plus the
  per-sink aggregate table, shared by batch (``output.aggregates``) and
  every streaming micro-batch (≡ the reference's bulk buffer,
  elasticsearch.go:103-131).

A name→writer registry mirrors the reference's output factory registry
(agent/output/output.go:23-38); Python callables replace `.so` plugins
(util/plugin.go:22-39).
"""

from __future__ import annotations

import glob
import os
import re
from collections import Counter
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from log_formatter_spark.operators.aggregate import sink_aggregates
from log_formatter_spark.operators.route import ROUTE


def sink_path(base_dir: str, route: str) -> str:
    return os.path.join(base_dir, f"{ROUTE}={route}")


# Table-format seam: the north-star target is per-sink Iceberg tables;
# no Iceberg runtime jar ships in this sandbox, so parquet (same layout,
# same partitioning) is the default and "iceberg" switches the whole
# sink layer over when the jar + catalog are configured on the cluster.
TABLE_FORMAT = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")


def write_routed(
    df: DataFrame, base_dir: str, mode: str = "overwrite", fmt: str | None = None
) -> None:
    """Single-pass fan-out: partition the write by the route column.

    At 10^12 rows this is strictly better than N filtered writes (one
    scan instead of N); dynamic partition overwrite keeps re-runs
    idempotent per route. For ``fmt="iceberg"`` the target is a catalog
    table identifier, not a directory, and the write goes through the
    V2 writer (see _write_routed_iceberg) — the parquet writer's
    ``partitionOverwriteMode`` option does not exist in Iceberg's
    writer, whose default overwrite would replace the WHOLE table.
    """
    fmt = fmt or TABLE_FORMAT
    if fmt == "iceberg":
        _write_routed_iceberg(df, base_dir)
        return
    (
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(ROUTE)
        .format(fmt)
        .save(base_dir)
    )


def write_pipeline_output(
    df: DataFrame, routed_dir: str, agg_dir: str, mode: str = "overwrite"
) -> None:
    """Write the routed rows once, then the per-sink (route, role, tool,
    hour) aggregate of the committed rows to ``agg_dir`` as flat parquet.
    The aggregate reads the routed parquet back, pruned to its key
    columns, instead of caching ``df``; the read takes ``df``'s schema,
    as a write of zero rows leaves no file to infer one from."""
    write_routed(df, routed_dir, mode=mode, fmt="parquet")
    read = df.sparkSession.read.schema(df.schema).option("basePath", routed_dir)
    sink_aggregates(read.parquet(routed_dir)).coalesce(1).write.mode("overwrite").parquet(agg_dir)


def routed_row_counts(routed_dir: str) -> Counter:
    """Rows per route value of a committed ``partitionBy(route)`` parquet
    write, from the part files' footers (no Spark job). Directory names
    are unescaped as Spark escapes them; the null partition
    (``__HIVE_DEFAULT_PARTITION__``, also where an empty route lands)
    counts under ``None``, as a read-back would see it."""
    counts: Counter = Counter()
    for f in glob.glob(os.path.join(routed_dir, f"{ROUTE}=*", "*.parquet")):
        value = os.path.basename(os.path.dirname(f)).split("=", 1)[1]
        if value == "__HIVE_DEFAULT_PARTITION__":
            value = None
        else:
            value = re.sub(r"%([0-9A-Fa-f]{2})", lambda m: chr(int(m[1], 16)), value)
        counts[value] += pq.read_metadata(f).num_rows
    return counts


def _write_routed_iceberg(df: DataFrame, table: str) -> None:
    """Iceberg rendering of idempotent per-route replacement.

    Dynamic partition replacement is a DataFrameWriterV2 *verb*
    (``overwritePartitions()`` — replace exactly the route partitions
    present in ``df``, leave the rest), not a writer option; on first
    write the table is created partitioned by the route column. This
    branch needs the iceberg-spark-runtime jar + a catalog on the
    cluster (absent in this sandbox — the dispatch is unit-tested, the
    execution is not; SURVEY §7.3)."""
    from pyspark.sql import functions as F
    from pyspark.errors import AnalysisException

    try:
        df.writeTo(table).overwritePartitions()
    except AnalysisException:
        # table (or its namespace) doesn't exist yet: first write
        df.writeTo(table).partitionedBy(F.col(ROUTE)).create()


def read_sink(
    spark: SparkSession,
    base_dir: str,
    route: str | None = None,
    fmt: str | None = None,
) -> DataFrame:
    """Read one sink (partition-pruned) or the whole routed table."""
    df = (
        spark.read.option("basePath", base_dir)
        .format(fmt or TABLE_FORMAT)
        .load(base_dir)
    )
    if route is not None:
        df = df.where(df[ROUTE] == route)
    return df


# --- sink registry (console / parquet / noop / kafka-shaped) --------------

SinkFn = Callable[[DataFrame, dict], None]


def _console_sink(df: DataFrame, cfg: dict) -> None:
    # reference agent/output/console/console.go:25-27
    df.show(int(cfg.get("limit", 20)), truncate=False)


def _parquet_sink(df: DataFrame, cfg: dict) -> None:
    mode = cfg.get("mode", "overwrite")
    if cfg.get("index"):  # dynamic {{field}} routing like the ES sink
        from log_formatter_spark.operators.route import sink_template_route

        df = sink_template_route(df, cfg["index"])
    if cfg.get("aggregates"):
        write_pipeline_output(df, cfg["path"], cfg["aggregates"], mode=mode)
    elif cfg.get("index"):
        write_routed(df, cfg["path"], mode=mode)
    else:
        df.write.mode(mode).parquet(cfg["path"])


def _noop_sink(df: DataFrame, cfg: dict) -> None:
    df.write.format("noop").mode("overwrite").save()


def _kafka_sink(df: DataFrame, cfg: dict) -> None:
    """Kafka-shaped sink (reference agent/output/kafka/kafka.go:99-116):
    JSON-serialize every row to a single static topic. Requires a broker,
    so in-sandbox tests only exercise the plan construction."""
    from pyspark.sql import functions as F

    out = df.select(F.to_json(F.struct(*df.columns)).alias("value"))
    (
        out.write.format("kafka")
        .option("kafka.bootstrap.servers", cfg["broker"])
        .option("topic", cfg["topic"])
        .save()
    )


SINKS: dict[str, SinkFn] = {
    "console": _console_sink,
    "parquet": _parquet_sink,
    "noop": _noop_sink,
    "kafka": _kafka_sink,
}


def register_sink(name: str, fn: SinkFn) -> None:
    """Plugin hook (replaces the reference's .so output loader,
    agent/output/output.go:74-92)."""
    SINKS[name] = fn


# --- bucketed tables (co-located joins) -----------------------------------


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    path: str | None = None,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist ``df`` as a BUCKETED table: rows hash-partitioned into
    ``n_buckets`` files by ``bucket_cols`` at write time (optionally
    sorted within buckets).

    This is the pre-shuffle-once pattern for 100 TB: two tables bucketed
    the same way join WITHOUT any runtime Exchange — the scan itself
    satisfies the join's hash-distribution requirement, so a nightly
    conv_id-bucketed transcript table joins per-conversation aggregates,
    session tables and enrichment outputs shuffle-free forever after
    (tests/test_bucketed.py pins the exchange-free plan). In-bucket
    sorting additionally removes the SortMergeJoin's per-task sort.

    Bucketing requires the table catalog (file metadata alone cannot
    carry the bucket spec), hence ``saveAsTable``; with ``path`` the
    table is external, so the data lives wherever the lake wants it.
    The Iceberg analogue is a bucket(n, col) partition transform on the
    same seam (SPARK_GRAFT_TABLE_FORMAT, see write_routed).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def compact_dir(
    spark,
    src_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ⌈total_bytes / target_bytes⌉ files, returning the new file count.

    The unglamorous operation that keeps a 100 TB lake usable: streaming
    sinks and per-trigger micro-batches leave thousands of KB-sized
    files per partition, and scan cost at read time is dominated by
    file-open overhead + tiny row groups long before data volume
    matters (the driver also pays per-file listing). This is the
    parquet-path analogue of Iceberg's rewrite_data_files / Delta's
    OPTIMIZE on the same sink seam as write_routed.

    Mechanics: size the output from the ACTUAL input bytes (no row
    sampling), repartition — a real shuffle, paid once, amortized over
    every later scan — optionally sorting within output files so
    row-group min/max stats prune future range scans, then REPLACE the
    directory via temp-write + two renames. That is SINGLE-WRITER,
    OFFLINE-WINDOW semantics only: the two renames are not one atomic
    exchange, so a reader racing the swap can catch the instant the
    path is absent, and a crash between them strands the data at the
    ``._compact_old`` sibling (recoverable by hand). Lock out readers
    for the swap; true concurrent compaction is exactly what the
    table-format seam (Iceberg rewrite_data_files snapshots) buys —
    this utility is the parquet-path stopgap.

    LOCAL FILESYSTEM ONLY: sizing walks the directory with ``os.walk``
    and the swap uses POSIX renames, so ``src_dir`` must be a
    driver-local path (``hdfs://`` / ``s3a://`` layouts that
    ``spark.read.parquet`` happily accepts would miscount sizes or fail
    the rename). On object stores / HDFS, compact through the table
    format's own rewrite action instead. Validated up front, as are
    leftover ``._compact_tmp`` / ``._compact_old`` siblings from a
    prior crash (which would otherwise make the renames fail midway).
    """
    import math
    import os
    import shutil
    from urllib.parse import urlparse

    scheme = urlparse(src_dir).scheme
    if scheme not in ("", "file"):
        raise ValueError(
            f"compact_dir requires a driver-local directory; got scheme "
            f"{scheme!r} ({src_dir}) — use the table format's rewrite "
            f"action (e.g. Iceberg rewrite_data_files) for remote storage"
        )
    local_dir = urlparse(src_dir).path if scheme == "file" else src_dir
    if not os.path.isdir(local_dir):
        raise ValueError(f"compact_dir: not a local directory: {src_dir}")
    src_dir = local_dir
    for sibling in ("._compact_tmp", "._compact_old"):
        leftover = src_dir.rstrip("/") + sibling
        if os.path.exists(leftover):
            raise ValueError(
                f"compact_dir: leftover {leftover} from a prior run — "
                f"recover or remove it before compacting"
            )

    total = 0
    for root, _dirs, files in os.walk(src_dir):
        for f in files:
            if not f.startswith("_") and not f.startswith("."):
                total += os.path.getsize(os.path.join(root, f))
    n_files = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(src_dir)
    if sort_cols:
        out = df.repartitionByRange(n_files, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_files)
    tmp = src_dir.rstrip("/") + "._compact_tmp"
    out.write.mode("overwrite").parquet(tmp)
    old = src_dir.rstrip("/") + "._compact_old"
    os.rename(src_dir, old)
    os.rename(tmp, src_dir)
    shutil.rmtree(old)
    return n_files
