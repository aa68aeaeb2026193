"""Accumulator-backed metrics ledger.

Replaces the reference's per-queue prometheus counters
(``put_<q>``/``get_<q>`` on :2112/metrics — reference
agent/connector/queue.go:30-39, connector.go:9-15) and its 5 s
heartbeats (agent/manager.go:166-208) with:

- SparkContext accumulators holding cumulative pipeline counters
  (rows_in / rows_parsed / rows_discarded / routed_<sink>), and
- a per-batch ledger table: one parquet dir per micro-batch
  (``_ledger/batch_id=<id>/``), overwritten on replay so resume never
  double-counts — the per-partition lineage record the north rule asks
  for.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

# nullable, as a Spark write of the same rows would declare it
LEDGER_SCHEMA = pa.schema(
    [("metric", pa.string()), ("batch_value", pa.int64()), ("cumulative", pa.int64())]
)


class MetricsLedger:
    """The partitions are small (one row per metric), so they are read
    and written with pyarrow on the driver, without a Spark job."""

    CORE = ("rows_in", "rows_parsed", "rows_discarded")

    def __init__(self, spark: SparkSession, routes: list[str], ledger_dir: str):
        self.spark = spark
        self.ledger_dir = ledger_dir
        names = list(self.CORE) + [f"routed_{r}" for r in routes]
        seed = self._recover()
        self.acc = {
            n: spark.sparkContext.accumulator(seed.get(n, 0)) for n in names
        }
        for n, v in seed.items():  # metrics beyond the configured set
            if n not in self.acc:
                self.acc[n] = spark.sparkContext.accumulator(v)

    def _recover(self) -> dict[str, int]:
        """Resume lineage: seed cumulative counters from the last committed
        batch of an existing ledger (checkpoint-restart continuity).
        Every batch records every accumulator, so the newest committed
        partition alone holds all cumulatives; restart cost does not grow
        with the ledger's history."""
        parts = glob.glob(os.path.join(self.ledger_dir, "batch_id=*", "*.parquet"))
        if not parts:
            return {}
        last = max({os.path.dirname(p) for p in parts}, key=lambda d: int(d.rsplit("=", 1)[1]))
        return _read_partition(last, "cumulative")

    def _read_batch_values(self, batch_id: int) -> dict[str, int]:
        """Previously recorded batch_values for one batch (empty if the
        batch has no ledger partition yet)."""
        path = os.path.join(self.ledger_dir, f"batch_id={batch_id}")
        if not os.path.isdir(path):
            return {}
        return _read_partition(path, "batch_value")

    def record_batch(self, batch_id: int, counts: dict[str, int]) -> None:
        """Fold batch counts into the accumulators and replace the batch's
        ledger partition (idempotent: overwrite by batch_id).

        Mid-batch-crash replay: if the job died after this ledger write
        but before the streaming checkpoint committed, the batch is
        replayed — and _recover() already seeded the cumulatives from a
        ledger that includes it. Detect the pre-existing partition and
        retract its recorded batch_values before adding the replayed
        counts, so cumulative counters stay exact (never double) for
        this batch and every later one. Data sinks are overwrite-by-
        batch_id and thus already idempotent; this closes the same gap
        for the metrics.

        The partition is written to a hidden directory beside it, then
        the old partition is removed and the new one renamed into place.
        A crash between the two leaves no partition for the batch:
        _recover() then seeds from the previous batch, and the replay
        adds the batch once."""
        for name, v in self._read_batch_values(batch_id).items():
            if name in self.acc:
                self.acc[name].add(-int(v))
        for name, v in counts.items():
            if name not in self.acc:
                self.acc[name] = self.spark.sparkContext.accumulator(0)
            self.acc[name].add(int(v))
        names = sorted(self.acc)
        table = pa.table(
            [names, [int(counts.get(n, 0)) for n in names], [int(self.acc[n].value) for n in names]],
            schema=LEDGER_SCHEMA,
        )
        path = os.path.join(self.ledger_dir, f"batch_id={batch_id}")
        # a leading "." keeps Spark's and pyarrow's readers out of it
        tmp = os.path.join(self.ledger_dir, f".batch_id={batch_id}.{uuid.uuid4().hex}")
        os.makedirs(tmp)
        pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.rename(tmp, path)

    def snapshot(self) -> dict[str, int]:
        return {n: a.value for n, a in self.acc.items()}


def _read_partition(path: str, column: str) -> dict[str, int]:
    """``metric -> column`` of one ledger partition."""
    t = pq.read_table(path, columns=["metric", column])
    return dict(zip(t["metric"].to_pylist(), map(int, t[column].to_pylist())))


def read_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    return spark.read.option("basePath", ledger_dir).parquet(ledger_dir)
