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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class MetricsLedger:
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
        return {r["metric"]: int(r["cumulative"]) for r in self.spark.read.parquet(last).collect()}

    def _read_batch_values(self, batch_id: int) -> dict[str, int]:
        """Previously recorded batch_values for one batch (empty if the
        batch has no ledger partition yet)."""
        path = os.path.join(self.ledger_dir, f"batch_id={batch_id}")
        if not os.path.isdir(path):
            return {}
        df = self.spark.read.parquet(path)
        return {r["metric"]: int(r["batch_value"]) for r in df.collect()}

    def record_batch(self, batch_id: int, counts: dict[str, int]) -> None:
        """Fold batch counts into the accumulators and append the batch's
        ledger partition (idempotent: overwrite by batch_id).

        Mid-batch-crash replay: if the job died after this ledger write
        but before the streaming checkpoint committed, the batch is
        replayed — and _recover() already seeded the cumulatives from a
        ledger that includes it. Detect the pre-existing partition and
        retract its recorded batch_values before adding the replayed
        counts, so cumulative counters stay exact (never double) for
        this batch and every later one. Data sinks are overwrite-by-
        batch_id and thus already idempotent; this closes the same gap
        for the metrics."""
        for name, v in self._read_batch_values(batch_id).items():
            if name in self.acc:
                self.acc[name].add(-int(v))
        for name, v in counts.items():
            if name not in self.acc:
                self.acc[name] = self.spark.sparkContext.accumulator(0)
            self.acc[name].add(int(v))
        # column literals, not a SQL string (route names can hold quotes);
        # the cast names the columns and keeps them nullable (optional in
        # the parquet schema)
        rows = [
            F.struct(F.lit(name), F.lit(int(counts.get(name, 0))), F.lit(int(self.acc[name].value)))
            for name in sorted(self.acc)
        ]
        schema = "array<struct<metric string, batch_value bigint, cumulative bigint>>"
        df = self.spark.range(1, numPartitions=1).select(F.inline(F.array(*rows).cast(schema)))
        path = os.path.join(self.ledger_dir, f"batch_id={batch_id}")
        df.write.mode("overwrite").parquet(path)

    def snapshot(self) -> dict[str, int]:
        return {n: a.value for n, a in self.acc.items()}


def read_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame:
    return spark.read.option("basePath", ledger_dir).parquet(ledger_dir)
