#!/usr/bin/env python
"""Deterministic K× scale-up of the driver testdata (default 10×),
for the one-notch-up bench run recorded in BENCH.md.

Design goal: K× the *work*, not K²×. Naive replication makes every
replica an exact duplicate of every other, so pair-forming dedup joins
blow up quadratically in K (bucket sizes ×K → join rows ×K²) — a
duplication-rate artifact, not a scale-up. Instead each replica is
transformed so that within-replica structure is IDENTICAL to the
original while cross-replica collisions vanish:

- documents: per-replica Caesar rotation of letters (+ digit rotation).
  Token boundaries, lengths and duplicate groups are preserved within a
  replica; across replicas no shingle ever matches.
- events: user_id shifted by a replica offset (new conversations, same
  per-conversation turn structure).

Usage: python scripts/make_scaled_testdata.py [K] [src_dir] [out_dir]
"""

from __future__ import annotations

import string
import sys

from pyspark.sql import functions as F

from log_formatter_spark.session import get_spark


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out = sys.argv[3] if len(sys.argv) > 3 else "/tmp/lfs_sf1"
    spark = get_spark("make-scaled-testdata", cores=8)
    spark.sparkContext.setLogLevel("ERROR")

    lower = string.ascii_lowercase
    upper = string.ascii_uppercase
    digits = string.digits

    def _union_write(parts, path, n_part):
        d = parts[0]
        for p in parts[1:]:
            d = d.unionAll(p)
        d.repartition(n_part).write.mode("overwrite").parquet(path)

    docs = spark.read.parquet(f"{src}/documents.parquet")
    n_docs = docs.agg(F.max("doc_id")).first()[0] + 1
    doc_parts = []
    for r in range(k):
        # Affine letter permutation i -> (a*i + r) mod 26 with a
        # multiplier that changes every 26 replicas: a plain Caesar
        # shift repeats with period 26, so at K > 26 digit-free docs
        # became exact cross-replica duplicates (caught by the 100x
        # sweep — a duplication-rate artifact, not scale). Affine maps
        # with distinct (a, b) are distinct permutations, so letter
        # transforms are unique for all r < 26 * len(mults).
        a = (1, 3, 5, 7, 9)[r // 26 % 5]
        b = r % 26
        lrot = "".join(lower[(a * i + b) % 26] for i in range(26))
        urot = "".join(upper[(a * i + b) % 26] for i in range(26))
        drot = digits[r % 10:] + digits[: r % 10]
        doc_parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(r * n_docs)).alias("doc_id"),
                F.translate(F.col("text"), lower + upper + digits, lrot + urot + drot).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    _union_write(doc_parts, f"{out}/documents.parquet", 32)

    ev = spark.read.parquet(f"{src}/events.parquet")
    n_users = ev.agg(F.max("user_id")).first()[0] + 1
    ev_parts = [
        ev.withColumn("user_id", F.col("user_id") + F.lit(r * n_users)) for r in range(k)
    ]
    _union_write(ev_parts, f"{out}/events.parquet", 32)

    print(
        f"wrote {k}x scale-up of {src} to {out}: "
        f"{spark.read.parquet(f'{out}/documents.parquet').count()} docs, "
        f"{spark.read.parquet(f'{out}/events.parquet').count()} events"
    )
    spark.stop()


if __name__ == "__main__":
    main()
