"""Cross-engine deterministic hashing.

The sketch operators (fingerprints, winnowing, sampling coins) need a hash
function that produces the *same integer* in Spark and in the DuckDB
oracle, so the driver's value-hash comparison can verify them exactly.
Neither engine's native hash qualifies (Spark ``xxhash64`` vs DuckDB
``hash`` differ), but both expose MD5 as a hex string, and both can
parse a 15-hex-digit prefix into a signed 64-bit integer without
overflow (max value 2^60-1):

    Spark : CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)
    DuckDB: CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)

MD5 is used purely as a deterministic mixer, not for security. At scale
the cost is one JVM-side hash per row — stays inside whole-stage
codegen, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_60(col: Column) -> Column:
    """Deterministic 60-bit non-negative hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


# DuckDB rendering; format with x = any string SQL expression.
MD5_60_SQL = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"
