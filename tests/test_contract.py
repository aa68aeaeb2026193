"""Local replica of the driver's correctness gate.

For every (queries(), oracle_sql()) pair: run the Spark plan and the
DuckDB SQL over the same parquet dir, sort columns by name and rows by
value, and require EXACT equality — the driver's value-hash comparison
will only pass if this does. Floats are compared bit-exact on purpose:
the whole contract is designed so both engines produce identical IEEE
results (see contract.py docstring).
"""

from __future__ import annotations

import math

import duckdb
import pytest

from log_formatter_spark import contract

TABLES = ["events", "documents"]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _canon(val):
    """Canonicalize to a (type-tag, value) pair.

    The driver's value-hash is TYPE-AWARE (pandas dtype feeds the hash):
    int64 1 vs float64 1.0 mismatch there, but Python's ``1 == 1.0`` is
    True — exactly how the events_pivot HUGEINT oracle bug passed this
    replica in round 2 yet failed the driver. Tagging every scalar with
    its post-conversion Python type makes the replica at least as strict
    as the driver (see tests below pinning int!=float and bool!=int).
    """
    if isinstance(val, bool):  # before int: bool is an int subclass
        return ("bool", val)
    if isinstance(val, float):
        if math.isnan(val):
            return ("float", "NaN")
        return ("float", val)
    if isinstance(val, int):
        return ("int", val)
    if hasattr(val, "isoformat"):  # datetime/date: tz-naive text form
        iso = (
            val.replace(tzinfo=None).isoformat()
            if getattr(val, "tzinfo", None)
            else val.isoformat()
        )
        return ("ts", iso)
    try:  # numpy scalars -> python
        import numpy as np

        if isinstance(val, np.generic):
            return _canon(val.item())
        if isinstance(val, np.ndarray):
            return ("list", tuple(_canon(v) for v in val.tolist()))
    except ImportError:
        pass
    from decimal import Decimal

    if isinstance(val, Decimal):
        # both engines surface DECIMAL as Decimal; driver compares via
        # float64 pandas columns, so mirror that single conversion
        return ("float", float(val))
    if isinstance(val, (list, tuple)):
        return ("list", tuple(_canon(v) for v in val))
    return (type(val).__name__, val)


def test_canon_is_type_strict():
    """A deliberately float-typed value must NOT equal its int twin
    (VERDICT r2 item #3 done-condition)."""
    assert _canon(1) != _canon(1.0)
    assert _canon(True) != _canon(1)
    assert _canon(0) != _canon(False)
    import numpy as np

    assert _canon(np.int64(3)) == _canon(3)
    assert _canon(np.float64(3.0)) != _canon(3)


def _rowset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(_canon(r[i]) for i in order))
    return sorted(cols), sorted(out, key=repr)


def _pd_rowset(pdf):
    """Rowset via pandas — the same surface the driver hashes. itertuples
    yields numpy scalars, so dtype promotions the driver sees (DuckDB
    HUGEINT→float64, nullable-int→float64+NaN) survive into the tags."""
    cols = list(pdf.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [
        tuple(_canon(tup[i]) for i in order)
        for tup in pdf.itertuples(index=False, name=None)
    ]
    return sorted(cols), sorted(out, key=repr)


# rows-only queries (no SQL-expressible oracle) are excluded from the
# value-hash comparison; the driver records a weaker rows/schema check
QUERIES = sorted(set(contract.queries()) & set(contract.oracle_sql()))


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    q = contract.queries()[name]
    sql = contract.oracle_sql()[name]
    sdf = q(spark, sf_dir)
    spdf = sdf.toPandas()
    dpdf = duck.execute(sql).df()
    sc, sr = _pd_rowset(spdf)
    dc, dr = _pd_rowset(dpdf)
    assert sc == dc, f"{name}: column names differ: {sc} vs {dc}"
    assert len(sr) == len(dr), f"{name}: row counts differ: {len(sr)} vs {len(dr)}"
    mismatches = [i for i, (a, b) in enumerate(zip(sr, dr)) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} mismatched rows; first: "
        f"spark={sr[mismatches[0]]} duck={dr[mismatches[0]]}"
    )


# every contract query carries a full SQL oracle, so no query is
# checked on rows and schema alone
ROWS_ONLY: set[str] = set()


def test_oracle_coverage():
    qs, os_ = set(contract.queries()), set(contract.oracle_sql())
    assert os_ <= qs, f"oracles without queries: {os_ - qs}"
    assert qs - os_ == ROWS_ONLY, f"unexpected rows-only queries: {qs - os_ - ROWS_ONLY}"


def test_entry_runs(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
