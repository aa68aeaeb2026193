"""Parser unit tests: reference semantics parity.

Covers the rules from reference agent/pipeline/parser/parser.go +
util/regexp.go: search semantics, `_`-group discard, non-participating
group -> "", no-match -> discard (parse_ok=false), error_tolerant,
two-level labels, and arrow/jvm engine agreement.
"""

from __future__ import annotations

import glob
import importlib
import os
import pickle
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pyarrow as pa
import pytest
from pyspark import cloudpickle
from pyspark.sql import Row

from log_formatter_spark.operators.parser import (
    LabelRule,
    ParserConfig,
    _parse_udf,
    apply_parser,
)
from log_formatter_spark.session import zip_reload_guard

PAT = (
    r"(?P<ts_str>\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) "
    r"(?P<level>[A-Z]+) \[(?P<tool_tag>\w*)\] (?P<body>.*) turn=(?P<turn_>\d+)"
)

GOOD = "2020-11-13 11:28:05 INFO [bash] hello world turn=17"
BAD = "2020-11-13 11:28:05 [bash] hello world turn=17"  # missing level


def _df(spark, texts):
    return spark.createDataFrame([Row(id=i, text=t) for i, t in enumerate(texts)])


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_extract_and_discard(spark, engine):
    df = apply_parser(_df(spark, [GOOD, BAD]), ParserConfig(PAT, engine=engine))
    rows = {r["id"]: r.asDict() for r in df.collect()}
    ok = rows[0]
    assert ok["parse_ok"] is True
    assert ok["ts_str"] == "2020-11-13 11:28:05"
    assert ok["level"] == "INFO"
    assert ok["tool_tag"] == "bash"
    assert ok["body"] == "hello world"
    assert "turn_" not in ok  # `_`-suffix discard (parser.go:99-104)
    bad = rows[1]
    assert bad["parse_ok"] is False
    assert bad["level"] is None and bad["body"] is None


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_search_not_fullmatch(spark, engine):
    # Go FindStringSubmatch matches anywhere in the string
    df = apply_parser(
        _df(spark, ["prefix junk " + GOOD + " suffix junk turn=9"]),
        ParserConfig(PAT, engine=engine),
    )
    r = df.collect()[0]
    assert r["parse_ok"] is True
    assert r["ts_str"] == "2020-11-13 11:28:05"


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_nonparticipating_group_empty_string(spark, engine):
    # Optional group that doesn't participate yields "" on a matched row
    # (Go parity, SURVEY.md §7.3), not null.
    pat = r"(?P<a>x)(?P<opt>y)?"
    df = apply_parser(_df(spark, ["x", "xy", "zzz"]), ParserConfig(pat, engine=engine))
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert rows[0]["parse_ok"] and rows[0]["opt"] == ""
    assert rows[1]["parse_ok"] and rows[1]["opt"] == "y"
    assert rows[2]["parse_ok"] is False and rows[2]["opt"] is None


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_error_tolerant(spark, engine):
    df = apply_parser(
        _df(spark, [GOOD, BAD]), ParserConfig(PAT, engine=engine, error_tolerant=True)
    )
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert rows[1]["parse_ok"] is True  # tolerated (parser.go:50-56)
    assert rows[1]["level"] is None


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_two_level_labels(spark, engine):
    # second-level extraction over the extracted `body` component
    # (parser.go:79-97); failure -> null label, not a discard.
    cfg = ParserConfig(
        PAT,
        engine=engine,
        labels=(LabelRule("body", (r"hello (?P<subject>\w+)",)),),
    )
    df = apply_parser(_df(spark, [GOOD, GOOD.replace("hello world", "goodbye moon")]), cfg)
    rows = {r["id"]: r.asDict() for r in df.collect()}
    assert rows[0]["subject"] == "world"
    assert rows[0]["parse_ok"] is True
    assert rows[1]["subject"] is None  # label failure is a warning only
    assert rows[1]["parse_ok"] is True


@pytest.mark.parametrize("engine", ["arrow", "jvm"])
def test_component_overwrites_label(spark, engine):
    # Field merge order (parser.go:79-104): label fields written before
    # component fields -> same-named component wins.
    cfg = ParserConfig(
        r"(?P<a>x\w) (?P<b>y\w)",
        engine=engine,
        labels=(LabelRule("b", (r"y(?P<a>\w)",)),),
    )
    df = apply_parser(_df(spark, ["x1 y2"]), cfg)
    r = df.collect()[0]
    assert r["a"] == "x1"  # component value, not label's "2"


def test_engines_agree(spark):
    texts = [GOOD, BAD, "", "no timestamps here", GOOD + " trailing turn=3"]
    a = apply_parser(_df(spark, texts), ParserConfig(PAT, engine="arrow"))
    j = apply_parser(_df(spark, texts), ParserConfig(PAT, engine="jvm"))
    assert sorted(map(str, a.collect())) == sorted(map(str, j.collect()))


@pytest.fixture
def restore_zipimporter():
    """Undo what ``zip_reload_guard``'s installer does to this process."""
    cls = zipimport.zipimporter
    saved = cls.__dict__["invalidate_caches"]
    yield
    cls.invalidate_caches = saved
    if "_lfs_unguarded" in cls.__dict__:
        del cls._lfs_unguarded
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp.__dict__.pop("_lfs_stamp", None)


# Loads a pickled UDF function and applies it to the flagship line, a
# non-match and a NULL, in a process where this package is not importable.
_APPLY_UNPICKLED = """
import pickle, sys
import pyarrow as pa
with open("fn.pkl", "rb") as f:
    fn, as_pandas = pickle.load(f)
arr = pa.array(sys.argv[1:] + [None])
out = fn(arr.to_pandas() if as_pandas else arr)
leaked = sorted(m for m in sys.modules if m.startswith("log_formatter_spark"))
with open("out.pkl", "wb") as f:
    pickle.dump((out, leaked), f)
"""


# the pandas fallback: RE2 rejects the lookahead
@pytest.mark.parametrize("pattern", [PAT, PAT + r"(?!\d)"], ids=["arrow", "pandas"])
def test_parse_udf_ships_by_value(tmp_path, restore_zipimporter, pattern):
    # Spark's workers unpickle the UDF body: it must carry everything it
    # calls, so a worker without this package on its path can run it
    fn = _parse_udf(pattern, with_flag=True).func
    as_pandas = pattern != PAT
    with open(tmp_path / "fn.pkl", "wb") as f:
        f.write(cloudpickle.dumps((fn, as_pandas)))
    zips = glob.glob(os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib", "*.zip"))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(zips)}
    lines = [GOOD, "nope"]
    subprocess.run(
        [sys.executable, "-c", _APPLY_UNPICKLED, *lines],
        cwd=tmp_path, env=env, check=True, timeout=120,
    )
    with open(tmp_path / "out.pkl", "rb") as f:
        got, leaked = pickle.load(f)
    assert leaked == []
    arr = pa.array(lines + [None])
    want = fn(arr.to_pandas() if as_pandas else arr)
    if as_pandas:
        pd.testing.assert_frame_equal(got, want)
    else:
        assert got.equals(want)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_reload_guard_rereads_only_changed_archives(
    tmp_path, monkeypatch, restore_zipimporter
):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"lfs_zipmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module("lfs_zipmod_a").X == 1
    zip_reload_guard()()

    reads = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a)
    )
    importlib.invalidate_caches()
    n_first = len(reads)
    importlib.invalidate_caches()
    assert len(reads) == n_first  # unchanged archives are not re-read
    assert archive not in reads

    st = os.stat(archive)
    _write_zip(archive, {"lfs_zipmod_a": "X = 1\n", "lfs_zipmod_b": "Y = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importlib.import_module("lfs_zipmod_b").Y == 2
    # a changed archive is re-read: at once before CPython 3.12, on the
    # next import from 3.12 on (gh-103200)
    assert archive in reads
    for name in ("lfs_zipmod_a", "lfs_zipmod_b"):
        del sys.modules[name]
