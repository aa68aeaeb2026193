"""The generator is a pure function of (seed, parameters)."""

import hashlib
import os

import pyarrow.parquet as pq
import pytest

from gen import GenParams, write_transcripts

SMALL = GenParams(
    n_turns=3000,
    body_len=300,
    hot_share=0.3,
    malformed_share=0.05,
    null_share=0.05,
    cr_share=0.05,
    n_files=3,
)


def _digests(out_dir):
    return [
        hashlib.sha256(open(p, "rb").read()).hexdigest()
        for p in write_transcripts(7, SMALL, out_dir)
    ]


def test_same_seed_gives_identical_parquet(tmp_path):
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))


def test_other_seed_gives_other_parquet(tmp_path):
    a = write_transcripts(7, SMALL, str(tmp_path / "a"))
    b = write_transcripts(8, SMALL, str(tmp_path / "b"))
    assert open(a[0], "rb").read() != open(b[0], "rb").read()


def test_files_have_ascending_mtimes(tmp_path):
    paths = write_transcripts(7, SMALL, str(tmp_path / "a"))
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(set(mtimes))


def test_shape_follows_parameters(tmp_path):
    paths = write_transcripts(7, SMALL, str(tmp_path / "a"))
    t = pq.ParquetDataset(paths).read().to_pydict()
    n = SMALL.n_turns
    assert len(t["text"]) == n
    hot = sum(c == "conv-00000000" for c in t["conv_id"]) / n
    assert hot == pytest.approx(SMALL.hot_share, abs=0.03)
    nulls = sum(x is None for x in t["text"]) / n
    assert nulls == pytest.approx(SMALL.null_share, abs=0.02)
    assert any("\r" in x for x in t["text"] if x is not None)
    assert any(not x.isascii() for x in t["text"] if x is not None)
    # turn_idx is dense per conversation
    by_conv = {}
    for c, i in zip(t["conv_id"], t["turn_idx"]):
        by_conv.setdefault(c, []).append(i)
    assert all(sorted(v) == list(range(len(v))) for v in by_conv.values())
