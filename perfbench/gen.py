"""Seeded transcript generator for the benchmark.

Writes transcript parquet (the pipeline's input schema: conv_id,
turn_idx, role, text, tool, ts) from a numpy RNG seeded with ``seed``.
Every column is a function of (seed, parameters) alone, and the writer
settings are fixed, so the same seed gives byte-identical files.

Text lines follow the pipeline's grok pattern
``YYYY-MM-DD HH:MM:SS LEVEL [tool] body turn=N``; a malformed line drops
the level token, so it does not match. Long bodies look like tool
output: words with non-ASCII letters on one line, a share of them
carrying a carriage return inside the body.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2020-11-13 11:28:05 UTC, the first line of the reference fixture
BASE_TS = 1605266885
SPAN_S = 48 * 3600  # turns are spread over two days of hourly buckets
TURNS_PER_CONV = 40  # the input has one conversation per this many turns

ROLES = np.array(["user", "assistant", "system", "tool"])
ROLE_P = [0.3, 0.35, 0.1, 0.25]
TOOLS = np.array(["bash", "read", "write", "grep", "browser"])
LEVELS = np.array(["INFO", "DEBUG", "WARN", "ERROR"])
LEVEL_P = [0.6, 0.2, 0.14, 0.06]

_ASCII_WORDS = (
    "hello world step build ok test passed file line error retry value "
    "status exit code read write grep found match output done"
).split()
_TOOL_WORDS = _ASCII_WORDS + (
    "café naïve über straße résumé déjà façade jalapeño "
    "привет данные файл строка 数据 文件 行 完成 ошибка"
).split()

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class GenParams:
    n_turns: int
    body_len: int  # mean body length in characters
    hot_share: float  # share of turns owned by conversation 0
    malformed_share: float  # lines without the level token
    null_share: float = 0.0  # NULL text
    cr_share: float = 0.0  # bodies with a carriage return inside
    n_files: int = 8


def _bodies(rng: np.random.Generator, n: int, body_len: int, words: list[str]) -> list[str]:
    """n single-line bodies of about ``body_len`` characters each, built
    from a pool of seeded word runs (one pool pick per ~64 characters)."""
    pool_n = 4096
    seg = 64
    per_seg = max(1, seg // 7)
    picks = rng.integers(0, len(words), size=(pool_n, per_seg))
    pool = [" ".join(words[j] for j in row) for row in picks]
    k = max(1, round(body_len / (seg + 1)))
    idx = rng.integers(0, pool_n, size=(n, k))
    return [" ".join(pool[j] for j in row) for row in idx.tolist()]


def transcripts_table(seed: int, p: GenParams) -> pa.Table:
    rng = np.random.default_rng(seed)
    n = p.n_turns
    n_convs = max(2, n // TURNS_PER_CONV)
    hot = rng.random(n) < p.hot_share
    conv = np.where(hot, 0, rng.integers(1, n_convs, size=n))
    # turn_idx: dense 0..len-1 per conversation, in row order
    order = np.argsort(conv, kind="stable")
    sorted_conv = conv[order]
    starts = np.r_[0, np.flatnonzero(np.diff(sorted_conv)) + 1]
    run_len = np.diff(np.r_[starts, n])
    rank = np.arange(n) - np.repeat(starts, run_len)
    turn_idx = np.empty(n, dtype=np.int32)
    turn_idx[order] = rank

    role = ROLES[rng.choice(len(ROLES), size=n, p=ROLE_P)]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), size=n)], "")
    level = LEVELS[rng.choice(len(LEVELS), size=n, p=LEVEL_P)]
    ts_s = BASE_TS + rng.integers(0, SPAN_S, size=n)
    ts_str = np.datetime_as_string(ts_s.astype("datetime64[s]"), unit="s")
    malformed = rng.random(n) < p.malformed_share
    is_null = rng.random(n) < p.null_share
    has_cr = rng.random(n) < p.cr_share
    cr_at = rng.integers(1, max(2, p.body_len), size=n)

    words = _TOOL_WORDS if p.body_len > 200 else _ASCII_WORDS
    bodies = _bodies(rng, n, p.body_len, words)

    text: list[str | None] = []
    for i in range(n):
        if is_null[i]:
            text.append(None)
            continue
        body = bodies[i]
        if has_cr[i]:
            j = int(cr_at[i]) % len(body)
            body = body[:j] + "\r" + body[j:]
        head = ts_str[i].replace("T", " ")
        lvl = "" if malformed[i] else f" {level[i]}"
        text.append(f"{head}{lvl} [{tool[i]}] {body} turn={turn_idx[i]}")

    return pa.table(
        {
            "conv_id": [f"conv-{c:08d}" for c in conv.tolist()],
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": role.tolist(),
            "text": pa.array(text, pa.string()),
            "tool": tool.tolist(),
            "ts": pa.array(ts_s * 1_000_000, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        },
        schema=SCHEMA,
    )


def write_transcripts(seed: int, p: GenParams, out_dir: str) -> list[str]:
    """Write the table as ``p.n_files`` parquet files with ascending,
    distinct modification times (the file stream source reads files in
    mtime order). Returns the file paths in order."""
    t = transcripts_table(seed, p)
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    bounds = np.linspace(0, t.num_rows, p.n_files + 1).astype(int)
    for i in range(p.n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(
            t.slice(bounds[i], bounds[i + 1] - bounds[i]),
            path,
            compression="snappy",
            row_group_size=1 << 20,
        )
        paths.append(path)
    for i, path in enumerate(paths):
        os.utime(path, (BASE_TS + i, BASE_TS + i))
    return paths
