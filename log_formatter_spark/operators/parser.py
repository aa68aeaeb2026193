"""Grok/regex parse operator — the engine's core transform.

Reference semantics being reproduced (all citations into /root/reference):

- ``components_regex`` with named groups ``(?P<name>...)`` applied to
  ``doc[target_field]``; each named group becomes a new field
  (agent/pipeline/parser/parser.go:99-104 via util/regexp.go:8-22).
- Search (not full-match) semantics: Go ``FindStringSubmatch`` finds the
  leftmost match anywhere in the string.
- A document whose text does not match at all is an *error*; with
  ``error_tolerant: false`` (the default, parser.go:50) the worker
  discards it (agent/pipeline/pipeline.go:158-167). We render discard as
  dead-letter routing: a ``parse_ok`` boolean column drives the router
  and the ledger counts the discards.
- Group names ending in ``_`` are extracted then dropped
  (parser.go:89-92,100-102).
- Non-participating groups: Go yields ``""`` for a group that did not
  participate in an otherwise-successful match; pandas ``str.extract``
  yields NaN — normalized to ``""`` here (SURVEY.md §7.3).
- Two-level label extraction: per-component ``labels[].regexprs[]`` run a
  second extraction on an extracted component; failures are warnings,
  not discards (parser.go:79-97) — rendered as null label columns, and
  no effect on ``parse_ok``.
- Field merge order: label fields are written before component fields,
  so a component group named like a label group overwrites it
  (parser.go:79-104); both overwrite pre-existing doc columns.

Engineering: the reference recompiles the regex per document
(util/regexp.go:9, acknowledged TODO parser.go:39). Here the pattern is
compiled once and the extraction is Arrow-vectorized over record
batches — no per-row Python, per the north rule. Three physical
engines, identical semantics:

- ``engine="arrow"`` + RE2-compatible pattern → Spark 4 ``arrow_udf``
  running ``pyarrow.compute.extract_regex`` (C++ RE2 on the Arrow
  buffers, zero pandas; RE2 is Go's regexp engine, so this is also the
  parity path);
- ``engine="arrow"`` + non-RE2 pattern (backrefs/lookaround) → pandas
  UDF ``str.extract`` fallback;
- ``engine="jvm"`` → ``rlike``/``regexp_extract`` expressions inside
  whole-stage codegen (plan-time pruning of unused groups).

A Python worker also pays a fixed cost per task, whatever its data.
PySpark calls ``importlib.invalidate_caches()`` at the start of every
task, and on CPython 3.11 that re-reads the directory of every zip
archive on the worker's path (``pyspark.zip`` alone holds 1,328
entries), about 0.2 s per task; CPython 3.12 made the re-read lazy
(gh-103200). Both UDF bodies therefore first run
``session.zip_reload_guard``'s installer, so that a reused worker
re-reads only archives that changed.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from log_formatter_spark.session import zip_reload_guard

PARSE_OK = "parse_ok"
# Wrapper group capturing the whole match: lets one vectorized extract pass
# distinguish "no match" (wrapper NaN) from "matched, group empty".
_WRAP = "lfs_match_"


@dataclass(frozen=True)
class LabelRule:
    """Second-level extraction: run ``regexprs`` over extracted ``component``."""

    component: str
    regexprs: tuple[str, ...] = ()


@dataclass(frozen=True)
class ParserConfig:
    components_regex: str
    target_field: str = "text"
    labels: tuple[LabelRule, ...] = field(default_factory=tuple)
    error_tolerant: bool = False
    # "arrow" (arrow_udf, pandas UDF fallback for non-RE2 patterns) |
    # "jvm" (regexp_extract)
    engine: str = "arrow"


def _kept_groups(pattern: str) -> list[str]:
    return [n for n in re.compile(pattern).groupindex if not n.endswith("_")]


def _merge(df: DataFrame, new_cols: dict[str, Column]) -> DataFrame:
    """Replace-or-append columns, preserving original column order for
    survivors (doc-key overwrite semantics of the reference's map writes)."""
    sel = [new_cols.pop(c).alias(c) if c in new_cols else F.col(c) for c in df.columns]
    sel += [col.alias(name) for name, col in new_cols.items()]
    return df.select(*sel)


def _re2_compatible(pattern: str) -> bool:
    """True if pyarrow's RE2 accepts the pattern (no backrefs/lookaround).

    Checked once on the driver so every executor takes the same path.
    RE2 is also what the reference uses (Go regexp), so the fast path is
    the parity path.
    """
    try:
        pc.extract_regex(pa.array([], type=pa.string()), pattern=pattern)
        return True
    except pa.lib.ArrowException:
        return False


def _parse_udf(pattern: str, with_flag: bool):
    """The Arrow-vectorized extraction UDF: text in, a struct of the kept
    groups (plus ``parse_ok`` when ``with_flag``) out.

    Fast path: ``pyarrow.compute.extract_regex`` — RE2 running in C++
    over the Arrow buffers, no pandas materialization, no GC pressure
    (~3× faster than pandas ``str.extract`` and exactly the reference's
    regex dialect). Non-match → null struct; a non-participating group
    in a match → "" — both precisely the Go semantics
    (util/regexp.go:12-21). Python-``re``-only patterns (backrefs,
    lookaround) fall back to the pandas path. Neither body calls a
    module-level function, so cloudpickle ships them by value and the
    worker needs pyarrow and pandas, not this package, to run them.
    """
    kept = _kept_groups(pattern)
    use_re2 = _re2_compatible(pattern)
    wrapped = f"(?P<{_WRAP}>{pattern})"
    names = kept + ([PARSE_OK] if with_flag else [])
    schema = StructType(
        [StructField(n, StringType()) for n in kept]
        + ([StructField(PARSE_OK, BooleanType())] if with_flag else [])
    )
    install = zip_reload_guard()

    if use_re2:
        from pyspark.sql.functions import arrow_udf

        # Arrow-native UDF: pa.Array in, pa.StructArray out — zero pandas
        # materialization on either side of the RE2 call (measured 1.4×
        # over the pandas_udf wrapper of the same kernel).
        @arrow_udf(schema)
        def parse(arr: pa.Array) -> pa.Array:
            install()
            res = pc.extract_regex(arr, pattern=pattern)
            # flatten() merges the struct's validity into each child:
            # unmatched rows are null (label failure = null), a
            # non-participating group in a match stays "" (RE2 = Go parity)
            groups = dict(zip([f.name for f in res.type], res.flatten()))
            children = [groups[n] for n in kept]
            if with_flag:
                children.append(pc.is_valid(res))
            return pa.StructArray.from_arrays(children, names=names)

    else:

        @pandas_udf(schema)
        def parse(s: pd.Series) -> pd.DataFrame:
            install()
            # compiled once per executor python worker; ASCII \d \w \s as in RE2
            pat = re.compile(wrapped, re.ASCII)
            ext = s.str.extract(pat)
            ok = ext[_WRAP].notna()
            out = {}
            for n in kept:
                # matched rows: non-participating group -> "" (Go parity);
                # unmatched rows: None (label failure = null, not discard)
                out[n] = ext[n].fillna("").where(ok, None)
            if with_flag:
                out[PARSE_OK] = ok
            return pd.DataFrame(out)

    return parse


def _arrow_extract_cols(pattern: str, target: str, with_flag: bool) -> dict[str, Column]:
    """Build {name: Column} for one Arrow-vectorized extraction pass."""
    parse = _parse_udf(pattern, with_flag)
    struct = parse(F.col(target))
    return {f.name: struct.getField(f.name) for f in parse.returnType.fields}


_NAMED_GROUP = re.compile(r"\(\?P<[^>]+>")


def _to_java_regex(pattern: str) -> str:
    """Python named groups -> plain Java groups (extraction is by index;
    Java group names reject underscores, so names are dropped). ``(?d)``:
    ``.`` stops only at ``\n``, as in RE2, not also at ``\r`` etc."""
    return "(?d)" + _NAMED_GROUP.sub("(", pattern)


def _jvm_extract_cols(pattern: str, target: str, with_flag: bool) -> dict[str, Column]:
    """Whole-stage-codegen path: rlike + one regexp_extract per group.

    Value semantics match the arrow path for the RE2-compatible pattern
    subset used by our fixtures (no backrefs/lookaround).
    """
    compiled = re.compile(pattern)
    jpat = _to_java_regex(pattern)
    # NULL input text: rlike(NULL) is NULL, but the arrow/pandas engines
    # report parse_ok=false for missing text — coalesce so all three
    # engines (and the DuckDB oracle) agree that null text is a parse
    # failure, not an unknown
    ok = F.coalesce(F.col(target).rlike(jpat), F.lit(False))
    cols: dict[str, Column] = {}
    for name, idx in compiled.groupindex.items():
        if name.endswith("_"):
            continue
        cols[name] = F.when(ok, F.regexp_extract(F.col(target), jpat, idx)).otherwise(
            F.lit(None).cast("string")
        )
    if with_flag:
        cols[PARSE_OK] = ok
    return cols


def apply_parser(df: DataFrame, cfg: ParserConfig) -> DataFrame:
    """Parse ``cfg.target_field``; adds group columns + ``parse_ok``.

    With ``error_tolerant=False`` failed rows are *kept* but flagged
    ``parse_ok=false`` — the router sends them to the dead-letter sink
    and the ledger counts them (the Spark rendering of the reference's
    silent discard, pipeline.go:163-166, made auditable). With
    ``error_tolerant=True`` all rows get ``parse_ok=true`` and failed
    rows simply keep null fields (parser.go:50-56).
    """
    build = _arrow_extract_cols if cfg.engine == "arrow" else _jvm_extract_cols

    comp_cols = build(cfg.components_regex, cfg.target_field, with_flag=True)

    # Label extraction runs on extracted components; label fields are
    # written before component fields (parser.go:79-104), so any label
    # group that shares a name with a component group is overwritten by
    # the component — drop it from the label column set.
    label_cols: dict[str, Column] = {}
    comp_names = set(comp_cols)
    for rule in cfg.labels:
        if rule.component not in comp_names:
            continue
        for rx in rule.regexprs:
            # label input is the component column from the first pass
            tmp = f"_lfs_comp_{rule.component}"
            for name, col in build(rx, tmp, with_flag=False).items():
                if name not in comp_names:
                    label_cols[name] = col

    if cfg.labels:
        # materialize component columns once so label extraction reads them
        stage1 = {f"_lfs_comp_{n}": c for n, c in comp_cols.items() if n != PARSE_OK}
        df = _merge(df, dict(stage1))
        df = _merge(df, {**label_cols})
        df = _merge(
            df,
            {
                n: F.col(f"_lfs_comp_{n}") if n != PARSE_OK else comp_cols[PARSE_OK]
                for n in comp_cols
            },
        )
        df = df.drop(*[c for c in df.columns if c.startswith("_lfs_comp_")])
    else:
        df = _merge(df, dict(comp_cols))

    if cfg.error_tolerant:
        df = _merge(df, {PARSE_OK: F.lit(True)})
    return df
