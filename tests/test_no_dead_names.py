"""No orphaned module-level names in the package.

Every module-level ``def``, ``class`` and assigned name in
``log_formatter_spark/`` must be referenced somewhere besides its own
definition: in the package, the tests, the scripts, the benchmark or the
entry points. A deletion that leaves a helper, constant or ``_sql`` twin
behind without a caller fails here, listing the orphan. The scan is a
whole-word text count, so a name that appears only in a string (a query
name, a ``getattr``) still counts as used. No Spark session is started.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "log_formatter_spark"
SCANNED_DIRS = [PACKAGE, ROOT / "tests", ROOT / "scripts", ROOT / "perfbench"]
SCANNED_FILES = [ROOT / "__spark_entry__.py", ROOT / "bench_scaling.py"]

_WORD = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _module_level_names(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                elts = t.elts if isinstance(t, ast.Tuple) else [t]
                names += [e.id for e in elts if isinstance(e, ast.Name)]
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def test_every_module_level_name_is_referenced():
    defined: Counter[str] = Counter()
    for path in PACKAGE.rglob("*.py"):
        defined.update(_module_level_names(ast.parse(path.read_text(), str(path))))

    sources = [p for d in SCANNED_DIRS for p in d.rglob("*.py")] + SCANNED_FILES
    seen: Counter[str] = Counter()
    for path in sources:
        seen.update(w for w in _WORD.findall(path.read_text()) if w in defined)

    dead = sorted(n for n, k in defined.items() if seen[n] <= k)
    assert not dead, f"module-level names used only at their definition: {dead}"
