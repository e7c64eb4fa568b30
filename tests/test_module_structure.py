"""Structural checks on the operator modules, made without Spark.

* Each operator module imports on its own in a fresh interpreter, as a
  Spark worker does when it unpickles a function by reference, and the
  registry it leaves behind has every oracle built.
* No function re-imports a name its module already binds to the same
  object at module level.
"""

from __future__ import annotations

import ast
import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
OPERATORS = REPO / "project_fauna_spark" / "operators"
MODULES = sorted(p.stem for p in OPERATORS.glob("*.py") if p.stem != "__init__")

_IMPORT_ALONE = """
import json, sys
import project_fauna_spark.operators.{module}
import project_fauna_spark.plans as plans
from project_fauna_spark.plans import registry
json.dump({{"deferred": sorted(registry._DEFERRED_ORACLES),
           "queries": len(plans.QUERIES), "oracles": sorted(plans.ORACLE)}}, sys.stdout)
"""


@pytest.mark.parametrize("module", MODULES)
def test_operator_module_imports_alone(module):
    from project_fauna_spark.plans import ORACLE, QUERIES

    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALONE.format(module=module)],
        cwd=REPO, capture_output=True, text=True, check=False,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout)
    assert got["deferred"] == []
    assert got["queries"] == len(QUERIES)
    assert got["oracles"] == sorted(ORACLE)


def _bindings(node: ast.AST):
    """(bound name, imported object) for each name an import binds."""
    if isinstance(node, ast.Import):
        for a in node.names:
            top = a.name.split(".")[0]
            yield (a.asname, a.name) if a.asname else (top, top)
    elif isinstance(node, ast.ImportFrom):
        mod = "." * node.level + (node.module or "")
        for a in node.names:
            yield a.asname or a.name, f"{mod}.{a.name}"


def test_no_function_reimports_a_module_level_name():
    dups = []
    for path in sorted(OPERATORS.glob("*.py")):
        tree = ast.parse(path.read_text())
        top = dict(b for st in tree.body for b in _bindings(st))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for st in ast.walk(fn):
                for name, obj in _bindings(st):
                    if top.get(name) == obj:
                        dups.append(f"{path.name}:{st.lineno} {name}")
    assert sorted(set(dups)) == []
