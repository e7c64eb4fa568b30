"""Structural checks on the operator modules, made without Spark.

* Each operator module imports on its own in a fresh interpreter, as a
  Spark worker does when it unpickles a function by reference, and the
  registry it leaves behind has every oracle built.
* No function re-imports a name its module already binds to the same
  object at module level.
* Tests, tools and bench.py inspect plans only through ``plans/lint``:
  no explain capture, no plan ``toString()`` grep, no hand-written
  ``children()`` walk.
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


# (file, function) pairs that may capture explain text: the dump tool
# writes it to files.  tests/test_cli.py::test_cli_query_explain checks
# the CLI's --explain output through a subprocess, so it calls nothing
# this scan flags.
_EXPLAIN_ALLOWED = {("tools/dump_plans.py", "main")}


def _plan_text_calls(tree: ast.Module):
    """(top-level definition, line, what) for each explain capture,
    plan ``toString()`` grep or ``children()`` walk in a module."""
    for top in tree.body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if isinstance(node, ast.Name) and node.id == "redirect_stdout":
                yield owner, node.lineno, "redirect_stdout"
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            attr = node.func.attr
            if attr in ("explain", "children"):
                yield owner, node.lineno, f".{attr}("
            elif attr == "toString" and "queryExecution" in ast.dump(node.func.value):
                yield owner, node.lineno, "queryExecution()...toString()"


def test_plans_are_inspected_only_through_plans_lint():
    found = set()
    for path in sorted([*REPO.glob("tests/*.py"), *REPO.glob("tools/*.py"), REPO / "bench.py"]):
        rel = str(path.relative_to(REPO))
        for owner, line, what in _plan_text_calls(ast.parse(path.read_text())):
            if (rel, owner) not in _EXPLAIN_ALLOWED:
                found.add(f"{rel}:{line} {owner}: {what}")
    assert sorted(found) == []
