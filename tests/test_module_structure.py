"""Structural checks on the operator modules, made without Spark.

* Each operator module imports on its own in a fresh interpreter, as a
  Spark worker does when it unpickles a function by reference: it
  loads no other operator module and not ``plans``, and every oracle
  it registers is already a string.
* No operator module defers an oracle or reads one back from
  ``ORACLE``.
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
from project_fauna_spark.registry import ORACLE
json.dump({{"plans_loaded": "project_fauna_spark.plans" in sys.modules,
           "operators": sorted(m for m in sys.modules
                               if m.startswith("project_fauna_spark.operators.")),
           "non_str": sorted(n for n, o in ORACLE.items() if not isinstance(o, str))}},
          sys.stdout)
"""


@pytest.mark.parametrize("module", MODULES)
def test_operator_module_imports_alone(module):
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_ALONE.format(module=module)],
        cwd=REPO, capture_output=True, text=True, check=False,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    got = json.loads(out.stdout)
    assert got["plans_loaded"] is False
    assert set(got["operators"]) <= {
        f"project_fauna_spark.operators.{module}",
        "project_fauna_spark.operators._oracle_shared",
    }
    assert got["non_str"] == []


def test_oracles_are_strings_at_registration():
    """No operator module defers an oracle: ``register`` takes the
    query name and at most an ``oracle=`` string, and no module reads
    another query's oracle back out of ``ORACLE``."""
    found = []
    for path in sorted(OPERATORS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "register"
            ):
                extra = [k.arg for k in node.keywords if k.arg != "oracle"]
                if len(node.args) > 1 or extra:
                    found.append(f"{path.name}:{node.lineno} register({extra})")
            name = getattr(node, "id", None) or getattr(node, "attr", None)
            if name == "ORACLE" or (isinstance(node, ast.alias) and node.name == "ORACLE"):
                found.append(f"{path.name}:{node.lineno} ORACLE")
    assert found == []


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
