"""Rotation guard: the driver grades the first 50 registry entries.

``plans/window.GRADING_WINDOW`` sets them; it is pinned against the
checked-in manifest it names (``WINDOW_MANIFEST``) so an accidental
edit to the window or to ``plans/__init__.py`` fails the suite instead
of silently changing what the driver grades.

At each round start the rotation is deliberate: rewrite the manifest
together with ``plans/window.py`` in the same commit.
"""

from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_first_50_match_manifest():
    from project_fauna_spark.plans.window import WINDOW_MANIFEST

    manifest = (REPO / WINDOW_MANIFEST).read_text().split()
    assert len(manifest) == 50, "manifest must hold exactly 50 names"

    from project_fauna_spark.plans import QUERIES

    window = list(QUERIES)[:50]
    assert window == manifest, (
        f"grading window drifted from {WINDOW_MANIFEST} — if this is a "
        "deliberate round-start rotation, regenerate the manifest in the "
        "same commit; otherwise revert the plans/__init__.py or operator-"
        "module change that perturbed registration order.\n"
        f"first diff: {next(((i, a, b) for i, (a, b) in enumerate(zip(window, manifest)) if a != b), None)}"
    )


def test_window_fully_oracled():
    """Every window entry must have a DuckDB oracle (no no_oracle reds)."""
    from project_fauna_spark.plans import ORACLE, QUERIES

    window = list(QUERIES)[:50]
    missing = [n for n in window if n not in ORACLE]
    assert not missing, f"window entries without oracle: {missing}"


def test_operator_module_direct_import_is_worker_safe():
    """A Spark Python worker unpickling a module-level UDF imports its
    HOST module first; that import triggers plans/__init__ while the
    host is mid-import in sys.modules, so its registrations are absent
    in that interpreter.  Anything plans/__init__ executes must
    tolerate that partial registry — a hard assert there killed every
    udf_surface query the moment a udf name entered GRADING_WINDOW
    (caught on the r10-rotation branch).  Reproduce the worker's
    import shape in a clean interpreter for the modules that pickle
    UDFs by reference."""
    import subprocess
    import sys

    for mod in ("udf_surface", "multimodal", "streaming_batch"):
        r = subprocess.run(
            [sys.executable, "-c", f"import project_fauna_spark.operators.{mod}"],
            capture_output=True,
            text=True,
            cwd=str(REPO),
        )
        assert r.returncode == 0, f"{mod}: {r.stderr[-2000:]}"

    # Window-independent variant: force GRADING_WINDOW to contain a name
    # the mid-import module registers, so the hazard fires regardless of
    # what the CURRENT window holds (the plain imports above only cover
    # it when the real window includes one of those modules' names).
    probe = (
        "import sys, types\n"
        "fake = types.ModuleType('project_fauna_spark.plans.window')\n"
        "fake.GRADING_WINDOW = ('udf_grouped_map',)\n"
        "fake.WINDOW_MANIFEST = 'WINDOW_synthetic.txt'\n"
        "sys.modules['project_fauna_spark.plans.window'] = fake\n"
        "import project_fauna_spark.operators.udf_surface\n"
    )
    r = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True, cwd=str(REPO)
    )
    assert r.returncode == 0, f"synthetic-window worker import: {r.stderr[-2000:]}"

