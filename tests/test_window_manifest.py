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
