"""Source audit: no package module builds a frame from a Python list.

``spark.createDataFrame(<python list>)`` plans as a pickled Python RDD,
so every action over the frame pays a Python-worker stage, and the
frame has no size statistic, so a join against it plans a sort-merge
join instead of a broadcast. Driver-side rows belong in
``localframe.local_rows`` (a JVM LocalRelation). This audit keeps the
pattern from coming back on control paths: it fails on any
``createDataFrame`` call in ``data_engineering_project_spark/`` whose
data argument is a non-empty list display or a list comprehension,
unless the enclosing function is allowlisted below with its reason.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "data_engineering_project_spark"

# "<module path under the package>::<enclosing function>" -> reason.
ALLOWED = {
    "sources/gdpr.py::erase_subjects": (
        "the subject-id list is unbounded caller input (a whole erasure "
        "queue); a VALUES literal would inline all of it into the plan, "
        "and the audit rows of the same call are one per erased table"
    ),
}


def _list_frame_sites(source: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of every createDataFrame call whose
    data argument is a non-empty list display or a list comprehension."""
    sites: list[tuple[str, int]] = []

    def visit(node: ast.AST, func: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                data = child.args[0] if child.args else next(
                    (k.value for k in child.keywords if k.arg == "data"), None
                )
                if (isinstance(data, ast.List) and data.elts) or isinstance(data, ast.ListComp):
                    sites.append((func, child.lineno))
            visit(child, func)

    visit(ast.parse(source), "<module>")
    return sites


def _package_sites() -> dict[str, list[int]]:
    found: dict[str, list[int]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        for func, line in _list_frame_sites(path.read_text(encoding="utf-8")):
            found.setdefault(f"{rel}::{func}", []).append(line)
    return found


def test_no_python_list_frames_outside_the_allowlist():
    found = _package_sites()
    unexpected = {k: v for k, v in found.items() if k not in ALLOWED}
    assert not unexpected, (
        f"createDataFrame(<python list>) at {unexpected}: build driver-side "
        "rows with localframe.local_rows, or allowlist the site with its reason"
    )
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, f"allowlisted sites no longer build list frames: {stale}"


@pytest.mark.parametrize(
    "snippet, flagged",
    [
        ("def f(s):\n    return s.createDataFrame([(1,)], 'a long')", True),
        ("def f(s, xs):\n    return s.createDataFrame([(x,) for x in xs], 'a long')", True),
        ("def f(s):\n    return s.createDataFrame(data=[(1,)], schema='a long')", True),
        ("def f(s):\n    return s.createDataFrame([], 'a long')", False),
        ("def f(s, pdf):\n    return s.createDataFrame(pdf)", False),
    ],
)
def test_audit_flags_only_list_literals(snippet, flagged):
    assert bool(_list_frame_sites(snippet)) is flagged
    if flagged:
        assert _list_frame_sites(snippet)[0][0] == "f"
