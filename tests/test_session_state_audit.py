"""Source audit: per-session state lives only in ``session_cache``.

Fixtures reused across a session's queries (relations, checkpointed
frames, persisted index and table paths, codebooks, centroid rows) are
memoized through ``data_engineering_project_spark/session_cache.py``,
which owns the applicationId and drops a stopped session's entries.
This audit keeps ad-hoc copies from coming back: outside that module it
fails on any ``.applicationId`` read, and on any module-level name
ending in one of the cache suffixes below that is bound to an empty
``{}``, ``dict()`` or ``set()``.
"""

from __future__ import annotations

import ast
import pathlib

import pytest

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "data_engineering_project_spark"
OWNER = "session_cache.py"
SUFFIXES = ("_CACHE", "_FRAMES", "_PATHS", "_BUILT", "_TABLES", "_PINNED")


def _is_empty_container(node: ast.AST | None) -> bool:
    if isinstance(node, ast.Dict):
        return not node.keys
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id in ("dict", "set")
        and not node.args
        and not node.keywords
    )


def _session_state_sites(source: str) -> list[tuple[str, int]]:
    """(what, line) of every applicationId read and every module-level
    empty dict/set bound to a cache-suffixed name."""
    tree = ast.parse(source)
    sites = [
        ("applicationId", node.lineno)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "applicationId"
    ]
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign):
            targets, value = stmt.targets, stmt.value
        elif isinstance(stmt, ast.AnnAssign):
            targets, value = [stmt.target], stmt.value
        else:
            continue
        if not _is_empty_container(value):
            continue
        for t in targets:
            if isinstance(t, ast.Name) and t.id.endswith(SUFFIXES):
                sites.append((t.id, stmt.lineno))
    return sites


def test_session_state_only_in_session_cache():
    found = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == OWNER:
            continue
        sites = _session_state_sites(path.read_text(encoding="utf-8"))
        if sites:
            found[rel] = sites
    assert not found, (
        f"per-session state outside {OWNER}: {found}; memoize through "
        "session_cache.memo and write scratch files under session_cache.scratch_dir"
    )


@pytest.mark.parametrize(
    "snippet, flagged",
    [
        ("app = spark.sparkContext.applicationId", True),
        ("def f(s):\n    return (s.sparkContext.applicationId, 1)", True),
        ("_TABLE_FRAMES: dict[str, int] = {}", True),
        ("_PQ_INDEX_BUILT: set = set()", True),
        ("_CENT_ROWS_CACHE = dict()", True),
        ("_CONFS_PINNED = set()", True),
        ("QUERIES: dict = {}", False),
        ("_WEIGHTS_TABLES = {'a': 1}", False),
        ("def f():\n    _LOCAL_CACHE = {}", False),
    ],
)
def test_audit_flags_session_state(snippet, flagged):
    assert bool(_session_state_sites(snippet)) is flagged
