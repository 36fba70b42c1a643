"""One memo for the fixtures the engine reuses across a session's queries.

Base-table relations, checkpointed shared frames, persisted index and
table paths, trained codebooks and frozen-centroid rows are all built
once per Spark application and then reused by every later query of
that session. They live here, keyed by a tuple whose first element
names the kind of fixture (``("table", sf_dir, name)``,
``("cent_rows", path)``, ...).

PySpark runs one live SparkContext per process, so the module records
the applicationId that owns its entries; the first call under a
different application drops them all. No key carries the applicationId,
and a stopped session's frames are released instead of kept for the
life of the process.

IMMUTABILITY ASSUMPTION (ADVICE r13): an entry snapshots its inputs at
build time. A caller that rewrites an input mid-session calls
:func:`invalidate` with the key prefix that covers it (for example
``invalidate(spark, "table", sf_dir)``) before the next query.
"""

from __future__ import annotations

import os
import re
import tempfile
import threading
from collections import Counter
from collections.abc import Callable
from typing import Any

_lock = threading.Lock()
_owner: str | None = None
_entries: dict[tuple, Any] = {}
_builds: Counter = Counter()
_hits: Counter = Counter()


def _app_id(spark) -> str:
    return spark.sparkContext.applicationId


def _own(app: str) -> None:
    """Hand the memo to ``app``, dropping another application's entries.
    Caller holds ``_lock``."""
    global _owner
    if app != _owner:
        _entries.clear()
        _builds.clear()
        _hits.clear()
        _owner = app


def memo(spark, key: tuple, build: Callable[[], Any]) -> Any:
    """The value stored under ``key`` for this session, calling
    ``build()`` on the first request. ``build`` runs outside the lock
    (it may itself call :func:`memo`); if two threads race on a new
    key, both build and the first value stored is the one kept."""
    app = _app_id(spark)
    with _lock:
        _own(app)
        if key in _entries:
            _hits[key[0]] += 1
            return _entries[key]
    value = build()
    with _lock:
        _own(app)
        _builds[key[0]] += 1
        return _entries.setdefault(key, value)


def invalidate(spark, *key_prefix) -> None:
    """Drop every entry whose key starts with ``key_prefix`` (all of
    them when no prefix is given); the next :func:`memo` call rebuilds."""
    app = _app_id(spark)
    n = len(key_prefix)
    with _lock:
        _own(app)
        for key in [k for k in _entries if k[:n] == key_prefix]:
            del _entries[key]


def stats() -> dict[str, dict[str, int]]:
    """Builds and hits of the current session, by fixture kind
    (the first element of the key)."""
    with _lock:
        return {"builds": dict(_builds), "hits": dict(_hits)}


def sf_tag(sf_dir: str) -> str:
    """A path- and identifier-safe tag for an sf directory. The whole
    path goes in, so two directories with the same basename differ."""
    return re.sub(r"\W+", "_", sf_dir).strip("_")


def scratch_dir(spark, kind: str, sf_dir: str) -> str:
    """Where a session's fixture of ``kind`` over ``sf_dir`` writes:
    ``<temp dir>/spark_graft/<applicationId>/<kind>/<sf tag>``. The temp
    dir is :func:`tempfile.gettempdir`, so ``TMPDIR`` moves it. The
    directory is not created."""
    return os.path.join(
        tempfile.gettempdir(), "spark_graft", _app_id(spark), kind, sf_tag(sf_dir)
    )
