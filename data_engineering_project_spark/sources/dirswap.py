"""Crash-recoverable replacement of a table directory.

A table directory is replaced by a fully written staging directory in
three steps: rename the live table aside to ``<path>.__old__``, rename
the staging directory into place, delete the backup. Every state a
crash can leave behind is repaired by :func:`recover_table`, which
callers run before they read the table:

- backup but no table (died between the two renames): the backup is
  the authoritative table — rename it back;
- backup and table (died before the backup delete): callers swap in
  only a staging directory whose write has committed, so the new table
  is complete and the stale backup is dropped;
- a staging directory left over: a write that never swapped in — it
  is deleted.

POSIX-rename semantics only; an object-store deployment would commit
through sources/txlog.py instead.
"""

from __future__ import annotations

import os
import shutil


def staging_path(path: str) -> str:
    """Where a replacement for ``path`` is written before the swap."""
    return path.rstrip("/") + ".__staging__"


def _backup_path(path: str) -> str:
    return path.rstrip("/") + ".__old__"


def recover_table(path: str) -> None:
    """Repair whatever a crash in :func:`swap_in` left behind (see the
    module docstring); a no-op when no swap was interrupted."""
    backup = _backup_path(path)
    if os.path.exists(backup):
        if os.path.exists(path):
            shutil.rmtree(backup)
        else:
            os.rename(backup, path)
    staging = staging_path(path)
    if os.path.exists(staging):
        shutil.rmtree(staging)


def swap_in(path: str, staging: str) -> None:
    """Replace the directory ``path`` by the committed ``staging``
    directory (rename aside → rename in → delete the backup). Creates
    ``path`` when it does not exist yet."""
    if not os.path.exists(path):
        os.rename(staging, path)
        return
    backup = _backup_path(path)
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
