"""Kill points for the io.commit crash tests: make one commit die at a
chosen step, then look for the sidecars it left."""

from __future__ import annotations

import os
from contextlib import contextmanager

from spark_pipeline_spark.io import commit as commit_mod


class CommitKilled(Exception):
    """The simulated crash raised by :func:`kill_commit`."""


@contextmanager
def kill_commit(monkeypatch, step: int):
    """Make the next ``io.commit.commit`` die at ``step``: 1 = its
    live -> old rename (the staging copy is written), 2 = its staging ->
    live rename (live is moved aside), 3 = right after the staging ->
    live rename (the old copy is not yet deleted). A commit with no live
    copy has no step 1."""
    real = commit_mod._rename

    def rename(fs, src, dst):
        staged = src.endswith("__staging")
        if step == (2 if staged else 1):
            raise CommitKilled(f"killed before {src} -> {dst}")
        ok = real(fs, src, dst)
        if staged and step == 3:
            raise CommitKilled(f"killed after {src} -> {dst}")
        return ok

    monkeypatch.setattr(commit_mod, "_rename", rename)
    try:
        yield
    finally:
        monkeypatch.setattr(commit_mod, "_rename", real)


def sidecar_residue(root) -> list[str]:
    """Every commit sidecar left anywhere under ``root``."""
    return [
        os.path.join(d, n)
        for d, dirs, files in os.walk(str(root))
        for n in dirs + files
        if n.endswith(("__staging", "__old"))
    ]
