"""bench.py's A/B anchor: the previous-round snapshot it compares
against must never be a snapshot of the tree being benched."""

from __future__ import annotations

import os
import subprocess

import bench

_ENV = dict(
    os.environ,
    GIT_AUTHOR_NAME="t",
    GIT_AUTHOR_EMAIL="t@example.com",
    GIT_COMMITTER_NAME="t",
    GIT_COMMITTER_EMAIL="t@example.com",
    GIT_CONFIG_GLOBAL=os.devnull,
    GIT_CONFIG_NOSYSTEM="1",
)


def _git(repo, *args) -> str:
    return subprocess.run(
        ["git", "-C", str(repo), *args],
        capture_output=True, text=True, check=True, timeout=30, env=_ENV,
    ).stdout.strip()


def _commit(repo, subject: str, content: str) -> str:
    (repo / "f.txt").write_text(content)
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "-m", subject)
    return _git(repo, "rev-parse", "HEAD")


def test_prev_snapshot_skips_a_snapshot_of_head(tmp_path):
    _git(tmp_path, "init", "-q")
    r1 = _commit(tmp_path, "round 1: end-of-round snapshot", "one")
    _commit(tmp_path, "work that mentions round 2: end-of-round snapshot", "1b")
    r2 = _commit(tmp_path, "round 2: end-of-round snapshot", "two")
    # Benching right after snapshotting: HEAD *is* the round-2 snapshot.
    assert bench._prev_snapshot(str(tmp_path)) == (
        r1,
        "round 1: end-of-round snapshot",
    )
    _commit(tmp_path, "next change", "three")
    assert bench._prev_snapshot(str(tmp_path))[0] == r2
