"""tools/check_correctness.py --artifact stamps the sweep with HEAD's sha,
so it refuses to run on a tree whose tracked files differ from HEAD."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOL = os.path.join(REPO, "tools", "check_correctness.py")


def _git(repo, *args):
    return subprocess.run(
        ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
        cwd=repo, capture_output=True, text=True, check=True,
    ).stdout.strip()


@pytest.fixture
def repo(tmp_path):
    """A one-commit git repo holding a copy of the tool."""
    os.makedirs(tmp_path / "tools")
    shutil.copy(TOOL, tmp_path / "tools")
    (tmp_path / "a.txt").write_text("a\n")
    _git(tmp_path, "init", "-q")
    _git(tmp_path, "add", "-A")
    _git(tmp_path, "commit", "-q", "-m", "init")
    return tmp_path


def _artifact_run(repo):
    return subprocess.run(
        [sys.executable, str(repo / "tools" / "check_correctness.py"),
         str(repo / "no-such-sf"), "--artifact", str(repo / "out.json")],
        cwd=repo, capture_output=True, text=True,
    )


def test_clean_head_is_the_commit_sha(repo):
    sys.path.insert(0, str(repo / "tools"))
    try:
        import check_correctness
    finally:
        sys.path.pop(0)
    assert check_correctness.clean_head(str(repo)) == _git(repo, "rev-parse", "HEAD")
    # an untracked file is not a change to the committed code
    (repo / "new.txt").write_text("n\n")
    assert check_correctness.clean_head(str(repo)) == _git(repo, "rev-parse", "HEAD")


@pytest.mark.parametrize("change", ["modified", "staged", "deleted"])
def test_artifact_refuses_a_dirty_tree(repo, change):
    if change == "deleted":
        os.remove(repo / "a.txt")
    else:
        (repo / "a.txt").write_text("b\n")
        if change == "staged":
            _git(repo, "add", "a.txt")
    out = _artifact_run(repo)
    assert out.returncode != 0
    assert "tracked files differ from HEAD" in out.stderr
    assert "a.txt" in out.stderr
    assert not (repo / "out.json").exists()


def test_duckdb_memory_limit_is_below_physical_memory():
    import duckdb

    sys.path.insert(0, TOOL.rsplit(os.sep, 1)[0])
    try:
        import check_correctness
    finally:
        sys.path.pop(0)
    limit = check_correctness.duckdb_memory_limit()
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < limit < physical
    # the setting as the sweep passes it, read back from DuckDB
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{limit // 2**20}MB'")
    value, unit = con.execute("SELECT current_setting('memory_limit')").fetchone()[0].split()
    assert float(value) * 2 ** (10 * ["KiB", "MiB", "GiB"].index(unit) + 10) < physical
