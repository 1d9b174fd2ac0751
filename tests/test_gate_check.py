"""``tools/gate.py --check``: a committed GATE.json only attests the
source it ran against — a later source commit or a dirty-source record
makes the check fail, a docs-only commit does not."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

from tools import gate


def _git(repo, *args: str) -> str:
    return subprocess.run(["git", *args], cwd=repo, check=True,
                          capture_output=True, text=True).stdout.strip()


def _commit(repo, path: str, text: str) -> None:
    f = repo / path
    f.parent.mkdir(parents=True, exist_ok=True)
    f.write_text(text)
    _git(repo, "add", path)
    _git(repo, "commit", "-q", "-m", f"edit {path}")


def _write_gate(repo, **overrides) -> None:
    record = {"source_head": _git(repo, "log", "-1", "--format=%h", "--",
                                  *gate.SOURCE_PATHS),
              "dirty_source": [], "green": True}
    record.update(overrides)
    (repo / "GATE.json").write_text(json.dumps(record))


@pytest.fixture
def repo(tmp_path):
    _git(tmp_path, "init", "-q")
    _git(tmp_path, "config", "user.email", "gate@example.com")
    _git(tmp_path, "config", "user.name", "gate")
    _commit(tmp_path, "tools/step.py", "x = 1\n")
    return tmp_path


def test_check_accepts_gate_of_current_source(repo):
    _write_gate(repo)
    assert gate.check(repo) == []
    # A docs-only commit after the gate run keeps the attestation valid.
    _commit(repo, "NOTES.md", "notes\n")
    assert gate.check(repo) == []


def test_check_rejects_source_commit_after_gate(repo):
    _write_gate(repo)
    _commit(repo, "tools/step.py", "x = 2\n")
    problems = gate.check(repo)
    assert len(problems) == 1 and "source_head" in problems[0]


def test_check_rejects_dirty_source_and_red_gate(repo):
    _write_gate(repo, dirty_source=["tools/step.py"], green=False)
    problems = gate.check(repo)
    assert any("dirty_source" in p for p in problems)
    assert any("not green" in p for p in problems)


def test_check_rejects_missing_gate(repo):
    assert "unreadable" in gate.check(repo)[0]


def test_check_flag_exit_code(repo, monkeypatch):
    monkeypatch.setattr(gate, "REPO", repo)
    monkeypatch.setattr(sys, "argv", ["gate.py", "--check"])
    _write_gate(repo)
    assert gate.main() == 0
    _commit(repo, "tools/step.py", "x = 3\n")
    assert gate.main() == 1
