"""The streaming sinks' state store on raw bytes, without a SparkSession:
two slot files rewritten in place, and the load rules of
``streaming._read_commit`` / ``streaming._state_bytes``."""

from __future__ import annotations

import os
import shutil

import pytest

from sketchlib.streaming import (
    _HEADER_BYTES,
    _SLOTS,
    _read_commit,
    _state_bytes,
    _write_commit,
)


def _commit(state_dir: str, body: bytes, epoch: int) -> None:
    _write_commit(state_dir, body, _read_commit(state_dir), epoch)


def _load(state_dir: str) -> bytes:
    commit = _read_commit(state_dir)
    assert commit is not None
    return _state_bytes(commit)


def _slot(state_dir: str, seq: int) -> str:
    return os.path.join(state_dir, _SLOTS[seq % 2])


def test_commits_alternate_slots_and_the_newest_wins(tmp_path):
    """No slot file means no commit. The first commit creates both slots;
    commit ``seq`` lands in slot ``seq % 2``, and a body shorter than the
    one the slot held before reads back exactly, since the header carries
    its length."""
    d = str(tmp_path)
    assert _read_commit(d) is None
    bodies = [b"a" * 300, b"b" * 5000, b"c" * 10, b"d" * 70, b""]
    for e, body in enumerate(bodies):
        _commit(d, body, 10 + e)
        commit = _read_commit(d)
        assert (commit["seq"], commit["epoch"], commit["retracts"]) == (e, 10 + e, 0)
        assert commit["path"] == _slot(d, e)
        assert _load(d) == body
    assert sorted(os.listdir(d)) == list(_SLOTS)
    assert os.path.getsize(_slot(d, 1)) == _HEADER_BYTES + 5000  # never truncated


def test_a_torn_write_leaves_the_prior_commit_newest(tmp_path):
    """A crash between a commit's body write and its header write leaves
    the prior commit the newest; the next commit overwrites the torn
    body. Before the first commit's header, both slots read as
    unwritten."""
    d = str(tmp_path)
    for s in _SLOTS:
        open(os.path.join(d, s), "wb").close()
    with open(_slot(d, 0), "r+b") as f:  # the first commit's body, no header yet
        f.seek(_HEADER_BYTES)
        f.write(b"torn" * 100)
    assert _read_commit(d) is None
    _commit(d, b"zero", 0)
    _commit(d, b"one", 1)
    with open(_slot(d, 2), "r+b") as f:  # commit 2's body, no header yet
        f.seek(_HEADER_BYTES)
        f.write(b"torn" * 1000)
    assert (_read_commit(d)["seq"], _load(d)) == (1, b"one")
    _commit(d, b"two", 2)
    assert (_read_commit(d)["seq"], _load(d)) == (2, b"two")


def test_a_commit_cut_at_its_first_fsync_keeps_the_prior_commit(tmp_path, monkeypatch):
    """The body is written and fsync'd before the header: a commit that
    stops at its first fsync leaves the prior commit the newest."""
    d = str(tmp_path)
    _commit(d, b"zero", 0)

    def crash(fd):
        raise OSError("crash")

    monkeypatch.setattr(os, "fsync", crash)
    with pytest.raises(OSError, match="crash"):
        _commit(d, b"one" * 100, 1)
    monkeypatch.undo()
    assert (_read_commit(d)["seq"], _load(d)) == (0, b"zero")


def _flip(path: str, offset: int) -> None:
    with open(path, "r+b") as f:
        f.seek(offset)
        byte = f.read(1)
        f.seek(offset)
        f.write(bytes([byte[0] ^ 0xFF]))


#: seq of the newest commit, corruption, the error a load raises
CORRUPTIONS = {
    "body": (1, lambda d: _flip(_slot(d, 1), _HEADER_BYTES + 3), ValueError),
    "truncated body": (1, lambda d: os.truncate(_slot(d, 1), _HEADER_BYTES + 3), ValueError),
    "header": (1, lambda d: _flip(_slot(d, 1), 12), ValueError),
    "magic": (1, lambda d: _flip(_slot(d, 0), 0), ValueError),
    "older over newer, seq 1": (1, lambda d: shutil.copyfile(_slot(d, 0), _slot(d, 1)), ValueError),
    "older over newer, seq 2": (2, lambda d: shutil.copyfile(_slot(d, 1), _slot(d, 2)), ValueError),
    "newer over older": (2, lambda d: shutil.copyfile(_slot(d, 2), _slot(d, 1)), ValueError),
    "older emptied": (2, lambda d: shutil.copyfile(os.devnull, _slot(d, 1)), ValueError),
    "newest deleted": (1, lambda d: os.remove(_slot(d, 1)), FileNotFoundError),
    "older deleted": (1, lambda d: os.remove(_slot(d, 0)), FileNotFoundError),
    "earlier layout": (1, lambda d: open(os.path.join(d, "epoch.json"), "w").close(), ValueError),
}


@pytest.mark.parametrize("case", list(CORRUPTIONS))
def test_a_broken_store_fails_loudly(tmp_path, case):
    """Every load of a store that breaks a load rule raises instead of
    returning stale or empty state."""
    newest, corrupt, error = CORRUPTIONS[case]
    d = str(tmp_path)
    for e in range(newest + 1):
        _commit(d, f"body {e} ".encode() * 50, e)
    corrupt(d)
    with pytest.raises(error):
        _load(d)
