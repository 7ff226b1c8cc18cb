"""The file -> batch -> commit-time join on a synthetic checkpoint.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checkpoint_log  # noqa: E402


def _entry(name: str, batch: int) -> str:
    return json.dumps({"path": f"file:///in/{name}", "timestamp": 1, "batchId": batch})


def _log(ckpt, name: str, entries: list[tuple[str, int]]) -> None:
    d = ckpt / "sources" / "0"
    d.mkdir(parents=True, exist_ok=True)
    (d / name).write_text("v1\n" + "\n".join(_entry(f, b) for f, b in entries) + "\n")


def _commit(ckpt, batch: int, mtime: float) -> None:
    d = ckpt / "commits"
    d.mkdir(parents=True, exist_ok=True)
    p = d / str(batch)
    p.write_text('v1\n{"nextBatchWatermarkMs":0}\n')
    os.utime(p, (mtime, mtime))


def _checkpoint(tmp_path):
    """Batches 0..10, two files each; the log compacts at batch 9, so
    `9.compact` re-lists the files of batches 0..9 with their own ids."""
    ckpt = tmp_path / "ckpt"
    files = {b: [f"ev-{2 * b:06d}.json", f"ev-{2 * b + 1:06d}.json"] for b in range(11)}
    for b in range(9):
        _log(ckpt, str(b), [(f, b) for f in files[b]])
    _log(ckpt, "9.compact", [(f, b) for b in range(10) for f in files[b]])
    _log(ckpt, "10", [(f, 10) for f in files[10]])
    for b in range(11):
        _commit(ckpt, b, 1000.0 + b)
    return ckpt, files


def test_compacted_entries_keep_their_own_batch(tmp_path):
    ckpt, files = _checkpoint(tmp_path)
    got = checkpoint_log.file_batches(str(ckpt))
    for b, names in files.items():
        for n in names:
            assert got[f"file:///in/{n}"] == {b}


def test_commit_time_is_the_batch_commit_entry_mtime(tmp_path):
    ckpt, files = _checkpoint(tmp_path)
    got = checkpoint_log.file_commits(str(ckpt))
    assert len(got) == 22
    for b, names in files.items():
        for n in names:
            assert got[n] == (b, 1000.0 + b)


def test_naming_the_batch_by_log_file_is_wrong(tmp_path):
    """What a reader that trusts the log file's name would see: every file
    re-listed in 9.compact looks like batch 9, and its latency is
    measured to the wrong commit."""
    ckpt, _ = _checkpoint(tmp_path)
    by_name = {}
    for name in sorted(os.listdir(ckpt / "sources" / "0"), key=lambda n: int(n.split(".")[0])):
        batch = int(name.split(".")[0])
        for line in (ckpt / "sources" / "0" / name).read_text().splitlines()[1:]:
            by_name[json.loads(line)["path"]] = batch
    assert by_name["file:///in/ev-000000.json"] == 9
    assert checkpoint_log.file_commits(str(ckpt))["ev-000000.json"] == (0, 1000.0)


def test_uncommitted_batch_and_double_delivery_are_flagged(tmp_path):
    ckpt, _ = _checkpoint(tmp_path)
    _log(ckpt, "11", [("ev-100000.json", 11), ("ev-000003.json", 11)])
    got = checkpoint_log.file_commits(str(ckpt))
    assert got["ev-100000.json"] is None  # batch 11 never committed
    assert got["ev-000003.json"] is None  # handed to batches 1 and 11


def test_temp_files_and_missing_dirs_are_ignored(tmp_path):
    ckpt, _ = _checkpoint(tmp_path)
    (ckpt / "sources" / "0" / ".10.tmp").write_text("partial")
    (ckpt / "commits" / ".11.crc").write_text("x")
    assert len(checkpoint_log.file_commits(str(ckpt))) == 22
    assert checkpoint_log.file_commits(str(tmp_path / "none")) == {}
