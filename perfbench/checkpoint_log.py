"""Read a file-source streaming checkpoint: which batch took each input
file, and when that batch committed.

Layout (Spark Structured Streaming, file source + any sink):

  <ckpt>/sources/0/<N>          "v1" then one JSON entry per file the
                                source handed to batch N
  <ckpt>/sources/0/<N>.compact  every `compactInterval` batches the log is
                                compacted: this file RE-LISTS the entries of
                                all earlier batches, each still carrying its
                                own "batchId"
  <ckpt>/commits/<N>            written once batch N's sink finished

A reader that takes the batch number from the log file's name assigns
every re-listed file to the compaction batch; the entry's own `batchId`
is the truth. The commit time of batch N is the modification time of
`commits/N`.
"""

from __future__ import annotations

import json
import os


def _is_log_name(name: str) -> bool:
    stem = name[: -len(".compact")] if name.endswith(".compact") else name
    return stem.isdigit()


def file_batches(ckpt: str, source: int = 0) -> dict[str, set[int]]:
    """Input file path -> every batch id the source log assigns it to (a
    correct log gives exactly one). Paths are returned as logged (URIs)."""
    log_dir = os.path.join(ckpt, "sources", str(source))
    out: dict[str, set[int]] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in sorted(os.listdir(log_dir)):
        if not _is_log_name(name):
            continue  # temp / crc files
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            lines = f.read().splitlines()
        for line in lines[1:]:  # first line is the log version, e.g. "v1"
            if not line.strip():
                continue
            entry = json.loads(line)
            out.setdefault(entry["path"], set()).add(int(entry["batchId"]))
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    """Batch id -> epoch seconds at which its commit-log entry was written."""
    d = os.path.join(ckpt, "commits")
    if not os.path.isdir(d):
        return {}
    return {
        int(name): os.stat(os.path.join(d, name)).st_mtime
        for name in os.listdir(d)
        if name.isdigit()
    }


def basename_of(uri: str) -> str:
    return uri.rstrip("/").rsplit("/", 1)[-1]


def file_commits(ckpt: str) -> dict[str, tuple[int, float] | None]:
    """Input file basename -> (batch id, commit time) when the file was
    handed to exactly one batch and that batch committed; None when the
    file sits in several batches or its batch has no commit entry."""
    commits = commit_times(ckpt)
    out: dict[str, tuple[int, float] | None] = {}
    for path, batches in file_batches(ckpt).items():
        name = basename_of(path)
        if name in out or len(batches) != 1:
            out[name] = None
            continue
        (b,) = batches
        out[name] = (b, commits[b]) if b in commits else None
    return out
