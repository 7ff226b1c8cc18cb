"""Streaming count-min heavy-hitters sink: per-batch cell/candidate
partitions sum-merged into a running top-k (streaming twin of
sketch_countmin_heavy_hitters)."""

from __future__ import annotations

import hashlib
from collections import Counter

from emr_flink_example_spark.operators.textstats import CMS_D, CMS_TOP, CMS_W
from emr_flink_example_spark.streaming import compaction
from emr_flink_example_spark.streaming.cms_stream import (
    CAND_M,
    StreamingCountMin,
)


def _phash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _ref_cells(keys) -> Counter:
    cells: Counter = Counter()
    for k in keys:
        for d in range(CMS_D):
            cells[d * CMS_W + _phash(f"cms{d}:{k}") % CMS_W] += 1
    return cells


def _ref_estimate(cells: Counter, key: str) -> int:
    return min(
        cells[d * CMS_W + _phash(f"cms{d}:{key}") % CMS_W] for d in range(CMS_D)
    )


def _batch(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "token string")


def _stream_keys():
    # skewed synthetic stream: key 'h0' is globally heavy, 'h1' heavy in
    # one batch, a long tail of singletons
    b0 = ["h0"] * 40 + ["h1"] * 5 + [f"t{i}" for i in range(30)]
    b1 = ["h0"] * 30 + ["h1"] * 25 + [f"t{i}" for i in range(30, 60)]
    b2 = ["h0"] * 10 + [f"t{i}" for i in range(60, 90)]
    return b0, b1, b2


def test_merged_cells_equal_union_cells(spark, tmp_path):
    sink = StreamingCountMin(str(tmp_path / "cms"))
    b0, b1, b2 = _stream_keys()
    for i, b in enumerate((b0, b1, b2)):
        sink(_batch(spark, b), i)
    got = {(r.cell, r.cnt) for r in sink.cells(spark).collect()}
    assert got == set(_ref_cells(b0 + b1 + b2).items())


def test_heavy_hitters_match_reference(spark, tmp_path):
    sink = StreamingCountMin(str(tmp_path / "cms"))
    b0, b1, b2 = _stream_keys()
    union = b0 + b1 + b2
    for i, b in enumerate((b0, b1, b2)):
        sink(_batch(spark, b), i)
    cells = _ref_cells(union)
    exact = Counter(union)
    got = [
        (r.token, r.seen_cnt, r.cms_estimate)
        for r in sink.heavy_hitters(spark).collect()
    ]
    assert len(got) == CMS_TOP
    # the two genuinely heavy keys are found, heaviest first
    assert got[0][0] == "h0"
    assert "h1" in {t for t, _, _ in got}
    for token, seen, est in got:
        # estimates are exact count-min semantics over the union
        assert est == _ref_estimate(cells, token)
        # count-min never undercounts; candidate counts never overcount
        assert est >= exact[token]
        assert seen <= exact[token]


def test_replay_is_idempotent(spark, tmp_path):
    sink = StreamingCountMin(str(tmp_path / "cms"))
    b0, b1, _ = _stream_keys()
    sink(_batch(spark, b0), 0)
    sink(_batch(spark, b1), 1)
    before = [
        (r.token, r.seen_cnt, r.cms_estimate)
        for r in sink.heavy_hitters(spark).collect()
    ]
    sink(_batch(spark, b1), 1)  # checkpoint replay of batch 1
    after = [
        (r.token, r.seen_cnt, r.cms_estimate)
        for r in sink.heavy_hitters(spark).collect()
    ]
    assert after == before


def test_compaction_preserves_answer(spark, tmp_path):
    sink = StreamingCountMin(str(tmp_path / "cms"), compact_every=2)
    b0, b1, b2 = _stream_keys()
    sink(_batch(spark, b0), 0)
    sink(_batch(spark, b1), 1)
    # batch 2 triggers compaction of batches 0+1 into one partition
    sink(_batch(spark, b2), 2)
    cells = _ref_cells(b0 + b1 + b2)
    got = [
        (r.token, r.cms_estimate) for r in sink.heavy_hitters(spark).collect()
    ]
    assert got[0][0] == "h0"
    for token, est in got:
        assert est == _ref_estimate(cells, token)
    import os

    # the older partitions were physically folded
    dirs = [
        d
        for d in os.listdir(str(tmp_path / "cms" / "cells"))
        if d.startswith("batch_id=")
    ]
    assert sorted(dirs) == ["batch_id=0", "batch_id=2"]


def test_candidate_cap_is_enforced(spark, tmp_path):
    sink = StreamingCountMin(str(tmp_path / "cms"))
    many = [f"u{i}" for i in range(CAND_M * 3)]
    sink(_batch(spark, many), 0)
    import os

    path = str(tmp_path / "cms" / "cands" / "batch_id=0")
    n = sum(
        1
        for r in spark.read.parquet(path).collect()
    )
    assert n == CAND_M


def _expected_estimates(union):
    cells = _ref_cells(union)
    return cells


def _crash_compact(sink, spark, batch_id, crash_at):
    """Run _compact but crash at a chosen point: 'pre_marker' crashes
    after publication renames but before the commit marker; 'pre_cleanup'
    crashes after the marker but before any source deletion."""

    class Boom(RuntimeError):
        pass

    # the marker now publishes through the fsio seam (write_text_atomic on
    # the sink's fs); crash by shadowing the seam method / the shared
    # protocol's retirement step
    fs_cls = type(sink.fs)
    orig_retire = compaction._retire
    try:
        if crash_at == "pre_marker":
            fs_cls.write_text_atomic = (
                lambda self, path, text: (_ for _ in ()).throw(Boom())
            )
        else:
            compaction._retire = (
                lambda fs, target_dir, own_prefix, marker, retire_dirs=(): (
                    _ for _ in ()
                ).throw(Boom())
            )
        try:
            sink._compact(spark, batch_id)
        except Boom:
            pass
    finally:
        if "write_text_atomic" in fs_cls.__dict__:
            del fs_cls.write_text_atomic  # base FSIO impl shows through again
        compaction._retire = orig_retire


def test_replayed_compaction_does_not_double_count(spark, tmp_path):
    """ADVICE r10: a crash between the publication renames and the source
    deletions must not let the same-batch_id replay fold the stale merged
    output back into the sum (SUM, unlike the HLL max-merge, is not
    duplicate-insensitive)."""
    for crash_at in ("pre_marker", "pre_cleanup"):
        base = str(tmp_path / f"cms-{crash_at}")
        sink = StreamingCountMin(base, compact_every=0)
        b0, b1, b2 = _stream_keys()
        union = b0 + b1 + b2
        for i, b in enumerate((b0, b1, b2)):
            sink(_batch(spark, b), i)
        cells = _ref_cells(union)
        # crash mid-compaction: stale compact-3-* files now sit next to
        # the still-present originals
        _crash_compact(sink, spark, 3, crash_at)
        # checkpoint replay re-triggers the same compaction to completion
        sink._compact(spark, 3)
        got = {(r.cell, r.cnt) for r in sink.cells(spark).collect()}
        assert got == set(cells.items()), crash_at
        got_hh = [
            (r.token, r.cms_estimate)
            for r in sink.heavy_hitters(spark).collect()
        ]
        for token, est in got_hh:
            assert est == _ref_estimate(cells, token), crash_at


def test_double_full_compaction_is_idempotent(spark, tmp_path):
    sink = StreamingCountMin(str(tmp_path / "cms"), compact_every=0)
    b0, b1, b2 = _stream_keys()
    for i, b in enumerate((b0, b1, b2)):
        sink(_batch(spark, b), i)
    sink._compact(spark, 3)
    before = {(r.cell, r.cnt) for r in sink.cells(spark).collect()}
    sink._compact(spark, 3)  # replayed compaction after a clean finish
    after = {(r.cell, r.cnt) for r in sink.cells(spark).collect()}
    assert after == before == set(_ref_cells(b0 + b1 + b2).items())
