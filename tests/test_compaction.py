"""End-to-end compaction: the north-rule invariants.

(a) post-maintenance full scan == pre-maintenance live rows with
    per-turn text equality under stable (conv_id, turn_idx) ordering;
(b) identical live-row counts after delete application (generalizes
    the reference's N−deleted oracle, logical_plan_minio.rs:177-178);
(c) resume from checkpoint at wave granularity (one bin per wave with
    ``max_parallelism=1``).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iceberg_compaction_spark.config import (
    CommitMode,
    CompactionConfig,
    SelectionStrategy,
)
from iceberg_compaction_spark.operators.mor import FILE_COL, POS_COL
from iceberg_compaction_spark.plans.compaction import CompactionRunner
from iceberg_compaction_spark.sources.generator import create_transcripts_table, transcripts_df
from iceberg_compaction_spark.sources import manifest as mf


def small_cfg(**kw):
    base = dict(
        target_file_size_bytes=4 << 20,
        small_file_threshold_bytes=2 << 20,
        group_target_size_bytes=256 << 10,
        min_size_per_partition_bytes=1 << 20,
        selection=SelectionStrategy.FULL,
    )
    base.update(kw)
    return CompactionConfig(**base)


def ordered_rows(df):
    return [
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in df.orderBy("conv_id", "turn_idx").select("conv_id", "turn_idx", "text").collect()
    ]


def test_compaction_no_deletes_preserves_scan(spark, tmp_warehouse):
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "c1"), n_turns=20_000, n_convs=100, n_files=32
    )
    before = ordered_rows(t.scan(spark))
    n_files_before = len(t.files(content="data"))
    res = CompactionRunner(spark, t, small_cfg()).execute()
    assert res.snapshot_after == t.current_snapshot_id
    assert res.input_files == n_files_before
    assert res.output_files < n_files_before
    after = ordered_rows(t.scan(spark))
    assert after == before  # per-turn text equality, stable ordering
    # lineage recorded per bin
    assert res.lineage and all(r["status"] == "done" for r in res.lineage)
    assert sum(r["rows_processed"] for r in res.lineage) == 20_000


def test_compaction_applies_deletes(spark, tmp_warehouse):
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "c2"), n_turns=10_000, n_convs=50, n_files=16
    )
    hidden = t.scan(spark, with_hidden=True)
    pos = hidden.filter(F.col(POS_COL) % 11 == 0).select(FILE_COL, POS_COL)
    n_pos = pos.count()
    t.add_position_deletes(pos)
    eq = (
        transcripts_df(spark, 10_000, 50)
        .filter(F.col("turn_idx") % 23 == 1)
        .select("conv_id", "turn_idx")
    )
    t.add_equality_deletes(eq, keys=["conv_id", "turn_idx"])
    live_before = t.scan(spark)
    n_live = live_before.count()
    assert n_live < 10_000
    rows_before = ordered_rows(live_before)

    res = CompactionRunner(spark, t, small_cfg()).execute()
    # all delete files resolved & dropped: full rewrite
    assert res.removed_delete_files == 2
    man = t.manifest()
    assert all(r["content"] == mf.CONTENT_DATA for r in man)
    assert t.scan(spark).count() == n_live
    assert ordered_rows(t.scan(spark)) == rows_before
    assert res.rows_processed == n_live


def test_small_files_strategy_selects_subset(spark, tmp_warehouse):
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "c3"), n_turns=10_000, n_convs=50, n_files=16
    )
    # big files appended: must NOT be selected
    t.append_dataframe(transcripts_df(spark, 30_000, 50).coalesce(1))
    threshold = 200 << 10
    sizes = [f["size_bytes"] for f in t.files(content="data")]
    n_small = sum(1 for s in sizes if s <= threshold)
    assert 0 < n_small < len(sizes)
    cfg = small_cfg(
        selection=SelectionStrategy.SMALL_FILES, small_file_threshold_bytes=threshold
    )
    res = CompactionRunner(spark, t, cfg).execute()
    # every selected file is small; lone-file bins may be skipped as churn
    assert n_small - 2 <= res.input_files <= n_small
    big_paths = {f["path"] for f in t.files(content="data") if f["size_bytes"] > threshold}
    assert big_paths  # big files survived untouched
    assert len(t.files(content="data")) < len(sizes)
    assert t.scan(spark).count() == 40_000


def test_no_commit_dry_run(spark, tmp_warehouse):
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "c4"), n_turns=2_000, n_convs=10, n_files=8
    )
    sid = t.current_snapshot_id
    res = CompactionRunner(spark, t, small_cfg(commit_mode=CommitMode.NO_COMMIT)).execute()
    assert t.current_snapshot_id == sid
    assert res.snapshot_after == sid
    assert res.output_files > 0  # work happened, nothing committed


def test_resume_skips_done_bins(spark, tmp_warehouse, monkeypatch):
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "c5"), n_turns=20_000, n_convs=100, n_files=32
    )
    # one bin per wave, so "crash after the first wave" is "after the
    # first bin"
    runner = CompactionRunner(spark, t, small_cfg(max_parallelism=1))
    bins = runner.plan()
    assert len(bins) >= 2
    before = ordered_rows(t.scan(spark))

    # crash after the first bin completes
    orig = CompactionRunner._rewrite_wave
    calls = {"n": 0}

    def crashing(self, run_id, sid, wave, seq_all, **kw):
        if calls["n"] >= 1:
            raise RuntimeError("simulated crash")
        calls["n"] += 1
        return orig(self, run_id, sid, wave, seq_all, **kw)

    monkeypatch.setattr(CompactionRunner, "_rewrite_wave", crashing)
    with pytest.raises(RuntimeError):
        runner.execute(run_id="runA")
    monkeypatch.setattr(CompactionRunner, "_rewrite_wave", orig)

    done = runner._load_checkpoint("runA")
    assert len(done) == 1

    res = runner.execute(run_id="runA")  # resume
    assert res.bins_skipped == 1
    assert res.bins_executed == len(bins) - 1
    assert ordered_rows(t.scan(spark)) == before
