"""Round-2 hardening: crash-safety mid-bin, wave isolation,
scale-safe delete writes, exactly-once streaming replay."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from iceberg_compaction_spark.config import CompactionConfig, SelectionStrategy
from iceberg_compaction_spark.plans.compaction import CompactionRunner
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources.generator import create_transcripts_table, transcripts_df
from iceberg_compaction_spark.streaming.ingest import make_idempotent_batch_writer


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


def test_crash_mid_bin_write_is_resumable(spark, tmp_warehouse):
    """A crash DURING a bin's Parquet write leaves a partial output dir
    with no checkpoint row; re-running the same run_id must clear the
    stale dir and rewrite, not die on path-already-exists."""
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "crash"), n_turns=8_000, n_convs=40, n_files=16
    )
    runner = CompactionRunner(spark, t, small_cfg())
    bins = runner.plan()
    assert bins
    before = ordered_rows(t.scan(spark))
    # simulate the partial dir a mid-write crash leaves behind
    safe = bins[0].bin.replace("/", "_").replace("#", "_")
    stale = os.path.join(t.data_dir, "run-runX", f"bin-{safe}")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-partial.parquet"), "w") as f:
        f.write("garbage from a crashed writer")
    res = runner.execute(run_id="runX")
    assert res.bins_executed == len(bins)
    assert ordered_rows(t.scan(spark)) == before


def test_one_wave_matches_bin_per_wave_and_conf_restored(spark, tmp_warehouse):
    """All bins rewritten as one wave produce the same table as one bin
    per wave (``max_parallelism=1``), and the session's
    maxPartitionBytes is restored afterwards (the run sets one split
    size for every wave; it must not leak into later queries)."""
    key = "spark.sql.files.maxPartitionBytes"
    sentinel = str(96 << 20)
    spark.conf.set(key, sentinel)
    try:
        results = []
        for name, max_par in (("seq", 1), ("wave", 16)):
            t = create_transcripts_table(
                spark, os.path.join(tmp_warehouse, name), n_turns=12_000, n_convs=60, n_files=24
            )
            runner = CompactionRunner(spark, t, small_cfg(max_parallelism=max_par))
            bins = runner.plan()
            assert len(bins) >= 2
            assert len(runner._waves(bins)) == (len(bins) if max_par == 1 else 1)
            res = runner.execute()
            assert res.bins_executed >= 2
            assert spark.conf.get(key) == sentinel  # restored
            results.append(ordered_rows(t.scan(spark)))
        assert results[0] == results[1]
    finally:
        spark.conf.unset(key)


def test_delete_write_fans_out_by_size(spark, tmp_warehouse):
    """Delete writes scale with the delete-set size instead of always
    coalescing to one task/file."""
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "fan"), n_turns=2_000, n_convs=10, n_files=4
    )
    keys = transcripts_df(spark, 2_000, 10).filter(F.col("turn_idx") % 3 == 0).select(
        "conv_id", "turn_idx"
    )
    n_keys = keys.count()
    infos = t.write_delete_files(
        keys, ["conv_id", "turn_idx"], mf.CONTENT_EQ_DEL,
        equality_ids=["conv_id", "turn_idx"], rows_per_file=100,
    )
    assert len(infos) == -(-n_keys // 100)
    assert sum(i.record_count for i in infos) == n_keys
    # tiny delete sets still produce exactly one file
    one = t.write_delete_files(
        keys.limit(5), ["conv_id", "turn_idx"], mf.CONTENT_EQ_DEL,
        equality_ids=["conv_id", "turn_idx"],
    )
    assert len(one) == 1


def test_stream_batch_replay_is_idempotent(spark, tmp_warehouse):
    """foreachBatch is at-least-once; a replayed (checkpoint-lost)
    micro-batch must not double-append. Covers both in-process replay
    and replay after a writer restart."""
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "stream"), n_turns=1_000, n_convs=5, n_files=2
    )
    base = t.scan(spark).count()
    ckpt = os.path.join(tmp_warehouse, "ckpt")
    batch = transcripts_df(spark, 200, 2)

    w = make_idempotent_batch_writer(t, ckpt)
    w(batch, 0)
    assert t.scan(spark).count() == base + 200
    w(batch, 0)  # in-process replay: skipped
    assert t.scan(spark).count() == base + 200
    w(batch, 1)
    assert t.scan(spark).count() == base + 400

    # restart: a fresh writer re-reads the committed batch ids
    w2 = make_idempotent_batch_writer(t, ckpt)
    w2(batch, 1)  # replay across restart: skipped
    assert t.scan(spark).count() == base + 400
    w2(batch, 2)
    assert t.scan(spark).count() == base + 600
    # a different stream (different checkpoint) is independent
    w3 = make_idempotent_batch_writer(t, os.path.join(tmp_warehouse, "ckpt2"))
    w3(batch, 0)
    assert t.scan(spark).count() == base + 800


def test_worker_commit_mode(spark, tmp_warehouse, monkeypatch):
    """WorkerCommit: every bin lands as its own replace snapshot, a
    crashed run resumes by re-planning (committed bins' inputs already
    left the manifest), and the final table equals PlannerCommit's."""
    import pytest as _pytest

    from iceberg_compaction_spark.config import CommitMode

    results = {}
    for name, mode in (("wp", CommitMode.PLANNER_COMMIT), ("ww", CommitMode.WORKER_COMMIT)):
        t = create_transcripts_table(
            spark, os.path.join(tmp_warehouse, name), n_turns=12_000, n_convs=60, n_files=24
        )
        snaps_before = len(t.snapshots())
        runner = CompactionRunner(spark, t, small_cfg(commit_mode=mode))
        bins = runner.plan()
        assert len(bins) >= 2
        res = runner.execute()
        assert res.snapshot_after == t.current_snapshot_id
        new_snaps = len(t.snapshots()) - snaps_before
        if mode == CommitMode.WORKER_COMMIT:
            assert new_snaps >= len(bins)  # one commit per bin
        else:
            assert new_snaps == 1
        results[name] = ordered_rows(t.scan(spark))
    assert results["wp"] == results["ww"]

    # crash after the first bin: the bin's commit is already live; the
    # re-run plans only the remaining files
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "wc"), n_turns=12_000, n_convs=60, n_files=24
    )
    before = ordered_rows(t.scan(spark))
    # (one bin per wave, so the first wave is the first bin)
    runner = CompactionRunner(
        spark, t, small_cfg(commit_mode=CommitMode.WORKER_COMMIT, max_parallelism=1)
    )
    n_bins = len(runner.plan())
    orig = CompactionRunner._rewrite_wave
    calls = {"n": 0}

    def crashing(self, run_id, sid, wave, seq_all, commit_each=False):
        if calls["n"] >= 1:
            raise RuntimeError("simulated crash")
        calls["n"] += 1
        return orig(self, run_id, sid, wave, seq_all, commit_each=commit_each)

    monkeypatch.setattr(CompactionRunner, "_rewrite_wave", crashing)
    with _pytest.raises(RuntimeError):
        runner.execute(run_id="wrun")
    monkeypatch.setattr(CompactionRunner, "_rewrite_wave", orig)
    assert ordered_rows(t.scan(spark)) == before  # partial run still consistent

    res = CompactionRunner(
        spark, t, small_cfg(commit_mode=CommitMode.WORKER_COMMIT)
    ).execute()
    assert res.bins_total < n_bins  # committed bin's inputs not re-planned
    assert ordered_rows(t.scan(spark)) == before


def test_worker_commit_wave_of_bins(spark, tmp_warehouse):
    """WorkerCommit with several bins in one wave: every bin's commit
    lands as its own snapshot after the wave's write, and the table
    keeps its rows."""
    from iceberg_compaction_spark.config import CommitMode

    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "wpar"), n_turns=12_000, n_convs=60, n_files=24
    )
    before = ordered_rows(t.scan(spark))
    runner = CompactionRunner(
        spark, t, small_cfg(commit_mode=CommitMode.WORKER_COMMIT)
    )
    bins = runner.plan()
    assert len(bins) >= 3
    snaps_before = len(t.snapshots())
    res = runner.execute()
    assert res.bins_executed == len(bins)
    assert len(t.snapshots()) - snaps_before >= len(bins)
    assert ordered_rows(t.scan(spark)) == before
