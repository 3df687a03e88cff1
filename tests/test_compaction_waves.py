"""Compaction waves: the bins of a run that each fit one output file are
rewritten by ONE Spark query whose write is partitioned by bin; a bin
that writes several files is a wave of its own."""

from __future__ import annotations

import os
import uuid

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from iceberg_compaction_spark.config import CompactionConfig, SelectionStrategy
from iceberg_compaction_spark.operators.delete_where import delete_where
from iceberg_compaction_spark.operators.merge_into import merge_into
from iceberg_compaction_spark.plans.compaction import BIN_COL, BinPlan, CompactionRunner
from iceberg_compaction_spark.sources.generator import (
    TRANSCRIPT_DDL,
    create_transcripts_table,
    day_partition_spec,
    transcripts_df,
)
from iceberg_compaction_spark.sources.table import PART_COL, Table

MIDNIGHT_TS = 1_699_920_000  # 2023-11-14 00:00:00 UTC
N_TURNS = 800


def churned_day_table(spark, location: str, n_days: int) -> Table:
    """``N_TURNS`` turns over exactly ``n_days`` day partitions, appended
    as 2 shards (2 small files per day), then churned by a merge-on-read
    DELETE (position deletes) and a MERGE (equality deletes) that touch
    every day."""
    step = 86_400 * n_days // N_TURNS
    t = Table.create(location, TRANSCRIPT_DDL, partition=day_partition_spec())
    df = transcripts_df(spark, N_TURNS, 8, base_ts=MIDNIGHT_TS, ts_step_s=step)
    t.append_dataframe(df.repartition(2, F.xxhash64("conv_id", "turn_idx")))
    delete_where(spark, t, "turn_idx % 5 = 0", mode="mor")
    src = (
        transcripts_df(spark, N_TURNS, 8, base_ts=MIDNIGHT_TS, ts_step_s=step)
        .filter("turn_idx % 7 = 1")
        .withColumn("text", F.lit("merged"))
    )
    merge_into(t, src, ["conv_id", "turn_idx"], mode="mor")
    return t


def table_rows(spark, t):
    return sorted(
        tuple(r) for r in t.scan(spark).select("conv_id", "turn_idx", "text").collect()
    )


def jobs_run_by(spark, fn):
    """(fn's result, ids of the Spark jobs it ran, ids recorded under
    this thread's job group). Every job between two control jobs
    counts, whichever thread started it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"waves-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "compaction job count")
    try:
        spark.range(1).count()
        first = max(tracker.getJobIdsForGroup(group))
        out = fn()
        spark.range(1).count()
        in_group = set(tracker.getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, set(range(first + 1, max(in_group))), in_group


def test_job_count_does_not_grow_with_one_file_bins(spark, tmp_warehouse):
    jobs = {}
    for n_days in (2, 8):
        t = churned_day_table(spark, os.path.join(tmp_warehouse, f"d{n_days}"), n_days)
        before = table_rows(spark, t)
        runner = CompactionRunner(spark, t, CompactionConfig(selection=SelectionStrategy.FULL))
        bins = runner.plan()
        assert len(bins) == n_days
        assert all(b.output_parallelism == 1 for b in bins)
        res, ran, in_group = jobs_run_by(spark, runner.execute)
        assert res.bins_executed == n_days
        assert table_rows(spark, t) == before
        jobs[n_days] = (ran, in_group)
    counts = {n: len(ran) for n, (ran, _) in jobs.items()}
    assert counts[2] > 0
    assert counts[2] == counts[8], counts
    # no job ran on another driver thread
    assert all(ran <= in_group for ran, in_group in jobs.values())


def test_waves_group_one_file_bins_in_plan_order(spark, tmp_warehouse):
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "plan"), n_turns=200, n_convs=4, n_files=2
    )
    runner = CompactionRunner(spark, t, CompactionConfig(max_parallelism=3))

    def b(name, p):
        return BinPlan(bin=name, partition="", paths=[], total_bytes=0, record_count=0,
                       output_parallelism=p)

    plan = [b("a", 1), b("b", 1), b("c", 1), b("d", 1), b("e", 2), b("f", 1), b("g", 3)]
    waves = [[x.bin for x in w] for w in runner._waves(plan)]
    assert waves == [["a", "b", "c"], ["d"], ["e"], ["f"], ["g"]]


def test_one_file_bins_write_one_sorted_file_each(spark, tmp_warehouse):
    t = churned_day_table(spark, os.path.join(tmp_warehouse, "layout"), 6)
    before = table_rows(spark, t)
    res = CompactionRunner(spark, t, CompactionConfig(selection=SelectionStrategy.FULL)).execute()
    assert res.bins_executed == 6
    dirs = set()
    for row in res.lineage:
        assert len(row["output_paths"]) == 1, row["bin"]
        path = row["output_paths"][0]
        dirs.add(os.path.dirname(path))
        assert os.path.basename(os.path.dirname(path)).startswith(f"{BIN_COL}=")
        tbl = pq.read_table(path)
        assert BIN_COL not in tbl.column_names
        assert set(tbl.column(PART_COL).to_pylist()) == {row["partition"]}
        keys = list(zip(tbl.column("conv_id").to_pylist(), tbl.column("turn_idx").to_pylist()))
        assert keys == sorted(keys)
    assert len(dirs) == 6  # one _bin=<i> directory per bin
    assert BIN_COL not in t.scan(spark).columns
    assert table_rows(spark, t) == before


def test_multi_file_bin_keeps_disjoint_sort_ranges(spark, tmp_warehouse):
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "wide"), n_turns=20_000, n_convs=50,
        n_files=8, partitioned=False,
    )
    before = table_rows(spark, t)
    runner = CompactionRunner(
        spark, t,
        CompactionConfig(selection=SelectionStrategy.FULL, target_file_size_bytes=256 << 10),
    )
    bins = runner.plan()
    assert len(bins) == 1 and bins[0].output_parallelism > 1
    res = runner.execute()
    ranges = []
    for path in res.lineage[0]["output_paths"]:
        tbl = pq.read_table(path, columns=["conv_id", "turn_idx"])
        keys = list(zip(tbl.column("conv_id").to_pylist(), tbl.column("turn_idx").to_pylist()))
        assert keys == sorted(keys)
        ranges.append((keys[0], keys[-1]))
    assert len(ranges) > 1
    ranges.sort()
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:]))
    assert table_rows(spark, t) == before


def test_zorder_run_through_a_wave_keeps_rows(spark, tmp_warehouse):
    t = churned_day_table(spark, os.path.join(tmp_warehouse, "z"), 4)
    before = table_rows(spark, t)
    cfg = CompactionConfig(
        selection=SelectionStrategy.FULL, clustering="zorder", cluster_columns=("conv_id", "ts")
    )
    runner = CompactionRunner(spark, t, cfg)
    assert len(runner._waves(runner.plan())) == 1
    res = runner.execute()
    assert res.bins_executed == 4
    assert all(len(row["output_paths"]) == 1 for row in res.lineage)
    assert table_rows(spark, t) == before
