"""Peripheral functions (F3/F7/F8), FILES_WITH_DELETES strategy,
multi-key-set equality deletes, salting distribution, bin waves."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from iceberg_compaction_spark.config import CompactionConfig, SelectionStrategy
from iceberg_compaction_spark.functions.salting import SALT_COL, hot_keys, with_salt
from iceberg_compaction_spark.functions.util import EwmaRowSize, parse_size, space_savings
from iceberg_compaction_spark.operators.mor import FILE_COL, POS_COL
from iceberg_compaction_spark.plans.compaction import CompactionRunner
from iceberg_compaction_spark.sources.generator import create_transcripts_table, transcripts_df


def test_parse_size():
    assert parse_size("1GB") == 1 << 30
    assert parse_size("64 mb") == 64 << 20
    assert parse_size("1.5k") == 1536
    assert parse_size(123) == 123
    with pytest.raises(ValueError):
        parse_size("12 parsecs")


def test_space_savings_and_ewma():
    assert space_savings(100, 80) == 0.2
    assert space_savings(0, 10) == 0.0
    e = EwmaRowSize()
    assert e.update(1000, 10) == 100.0
    assert e.update(2000, 10) == pytest.approx(0.2 * 200 + 0.8 * 100)


def test_files_with_deletes_strategy(spark, tmp_warehouse):
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "fw"), n_turns=4000, n_convs=20, n_files=8
    )
    # position-delete rows referencing only SOME data files
    hidden = t.scan(spark, with_hidden=True)
    one_file = sorted(r["path"] for r in t.files(content="data"))[0]
    dels = hidden.filter((F.col(FILE_COL) == one_file) & (F.col(POS_COL) % 3 == 0)).select(
        FILE_COL, POS_COL
    )
    n_del = dels.count()
    assert n_del > 0
    t.add_position_deletes(dels)

    cfg = CompactionConfig(
        selection=SelectionStrategy.FILES_WITH_DELETES,
        min_delete_count=1,
        group_target_size_bytes=64 << 20,
        target_file_size_bytes=64 << 20,
    )
    runner = CompactionRunner(spark, t, cfg)
    bins = runner.plan()
    planned_paths = {p for b in bins for p in b.paths}
    assert planned_paths == {one_file}  # only the delete-affected file
    res = runner.execute()
    assert res.input_files == 1
    assert t.scan(spark).count() == 4000 - n_del


def test_files_with_deletes_counts_eq_deletes_by_key_bounds(spark, tmp_warehouse):
    """An equality-delete file counts against a data file only when the
    rule scans use attaches it: newer sequence AND overlapping key
    bounds. Its bounds overlap one data file and miss the other, so
    only the overlapping file is planned."""
    from iceberg_compaction_spark.sources.table import Table

    t = Table.create(os.path.join(tmp_warehouse, "fweq"), "k bigint, v string")
    for lo in (0, 1000):
        t.append_dataframe(
            spark.range(lo, lo + 100).selectExpr("id as k", "cast(id as string) as v").coalesce(1)
        )
    low, high = sorted(t.files(content="data"), key=lambda r: r["path"])
    if json.loads(low["stats_json"])["k"]["min"] != 0:
        low, high = high, low
    t.add_equality_deletes(spark.range(10, 21).selectExpr("id as k").coalesce(1), keys=["k"])

    cfg = CompactionConfig(
        selection=SelectionStrategy.FILES_WITH_DELETES,
        min_delete_count=1,
        sort_order=(("k", False),),
    )
    runner = CompactionRunner(spark, t, cfg)
    assert {p for b in runner.plan() for p in b.paths} == {low["path"]}
    res = runner.execute()
    assert res.input_files == 1
    assert high["path"] in {r["path"] for r in t.files(content="data")}
    assert t.scan(spark).count() == 200 - 11


def test_multi_keyset_equality_deletes(spark, tmp_warehouse):
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "mk"), n_turns=3000, n_convs=30, n_files=4
    )
    base = transcripts_df(spark, 3000, 30)
    # key set 1: exact turns
    t.add_equality_deletes(
        base.filter(F.col("turn_idx") % 11 == 1).select("conv_id", "turn_idx"),
        keys=["conv_id", "turn_idx"],
    )
    # key set 2: whole conversations
    t.add_equality_deletes(
        base.select("conv_id").distinct().filter(F.col("conv_id") == "conv_00000003"),
        keys=["conv_id"],
    )
    surv = t.scan(spark)
    expect = base.filter(
        ~((F.col("turn_idx") % 11 == 1) | (F.col("conv_id") == "conv_00000003"))
    )
    assert surv.count() == expect.count()
    assert surv.exceptAll(expect).count() == 0
    # and compaction folds both key sets
    res = CompactionRunner(
        spark,
        t,
        CompactionConfig(selection=SelectionStrategy.FULL, group_target_size_bytes=64 << 20),
    ).execute()
    assert res.removed_delete_files == 2
    assert t.scan(spark).count() == expect.count()


def test_salting_distribution(spark):
    df = transcripts_df(spark, 20_000, 50, hot_share=0.3)
    hot = hot_keys(df, "conv_id", threshold_share=0.1)
    assert "conv_00000000" in hot
    salted = with_salt(df, ["conv_id", "turn_idx"], buckets=16, hot=hot)
    dist = (
        salted.filter(F.col("conv_id") == "conv_00000000")
        .groupBy(SALT_COL)
        .count()
        .collect()
    )
    assert len(dist) == 16  # hot key spread over all buckets
    counts = [r["count"] for r in dist]
    assert max(counts) < 2.5 * min(counts)  # roughly uniform
    # cold keys keep salt 0 (no shuffle explosion)
    cold = salted.filter(F.col("conv_id") != "conv_00000000")
    assert cold.filter(F.col(SALT_COL) != 0).count() == 0


def test_wave_execution(spark, tmp_warehouse):
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "pb"), n_turns=20_000, n_convs=100, n_files=32
    )
    before = t.scan(spark).count()
    cfg = CompactionConfig(
        selection=SelectionStrategy.FULL,
        group_target_size_bytes=256 << 10,
        target_file_size_bytes=4 << 20,
    )
    runner = CompactionRunner(spark, t, cfg)
    assert len(runner.plan()) >= 2
    res = runner.execute()
    assert res.bins_executed >= 2
    assert t.scan(spark).count() == before


def test_metrics_counters_move(spark, tmp_warehouse):
    """A5: the reference's operational counters (commits, bytes, bins,
    pruning) actually move when the engine runs."""
    import os

    from iceberg_compaction_spark.metrics import GLOBAL
    from iceberg_compaction_spark.config import CompactionConfig, SelectionStrategy
    from iceberg_compaction_spark.plans.compaction import CompactionRunner
    from iceberg_compaction_spark.sources.generator import create_transcripts_table

    before = GLOBAL.snapshot()
    t = create_transcripts_table(
        spark, os.path.join(tmp_warehouse, "metrics"), n_turns=2_000, n_convs=10,
        n_files=4, partitioned=True,
    )
    res = CompactionRunner(
        spark,
        t,
        CompactionConfig(
            selection=SelectionStrategy.FULL, group_target_size_bytes=256 << 10,
            min_size_per_partition_bytes=1 << 20,
        ),
    ).execute()
    # waves write one after another, so summed write time fits in the
    # run's wall time
    write_s = GLOBAL.snapshot().get("compaction.write_s", 0) - before.get("compaction.write_s", 0)
    assert 0 < write_s <= res.wall_s
    ts0 = t.scan(spark).select("ts").orderBy("ts").limit(1).collect()[0][0]
    t.scan(spark, filter=f"ts < TIMESTAMP '{ts0}'").count()
    after = GLOBAL.snapshot()

    def moved(k):
        return after.get(k, 0) > before.get(k, 0)

    for key in (
        "commit.success", "commit.files_added", "commit.bytes_added",
        "compaction.runs", "compaction.bins_executed", "compaction.bytes_written",
        "scan.files_pruned", "scan.files_scanned",
    ):
        assert moved(key), key
    text = GLOBAL.prometheus_text()
    assert "# TYPE commit_success counter" in text
