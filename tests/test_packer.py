"""FFD packer invariants (ported expectations from reference
``crates/planner/src/packer.rs:79-105``) + parallelism formula cases
(``file_selection.rs:156-177``)."""

from __future__ import annotations

import os

from hypothesis import given, settings
from hypothesis import strategies as st

from iceberg_compaction_spark.config import (
    CompactionConfig,
    GroupingStrategy,
    SelectionStrategy,
)
from iceberg_compaction_spark.plans.compaction import CompactionRunner
from iceberg_compaction_spark.plans.packer import ffd_pack
from iceberg_compaction_spark.plans.parallelism import calculate_parallelism
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources.table import Table


def bin_weights(weights, bins):
    return [sum(weights[i] for i in b) for b in bins]


def test_ffd_known_case():
    # packer.rs:83-104 fixture family: [30,40,50,20,10] @ target 100
    weights = [30, 40, 50, 20, 10]
    bins = ffd_pack(weights, 100)
    assert sorted(len(b) for b in bins) in ([1, 4], [2, 3], [5])
    assert all(w <= 100 for w in bin_weights(weights, bins))
    assert sorted(i for b in bins for i in b) == list(range(5))


def test_ffd_oversized_goes_solo():
    weights = [150, 10, 20]
    bins = ffd_pack(weights, 100)
    solo = [b for b in bins if weights[b[0]] >= 100]
    assert len(solo) == 1 and len(solo[0]) == 1


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=200), max_size=60), st.integers(80, 120))
def test_ffd_invariants(weights, target):
    bins = ffd_pack(weights, target)
    # every item exactly once
    assert sorted(i for b in bins for i in b) == list(range(len(weights)))
    for b in bins:
        w = sum(weights[i] for i in b)
        assert w <= target or (len(b) == 1 and weights[b[0]] >= target)


def test_parallelism_formula():
    cfg = CompactionConfig()  # 256MB min/part, 100 files max, clamp 16, 1GB target
    # small group → 1
    assert calculate_parallelism(10 << 20, 2, cfg) == (1, 1)
    # bytes-driven: 4GB → 16 executors, 4 output files
    assert calculate_parallelism(4 << 30, 10, cfg) == (16, 4)
    # file-count-driven: 450 files
    assert calculate_parallelism(10 << 20, 450, cfg) == (5, 1)
    # clamped at max_parallelism
    assert calculate_parallelism(100 << 30, 10_000, cfg) == (16, 16)


def test_plan_bins_stay_within_partition(spark, tmp_warehouse):
    """CompactionRunner.plan packs per table partition: no bin spans
    partitions or exceeds the group target (manifest rows only — plan
    opens no data file)."""
    loc = os.path.join(tmp_warehouse, "packed")
    t = Table.create(loc, "id bigint")
    t.commit(
        "append",
        added=[
            mf.FileInfo(
                path=os.path.join(loc, "data", f"f{i}.parquet"),
                content=mf.CONTENT_DATA,
                size_bytes=30 << 20,
                record_count=100,
                partition="2023-11-14" if i % 2 == 0 else "2023-11-15",
            )
            for i in range(10)
        ],
    )
    cfg = CompactionConfig(
        selection=SelectionStrategy.FULL,
        grouping=GroupingStrategy.BIN_PACK,
        group_target_size_bytes=70 << 20,
    )
    bins = CompactionRunner(spark, t, cfg).plan()
    by_path = {r["path"]: r for r in t.files(content=mf.CONTENT_DATA)}
    for b in bins:
        assert b.bin.startswith(b.partition + "#")
        assert b.total_bytes <= 70 << 20
        # bins never span partitions
        assert {by_path[p]["partition"] for p in b.paths} == {b.partition}
    # 5 files/partition @30MB, target 70MB ⇒ 2+2+1 per partition; the
    # single-file bins (nothing to merge, no deletes) are not planned
    assert sorted(len(b.paths) for b in bins) == [2, 2, 2, 2]
