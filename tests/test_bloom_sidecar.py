"""Round-4: bloom bitmaps live OUT OF LINE in lazy sidecars — the
driver-resolved manifest stays manifest-sized, probe IO is bounded by
the bounds-surviving file count, and orphan cleanup sweeps sidecars
whose data files are gone."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from iceberg_compaction_spark.functions import bloom
from iceberg_compaction_spark.metrics import GLOBAL as METRICS
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources.table import Table


def _mk(spark, loc, n_files=12, n_rows=20_000, n_keys=200):
    t = Table.create(
        loc, "conv_id string, turn_idx int, text string",
        bloom={"columns": ["conv_id"], "fpp": 0.01, "ndv": 1000},
    )
    df = spark.range(n_rows).selectExpr(
        f"concat('conv_', lpad(cast(id % {n_keys} as string), 6, '0')) as conv_id",
        "cast(id as int) as turn_idx",
        "concat('text ', id) as text",
    )
    t.append_dataframe(df.repartition(n_files, "conv_id"))
    return t


def _manifest_bytes(t: Table) -> int:
    mp = t._manifest_path(t.current_snapshot_id)
    if os.path.isdir(mp):
        return sum(
            os.path.getsize(os.path.join(mp, f)) for f in os.listdir(mp)
        )
    return os.path.getsize(mp)


def test_manifest_stays_lean_without_inline_bitmaps(spark, tmp_warehouse):
    t = _mk(spark, os.path.join(tmp_warehouse, "lean"))
    # descriptors only: no base64 bitmap inside any stats entry
    for r in t.files(content=mf.CONTENT_DATA):
        bl = json.loads(r["stats_json"])["conv_id"]["bloom"]
        assert "b64" not in bl
        assert bl["ref"].startswith(os.path.join(t._meta_dir, "blooms"))
        assert bl["key"] == r["path"]
        assert bl["m"] >= 1024 and bl["t"] == "str"
    # the bloomed manifest stays within ~2x of an unbloomed twin's
    t2 = Table.create(
        os.path.join(tmp_warehouse, "lean2"), "conv_id string, turn_idx int, text string"
    )
    df = spark.range(20_000).selectExpr(
        "concat('conv_', lpad(cast(id % 200 as string), 6, '0')) as conv_id",
        "cast(id as int) as turn_idx", "concat('text ', id) as text",
    )
    t2.append_dataframe(df.repartition(12, "conv_id"))
    assert _manifest_bytes(t) < 2 * _manifest_bytes(t2), (
        _manifest_bytes(t), _manifest_bytes(t2)
    )
    # exactly one sidecar file for the single append batch
    sidecars = os.listdir(os.path.join(t._meta_dir, "blooms"))
    assert len(sidecars) == 1


def test_sidecar_probe_prunes_and_is_lazy(spark, tmp_warehouse):
    t = _mk(spark, os.path.join(tmp_warehouse, "lazy"))
    n_files = len(t.files(content=mf.CONTENT_DATA))
    bloom._SIDECAR_CACHE.clear()
    before = METRICS.get("bloom.sidecar_loads")
    # point lookup: bloom pruning works off the sidecar
    assert t.scan(spark, filter="conv_id = 'conv_000123'").count() == 100
    assert t.last_scan_pruned_files > 0
    loads_first = METRICS.get("bloom.sidecar_loads") - before
    assert loads_first == 1  # one batch → one sidecar → one load
    # repeated probes hit the cache: no further IO
    t.scan(spark, filter="conv_id = 'conv_000077'").count()
    assert METRICS.get("bloom.sidecar_loads") - before == loads_first
    # absent key prunes everything (no false negatives on present keys
    # is covered by test_bloom)
    t.scan(spark, filter="conv_id = 'conv_999999'").count()
    assert t.last_scan_pruned_files == n_files
    # bounds-excluded files never probe: a range predicate on turn_idx
    # needs no bitmap at all
    bloom._SIDECAR_CACHE.clear()
    before2 = METRICS.get("bloom.sidecar_loads")
    t.scan(spark, filter="turn_idx < 0").count()
    assert METRICS.get("bloom.sidecar_loads") == before2


def test_missing_sidecar_degrades_to_keep(spark, tmp_warehouse):
    t = _mk(spark, os.path.join(tmp_warehouse, "miss"), n_files=6)
    assert t.scan(spark, filter="conv_id = 'conv_000103'").count() == 100
    pruned_with = t.last_scan_pruned_files
    for fn in os.listdir(os.path.join(t._meta_dir, "blooms")):
        os.unlink(os.path.join(t._meta_dir, "blooms", fn))
    bloom._SIDECAR_CACHE.clear()
    # bloom gone: only min/max pruning remains, and the scan is still
    # correct — a lost sidecar can cost IO, never rows
    assert t.scan(spark, filter="conv_id = 'conv_000103'").count() == 100
    assert t.last_scan_pruned_files < pruned_with


def test_orphan_cleanup_sweeps_unreferenced_sidecars(spark, tmp_warehouse):
    from iceberg_compaction_spark.operators.maintenance import (
        clean_orphan_files,
        expire_snapshots,
    )

    t = _mk(spark, os.path.join(tmp_warehouse, "sweep"), n_files=6)
    blooms_dir = os.path.join(t._meta_dir, "blooms")
    first_sidecars = set(os.listdir(blooms_dir))
    # a second append writes a second sidecar
    t.append_dataframe(
        spark.range(1000).selectExpr(
            "concat('extra_', id) as conv_id", "cast(id as int) as turn_idx",
            "'x' as text",
        ).coalesce(1)
    )
    assert len(os.listdir(blooms_dir)) == 2
    # referenced sidecars survive cleanup
    removed = clean_orphan_files(t)
    assert set(os.listdir(blooms_dir)) >= first_sidecars
    # expire the first snapshot and rewrite the table: first batch's
    # files leave every manifest → its sidecar becomes sweepable
    import time as _time

    from iceberg_compaction_spark.operators.delete_where import delete_where

    delete_where(spark, t, "conv_id < 'extra'")  # metadata-drops batch-1 files
    expire_snapshots(t, retain_last=1)
    removed = clean_orphan_files(t)
    left = set(os.listdir(blooms_dir))
    assert not (left & first_sidecars), (left, first_sidecars)
    # the surviving batch still scans fine
    assert t.scan(spark).count() == 1000


def test_df_prune_path_probes_sidecars(spark, tmp_warehouse):
    """Scan pruning probes bloom sidecars from a cold sidecar cache, and
    the point lookup stays exact."""
    t = _mk(spark, os.path.join(tmp_warehouse, "dfbloom"))
    n_files = len(t.files(content=mf.CONTENT_DATA))
    bloom._SIDECAR_CACHE.clear()
    assert t.scan(spark, filter="conv_id = 'conv_000123'").count() == 100
    assert t.last_scan_pruned_files > 0
    t.scan(spark, filter="conv_id = 'conv_999999'").count()
    assert t.last_scan_pruned_files == n_files
