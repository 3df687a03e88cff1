"""Aggregate pushdown into the manifest: answer COUNT(*) (optionally
filtered) from per-file metadata, scanning only the files the bounds
cannot decide.

Iceberg engines answer ``SELECT count(*)`` from manifest
``record_count`` sums without opening a single data file; with a
predicate, the same three-way split DELETE WHERE uses applies:

  * files whose bounds prove NO row matches  → contribute 0 (pruned);
  * files whose bounds prove EVERY row matches (strict
    ``file_all_match``) → contribute ``record_count`` from metadata;
  * straddling files → scanned with the predicate (residual count).

At 10^12 rows a partition-aligned predicate (`ts >= day`) makes the
scan term empty or tiny — the count is a metadata operation, which is
the difference between an instant dashboard and a cluster-wide scan.

Delete handling (correct first, fast when the table shape allows):
  * **equality deletes present** → full MoR scan count (which keys die
    depends on row values — metadata can't know);
  * **position deletes only** → still metadata-shaped: pos-delete
    entries are exact (file, pos) references, so the per-file death
    toll is a NARROW scan of the delete files alone (distinct refs
    grouped by target file — delete-set-sized, never table-sized).
    Metadata-decided files contribute ``record_count − refs(file)``;
    only straddlers are scanned (MoR-resolved);
  * no deletes → pure manifest arithmetic.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from iceberg_compaction_spark.plans import pruning
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources import scan as scan_mod
from iceberg_compaction_spark.sources.table import Table


def fast_partition_counts(
    spark: SparkSession,
    table: Table,
    snapshot_id: int | None = None,
) -> dict:
    """Per-partition row counts → {"counts": {partition: rows},
    "metadata_files": a, "scanned_files": b}. Partition purity (every
    data file holds exactly one partition value) makes this pure
    manifest arithmetic on delete-free tables; under POSITION deletes
    the per-file death toll comes from the narrow delete scan (same
    trick as ``fast_count``); equality deletes force a grouped MoR
    scan. The 'rows per day' dashboard over a 10¹²-row table becomes a
    metadata query."""
    rows = table.manifest(snapshot_id)
    data_rows = [r for r in rows if r["content"] == mf.CONTENT_DATA]
    pos_rows = [r for r in rows if r["content"] == mf.CONTENT_POS_DEL]
    has_eq = any(r["content"] == mf.CONTENT_EQ_DEL for r in rows)
    part = table.meta.get("partition")

    if has_eq or not part:
        # value-dependent deletes, or no partition column: grouped scan
        field = part["field"] if part else None
        df = table.scan(spark, snapshot_id=snapshot_id, columns=[field] if field else None)
        if field is None:
            return {
                "counts": {"": df.count()},
                "metadata_files": 0,
                "scanned_files": len(data_rows),
            }
        got = df.groupBy(field).count().collect()
        return {
            "counts": {r[field]: r["count"] for r in got},
            "metadata_files": 0,
            "scanned_files": len(data_rows),
        }

    refs_by_file: dict[str, int] = {}
    if pos_rows:
        from iceberg_compaction_spark.operators.mor import FILE_COL

        refs = (
            scan_mod.read_position_deletes(spark, [r["path"] for r in pos_rows])
            .distinct()
            .groupBy(FILE_COL)
            .count()
        )
        refs_by_file = {r[FILE_COL]: r["count"] for r in refs.collect()}

    counts: dict[str, int] = {}
    for r in data_rows:
        p = r.get("partition") or ""
        counts[p] = counts.get(p, 0) + r["record_count"] - refs_by_file.get(r["path"], 0)
    return {
        "counts": {p: n for p, n in counts.items() if n > 0},
        "metadata_files": len(data_rows),
        "scanned_files": 0,
    }


def fast_min_max(
    spark: SparkSession,
    table: Table,
    column: str,
    snapshot_id: int | None = None,
) -> dict:
    """MIN/MAX aggregate pushdown into the manifest → {"min": …,
    "max": …, "metadata_files": a, "scanned_files": b}.

    Metadata-only when: no delete files exist (a delete could remove
    the extreme row), every data file carries known bounds for the
    column with a known null count, and the column's type category is
    numeric or timestamp/date — parquet STRING statistics may be
    truncated bounds rather than actual values, so strings always take
    the scan path (correct-first). Falls back to a one-column MoR scan
    aggregate otherwise."""
    rows = table.manifest(snapshot_id)
    data_rows = [r for r in rows if r["content"] == mf.CONTENT_DATA]
    has_deletes = any(r["content"] != mf.CONTENT_DATA for r in rows)
    cat = table.column_type_categories().get(column)

    decided = not has_deletes and cat in ("num", "ts") and bool(data_rows)
    mins: list = []
    maxs: list = []
    if decided:
        for r in data_rows:
            try:
                st = json.loads(r.get("stats_json") or "{}").get(column)
            except ValueError:
                st = None
            # a one-sided stats entry (min known, max unknown or vice
            # versa) is just as undecidable as fully-missing bounds —
            # without this, max(maxs) over a None raises TypeError
            bounds_unknown = st is None or st.get("min") is None or st.get("max") is None
            if (
                not st
                or st.get("nulls") is None
                or (bounds_unknown and st["nulls"] < r["record_count"])
            ):
                decided = False  # unknown bounds with non-null rows present
                break
            if not bounds_unknown:
                mins.append(st["min"])
                maxs.append(st["max"])
    if decided and mins:
        return {
            "min": min(mins),
            "max": max(maxs),
            "metadata_files": len(data_rows),
            "scanned_files": 0,
        }
    if decided and not mins:  # every row is NULL
        return {
            "min": None,
            "max": None,
            "metadata_files": len(data_rows),
            "scanned_files": 0,
        }

    row = (
        table.scan(spark, snapshot_id=snapshot_id, columns=[column])
        .agg(F.min(column).alias("mn"), F.max(column).alias("mx"))
        .collect()[0]
    )
    return {
        "min": row["mn"],
        "max": row["mx"],
        "metadata_files": 0,
        "scanned_files": len(data_rows),
    }


def fast_count(
    spark: SparkSession,
    table: Table,
    predicate: str | None = None,
    snapshot_id: int | None = None,
) -> dict:
    """→ {"count": n, "metadata_files": a, "scanned_files": b,
    "pruned_files": c}. Exact always; metadata-only when the table has
    no delete files and the bounds decide every file."""
    rows = table.manifest(snapshot_id)
    data_rows = [r for r in rows if r["content"] == mf.CONTENT_DATA]
    pos_rows = [r for r in rows if r["content"] == mf.CONTENT_POS_DEL]
    has_eq = any(r["content"] == mf.CONTENT_EQ_DEL for r in rows)

    if has_eq:
        # which rows an equality delete kills depends on row VALUES:
        # metadata sums can't know. Use the (pruned, residual-filtered)
        # MoR scan.
        df = table.scan(spark, snapshot_id=snapshot_id, filter=predicate)
        return {
            "count": df.count(),
            "metadata_files": 0,
            "scanned_files": len(data_rows) - table.last_scan_pruned_files,
            "pruned_files": table.last_scan_pruned_files,
        }

    # position deletes are exact per-file (file, pos) references: the
    # per-file death toll comes from ONE narrow scan of the delete
    # files (delete-set-sized), after which metadata arithmetic works
    refs_by_file: dict[str, int] = {}
    if pos_rows:
        from iceberg_compaction_spark.operators.mor import FILE_COL

        refs = (
            scan_mod.read_position_deletes(spark, [r["path"] for r in pos_rows])
            .distinct()  # the same (file, pos) may appear in several delete files
            .groupBy(FILE_COL)
            .count()
        )
        refs_by_file = {r[FILE_COL]: r["count"] for r in refs.collect()}

    def _dead(r: dict) -> int:
        return refs_by_file.get(r["path"], 0)

    if not predicate:
        return {
            "count": sum(r["record_count"] - _dead(r) for r in data_rows),
            "metadata_files": len(data_rows),
            "scanned_files": 0,
            "pruned_files": 0,
        }

    # three-way split (pruned / all-match / straddle), the same
    # evaluator scan pruning uses
    verdicts = pruning.classify_data_rows(
        data_rows, predicate, table.column_type_categories()
    )
    meta_count = 0
    meta_files = pruned = 0
    straddlers: list[dict] = []
    for r in data_rows:
        v = verdicts[r["path"]]
        if v == "pruned":
            pruned += 1
        elif v == "all":
            # EVERY row of the file matches — including its deleted
            # rows, so they subtract exactly
            meta_count += r["record_count"] - _dead(r)
            meta_files += 1
        else:
            straddlers.append(r)

    scanned = 0
    if straddlers:
        # MoR-resolved scan restricted to the straddling files (delete
        # scoping inside scan() attaches only applicable delete files)
        scanned = (
            table.scan(
                spark,
                snapshot_id=snapshot_id,
                paths=[r["path"] for r in straddlers],
                filter=predicate,
            ).count()
        )
    return {
        "count": meta_count + scanned,
        "metadata_files": meta_files,
        "scanned_files": len(straddlers),
        "pruned_files": pruned,
    }
