"""Row-level DELETE WHERE, merge-on-read style.

The engine's delete primitives (position/equality delete files, the J1
anti-join) compose into the SQL-user-facing op: delete every row
matching a predicate, without rewriting data.

Two-tier plan, same idea as Iceberg's metadata delete:
  1. **whole files** whose manifest bounds prove EVERY row matches are
     dropped by metadata only (no read, no write) — for partition- or
     time-aligned predicates this is most of the work;
  2. **straddling files** (bounds overlap the predicate) are scanned
     with the predicate and their matching (file, pos) pairs land in a
     position-delete file.
One atomic commit carries both. Cost: a filtered scan of straddling
files only; predicate pushdown + file pruning keep that small.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from iceberg_compaction_spark.operators.mor import FILE_COL, POS_COL
from iceberg_compaction_spark.plans import pruning
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources.table import Table


def delete_where(
    spark: SparkSession, table: Table, predicate: str, mode: str | None = None
) -> dict:
    """Delete all rows matching ``predicate`` in one atomic commit.
    Returns {"dropped_files": n, "deleted_rows": m, "snapshot_id": sid}.

    The whole-file fast path uses ``pruning.file_all_match`` — the
    STRICT evaluator whose uncertainty default is "don't drop": unknown
    bounds, type-mismatched literals, big-int precision, or any
    conjunct the parser couldn't model all force the file onto the
    row-scanned straddling path (the may-match convention that is
    conservative for pruning would be anti-conservative here).

    ``mode`` (Iceberg's write.delete.mode):
      * ``"mor"`` (default) — straddling files get position-delete
        tombstones; cheap writes, deletes resolve at read time until
        compaction folds them in;
      * ``"cow"`` — straddling files are REWRITTEN without the
        matching rows and replaced in the same commit; no delete files
        exist afterwards, reads pay nothing. Write amplification =
        the straddler bytes (whole-file metadata drops still apply
        first, so a partition-aligned delete rewrites nothing either
        way).
    ``None`` reads the table property ``write.delete.mode``
    (default 'mor'), Iceberg-style."""
    if mode is None:
        mode = table.get_property("write.delete.mode", "mor")
    if mode not in ("mor", "cow"):
        raise ValueError("mode must be 'mor' or 'cow'")
    data_rows = table.files(content=mf.CONTENT_DATA)
    # three-way split via the shared classifier
    verdicts = pruning.classify_data_rows(
        data_rows, predicate, table.column_type_categories()
    )
    full_drop: list[str] = []
    candidates: list[dict] = []
    for r in data_rows:
        v = verdicts[r["path"]]
        if v == "pruned":
            continue  # provably no matching row: untouched
        if v == "all":
            full_drop.append(r["path"])
        else:
            candidates.append(r)

    added: list[mf.FileInfo] = []
    removed: list[str] = list(full_drop)
    deleted_rows = 0
    if candidates:
        if mode == "cow":
            # rewrite straddlers WITHOUT the matching rows; replace the
            # originals in the same commit. MoR-resolved scan so rows an
            # EXISTING delete already killed never resurrect in the
            # rewrite (and the rewrite folds those tombstones in, like
            # compaction). NULL-predicate rows survive (SQL DELETE
            # semantics), hence the coalesce.
            scanned = table.scan(
                spark, paths=[r["path"] for r in candidates]
            ).persist()
            try:
                matched = scanned.filter(F.expr(predicate)).count()
                if matched > 0:
                    survivors = scanned.filter(
                        ~F.coalesce(F.expr(predicate), F.lit(False))
                    )
                    added = table.write_data_files(survivors)
                    removed += [r["path"] for r in candidates]
                    deleted_rows = matched
            finally:
                scanned.unpersist()
        else:
            # MoR-RESOLVED read of the straddlers: rows an existing
            # tombstone (or equality delete) already killed never get a
            # second tombstone, so deleted_rows counts live rows only —
            # same accounting the full-drop path guarantees — and
            # repeated overlapping DELETEs don't accrete duplicate
            # (file, pos) entries
            df = table.scan(
                spark, paths=[r["path"] for r in candidates], with_hidden=True
            )
            hits = df.filter(F.expr(predicate)).select(FILE_COL, POS_COL)
            added = table.write_delete_files(hits, [FILE_COL, POS_COL], mf.CONTENT_POS_DEL)
            deleted_rows = sum(fi.record_count for fi in added)
            if deleted_rows == 0:
                added = []  # nothing matched: don't commit an empty delete file
    # full-drop files are removed by metadata, but their record_count
    # includes rows ALREADY dead via existing position-delete
    # tombstones — subtract those per-file distinct refs (one narrow,
    # delete-set-sized scan, as fast_count does) so deleted_rows is the
    # number of live rows this DELETE actually removed. With live
    # equality deletes the figure stays an upper bound (value-dependent
    # kills are unknowable from metadata); exact row accounting there
    # would need a full MoR scan of the dropped files.
    full_drop_set = set(full_drop)
    dead_by_file: dict[str, int] = {}
    pos_paths = [r["path"] for r in table.files(content=mf.CONTENT_POS_DEL)]
    if full_drop_set and pos_paths:
        from iceberg_compaction_spark.sources import scan as scan_mod

        drop_df = spark.createDataFrame(
            [(p,) for p in sorted(full_drop_set)], f"{FILE_COL} string"
        )
        refs = (
            scan_mod.read_position_deletes(spark, pos_paths)
            .join(F.broadcast(drop_df), on=FILE_COL, how="left_semi")
            .distinct()
            .groupBy(FILE_COL)
            .count()
        )
        dead_by_file = {r[FILE_COL]: r["count"] for r in refs.collect()}
    deleted_rows += sum(
        r["record_count"] - dead_by_file.get(r["path"], 0)
        for r in data_rows
        if r["path"] in full_drop_set
    )

    if not removed and not added:
        return {
            "dropped_files": 0,
            "deleted_rows": 0,
            "snapshot_id": table.current_snapshot_id,
        }
    sid = table.commit("delete", added=added, removed_paths=removed)
    return {
        "dropped_files": len(full_drop),
        "deleted_rows": deleted_rows,
        "snapshot_id": sid,
    }
