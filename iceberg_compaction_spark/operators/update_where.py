"""Row-level UPDATE ... SET ... WHERE, merge-on-read style.

Completes the DML triangle next to MERGE INTO (operators/merge_into)
and DELETE WHERE (operators/delete_where) using the same primitives
the reference engine has (position-delete files + new data files in
one atomic commit; the J1 anti-join resolves reads): matching rows die
as (file, pos) tombstones, their updated images land in fresh data
files. Compaction later folds the tombstones in.

Cost model (the 100-TB shape):
  * file pruning drops files the predicate provably misses — only
    may-match files are scanned (bounds + blooms, type-aware);
  * matched rows are written once; untouched rows are NEVER rewritten
    (that's the merge-on-read point — a copy-on-write UPDATE would
    rewrite every straddling file);
  * one commit carries deletes + adds: readers see the update
    atomically, and a crash before the commit leaves only orphan files
    that maintenance sweeps.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from iceberg_compaction_spark.errors import ValidationError
from iceberg_compaction_spark.operators.mor import FILE_COL, POS_COL
from iceberg_compaction_spark.plans import pruning
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources.table import Table


def update_where(
    spark: SparkSession,
    table: Table,
    predicate: str,
    assignments: Mapping[str, str],
    mode: str | None = None,
) -> dict:
    """UPDATE rows matching ``predicate``: ``assignments`` maps column
    name → SQL expression evaluated against the OLD row (standard SQL
    UPDATE semantics — all right-hand sides see pre-update values).
    Returns {"updated_rows": n, "snapshot_id": sid}.

    ``mode`` (``None`` reads the ``write.update.mode`` table property,
    default 'mor'): ``"mor"`` writes
    position-delete tombstones + new images only for MATCHED rows;
    ``"cow"`` rewrites every may-match file whole (matched rows
    transformed, the rest copied, existing tombstones folded in like
    compaction) and replaces them in the same commit — no delete files
    afterwards, at straddler-bytes write amplification.

    The partition column is recomputed for updated rows when the
    table is partitioned (an UPDATE that moves ``ts`` moves the row's
    partition, like Iceberg's hidden partitioning would)."""
    if mode is None:
        mode = table.get_property("write.update.mode", "mor")
    if mode not in ("mor", "cow"):
        raise ValueError("mode must be 'mor' or 'cow'")
    user_cols = table.user_columns()
    part = table.meta.get("partition")
    for col in assignments:
        if col not in user_cols:
            raise ValidationError(f"no such column {col}")
        if part and col == part["field"]:
            raise ValidationError(
                "cannot assign the partition column directly; update its "
                "source expression inputs instead"
            )

    # may-match files only (type-aware bounds + bloom pruning); the
    # full predicate still runs on the scanned rows. Classification is
    # the shared three-way split (plans/pruning).
    data_rows = table.files(content=mf.CONTENT_DATA)
    verdicts = pruning.classify_data_rows(
        data_rows, predicate, table.column_type_categories()
    )
    candidates = [r["path"] for r in data_rows if verdicts[r["path"]] != "pruned"]

    if not candidates:
        return {"updated_rows": 0, "snapshot_id": table.current_snapshot_id}

    raw_exprs = [
        F.expr(assignments[c]) if c in assignments else F.col(c) for c in user_cols
    ]
    apply_exprs = [e.alias(c) for c, e in zip(user_cols, raw_exprs)]

    if mode == "cow":
        # rewrite the may-match files whole: transformed images for
        # matched rows, verbatim copies otherwise (NULL predicate =
        # not matched), existing tombstones folded in by the MoR scan
        scanned = table.scan(spark, paths=candidates).persist()
        try:
            n_updated = scanned.filter(F.expr(predicate)).count()
            if n_updated == 0:
                return {"updated_rows": 0, "snapshot_id": table.current_snapshot_id}
            hit = F.coalesce(F.expr(predicate), F.lit(False))
            rewritten = scanned.select(
                *[
                    F.when(hit, e).otherwise(F.col(c)).alias(c)
                    for c, e in zip(user_cols, raw_exprs)
                ]
            )
            infos = table.write_data_files(rewritten)
        finally:
            scanned.unpersist()
        sid = table.commit(
            "update",
            added=infos,
            removed_paths=sorted(candidates),
            extra_summary={"updated_rows": n_updated},
        )
        return {"updated_rows": n_updated, "snapshot_id": sid}

    # MoR-resolved matching rows with their physical addresses (scan
    # applies existing deletes, so an already-deleted row never
    # resurrects as an updated copy)
    matched = (
        table.scan(spark, with_hidden=True, paths=candidates)
        .filter(F.expr(predicate))
        .persist()  # one execution feeds the tombstones AND the images
    )
    try:
        updated = matched.select(*apply_exprs)
        infos_data = table.write_data_files(updated)
        n_updated = sum(fi.record_count for fi in infos_data)
        if n_updated == 0:
            return {"updated_rows": 0, "snapshot_id": table.current_snapshot_id}
        infos_del = table.write_delete_files(
            matched.select(FILE_COL, POS_COL), [FILE_COL, POS_COL], mf.CONTENT_POS_DEL
        )
    finally:
        matched.unpersist()

    sid = table.commit(
        "update",
        added=list(infos_del) + list(infos_data),
        extra_summary={"updated_rows": n_updated},
    )
    return {"updated_rows": n_updated, "snapshot_id": sid}
