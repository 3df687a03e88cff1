"""Changelog (CDC) scan: the row-level change stream between two
snapshots — inserts AND deletes — like Iceberg's changelog table, built
from the same primitives the engine already has (delta manifests, MoR
scans, hidden columns).

``incremental_scan`` (sources/table.py) answers "what rows were
appended"; a derived-pipeline consumer also needs "what rows
disappeared" (MERGE updates, DELETE WHERE, retention). Semantics per
commit, walking the snapshot chain oldest→newest:

  * data files ADDED by the commit → their rows as ``insert``
    (equality deletes only kill LOWER sequence numbers, so a commit's
    own inserts are never killed by its own delete files);
  * delete files ADDED → the parent-snapshot rows they kill as
    ``delete`` (position deletes join on (file, pos); equality deletes
    semi-join on keys — every live parent row has a lower seq, so the
    key match is exact);
  * data files REMOVED (metadata deletes: DELETE WHERE fast path,
    expireData, rollback) → their parent-visible rows as ``delete``;
  * ``replace`` / ``rewrite_manifests`` / ``maintenance`` commits are
    SKIPPED: compaction moves bytes, not rows — the changelog is
    invariant under table maintenance, which is the whole point of
    separating logical change from physical layout.

A MERGE upsert therefore emits delete(old row) + insert(new row), the
standard CDC upsert pair, tagged with the committing snapshot id.

Scale: appends cost one scan of the added files only. Delete commits
scan the parent snapshot once, column-pruned, with the kill set joined
semi (broadcast below threshold) — O(parent scan) worst case per
delete commit, never O(history).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_compaction_spark.errors import ValidationError
from iceberg_compaction_spark.operators.mor import FILE_COL, POS_COL, SEQ_COL
from iceberg_compaction_spark.plans import delete_scope
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources import scan as scan_mod
from iceberg_compaction_spark.sources.table import Table

CHANGE_TYPE_COL = "_change_type"
CHANGE_SNAPSHOT_COL = "_change_snapshot_id"

UPDATE_BEFORE = "update_before"
UPDATE_AFTER = "update_after"

_NO_CHANGE_OPS = ("replace", "rewrite_manifests", "maintenance")


def _chain(table: Table, from_sid: int | None, to_sid: int) -> list[int]:
    """Snapshot ids after ``from_sid`` up to and including ``to_sid``,
    oldest first. Raises when ``from_sid`` is not an ancestor."""
    out = []
    s: int | None = to_sid
    while s is not None and s != from_sid:
        out.append(s)
        try:
            s = table.snapshot(s)["parent_id"]
        except FileNotFoundError:
            raise ValidationError(
                f"changelog chain {from_sid}..{to_sid} crosses expired snapshot {s}"
            ) from None
    if s != from_sid:
        raise ValidationError(f"{from_sid} is not an ancestor of {to_sid}")
    out.reverse()
    return out


def changelog_scan(
    spark: SparkSession,
    table: Table,
    from_snapshot_id: int | None,
    to_snapshot_id: int | None = None,
    columns=None,
) -> DataFrame:
    """Row-level changes in (``from_snapshot_id``, ``to_snapshot_id``]:
    user columns + ``_change_type`` ('insert' | 'delete') +
    ``_change_snapshot_id``. ``from_snapshot_id=None`` = since table
    creation."""
    to_sid = to_snapshot_id if to_snapshot_id is not None else table.current_snapshot_id
    if to_sid is None:
        raise ValidationError("table has no snapshot")
    user_cols = list(columns or table.user_columns())
    empty = (
        spark.createDataFrame([], schema=table.schema())
        .select(*user_cols)
        .withColumn(CHANGE_TYPE_COL, F.lit("insert"))
        .withColumn(CHANGE_SNAPSHOT_COL, F.lit(0).cast("long"))
        .limit(0)
    )
    frames: list[DataFrame] = []
    for sid in _chain(table, from_snapshot_id, to_sid):
        snap = table.snapshot(sid)
        if snap["operation"] in _NO_CHANGE_OPS:
            continue
        parent = snap["parent_id"]
        cur = {r["path"]: r for r in table.manifest(sid)}
        par = {r["path"]: r for r in table.manifest(parent)} if parent is not None else {}
        added = [r for p, r in cur.items() if p not in par]
        removed = [r for p, r in par.items() if p not in cur]
        removed_data = [r for r in removed if r["content"] == mf.CONTENT_DATA]
        removed_pos = [r for r in removed if r["content"] == mf.CONTENT_POS_DEL]
        removed_eq = [r for r in removed if r["content"] == mf.CONTENT_EQ_DEL]
        added_data = [r for r in added if r["content"] == mf.CONTENT_DATA]
        added_pos = [r for r in added if r["content"] == mf.CONTENT_POS_DEL]
        added_eq = [r for r in added if r["content"] == mf.CONTENT_EQ_DEL]

        def _tag(df: DataFrame, kind: str) -> DataFrame:
            return df.select(*user_cols).withColumn(
                CHANGE_TYPE_COL, F.lit(kind)
            ).withColumn(CHANGE_SNAPSHOT_COL, F.lit(sid).cast("long"))

        if added_data:
            frames.append(_tag(table.read_data_rows(spark, added_data), "insert"))

        if parent is not None and (removed_data or added_pos or added_eq):
            par_data = [r for r in par.values() if r["content"] == mf.CONTENT_DATA]
            if removed_data:
                # the removed files themselves ARE the scope: scan just
                # them (MoR-resolved at the parent) instead of scanning
                # the whole parent and semi-joining it down
                frames.append(
                    _tag(
                        table.scan(
                            spark,
                            snapshot_id=parent,
                            with_hidden=True,
                            paths=[r["path"] for r in removed_data],
                        ),
                        "delete",
                    )
                )
            if added_pos:
                # only parent files a pos-delete's _file bounds can
                # reference need scanning (delete_scope twin, per file)
                target_paths = [
                    r["path"]
                    for r in par_data
                    if any(
                        delete_scope.pos_delete_applicable(d, [r["path"]])
                        for d in added_pos
                    )
                ]
                if target_paths:
                    par_scan = table.scan(
                        spark, snapshot_id=parent, with_hidden=True, paths=target_paths
                    )
                    refs = scan_mod.read_position_deletes(
                        spark, [r["path"] for r in added_pos]
                    )
                    frames.append(
                        _tag(
                            par_scan.join(refs, [FILE_COL, POS_COL], "left_semi"),
                            "delete",
                        )
                    )
            if added_eq:
                # only parent files whose own key bounds overlap some
                # added eq-delete's bounds (and whose seq is older) can
                # lose rows — a one-partition MERGE's CDC costs one
                # partition's scan, not the parent table's
                counts = delete_scope.eq_delete_counts(par_data, added_eq)
                target_paths = [r["path"] for r in par_data if counts[r["path"]]]
                if target_paths:
                    par_scan = table.scan(
                        spark, snapshot_id=parent, with_hidden=True, paths=target_paths
                    )
                    for keys, grp in _group_eq(added_eq):
                        eq_df = scan_mod.read_equality_deletes(
                            spark, grp, list(keys), table.physical_schema()
                        )
                        key_df = eq_df.select(*keys).distinct()
                        # every live parent row has seq < the new delete's
                        # seq, so a plain key semi-join is exact
                        frames.append(
                            _tag(par_scan.join(key_df, list(keys), "left_semi"), "delete")
                        )

        # REMOVING a delete file resurrects rows (rollback of a delete):
        # rows visible at THIS snapshot that the removed delete file was
        # suppressing at the parent are inserts. A row visible now and
        # matched by the removed delete was necessarily hidden before
        # (pos refs are exact; for eq, row_seq < delete_seq ⇒ it was
        # covered — any other still-live delete would hide it now too).
        if removed_pos or removed_eq:
            cur_data = [r for r in cur.values() if r["content"] == mf.CONTENT_DATA]
            resurrected: list[DataFrame] = []
            if removed_pos:
                target_paths = [
                    r["path"]
                    for r in cur_data
                    if any(
                        delete_scope.pos_delete_applicable(d, [r["path"]])
                        for d in removed_pos
                    )
                ]
                if target_paths:
                    cur_scan = table.scan(
                        spark, snapshot_id=sid, with_hidden=True, paths=target_paths
                    )
                    refs = scan_mod.read_position_deletes(
                        spark, [r["path"] for r in removed_pos]
                    )
                    resurrected.append(
                        cur_scan.join(refs, [FILE_COL, POS_COL], "left_semi")
                    )
            if removed_eq:
                counts = delete_scope.eq_delete_counts(cur_data, removed_eq)
                target_paths = [r["path"] for r in cur_data if counts[r["path"]]]
                if target_paths:
                    cur_scan = table.scan(
                        spark, snapshot_id=sid, with_hidden=True, paths=target_paths
                    )
                    for keys, grp in _group_eq(removed_eq):
                        eq_df = scan_mod.read_equality_deletes(
                            spark, grp, list(keys), table.physical_schema()
                        ).withColumnRenamed(SEQ_COL, "_del_seq")
                        resurrected.append(
                            cur_scan.join(
                                F.broadcast(eq_df.select(*keys, "_del_seq").distinct()),
                                list(keys),
                            )
                            .filter(F.col(SEQ_COL) < F.col("_del_seq"))
                            .drop("_del_seq")
                        )
            if resurrected:
                res = resurrected[0]
                for r in resurrected[1:]:
                    res = res.unionByName(r, allowMissingColumns=True)
                # one insert per physical row even when several removed
                # delete files covered it
                frames.append(_tag(res.dropDuplicates([FILE_COL, POS_COL]), "insert"))

    out = empty
    for f in frames:
        out = out.unionByName(f)
    return out


def compute_update_images(
    changes: DataFrame,
    keys: list[str],
    remove_carryovers: bool = True,
) -> DataFrame:
    """Refine a raw ``changelog_scan`` stream into the four-type CDC
    feed downstream consumers expect — Iceberg's
    ``create_changelog_view`` options (``compute_updates`` +
    ``remove_carryovers``, SparkChangelogTable semantics), relationally:

      * CARRYOVERS — a delete and an insert of the IDENTICAL full row
        inside one commit — are rewrite noise (a copy-on-write MERGE
        re-writes every untouched row of a touched file as such a
        pair); min(n_inserts, n_deletes) pairs cancel per distinct row
        content per commit, preserving genuine duplicate multiplicity.
      * UPDATES — a key with both a delete and an insert in one commit
        after carryover removal changed value: its delete row becomes
        ``update_before`` (the old image) and its insert row
        ``update_after`` (the new image). Pure inserts / deletes keep
        their types.

    Precondition (Iceberg's too): ``keys`` is a row identity — at most
    one live row per key per snapshot — so a commit nets at most one
    delete + one insert per key after carryovers cancel. MERGE /
    DELETE WHERE / replication commits all satisfy this by
    construction.

    Scale shape: two change-set-sized shuffles, never a table scan —
    one group-by on (commit, full row) for carryover cancellation, one
    window on (commit, key) for pairing. O(changed rows), compaction-
    invariant like the underlying changelog."""
    cols = [
        c for c in changes.columns if c not in (CHANGE_TYPE_COL, CHANGE_SNAPSHOT_COL)
    ]
    is_ins = (F.col(CHANGE_TYPE_COL) == "insert").cast("int")
    out = changes
    if remove_carryovers:
        counted = out.groupBy(CHANGE_SNAPSHOT_COL, *cols).agg(
            F.sum(is_ins).alias("_n_ins"),
            F.sum(1 - is_ins).alias("_n_del"),
        )
        pairs = F.least(F.col("_n_ins"), F.col("_n_del"))
        kept = counted.select(
            CHANGE_SNAPSHOT_COL,
            *cols,
            (F.col("_n_ins") - pairs).alias("_k_ins"),
            (F.col("_n_del") - pairs).alias("_k_del"),
        )

        def _replay(count_col: str, kind: str) -> DataFrame:
            return (
                kept.filter(F.col(count_col) > 0)
                .withColumn(
                    "_dup", F.explode(F.sequence(F.lit(1), F.col(count_col)))
                )
                .withColumn(CHANGE_TYPE_COL, F.lit(kind))
                .select(*changes.columns)
            )

        out = _replay("_k_ins", "insert").unionByName(_replay("_k_del", "delete"))
    from pyspark.sql import Window

    w = Window.partitionBy(CHANGE_SNAPSHOT_COL, *keys)
    has_ins = F.max(is_ins).over(w)
    has_del = F.max(1 - is_ins).over(w)
    retagged = (
        F.when(
            (F.col(CHANGE_TYPE_COL) == "delete") & (has_ins == 1),
            F.lit(UPDATE_BEFORE),
        )
        .when(
            (F.col(CHANGE_TYPE_COL) == "insert") & (has_del == 1),
            F.lit(UPDATE_AFTER),
        )
        .otherwise(F.col(CHANGE_TYPE_COL))
    )
    return out.withColumn(CHANGE_TYPE_COL, retagged).select(*changes.columns)


def _group_eq(rows: list[dict]):
    by_keys: dict[tuple, list] = {}
    for r in rows:
        by_keys.setdefault(tuple(r["equality_ids"]), []).append(r)
    return sorted(by_keys.items())
