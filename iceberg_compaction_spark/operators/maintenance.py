"""Table maintenance ops beyond compaction (C12): snapshot expiry,
orphan-file cleanup, dangling-delete cleanup, manifest rewrite.

The reference specs these as its maintainer catalog
(``/root/reference/LEARNING_AND_ARCHITECTURE.md:173-179``:
cleanOrphanFiles, cleanDanglingDeleteFiles, expireSnapshots,
expireData) — required by the north rule ("snapshot expire",
retention semantics verified).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from iceberg_compaction_spark.errors import ValidationError
from iceberg_compaction_spark.operators.mor import FILE_COL, POS_COL, SEQ_COL
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources import scan as scan_mod
from iceberg_compaction_spark.sources.table import Table


@dataclass
class ExpiryResult:
    expired_snapshot_ids: list
    retained_snapshot_ids: list
    deleted_data_files: int
    deleted_bytes: int


def expire_snapshots(
    table: Table,
    older_than_ms: int | None = None,
    retain_last: int = 1,
    delete_files: bool = True,
) -> ExpiryResult:
    """Drop snapshots older than ``older_than_ms`` while always
    retaining the current one and the newest ``retain_last``. Files
    referenced only by expired snapshots are deleted from storage.

    Retention semantics verified by tests: expired snapshots become
    unreadable (time travel fails), retained ones stay readable, and
    no live file is ever deleted.
    """
    snaps = table.snapshots()
    if not snaps:
        return ExpiryResult([], [], 0, 0)
    current = table.current_snapshot_id
    cutoff = older_than_ms if older_than_ms is not None else int(time.time() * 1000) + 1
    by_id = sorted(snaps, key=lambda s: s["snapshot_id"])
    newest = {s["snapshot_id"] for s in by_id[-max(retain_last, 1):]}
    # named refs pin retention: tags AND branch heads (a branch mid-
    # audit must stay readable until published or dropped) — plus the
    # FULL PARENT CHAIN of every ref: fast_forward_main's ancestry
    # check and the changelog chain walk follow parent_id through the
    # whole history of a ref, so expiring a branch-interior or
    # branch-ancestor snapshot would strand the ref (FileNotFoundError
    # mid-walk, WAP publish permanently broken for multi-commit
    # branches). Chains are walked on snapshot JSONs only (no manifest
    # IO); drop the ref to release its history.
    tagged = set(table.tags().values()) | {
        v for v in table.refs().values() if v is not None
    }
    for head in list(tagged):
        s = head
        while s is not None:
            tagged.add(s)
            try:
                s = table.snapshot(s)["parent_id"]
            except FileNotFoundError:  # pre-invariant history: stop clean
                break
    retained = [
        s["snapshot_id"]
        for s in by_id
        if s["snapshot_id"] == current
        or s["snapshot_id"] in newest
        or s["snapshot_id"] in tagged
        or s["timestamp_ms"] >= cutoff
    ]
    expired = [s["snapshot_id"] for s in by_id if s["snapshot_id"] not in retained]
    if not expired:
        return ExpiryResult([], retained, 0, 0)

    # Resolve every manifest BEFORE deleting anything: with delta
    # manifests, a snapshot's listing may read ancestors that are
    # themselves expiring.
    live_paths: set = set()
    for sid in retained:
        live_paths |= {r["path"] for r in table.manifest(sid)}
    expired_rows = {sid: table.manifest(sid) for sid in expired}
    # A retained delta whose chain crosses an expired snapshot would
    # become unreadable — collapse it into a standalone base first.
    expired_set = set(expired)
    for sid in retained:
        if table.resolution_ancestors(sid) & expired_set:
            table.materialize_base(sid)

    deleted = 0
    deleted_bytes = 0
    for sid in expired:
        for r in expired_rows[sid]:
            p = r["path"]
            if p not in live_paths and os.path.exists(p) and delete_files:
                deleted_bytes += os.path.getsize(p)
                os.unlink(p)
                deleted += 1
        for mp in (table._manifest_path(sid), table._delta_path(sid)):
            # sharded bases are directories; hard-linked shards shared
            # with retained snapshots survive this unlink by link count
            if os.path.isdir(mp):
                import shutil

                shutil.rmtree(mp)
            elif os.path.exists(mp):
                os.unlink(mp)
        os.unlink(table._snap_path(sid))
    return ExpiryResult(expired, retained, deleted, deleted_bytes)


def clean_orphan_files(
    table: Table,
    older_than_ms: int | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Remove data/delete files on storage that no retained snapshot
    references — the manifest-vs-listing anti-join. ``older_than_ms``
    guards in-flight writes (files newer than the cutoff are kept even
    if unreferenced), defaulting to now (tests) — production would use
    now − several hours.
    """
    import json as _json

    cutoff = older_than_ms if older_than_ms is not None else int(time.time() * 1000) + 1
    live: set = set()
    live_sidecars: set = set()
    for s in table.snapshots():
        for r in table.manifest(s["snapshot_id"]):
            live.add(r["path"])
            sj = r.get("stats_json") or ""
            if '"ref"' in sj:  # cheap filter before the JSON decode
                for st in _json.loads(sj).values():
                    bl = st.get("bloom") if isinstance(st, dict) else None
                    if bl and bl.get("ref"):
                        live_sidecars.add(bl["ref"])
    orphans = []
    for root in (table.data_dir, table.deletes_dir):
        for p in mf.list_parquet_files(root):
            if p not in live and os.path.getmtime(p) * 1000 < cutoff:
                orphans.append(p)
    # bloom sidecars referenced by NO snapshot's manifest (their data
    # files were expired or orphaned) are swept on the same cutoff
    blooms_dir = os.path.join(table._meta_dir, "blooms")
    if os.path.isdir(blooms_dir):
        for fn in sorted(os.listdir(blooms_dir)):
            p = os.path.join(blooms_dir, fn)
            if p not in live_sidecars and os.path.getmtime(p) * 1000 < cutoff:
                orphans.append(p)
    if not dry_run:
        for p in orphans:
            os.unlink(p)
        # sweep committer artifacts (_SUCCESS, .crc) from directories
        # holding no live parquet anymore, then drop empty dirs
        live_dirs = {os.path.dirname(p) for p in live}
        for root in (table.data_dir, table.deletes_dir):
            for dirpath, dirnames, filenames in os.walk(root, topdown=False):
                if dirpath == root or dirpath in live_dirs:
                    continue
                if not any(f.endswith(".parquet") for f in filenames):
                    for f in filenames:
                        os.unlink(os.path.join(dirpath, f))
                if not os.listdir(dirpath):
                    os.rmdir(dirpath)
    return sorted(orphans)


def clean_dangling_deletes(spark: SparkSession, table: Table) -> int:
    """Rewrite position-delete files dropping entries that reference
    data files no longer live; drop delete files that end up empty or
    whose sequence number can no longer match anything
    (cleanDanglingDeleteFiles). Returns the new snapshot id, or the
    current one if nothing to do."""
    man = table.manifest()
    pos_rows = [r for r in man if r["content"] == mf.CONTENT_POS_DEL]
    min_data_seq = min(
        (r["sequence_number"] for r in man if r["content"] == mf.CONTENT_DATA), default=None
    )
    removed: list[str] = []
    added: list[mf.FileInfo] = []

    if pos_rows:
        # persist: the delete parquets feed two counts plus a possible
        # rewrite — one scan, not three
        pos_df = scan_mod.read_position_deletes(
            spark, [r["path"] for r in pos_rows]
        ).persist()
        try:
            # live-data-path set straight from files_df (the manifest
            # parquets read executor-side) — never a driver-built list:
            # at 10^6 files that list is ~10^8 bytes of Python strings
            # funneled through createDataFrame. Same shape as
            # rewrite_position_deletes below.
            live_df = (
                table.files_df(spark)
                .filter(F.col("content") == mf.CONTENT_DATA)
                .select(F.col("path").alias(FILE_COL))
            )
            live_refs = pos_df.join(live_df, on=FILE_COL, how="left_semi")
            n_total = pos_df.count()
            n_live = live_refs.count()
            if n_live < n_total:
                removed += [r["path"] for r in pos_rows]
                if n_live > 0:
                    infos = table.write_delete_files(
                        live_refs, [FILE_COL, POS_COL], mf.CONTENT_POS_DEL
                    )
                    # keep original ordering semantics: position deletes
                    # are seq-agnostic, but preserve the max source seq
                    max_seq = max(r["sequence_number"] for r in pos_rows)
                    for fi in infos:
                        fi.sequence_number = max_seq
                    added += infos
        finally:
            pos_df.unpersist()

    for r in (r for r in man if r["content"] == mf.CONTENT_EQ_DEL):
        if min_data_seq is None or r["sequence_number"] <= min_data_seq:
            removed.append(r["path"])

    if not removed:
        return table.current_snapshot_id
    return table.commit("maintenance", added=added, removed_paths=removed)


def expire_data(
    table: Table,
    ts_column: str,
    older_than_iso: str,
) -> int:
    """C12 expireData: drop whole data files whose max(ts_column) is
    before the cutoff — a metadata-only delete (no rewrite), using the
    per-file bounds the manifest already carries. Files straddling the
    cutoff are kept (row-level retention would be a MERGE delete).
    Returns the new snapshot id (current if nothing qualified)."""
    import json as _json

    removed = []
    for r in table.files(content=mf.CONTENT_DATA):
        st = _json.loads(r["stats_json"]).get(ts_column)
        if st and st.get("max") is not None and str(st["max"]) < older_than_iso:
            removed.append(r["path"])
    if not removed:
        return table.current_snapshot_id
    return table.commit("expire_data", added=[], removed_paths=removed)


def recommend_compaction(table: Table, config=None) -> dict:
    """Trigger-threshold scoring (reference maintainer spec,
    ``LEARNING_AND_ARCHITECTURE.md:147-165,206-221``): fragment ratio =
    small files / data files, delete ratio = delete files / data files;
    → none | minor (small-files bins) | major (files-with-deletes) |
    full rewrite."""
    from iceberg_compaction_spark.config import CompactionConfig, SelectionStrategy

    config = config or CompactionConfig()
    rows = table.manifest()
    data = [r for r in rows if r["content"] == mf.CONTENT_DATA]
    deletes = [r for r in rows if r["content"] != mf.CONTENT_DATA]
    if not data:
        return {"action": "none", "fragment_ratio": 0.0, "delete_ratio": 0.0}
    small = sum(1 for r in data if r["size_bytes"] <= config.small_file_threshold_bytes)
    frag = small / len(data)
    delr = len(deletes) / len(data)
    # frag-based triggers need ≥2 small files: a lone small file has
    # nothing to merge with — rewriting it is churn, and a maintenance
    # loop would re-trigger forever on its own output
    if delr >= 0.3 or (frag >= 0.8 and small >= 2):
        action, strategy = "full", SelectionStrategy.FULL
    elif delr > 0:
        action, strategy = "major", SelectionStrategy.FILES_WITH_DELETES
    elif frag >= 0.25 and small >= 2:
        action, strategy = "minor", SelectionStrategy.SMALL_FILES
    else:
        action, strategy = "none", None
    return {
        "action": action,
        "strategy": strategy,
        "fragment_ratio": round(frag, 4),
        "delete_ratio": round(delr, 4),
        "small_files": small,
        "data_files": len(data),
    }


def rewrite_position_deletes(spark: SparkSession, table: Table) -> int:
    """Consolidate the table's position-delete files (Iceberg's
    rewrite_position_delete_files): many tiny per-commit delete files
    become ceil(rows / DELETE_ROWS_PER_FILE) coalesced ones — every
    subsequent MoR scan opens a handful of delete files instead of one
    per historical DELETE. Entries referencing dead data files are
    dropped on the way (the dangling-cleanup rewrite folded in);
    duplicate (file, pos) pairs collapse. Returns the new snapshot id
    (current if there was nothing to consolidate)."""
    man = table.manifest()
    pos_rows = [r for r in man if r["content"] == mf.CONTENT_POS_DEL]
    if len(pos_rows) <= 1:
        return table.current_snapshot_id
    refs = scan_mod.read_position_deletes(spark, [r["path"] for r in pos_rows])
    # live-data-path set straight from files_df — never materialized
    # through the driver (manifest-bounded, but at 10^6 files that is
    # ~10^8 bytes of Python strings the executor side already has)
    live_df = (
        table.files_df(spark)
        .filter(F.col("content") == mf.CONTENT_DATA)
        .select(F.col("path").alias(FILE_COL))
    )
    kept = refs.join(live_df, on=FILE_COL, how="left_semi").distinct()
    infos = table.write_delete_files(kept, [FILE_COL, POS_COL], mf.CONTENT_POS_DEL)
    infos = [fi for fi in infos if fi.record_count > 0]
    # position deletes are seq-agnostic in the MoR join, but preserve
    # the max source seq for manifest bookkeeping
    max_seq = max(r["sequence_number"] for r in pos_rows)
    for fi in infos:
        fi.sequence_number = max_seq
    return table.commit(
        "maintenance",
        added=infos,
        removed_paths=[r["path"] for r in pos_rows],
        extra_summary={"rewrote_pos_delete_files": len(pos_rows)},
    )


def rewrite_equality_deletes(spark: SparkSession, table: Table) -> int:
    """Consolidate the table's equality-delete files — the eq twin of
    ``rewrite_position_deletes`` and the remaining delete-maintenance
    parity item vs the reference's per-group delete-file dedup
    (``crates/planner/src/file_selection.rs:82-117``). N historical
    MERGEs leave N eq-delete files that every overlapping scan must
    chain through; this collapses each same-key-set group into one
    consolidated file whose rows embed a per-row ``_seq`` = MAX source
    seq for that key. Correctness: an entry at seq s kills data rows
    with data_seq < s, so keeping max(s) per key preserves exactly the
    union of kills. Dead entries — seq ≤ the minimum live data-file
    seq, hence no live file old enough to be affected — are dropped on
    the way (entirely-dead files are removed without a rewrite).
    Different key sets consolidate independently (they chain in the
    MoR plan). Returns the new snapshot id (current when there was
    nothing to do)."""
    man = table.manifest()
    eq_rows = [r for r in man if r["content"] == mf.CONTENT_EQ_DEL]
    if not eq_rows:
        return table.current_snapshot_id
    # empty data files (record_count 0 — e.g. empty shuffle partitions
    # recorded by an append) have no rows a delete could kill, so they
    # must not anchor the liveness floor
    data_seqs = [
        r["sequence_number"]
        for r in man
        if r["content"] == mf.CONTENT_DATA and r["record_count"] > 0
    ]
    min_data_seq = min(data_seqs) if data_seqs else None

    groups: dict[tuple, list] = {}
    for r in eq_rows:
        groups.setdefault(tuple(r["equality_ids"] or ()), []).append(r)

    added: list[mf.FileInfo] = []
    removed: list[str] = []
    for keys, rows in groups.items():
        if not keys:
            continue  # malformed entry: leave untouched
        if min_data_seq is None:
            live, dead = [], rows  # no data files: every delete is dead
        else:
            live = [r for r in rows if r["sequence_number"] > min_data_seq]
            dead = [r for r in rows if r["sequence_number"] <= min_data_seq]
        if len(live) <= 1:
            removed += [r["path"] for r in dead]  # lone live file stays as-is
            continue
        removed += [r["path"] for r in rows]
        df = scan_mod.read_equality_deletes(spark, live, list(keys), table.physical_schema())
        consolidated = (
            df.groupBy(*keys)
            .agg(F.max(SEQ_COL).alias(SEQ_COL))
            # re-consolidation of mixed-row-seq files: within-file dead
            # entries drop here (first pass is a no-op: live-file rows
            # all carry their file's seq > min_data_seq)
            .filter(F.col(SEQ_COL) > F.lit(min_data_seq))
        )
        infos = table.write_delete_files(
            consolidated, list(keys) + [SEQ_COL], mf.CONTENT_EQ_DEL, equality_ids=keys
        )
        infos = [fi for fi in infos if fi.record_count > 0]
        max_seq = max(r["sequence_number"] for r in live)
        for fi in infos:
            fi.sequence_number = max_seq
        added += infos

    if not removed:
        return table.current_snapshot_id
    return table.commit(
        "maintenance",
        added=added,
        removed_paths=removed,
        extra_summary={"rewrote_eq_delete_files": len(removed)},
    )


def migrate_partition_spec(
    spark: SparkSession,
    table: Table,
    max_records_per_file: int | None = None,
    group_target_size_bytes: int | None = None,
    run_id: str | None = None,
) -> int:
    """Migrate the table to its CURRENT partition spec — binned,
    per-bin committed, resumable (round 5; previously one monolithic
    scan→write→commit whose crash restarted the whole job).

    Selection: only data files with ``sequence_number ≤
    partition_spec_floor`` — the seq recorded by ``set_partition_expr``
    — need rewriting, because every later write already derived its
    partition from the current expr. Outputs commit at higher seqs, so
    an interrupted run re-invoked (any ``run_id``) re-plans from the
    current manifest and finds exactly the not-yet-migrated files:
    resume at bin granularity for free, zero re-work. Each bin is a
    size-targeted FFD group rewritten via a scoped MoR scan (deletes
    fold in) + ``write_data_files`` (recomputes the partition value
    per row, keeps files partition-pure even when the new grain is
    FINER — one old file can fan out to many new partitions) and lands
    as its own atomic replace commit; per-bin lineage rows (input
    files → output files, rows, bytes) go to the same checkpoint table
    compaction uses. Mixed layouts mid-run are legal (readers see each
    commit atomically; planning and pruning are exact across grains —
    see ``set_partition_expr``). Old delete files left dangling by the
    migration are cleaned at the end."""
    import uuid as _uuid

    from iceberg_compaction_spark.config import CompactionConfig
    from iceberg_compaction_spark.plans.compaction import CompactionRunner

    floor = table.meta.get("partition_spec_floor")
    if floor is None:
        # legacy table (spec changed before the floor existed, or
        # never changed): everything current predates "now"
        floor = table.sequence_number
        table._locked_meta_write(
            lambda: table.meta.__setitem__("partition_spec_floor", floor)
        )
    man = table.manifest()
    todo = [
        r
        for r in man
        if r["content"] == mf.CONTENT_DATA and r["sequence_number"] <= floor
    ]
    if not todo:
        return table.current_snapshot_id

    target = group_target_size_bytes or CompactionConfig().group_target_size_bytes
    # FFD into size-targeted bins via the tested shared packer (same
    # lookback + oversized-solo rules as compaction planning;
    # driver-side over manifest rows — the same scale envelope as
    # compaction's plan collect)
    from iceberg_compaction_spark.plans.packer import ffd_pack

    idx_bins = ffd_pack([r["size_bytes"] for r in todo], target)
    bins = [[todo[i] for i in idx] for idx in idx_bins]

    run_id = run_id or _uuid.uuid4().hex[:12]
    runner = CompactionRunner(spark, table, CompactionConfig())  # checkpoint I/O
    sid = table.current_snapshot_id
    for i, grp in enumerate(bins):
        paths = sorted(r["path"] for r in grp)
        t0 = time.time()
        df = table.scan(spark, paths=paths)  # user cols; _part recomputed at write
        infos = table.write_data_files(
            df,
            max_records_per_file=max_records_per_file,
            subdir=f"specmig-{run_id}-{i}",
        )
        sid = table.commit(
            "replace",
            added=infos,
            removed_paths=paths,
            extra_summary={"partition_migration": True, "migration_bin": i},
        )
        runner._write_checkpoint_row(
            run_id,
            {
                "run_id": run_id,
                "snapshot_id": sid,
                "bin": f"specmig#{i}",
                "partition": "",
                "status": "done",
                "input_paths": paths,
                "output_paths": [fi.path for fi in infos],
                "input_bytes": sum(r["size_bytes"] for r in grp),
                "output_bytes": sum(fi.size_bytes for fi in infos),
                "input_files": len(paths),
                "output_files": len(infos),
                "rows_processed": sum(fi.record_count for fi in infos),
                "execution_time_ms": int((time.time() - t0) * 1000),
                "started_ms": int(t0 * 1000),
                "finished_ms": int(time.time() * 1000),
            },
        )
    after = clean_dangling_deletes(spark, table)
    return after if after is not None else sid


def run_maintenance(
    spark: SparkSession,
    table: Table,
    config=None,
    expire_older_than_ms: int | None = None,
    retain_last: int = 3,
    orphan_older_than_ms: int | None = None,
    rewrite_manifests_over_depth: int = 8,
) -> dict:
    """One-call maintenance pass, the reference maintainer-catalog
    loop (``LEARNING_AND_ARCHITECTURE.md:147-179``) as a single
    orchestrator: threshold-scored compaction → dangling-delete
    cleanup → snapshot expiry (ref-chain safe) → orphan sweep →
    manifest-chain collapse when the delta chain is deep. Every step
    is the already-tested primitive; this is the cron-job entry point
    a table owner schedules. Returns a per-step summary dict."""
    from iceberg_compaction_spark.config import CompactionConfig
    from iceberg_compaction_spark.plans.compaction import CompactionRunner

    import dataclasses

    out: dict = {}
    rec = recommend_compaction(table, config)
    out["recommendation"] = rec
    if rec["action"] != "none":
        cfg = config or CompactionConfig()
        # table-aware sort default: keep configured sort keys that
        # exist on THIS table, else sort by the first user column (the
        # stock default names transcript columns)
        cols = table.user_columns()
        sort = tuple((c, d) for c, d in cfg.sort_order if c in cols) or (
            (cols[0], False),
        )
        cfg = dataclasses.replace(cfg, selection=rec["strategy"], sort_order=sort)
        res = CompactionRunner(spark, table, cfg).execute()
        out["compaction"] = res.summary()

    before = table.current_snapshot_id
    after = clean_dangling_deletes(spark, table)
    out["dangling_deletes_commit"] = after if after != before else None

    # consolidate the delete files compaction didn't fold away:
    # content-invariant, so the post-maintenance scan is unchanged —
    # only the number of delete files every later MoR scan must chain
    # through shrinks
    if len(table.files(content=mf.CONTENT_POS_DEL)) > 1:
        before = table.current_snapshot_id
        after = rewrite_position_deletes(spark, table)
        out["pos_delete_consolidation_commit"] = after if after != before else None
    if len(table.files(content=mf.CONTENT_EQ_DEL)) > 1:
        before = table.current_snapshot_id
        after = rewrite_equality_deletes(spark, table)
        out["eq_delete_consolidation_commit"] = after if after != before else None

    exp = expire_snapshots(
        table, older_than_ms=expire_older_than_ms, retain_last=retain_last
    )
    out["expired_snapshots"] = len(exp.expired_snapshot_ids)
    out["expired_bytes"] = exp.deleted_bytes

    orphans = clean_orphan_files(table, older_than_ms=orphan_older_than_ms)
    out["orphans_removed"] = len(orphans)

    sid = table.current_snapshot_id
    if sid is not None:
        depth = table.snapshot(sid).get("delta_depth", 0)
        if depth > rewrite_manifests_over_depth:
            out["manifests_rewritten_at"] = rewrite_manifests(table)
    return out


def rewrite_manifests(table: Table) -> int:
    """Collapse the delta chain into one canonically ordered base
    manifest (path-sorted, partition-major) — the metadata analogue of
    data compaction (C8/C12). ``force_base`` guarantees the commit
    writes a full manifest regardless of chain depth, so reads after
    this are a single parquet scan again."""
    rows = table.manifest()
    rows = sorted(rows, key=lambda r: (r["partition"], r["content"], r["path"]))
    sid = table.current_snapshot_id
    if sid is None:
        raise ValidationError("nothing to rewrite")
    # idempotent rewrite via a fresh snapshot: remove+add everything
    infos = [
        mf.FileInfo(**{k: r[k] for k in (
            "path", "content", "size_bytes", "record_count", "sequence_number",
            "partition", "equality_ids", "stats_json",
        )})
        for r in rows
    ]
    return table.commit(
        "rewrite_manifests",
        added=infos,
        removed_paths=[r["path"] for r in rows],
        force_base=True,
    )
