"""The compaction service: plan → rewrite → checkpoint → atomic commit.

End-to-end restatement of the reference's lifecycle (SURVEY.md §3):

  plan files (FileSelector, file_selection.rs:22-54)
  → FFD bins (ListPacker, packer.rs:36-76)
  → parallelism (file_selection.rs:156-177)
  → per-bin rewrite (WorkerExecutor → DataFusion anti-join SQL →
    RollingWriter, mod.rs:89-237)
  → atomic commit + conflict validation (CommitCoordinator,
    commit.rs:78-179)

The reference runs each bin as its own worker task. Here the pending
bins are grouped into WAVES, and each wave is ONE Spark query
(SURVEY.md §3.1 restatement)::

    read.parquet(wave files) [+ hidden cols, _bin = bin ordinal]
      → anti-join position deletes → anti-join equality deletes
      → one bin:   repartitionByRange(output_parallelism, sort keys)
        many bins: repartition(len(wave), _bin)
      → sortWithinPartitions(_bin, sort keys)
      → write.partitionBy(_bin).option(maxRecordsPerFile).parquet(wave dir)

A bin whose output fits one file joins the current wave (up to
``max_parallelism`` of them); a bin that writes several files is a wave
of its own, so a job never writes more output partitions than one bin
could. Hash partitioning on ``_bin`` keeps each one-file bin in one
task, hence one file. A Spark query carries a fixed cost (delete
broadcasts, a shuffle-map stage, a write job) whatever its size, and
fusing small bins pays it once per wave instead of once per bin. Waves
run one after another; Spark parallelizes inside each wave, which
replaces the reference's gRPC task distribution (§3.2 boundaries
#1–#2). Boundary #3 (commit) remains a single-writer driver-side
atomic snapshot.

Resumability (C7 + north rule): once a wave is written, every bin of it
writes one lineage row (input files → output files, rows, bytes, the
wave's timings) as its own Parquet file under
``meta/checkpoints/run-<id>/`` — crash-safe at wave granularity (one
bin per wave with ``max_parallelism=1``), and bins never span table
partitions. Re-running with the same ``run_id`` skips finished bins and
commits the union.
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from iceberg_compaction_spark.config import (
    CommitMode,
    CompactionConfig,
    GroupingStrategy,
    SelectionStrategy,
)
from iceberg_compaction_spark.errors import ValidationError
from iceberg_compaction_spark.metrics import GLOBAL
from iceberg_compaction_spark.functions.clustering import CLUSTER_COL, add_cluster_key
from iceberg_compaction_spark.operators.mor import FILE_COL
from iceberg_compaction_spark.plans import delete_scope, pruning
from iceberg_compaction_spark.plans.packer import ffd_pack
from iceberg_compaction_spark.plans.parallelism import calculate_parallelism
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources import scan as scan_mod
from iceberg_compaction_spark.sources.table import Table
from iceberg_compaction_spark.operators.mor import apply_deletes

_CKPT_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("snapshot_id", pa.int64()),
        ("bin", pa.string()),
        ("partition", pa.string()),
        ("status", pa.string()),
        ("input_paths", pa.list_(pa.string())),
        ("output_paths", pa.list_(pa.string())),
        ("input_bytes", pa.int64()),
        ("output_bytes", pa.int64()),
        ("input_files", pa.int64()),
        ("output_files", pa.int64()),
        ("rows_processed", pa.int64()),
        ("execution_time_ms", pa.int64()),
        ("started_ms", pa.int64()),
        ("finished_ms", pa.int64()),
    ]
)

# a row's bin ordinal within its wave; the write is partitioned by it
BIN_COL = "_bin"


@dataclass
class BinPlan:
    bin: str
    partition: str
    paths: list
    total_bytes: int
    record_count: int
    executor_parallelism: int = 1
    output_parallelism: int = 1


@dataclass
class CompactionResult:
    run_id: str
    snapshot_before: int | None
    snapshot_after: int | None
    bins_total: int = 0
    bins_executed: int = 0
    bins_skipped: int = 0
    input_files: int = 0
    output_files: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    rows_processed: int = 0
    removed_delete_files: int = 0
    wall_s: float = 0.0
    lineage: list = field(default_factory=list)

    @property
    def space_savings(self) -> float:
        """F8 (reference metrics.rs:205-212)."""
        from iceberg_compaction_spark.functions.util import space_savings

        return space_savings(self.input_bytes, self.output_bytes)

    def summary(self) -> dict:
        out = {
            k: getattr(self, k)
            for k in (
                "run_id",
                "snapshot_before",
                "snapshot_after",
                "bins_total",
                "bins_executed",
                "bins_skipped",
                "input_files",
                "output_files",
                "input_bytes",
                "output_bytes",
                "rows_processed",
                "removed_delete_files",
                "wall_s",
            )
        }
        out["space_savings"] = self.space_savings
        return out


class CompactionRunner:
    def __init__(self, spark: SparkSession, table: Table, config: CompactionConfig | None = None):
        self.spark = spark
        self.table = table
        if config is None:
            # table properties supply per-table defaults (Iceberg
            # write.target-file-size idiom); an explicit config wins
            import dataclasses

            config = CompactionConfig()
            overrides = {}
            tfs = table.get_property("compaction.target-file-size-bytes")
            gts = table.get_property("compaction.group-target-size-bytes")
            if tfs is not None:
                overrides["target_file_size_bytes"] = int(tfs)
            if gts is not None:
                overrides["group_target_size_bytes"] = int(gts)
            if overrides:
                config = dataclasses.replace(config, **overrides)
        self.config = config
        self._info_cache: dict[str, list] = {}
        # F7 (reference writer.rs:246-254): observed *output* bytes/row
        # across waves refines rows-per-file for later waves — the input
        # estimate is wrong exactly when compaction changes compression
        # (small snappy files → big sorted files).
        from iceberg_compaction_spark.functions.util import EwmaRowSize

        self._row_size = EwmaRowSize()

    # ------------------------------------------------------------------
    def plan(self, snapshot_id: int | None = None) -> list[BinPlan]:
        """Select files (S1 + P2-P5/P7 + ``row_filter``) and FFD-pack
        them per table partition (C1 + C3), on the driver over the
        resolved manifest — the reference's ``FileSelector`` →
        ``ListPacker`` order (file_selection.rs:22-54, packer.rs:36-76).
        Runs no Spark job unless ``FILES_WITH_DELETES`` must count
        position-delete references."""
        cfg = self.config
        man = self.table.manifest(snapshot_id)
        data = [r for r in man if r["content"] == mf.CONTENT_DATA]
        pos_all = [r for r in man if r["content"] == mf.CONTENT_POS_DEL]
        eq_all = [r for r in man if r["content"] == mf.CONTENT_EQ_DEL]

        sel = data
        if cfg.partition_filter:
            allowed = set(cfg.partition_filter)
            sel = [r for r in sel if r["partition"] in allowed]
        if cfg.row_filter:
            # Iceberg rewrite_data_files(filter=...): the scan pruner's
            # conservative evaluator — an unprunable predicate keeps all
            sel, _ = pruning.prune_files(
                sel, cfg.row_filter, col_types=self.table.column_type_categories()
            )
        if cfg.selection == SelectionStrategy.SMALL_FILES:
            sel = [r for r in sel if r["size_bytes"] <= cfg.small_file_threshold_bytes]
        elif cfg.selection == SelectionStrategy.FILES_WITH_DELETES:
            counts = self._delete_counts(sel, pos_all, eq_all)
            sel = [r for r in sel if counts.get(r["path"], 0) >= cfg.min_delete_count]
        elif cfg.selection != SelectionStrategy.FULL:
            raise ValueError(f"unknown strategy {cfg.selection}")

        bins: dict[str, BinPlan] = {}

        def add(bin_id: str, r: dict) -> None:
            b = bins.setdefault(
                bin_id,
                BinPlan(bin=bin_id, partition=r["partition"], paths=[], total_bytes=0, record_count=0),
            )
            b.paths.append(r["path"])
            b.total_bytes += r["size_bytes"]
            b.record_count += r["record_count"]

        if cfg.grouping == GroupingStrategy.SINGLE:
            for r in sel:
                add(f"{r['partition']}#0", r)
        else:
            by_part: dict[str, list[dict]] = {}
            for r in sel:
                by_part.setdefault(r["partition"], []).append(r)
            for part, members in by_part.items():
                members.sort(key=lambda r: (-r["size_bytes"], r["path"]))
                packed = ffd_pack([r["size_bytes"] for r in members], cfg.group_target_size_bytes)
                for k, idxs in enumerate(packed):
                    for i in idxs:
                        add(f"{part}#{k}", members[i])
        for b in bins.values():
            b.paths.sort()
            b.executor_parallelism, b.output_parallelism = calculate_parallelism(
                b.total_bytes, len(b.paths), cfg
            )
        # skip single-file bins with no deletes to resolve: rewriting
        # one file into one file is pure churn (reference leaves these
        # out via strategy thresholds). Round 4: "deletes to resolve"
        # is judged PER BIN via delete scoping — a one-partition MERGE
        # no longer drags every other partition's single-file bins into
        # the rewrite.
        by_path = {r["path"]: r for r in data}

        def bin_has_deletes(b: BinPlan) -> bool:
            if not (pos_all or eq_all):
                return False
            pos, eq = delete_scope.scope_deletes(
                [by_path[p] for p in b.paths], pos_all, eq_all
            )
            return bool(pos or eq)

        return [
            b
            for b in sorted(bins.values(), key=lambda x: x.bin)
            if len(b.paths) > 1 or bin_has_deletes(b)
        ]

    def _delete_counts(self, data_rows: list[dict], pos_rows: list[dict], eq_rows: list[dict]) -> dict:
        """{data path: delete files applicable to it} for P3
        (FilesWithDeletes, file_selection.rs:103-114). Position deletes
        count exactly: the delete files that name the path, from one
        aggregate scan (one row per referenced data file). Equality
        deletes count by the rule scans and bins attach them with
        (``delete_scope.eq_delete_counts``: sequence and key bounds)."""
        counts = delete_scope.eq_delete_counts(data_rows, eq_rows)
        if pos_rows:
            refs = (
                scan_mod.read_position_deletes(self.spark, [r["path"] for r in pos_rows])
                .select(
                    FILE_COL,
                    scan_mod.norm_file_path(F.input_file_name()).alias("_del_file"),
                )
                .groupBy(FILE_COL)
                .agg(F.countDistinct("_del_file").alias("n"))
            )
            for r in refs.collect():
                counts[r[FILE_COL]] = counts.get(r[FILE_COL], 0) + r["n"]
        return counts

    # ------------------------------------------------------------------
    # checkpoints
    def _ckpt_dir(self, run_id: str) -> str:
        return os.path.join(self.table.location, "meta", "checkpoints", f"run-{run_id}")

    def _load_checkpoint(self, run_id: str) -> dict[str, dict]:
        d = self._ckpt_dir(run_id)
        done: dict[str, dict] = {}
        if not os.path.isdir(d):
            return done
        for fn in sorted(os.listdir(d)):
            if fn.endswith(".parquet"):
                for row in pq.read_table(os.path.join(d, fn)).to_pylist():
                    if row["status"] == "done":
                        done[row["bin"]] = row
        return done

    def _write_checkpoint_row(self, run_id: str, row: dict) -> None:
        d = self._ckpt_dir(run_id)
        os.makedirs(d, exist_ok=True)
        safe = row["bin"].replace("/", "_").replace("#", "_")
        tmp = os.path.join(d, f".tmp-{safe}.parquet")
        pq.write_table(pa.Table.from_pylist([row], schema=_CKPT_SCHEMA), tmp)
        os.replace(tmp, os.path.join(d, f"bin-{safe}.parquet"))

    # ------------------------------------------------------------------
    def _delete_frames(self, snapshot_id: int, bin_paths: list[str]):
        """Delete DataFrames relevant to ``bin_paths`` (one wave's data
        files) + broadcast hints.

        Deletes are SCOPED to those data files before being read
        (``plans/delete_scope``, mirroring the reference's per-task
        attached deletes, file_selection.rs:82-131): a wave only opens
        pos-delete files whose ``_file`` bounds bracket one of its
        paths and eq-delete files whose seq exceeds the wave's min data
        seq with key bounds overlapping the wave's — so a one-partition
        MERGE's delete set is read by that partition's waves only, not
        by every wave of the table. Scoping over a wave's union only
        adds delete files; the anti-joins still apply each one by its
        own path, key and sequence terms."""
        man = self.table.manifest(snapshot_id)
        bin_set = set(bin_paths)
        data_rows = [
            r for r in man if r["content"] == mf.CONTENT_DATA and r["path"] in bin_set
        ]
        pos_rows, eq_rows = delete_scope.scope_deletes(
            data_rows,
            [r for r in man if r["content"] == mf.CONTENT_POS_DEL],
            [r for r in man if r["content"] == mf.CONTENT_EQ_DEL],
        )
        pos_df = None
        broadcast_pos = False
        if pos_rows:
            pos_df = scan_mod.read_position_deletes(
                self.spark, [r["path"] for r in pos_rows]
            ).filter(F.col(FILE_COL).isin(bin_paths))
            broadcast_pos = (
                sum(r["size_bytes"] for r in pos_rows) < self.config.inline_delete_threshold_bytes
            )
        eq_groups = []
        if eq_rows:
            by_keys: dict[tuple, list] = {}
            for r in eq_rows:
                by_keys.setdefault(tuple(r["equality_ids"]), []).append(r)
            for keys, grp in sorted(by_keys.items()):
                eq_df = scan_mod.read_equality_deletes(
                    self.spark, grp, list(keys), self.table.physical_schema()
                )
                small = (
                    sum(r["size_bytes"] for r in grp) < self.config.inline_delete_threshold_bytes
                )
                eq_groups.append((keys, eq_df, small))
        GLOBAL.inc("compaction.delete_files_attached", len(pos_rows) + len(eq_rows))
        return pos_df, broadcast_pos, eq_groups

    @staticmethod
    def _split_bytes(b: BinPlan) -> int:
        """C3's executor_parallelism, realized: size the scan splits so
        the bin fans out to ≈executor_parallelism map tasks (Spark's
        default 128 MB split would coalesce a small-file bin into a
        handful of tasks and strand cores; the reference sets
        target_partitions the same way, mod.rs:93-95)."""
        return max(
            4 << 20,
            min(128 << 20, b.total_bytes // max(b.executor_parallelism, 1) + 1),
        )

    def _waves(self, bins: list[BinPlan]) -> list[list[BinPlan]]:
        """``bins`` in plan order, grouped into waves: consecutive bins
        whose output fits one file share a wave of up to
        ``max_parallelism`` bins; a bin that writes several files is a
        wave of its own. No wave's write has more output partitions
        than one bin may have."""
        waves: list[list[BinPlan]] = []
        cur: list[BinPlan] = []
        for b in bins:
            if b.output_parallelism > 1:
                if cur:
                    waves.append(cur)
                    cur = []
                waves.append([b])
                continue
            cur.append(b)
            if len(cur) >= self.config.max_parallelism:
                waves.append(cur)
                cur = []
        if cur:
            waves.append(cur)
        return waves

    def _rewrite_wave(
        self,
        run_id: str,
        snapshot_id: int,
        wave: list[BinPlan],
        seq_all: dict,
        commit_each: bool = False,
    ) -> list[dict]:
        """Rewrite the bins of one wave in one Spark query and return
        their lineage rows, in wave order.

        Every row is tagged with ``_bin``, its bin's ordinal in the
        wave, looked up from its file path (``scan.seq_of_file``, the
        same plan literal ``_seq`` uses — no join). Each bin's files
        land under their own ``_bin=<i>/`` directory, and lineage
        splits by that prefix. Several one-file bins are
        hash-partitioned on ``_bin``, not range-partitioned: sampled
        range bounds fall inside bins and would cut one into two
        files."""
        cfg = self.config
        t0 = time.time()
        paths = [p for b in wave for p in b.paths]
        pos_df, bpos, eq_groups = self._delete_frames(snapshot_id, paths)
        # epoch-aware read: rewrites migrate pre-rename files' physical
        # column names to the current schema
        df = self.table.read_data_rows(
            self.spark,
            [{"path": p, "sequence_number": seq_all[p]} for p in paths],
            with_file=True,
            with_pos=pos_df is not None,
            with_seq=bool(eq_groups),
        )
        ordinal = {p: i for i, b in enumerate(wave) for p in b.paths}
        df = df.withColumn(BIN_COL, scan_mod.seq_of_file(ordinal, F.col(FILE_COL)))
        df = apply_deletes(df, pos_df, None, broadcast_pos=bpos)
        for keys, eq_df, small in eq_groups:
            df = apply_deletes(df, None, eq_df, eq_keys=keys, broadcast_eq=small)

        phys_cols = [f.name for f in self.table.physical_schema().fields]
        df = df.select(*phys_cols, BIN_COL)

        sort_cols = [
            F.col(c).desc() if desc else F.col(c).asc() for c, desc in cfg.sort_order
        ]
        cluster = cfg.clustering in ("zorder", "hilbert") and cfg.cluster_columns
        if cluster:
            df = add_cluster_key(df, list(cfg.cluster_columns), curve=cfg.clustering)
            range_keys = [F.col(CLUSTER_COL)]
            sort_cols = [F.col(CLUSTER_COL), *(F.col(c) for c, _ in cfg.sort_order)]
        else:
            # range keys include turn_idx ⇒ hot conversations split
            # across output partitions (explicit skew handling)
            range_keys = sort_cols
        if len(wave) == 1:
            df = df.repartitionByRange(wave[0].output_parallelism, *range_keys)
        else:
            df = df.repartition(len(wave), BIN_COL)
        df = df.sortWithinPartitions(F.col(BIN_COL), *sort_cols)
        if cluster:
            df = df.drop(CLUSTER_COL)

        # 1.5× slack: output partitions are already ≈target-sized by
        # output_parallelism; the row cap only splits pathological skew,
        # not the expected partition (which would shed tiny remainders)
        avg_row = self._row_size.value
        if avg_row is None:  # no output observed yet: input-size estimate
            avg_row = sum(b.total_bytes for b in wave) / max(
                sum(b.record_count for b in wave), 1
            )
        rows_per_file = int(cfg.records_per_file(avg_row) * 1.5)
        safe = wave[0].bin.replace("/", "_").replace("#", "_")
        # out_dir is unique PER ATTEMPT (uuid suffix), never reused:
        # in WorkerCommit mode a resumed run re-plans from the current
        # snapshot with an empty checkpoint, so a bin NAME can recur
        # while its previous attempt's files are already committed and
        # live — deleting a name-keyed dir would unlink live data.
        # A crash mid-write leaves a partial dir that nothing
        # references; clean_orphan_files sweeps it.
        out_dir = os.path.join(
            self.table.data_dir,
            f"run-{run_id}",
            f"wave-{safe}-{uuid.uuid4().hex[:8]}",
        )
        tw = time.time()
        (
            self.table.bloom_write_options(df.write.mode("error").partitionBy(BIN_COL))
            .option("maxRecordsPerFile", rows_per_file)
            .parquet(out_dir)
        )
        GLOBAL.inc("compaction.write_s", time.time() - tw)
        ts_ = time.time()
        infos = mf.collect_file_infos(
            mf.list_parquet_files(out_dir), content=mf.CONTENT_DATA, spark=self.spark
        )
        infos = self.table.attach_blooms(infos, self.spark)
        GLOBAL.inc("compaction.stats_s", time.time() - ts_)
        by_bin: list[list] = [[] for _ in wave]
        for fi in infos:
            fi.partition = Table._partition_of(fi)
            # the writer's directory for ordinal i is ``_bin=<i>``
            by_bin[int(os.path.basename(os.path.dirname(fi.path)).partition("=")[2])].append(fi)
        self._row_size.update(
            sum(fi.size_bytes for fi in infos),
            sum(fi.record_count for fi in infos),
        )
        # every bin reports the wave's rewrite interval (commits excluded)
        t1 = time.time()
        rows = []
        for b, bin_infos in zip(wave, by_bin):
            self._info_cache[b.bin] = bin_infos
            if commit_each:
                # WorkerCommit (reference task.rs:62-64): each bin's
                # replace snapshot lands right after its wave is
                # written, one bin after another. No expected-parent
                # pin — safety comes from removed-paths-still-live
                # validation (bins never share inputs).
                self.table.commit(
                    "replace",
                    added=bin_infos,
                    removed_paths=sorted(b.paths),
                    retries=cfg.commit_max_retries,
                    backoff_base_s=cfg.commit_backoff_base_s,
                    backoff_cap_s=cfg.commit_backoff_cap_s,
                )
            row = {
                "run_id": run_id,
                "snapshot_id": snapshot_id,
                "bin": b.bin,
                "partition": b.partition,
                "status": "done",
                "input_paths": b.paths,
                "output_paths": [fi.path for fi in bin_infos],
                "input_bytes": b.total_bytes,
                "output_bytes": sum(fi.size_bytes for fi in bin_infos),
                "input_files": len(b.paths),
                "output_files": len(bin_infos),
                "rows_processed": sum(fi.record_count for fi in bin_infos),
                "execution_time_ms": int((t1 - t0) * 1000),
                "started_ms": int(t0 * 1000),
                "finished_ms": int(t1 * 1000),
            }
            self._write_checkpoint_row(run_id, row)
            rows.append(row)
        return rows

    # ------------------------------------------------------------------
    def _removable_delete_files(self, snapshot_id: int, rewritten: set[str]) -> list[str]:
        """Delete files that become dangling once ``rewritten`` data
        files are replaced (C12 cleanDanglingDeleteFiles):
          * a position-delete file whose referenced data files are all
            rewritten;
          * an equality-delete file with no surviving data file of a
            lower sequence number."""
        man = self.table.manifest(snapshot_id)
        data_rows = [r for r in man if r["content"] == mf.CONTENT_DATA]
        remaining = [r for r in data_rows if r["path"] not in rewritten]
        removable: list[str] = []

        pos_rows = [r for r in man if r["content"] == mf.CONTENT_POS_DEL]
        if pos_rows:
            pos_paths = [r["path"] for r in pos_rows]
            remaining_paths = sorted(r["path"] for r in remaining)
            if not remaining_paths:
                removable.extend(pos_paths)
            else:
                # executor-side: the per-row reference set never reaches
                # the driver — only one aggregate row per delete *file*
                # (bounded by the manifest, not by delete-row count)
                refs = scan_mod.read_position_deletes(self.spark, pos_paths).select(
                    F.col(FILE_COL).alias("ref"),
                    scan_mod.norm_file_path(F.input_file_name()).alias("delfile"),
                )
                # surviving-data-path set built FROM files_df, never
                # materialized through the driver (at 10^6 files the
                # python-list route ships ~10^8 bytes of strings);
                # only the rewritten set — bin-bounded — rides inline
                rem_df = (
                    self.table.files_df(self.spark, snapshot_id)
                    .filter(F.col("content") == mf.CONTENT_DATA)
                    .select(F.col("path").alias("ref"))
                )
                if rewritten:
                    # as a broadcast anti-join, not isin(): a FULL run
                    # rewrites every file and a 10^5-literal expression
                    # tree would choke Catalyst; data ships once
                    rw = self.spark.createDataFrame(
                        [(p,) for p in sorted(rewritten)], "ref string"
                    )
                    rem_df = rem_df.join(F.broadcast(rw), on="ref", how="left_anti")
                alive = {
                    r["delfile"]
                    for r in refs.join(rem_df, on="ref", how="left_semi")
                    .select("delfile")
                    .distinct()
                    .collect()
                }
                removable.extend(p for p in pos_paths if p not in alive)

        min_remaining_seq = min((r["sequence_number"] for r in remaining), default=None)
        for r in (r for r in man if r["content"] == mf.CONTENT_EQ_DEL):
            if min_remaining_seq is None or r["sequence_number"] <= min_remaining_seq:
                removable.append(r["path"])
        return removable

    # ------------------------------------------------------------------
    def execute(
        self,
        run_id: str | None = None,
        snapshot_id: int | None = None,
    ) -> CompactionResult:
        """Run a full compaction. Re-invoke with the same ``run_id`` to
        resume an interrupted run (finished bins are skipped; outputs
        reused; single commit at the end).

        Pending bins run as waves (``_waves``), one Spark query per
        wave and one wave after another; Spark parallelizes the bins of
        a wave as tasks of that query."""
        cfg = self.config
        t0 = time.time()
        run_id = run_id or uuid.uuid4().hex[:12]
        sid = snapshot_id if snapshot_id is not None else self.table.current_snapshot_id
        if sid is None:
            raise ValidationError("table has no snapshot to compact")

        worker_mode = cfg.commit_mode == CommitMode.WORKER_COMMIT
        if worker_mode:
            # WorkerCommit needs no checkpoint replay: committed bins'
            # inputs already left the manifest, so re-planning from the
            # current snapshot finds only un-rewritten files — resume is
            # a plain re-run. Checkpoint rows remain as lineage.
            done: dict[str, dict] = {}
        else:
            done = self._load_checkpoint(run_id)
            for row in done.values():
                if row["snapshot_id"] != sid:
                    raise ValidationError(
                        f"checkpoint run-{run_id} pinned snapshot {row['snapshot_id']}, "
                        f"table now at {sid}; start a new run"
                    )

        bins = self.plan(sid)
        res = CompactionResult(run_id=run_id, snapshot_before=sid, snapshot_after=None)
        res.bins_total = len(bins)
        if not bins:
            res.snapshot_after = sid
            res.wall_s = time.time() - t0
            return res

        man = self.table.manifest(sid)
        seq_all = {r["path"]: r["sequence_number"] for r in man if r["content"] == mf.CONTENT_DATA}

        pending = [b for b in bins if b.bin not in done]
        rows: list[dict] = list(done.values())

        # One scan-split size for the whole run, set before the first
        # wave and restored after, so it never leaks into later
        # queries. The smallest per-bin split is safe for every bin —
        # extra map tasks are cheap; stranded cores are not.
        split = min((self._split_bytes(b) for b in pending), default=None)
        conf_key = "spark.sql.files.maxPartitionBytes"
        prev_split = self.spark.conf.get(conf_key, None)
        if split is not None:
            self.spark.conf.set(conf_key, str(split))
        try:
            for wave in self._waves(pending):
                rows += self._rewrite_wave(run_id, sid, wave, seq_all, commit_each=worker_mode)
        finally:
            if split is not None:
                if prev_split is None:
                    self.spark.conf.unset(conf_key)
                else:
                    self.spark.conf.set(conf_key, prev_split)

        res.bins_executed = len(pending)
        res.bins_skipped = len(done)

        if worker_mode:
            # bins already committed themselves; sweep deletes that
            # became dangling across the whole run in one final commit
            cur = self.table.current_snapshot_id
            removable_dels = self._removable_delete_files(cur, set())
            if removable_dels:
                cur = self.table.commit(
                    "maintenance",
                    removed_paths=removable_dels,
                    retries=cfg.commit_max_retries,
                    backoff_base_s=cfg.commit_backoff_base_s,
                    backoff_cap_s=cfg.commit_backoff_cap_s,
                )
            res.snapshot_after = cur
            res.input_files = sum(r["input_files"] for r in rows)
            res.output_files = sum(r["output_files"] for r in rows)
            res.input_bytes = sum(r["input_bytes"] for r in rows)
            res.output_bytes = sum(r["output_bytes"] for r in rows)
            res.rows_processed = sum(r["rows_processed"] for r in rows)
            res.removed_delete_files = len(removable_dels)
            res.lineage = rows
            res.wall_s = time.time() - t0
            GLOBAL.inc("compaction.runs")
            GLOBAL.inc("compaction.bins_executed", res.bins_executed)
            GLOBAL.inc("compaction.bytes_read", res.input_bytes)
            GLOBAL.inc("compaction.bytes_written", res.output_bytes)
            GLOBAL.inc("compaction.rows_rewritten", res.rows_processed)
            return res

        # ---- single atomic commit (PlannerCommit) ----
        rewritten = {p for r in rows for p in r["input_paths"]}
        added: list[mf.FileInfo] = []
        for r in rows:
            cached = self._info_cache.get(r["bin"])
            if cached is not None:
                added.extend(cached)
            else:  # resumed bin: stats re-read from its output footers
                infos = mf.collect_file_infos(
                    r["output_paths"], content=mf.CONTENT_DATA, spark=self.spark
                )
                for fi in infos:
                    fi.partition = Table._partition_of(fi)
                added.extend(infos)
        removable_dels = self._removable_delete_files(sid, rewritten)

        if cfg.commit_mode == CommitMode.NO_COMMIT:
            res.snapshot_after = sid
        else:
            res.snapshot_after = self.table.commit(
                "replace",
                added=added,
                removed_paths=sorted(rewritten) + removable_dels,
                expected_snapshot_id=sid,
                retries=cfg.commit_max_retries,
                backoff_base_s=cfg.commit_backoff_base_s,
                backoff_cap_s=cfg.commit_backoff_cap_s,
            )

        res.input_files = sum(r["input_files"] for r in rows)
        res.output_files = sum(r["output_files"] for r in rows)
        res.input_bytes = sum(r["input_bytes"] for r in rows)
        res.output_bytes = sum(r["output_bytes"] for r in rows)
        res.rows_processed = sum(r["rows_processed"] for r in rows)
        res.removed_delete_files = len(removable_dels)
        res.lineage = rows
        res.wall_s = time.time() - t0
        GLOBAL.inc("compaction.runs")
        GLOBAL.inc("compaction.bins_executed", res.bins_executed)
        GLOBAL.inc("compaction.bytes_read", res.input_bytes)
        GLOBAL.inc("compaction.bytes_written", res.output_bytes)
        GLOBAL.inc("compaction.rows_rewritten", res.rows_processed)
        return res
