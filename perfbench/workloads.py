"""The benchmark's workloads, run as a closed loop with one client.

Every workload repeats an *episode* until the run's measuring time is
spent: build a fixture at a location never used before (timed as
set-up), run the timed operations on it, check every result against
the oracle, then delete the fixture. A fresh location per episode is
required, not a copy of one pristine fixture: manifests and position
deletes record absolute file paths, so a copied table still points at
(and maintenance would delete) the original's files, and the engine's
process-wide manifest cache is keyed by path alone.

Why these workloads:

* ``merge_read_mix`` -- foreground writes beside reads: MERGE upserts,
  each followed by a point read and a full read, with no compaction, so
  reads pay for every delete file the MERGEs leave. The fixture starts
  MIX_CYCLES - 1 commits short of a ``Table.DELTA_CHAIN_MAX`` collapse,
  so every episode crosses one. It skips compaction rewrites.
* ``maintain_after_churn`` -- ``run_maintenance`` on a small-file table
  churned by MERGEs (equality deletes) and DELETEs (position deletes):
  bin-packed compaction of every small file that resolves both delete
  kinds, delete cleanup, snapshot expiry, orphan sweep. It covers the
  compaction layer and ``operators.maintenance``; its reads run on the
  compacted table, so they skip merge-on-read.
"""

from __future__ import annotations

import functools
import os
import random
import shutil
import time
import traceback

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iceberg_compaction_spark.config import CompactionConfig
from iceberg_compaction_spark.metrics import GLOBAL as METRICS
from iceberg_compaction_spark.operators import delete_where as delete_mod
from iceberg_compaction_spark.operators import maintenance as maint_mod
from iceberg_compaction_spark.operators import merge_into as merge_mod
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources.table import Table

from fixtures import BASE_TS, KEYS, Oracle, Spec, create_table, turn_hash

# ~58k turns, 4 day partitions, 4 x 4 = 16 small files (~4 MB)
MIX_SPEC = Spec(days=4, step_s=6, convs=500, shards=4)
MIX_CYCLES = 2
MIX_BATCH_ROWS = 50  # rows per ingest micro-batch while pre-filling the chain
READ_REPEATS = 3  # reads of each kind per maintenance op
CHURN_SPEC = MIX_SPEC
CHURN_MERGES = 2
CHURN_DELETES = 2
# every ~1 MB partition packs into one bin
MAINT_CONFIG = CompactionConfig(
    small_file_threshold_bytes=8 << 20,
    group_target_size_bytes=4 << 20,
    target_file_size_bytes=4 << 20,
)


def tree_state(root: str) -> dict:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Run:
    """One benchmark run: a SparkSession, a tracer, a scratch directory
    and the samples every episode adds."""

    def __init__(self, spark, tracer, cpu_clock, work_dir: str, seed: int, traced: bool):
        self.spark = spark
        self.tracer = tracer
        self.cpu_clock = cpu_clock
        self.work_dir = work_dir
        self.seed = seed
        self.traced = traced
        self.n_locations = 0
        self.attempted = 0
        self.failed = 0
        self.setup_s: list[float] = []
        self.units: list[dict] = []  # one per timed op with its reads
        self.episode_stats: list[dict] = []
        self.status = spark.sparkContext.statusTracker()

    # ------------------------------------------------------------------
    def fresh_location(self) -> str:
        self.n_locations += 1
        return os.path.join(self.work_dir, f"table-{self.n_locations:04d}")

    def _max_job_id(self) -> int:
        return max(self.status.getJobIdsForGroup(None), default=-1)

    def _tasks(self, first_job: int, last_job: int) -> int:
        n = 0
        for jid in range(first_job, last_job + 1):
            info = self.status.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = self.status.getStageInfo(sid)
                n += stage.numTasks if stage else 0
        return n

    def top(self, kind: str, unit: dict, fn):
        """Run one top-level call; add its wall and CPU seconds to the
        unit's ``<kind>_s`` and ``<kind>_cpu_s`` samples. In a traced
        unit, record it as a ``bench.<kind>`` span with the Spark jobs
        and tasks it ran."""
        span = self.tracer.open(f"bench.{kind}")
        job0 = self._max_job_id() if span else None
        c0 = self.cpu_clock.now()
        t0 = time.perf_counter()
        result = fn()
        dt = time.perf_counter() - t0
        unit.setdefault(f"{kind}_cpu_s", []).append(self.cpu_clock.now() - c0)
        unit.setdefault(f"{kind}_s", []).append(dt)
        self.tracer.close(span)
        if span:
            job1 = self._max_job_id()
            span["attrs"].update(jobs=job1 - job0, tasks=self._tasks(job0 + 1, job1))
        return result

    def attempt(self, label: str, fn):
        """Run one checked operation; any exception or mismatch counts
        as a failed attempt."""
        self.attempted += 1
        try:
            ok, detail = fn()
        except Exception:
            traceback.print_exc()
            ok, detail = False, "raised"
        if not ok:
            self.failed += 1
            print(f"# FAILED {label}: {detail}", flush=True)
        return ok

    def read(self, unit: dict, table: Table, expected: tuple, conv: str | None = None) -> bool:
        """Checksum read: the full table, or one conversation through a
        ``Table.scan`` filter. Checks sum, row count and distinct-key
        count against the oracle."""
        kind = "full_read" if conv is None else "point_read"

        def go():
            df = table.scan(self.spark, filter=None if conv is None else f"conv_id = '{conv}'")
            with self.tracer.span("operators.mor.read_exec"):
                return df.agg(
                    F.sum(turn_hash()),
                    F.count(F.lit(1)),
                    F.countDistinct(*KEYS),
                ).collect()[0]

        def check():
            row = self.top(kind, unit, go)
            got = (row[0] or 0, row[1], row[2])
            want = (expected[0], expected[1], expected[1])
            return got == want, f"got {got}, want {want}"

        return self.attempt(f"{kind} {conv or ''}", check)

    def begin_unit(self, op_id: str) -> dict:
        """Start one timed op with its reads. A traced run traces every
        other unit; the untraced ones give the tracing overhead."""
        traced = self.traced and len(self.units) % 2 == 0
        self.tracer.enabled = traced
        self.tracer.op = op_id
        unit = {"op": op_id, "traced": traced}
        if traced:
            unit["metrics0"] = METRICS.snapshot()
        self.units.append(unit)
        return unit

    def end_unit(self, unit: dict) -> None:
        if unit["traced"]:
            m0, m1 = unit.pop("metrics0"), METRICS.snapshot()
            unit["counters"] = {k: m1.get(k, 0) - m0.get(k, 0) for k in m1}
        self.tracer.enabled = False

    def op(self, unit: dict, label: str, fn) -> bool:
        """The workload's timed operation (MERGE or maintenance); its
        effects are checked by the reads after it."""

        def go():
            self.top("op", unit, fn)
            return True, ""

        return self.attempt(label, go)

    def episode_end(self, location: str, written: int, removed: int) -> None:
        """Space figures for the fixture as the episode leaves it."""
        after = tree_state(location)
        with self.tracer.paused():
            live = Table.load(location).files()
        live_bytes = sum(r["size_bytes"] for r in live)
        live_data = sum(r["size_bytes"] for r in live if r["content"] == mf.CONTENT_DATA)
        self.episode_stats.append(
            {
                "write_amp": written / live_data,
                "space_amp": sum(s for s, _ in after.values()) / live_bytes,
                "live_files": len(live),
                "bytes_deleted": removed,
            }
        )
        shutil.rmtree(location, ignore_errors=True)


def _written_and_removed(before: dict, after: dict) -> tuple[int, int]:
    written = sum(sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt))
    removed = sum(sz for p, (sz, _) in before.items() if p not in after)
    return written, removed


def _point_conv(seed: int, tag: int, convs: int) -> str:
    return f"conv_{random.Random(seed * 104_729 + tag).randrange(1, convs):08d}"


class Workload:
    """Episodes on fresh fixtures. Subclasses set ``spec``, derive their
    seeded inputs and expected results in ``prepare``, and define
    ``build`` (the timed set-up) and ``timed_op``, or a whole
    ``episode``."""

    spec: Spec
    # untimed (but checked) episodes before timing
    warmup_episodes = 1
    # timed episodes a run always completes, however short ``--seconds``
    min_episodes = 2

    def __init__(self, run: Run):
        self.run = run
        self.prepare()

    def prepare(self) -> None:
        raise NotImplementedError

    def build(self, location: str) -> Table:
        raise NotImplementedError

    def timed_op(self, table: Table):
        raise NotImplementedError

    def episode(self, k: int, location: str, table: Table) -> None:
        """One timed op, then full and point checksum reads."""
        run = self.run
        unit = run.begin_unit(f"ep{k}")
        before = tree_state(location)
        ok = run.op(unit, type(self).__name__, lambda: self.timed_op(table))
        written, removed = _written_and_removed(before, tree_state(location))
        if ok:
            # reads of a compacted table are short: several per op keep
            # their medians steady
            for _ in range(READ_REPEATS):
                run.read(unit, table, self.full)
                run.read(unit, table, self.point, self.conv)
        run.end_unit(unit)
        run.episode_end(location, written, removed)

    def fixture(self) -> tuple[str, Table]:
        location = self.run.fresh_location()
        t0 = time.perf_counter()
        table = self.build(location)
        self.run.setup_s.append(time.perf_counter() - t0)
        return location, table

    def measure(self, seconds: float) -> int:
        """Run ``warmup_episodes`` untimed episodes, then timed ones
        until ``seconds`` have passed and at least ``min_episodes`` ran.
        Every episode builds its own fixture; the median of all builds,
        warm-up ones included, is ``setup_s``. Returns the number of
        timed episodes."""
        run = self.run
        # class loading, JIT compilation and code generation are done
        # before timing, as in a long-running maintenance service; the
        # warm-up's results are still checked
        for _ in range(self.warmup_episodes):
            self.episode(-1, *self.fixture())
        run.units.clear()
        run.episode_stats.clear()
        t0 = time.perf_counter()
        k = 0
        while k < self.min_episodes or time.perf_counter() - t0 < seconds:
            self.episode(k, *self.fixture())
            k += 1
        return k


# ----------------------------------------------------------------------
class MergeReadMix(Workload):
    spec = MIX_SPEC
    # MERGE cycles are short: two episodes get the JIT through the
    # engine's write and read paths
    warmup_episodes = 2

    def prepare(self) -> None:
        run, spec = self.run, self.spec
        spark = run.spark
        oracle = Oracle(spark, spec)
        # ingest history: the newest rows arrive as one-file commits that
        # leave the delta chain MIX_CYCLES - 1 commits short of a
        # collapse, so the last cycle's commit collapses it
        n_batches = Table.DELTA_CHAIN_MAX - (MIX_CYCLES - 1)
        cut = spec.turns - n_batches * MIX_BATCH_ROWS
        gen = spec.generator(spark)
        ts_cut = F.timestamp_seconds(F.lit(BASE_TS + cut * spec.step_s))
        self.base_rows = gen.filter(F.col("ts") < ts_cut)
        tail = gen.filter(F.col("ts") >= ts_cut).orderBy("ts").toPandas()
        batches = [
            spark.createDataFrame(
                tail.iloc[i * MIX_BATCH_ROWS : (i + 1) * MIX_BATCH_ROWS], schema=gen.schema
            ).coalesce(1)
            for i in range(n_batches)
        ]
        # one partition per batch; the batches fall in the last day, so
        # each partition writes one file
        self.batches = functools.reduce(DataFrame.union, batches)
        self.cycles = []
        for c, src in oracle.merge_sources(run.seed, range(MIX_CYCLES)):
            conv = _point_conv(run.seed, c, spec.convs)
            self.cycles.append((src, conv, oracle.expected(conv), oracle.expected()))

    def build(self, location: str) -> Table:
        table = create_table(self.run.spark, self.spec, location, self.run.seed, self.base_rows)
        for fi in table.write_data_files(self.batches):
            table.commit("append", added=[fi])
        return table

    def episode(self, k: int, location: str, table: Table) -> None:
        run = self.run
        written = removed = 0
        for c, (src, conv, point, full) in enumerate(self.cycles):
            unit = run.begin_unit(f"ep{k}.c{c}")
            before = tree_state(location)
            ok = run.op(unit, "merge", lambda: merge_mod.merge_into(table, src, KEYS))
            w, r = _written_and_removed(before, tree_state(location))
            written, removed = written + w, removed + r
            if ok:
                run.read(unit, table, point, conv)
                run.read(unit, table, full)
            run.end_unit(unit)
            if not ok:
                break
        run.episode_end(location, written, removed)


# ----------------------------------------------------------------------
class MaintainAfterChurn(Workload):
    spec = CHURN_SPEC

    def prepare(self) -> None:
        run = self.run
        oracle = Oracle(run.spark, self.spec)
        self.sources = [src for _, src in oracle.merge_sources(run.seed, range(CHURN_MERGES))]
        self.predicates = [oracle.delete_predicate(run.seed, d) for d in range(CHURN_DELETES)]
        self.full = oracle.expected()
        self.conv = _point_conv(run.seed, 0, self.spec.convs)
        self.point = oracle.expected(self.conv)

    def build(self, location: str) -> Table:
        spark = self.run.spark
        table = create_table(spark, self.spec, location, self.run.seed)
        for src in self.sources:
            merge_mod.merge_into(table, src, KEYS)
        for pred in self.predicates:
            delete_mod.delete_where(spark, table, pred, mode="mor")
        return table

    def timed_op(self, table: Table):
        return maint_mod.run_maintenance(
            self.run.spark, table, MAINT_CONFIG, retain_last=1, rewrite_manifests_over_depth=4
        )


WORKLOADS = {
    "merge_read_mix": MergeReadMix,
    "maintain_after_churn": MaintainAfterChurn,
}
