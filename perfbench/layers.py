"""Which engine functions the traced run wraps, and how spans and
samples become the reported metrics.

Layers every workload runs report milliseconds per timed op. Layers
only some workloads run report their busy time as a share of the timed
ops' wall time, which reads 0 where the layer never runs; their
milliseconds are in the trace file. A timed op here is one
MERGE cycle or maintenance pass together with the reads after it.
"""

from __future__ import annotations

import statistics

from iceberg_compaction_spark.metrics import GLOBAL as METRICS
from iceberg_compaction_spark.operators import maintenance as maint_mod
from iceberg_compaction_spark.operators import merge_into as merge_mod
from iceberg_compaction_spark.plans import compaction as compaction_mod
from iceberg_compaction_spark.plans import delete_scope, pruning
from iceberg_compaction_spark.sources import manifest as mf
from iceberg_compaction_spark.sources.table import Table

from spans import union_length

MAINT_STEPS = {
    "recommend_compaction": "recommend",
    "clean_dangling_deletes": "clean_dangling",
    "rewrite_position_deletes": "rewrite_pos_deletes",
    "rewrite_equality_deletes": "rewrite_eq_deletes",
    "expire_snapshots": "expire",
    "clean_orphan_files": "orphans",
    "rewrite_manifests": "rewrite_manifests",
}

# per-layer metric -> (unit, better, the end-to-end metric it should
# move and on which workloads). The last field is documentation, also
# written to the trace file.
PER_LAYER = {
    "session.start_ms": ("ms", "lower", "setup_s on all workloads"),
    "sources.table.commit_ms": (
        "ms", "lower", "op_cpu_ms on merge_read_mix; barely op_cpu_ms on maintain_after_churn"),
    "sources.table.manifest_ms": ("ms", "lower", "op_cpu_ms on merge_read_mix"),
    "sources.manifest.collect_file_infos_ms": (
        "ms", "lower", "op_cpu_ms on merge_read_mix and maintain_after_churn (every write footers its output)"),
    "sources.table.scan_plan_ms": ("ms", "lower", "point_read_cpu_ms on merge_read_mix"),
    "operators.mor.read_exec_ms": (
        "ms", "lower", "full_read_cpu_ms on merge_read_mix; not on maintain_after_churn (no deletes left)"),
    "trace.overhead_ms": ("ms", "lower", "none: traced minus untraced op latency in one run"),
    "plans.compaction.plan_share": ("ratio", "lower", "op_cpu_ms on maintain_after_churn; grows with file count"),
    "plans.compaction.bin_share": (
        "ratio", "lower", "op_cpu_ms on maintain_after_churn; nothing on merge_read_mix"),
    "plans.compaction.removable_deletes_share": (
        "ratio", "lower", "op_cpu_ms on maintain_after_churn"),
    "sources.table.write_data_files_share": ("ratio", "lower", "op_cpu_ms on merge_read_mix"),
    "sources.table.write_delete_files_share": ("ratio", "lower", "op_cpu_ms on merge_read_mix"),
    "operators.merge_into.eq_delete_write_share": ("ratio", "lower", "op_cpu_ms on merge_read_mix"),
    **{
        f"operators.maintenance.{step}_share": (
            "ratio", "lower", "op_cpu_ms and space_amp on maintain_after_churn")
        for step in ["recommend", "compaction", *list(MAINT_STEPS.values())[1:]]
    },
    "plans.compaction.bins": ("count", "lower", "op_cpu_ms on maintain_after_churn"),
    "plans.packer.fill_ratio": ("ratio", "higher", "op_cpu_ms on maintain_after_churn"),
    "plans.compaction.bin_overlap": (
        "ratio", "higher", "op_cpu_ms on maintain_after_churn"),
    "sources.manifest.files_footered": ("count", "lower", "op_cpu_ms on merge_read_mix and maintain_after_churn"),
    "sources.table.commit_attempts": ("count", "lower", "op_cpu_ms on merge_read_mix"),
    "sources.table.commit_conflicts": ("count", "lower", "op_cpu_ms on merge_read_mix"),
    "plans.pruning.pruned_ratio": ("ratio", "higher", "point_read_cpu_ms on merge_read_mix"),
    "plans.delete_scope.attached_ratio": ("ratio", "lower", "point_read_cpu_ms on merge_read_mix"),
    "operators.maintenance.bytes_deleted": (
        "bytes", "higher", "space_amp and op_cpu_ms on maintain_after_churn"),
    "spark.jobs": ("count", "lower", "the latency of the op that runs them, on every workload"),
    "spark.tasks": ("count", "lower", "the latency of the op that runs them, on every workload"),
}

# layers reported in ms per timed op -> span name
MS_LAYERS = {
    "sources.table.commit_ms": "sources.table.commit",
    "sources.table.manifest_ms": "sources.table.manifest",
    "sources.manifest.collect_file_infos_ms": "sources.manifest.collect_file_infos",
    "sources.table.scan_plan_ms": "sources.table.scan",
    "operators.mor.read_exec_ms": "operators.mor.read_exec",
}
# layers reported as a share of the timed ops' wall time -> span name
SHARE_LAYERS = {
    "plans.compaction.plan_share": "plans.compaction.plan",
    "plans.compaction.bin_share": "plans.compaction.bin",
    "plans.compaction.removable_deletes_share": "plans.compaction.removable_deletes",
    "sources.table.write_data_files_share": "sources.table.write_data_files",
    "sources.table.write_delete_files_share": "sources.table.write_delete_files",
    "operators.merge_into.eq_delete_write_share": "operators.merge_into.eq_delete_write",
    **{
        f"operators.maintenance.{step}_share": f"operators.maintenance.{step}"
        for step in MAINT_STEPS.values()
    },
}
TOP_LEVEL = ("bench.op", "bench.point_read", "bench.full_read")


def install(tracer) -> None:
    """Wrap the engine entry points each layer metric is measured at."""
    offset = tracer.wall_offset

    def execute_after(_ctx, span, _args, _kwargs, res):
        for row in res.lineage:
            tracer.add(
                "plans.compaction.bin",
                row["started_ms"] / 1000 + offset,
                row["finished_ms"] / 1000 + offset,
                parent=span["id"],
                input_bytes=row["input_bytes"],
                input_files=row["input_files"],
            )
        return {"bins": res.bins_total, "input_bytes": res.input_bytes}

    def plan_after(_ctx, _span, args, _kwargs, bins):
        runner = args[0]
        return {
            "bins": len(bins),
            "bin_bytes": sum(b.total_bytes for b in bins),
            "target": runner.config.group_target_size_bytes,
        }

    def footered_after(_ctx, _span, args, kwargs, _res):
        return {"files": len(kwargs.get("paths", args[0] if args else ()))}

    def scan_after(before, _span, args, kwargs, _res):
        if not kwargs.get("filter"):
            return {}
        table = args[0]
        d = {k: v - before.get(k, 0) for k, v in METRICS.snapshot().items()}
        with tracer.paused():
            live_deletes = sum(1 for r in table.files() if r["content"] != mf.CONTENT_DATA)
        return {
            "filtered": True,
            "pruned": d.get("scan.files_pruned", 0),
            "scanned": d.get("scan.files_scanned", 0),
            "attached": d.get("scan.delete_files_attached", 0),
            "live_deletes": live_deletes,
        }

    runner = compaction_mod.CompactionRunner
    tracer.wrap(runner, "execute", "plans.compaction.execute", after=execute_after)
    tracer.wrap(runner, "plan", "plans.compaction.plan", after=plan_after)
    tracer.wrap(runner, "_removable_delete_files", "plans.compaction.removable_deletes")
    tracer.wrap(mf, "collect_file_infos", "sources.manifest.collect_file_infos", after=footered_after)
    tracer.wrap(Table, "commit", "sources.table.commit")
    tracer.wrap(Table, "manifest", "sources.table.manifest")
    tracer.wrap(Table, "write_data_files", "sources.table.write_data_files")
    tracer.wrap(Table, "write_delete_files", "sources.table.write_delete_files")
    tracer.wrap(
        Table, "scan", "sources.table.scan",
        before=lambda _a, _k: METRICS.snapshot(), after=scan_after,
    )
    tracer.wrap(pruning, "prune_files", "plans.pruning.prune_files")
    tracer.wrap(delete_scope, "scope_deletes", "plans.delete_scope.scope_deletes")
    tracer.wrap(merge_mod, "merge_into", "operators.merge_into.merge_into")
    tracer.wrap(merge_mod, "table_write_eq_delete", "operators.merge_into.eq_delete_write")
    tracer.wrap(maint_mod, "run_maintenance", "operators.maintenance.run_maintenance")
    for fn, step in MAINT_STEPS.items():
        tracer.wrap(maint_mod, fn, f"operators.maintenance.{step}")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _samples(units, key):
    return [x for u in units for x in u.get(key, [])]


def _e2e(units, episode_stats, setup_s) -> dict:
    def cpu_ms(kind):
        # a mean, i.e. CPU cost per call: an episode's calls differ
        # systematically (reads slow down as MERGEs add delete files),
        # and a median would jump between those levels
        xs = _samples(units, f"{kind}_cpu_s")
        return 1000 * statistics.fmean(xs) if xs else 0.0

    return {
        "setup_s": (_median(setup_s), "s"),
        "op_cpu_ms": (cpu_ms("op"), "ms"),
        "point_read_cpu_ms": (cpu_ms("point_read"), "ms"),
        "full_read_cpu_ms": (cpu_ms("full_read"), "ms"),
        "write_amp": (_median([e["write_amp"] for e in episode_stats]), "ratio"),
        "space_amp": (_median([e["space_amp"] for e in episode_stats]), "ratio"),
        "live_files": (_median([e["live_files"] for e in episode_stats]), "count"),
    }


def wall_latency(units) -> dict:
    """Median wall-clock milliseconds per kind of call. Printed, not
    reported: on a shared host they follow the neighbours' load."""
    return {
        f"{kind}_p50_ms": 1000 * _median(_samples(units, f"{kind}_s"))
        for kind in ("op", "point_read", "full_read")
    }


def end_to_end_metrics(run) -> dict:
    return {
        k: {"value": v, "unit": u}
        for k, (v, u) in _e2e(run.units, run.episode_stats, run.setup_s).items()
    }


def sample_summary(run) -> dict:
    """Sample counts behind each median. With fewer than ten samples
    beyond it, no tail percentile is reported."""
    return {
        "setup": len(run.setup_s),
        "ops": sum(len(u.get("op_s", [])) for u in run.units),
        "point_reads": sum(len(u.get("point_read_s", [])) for u in run.units),
        "full_reads": sum(len(u.get("full_read_s", [])) for u in run.units),
        "episodes": len(run.episode_stats),
    }


def per_layer_metrics(run, session_start_s: float):
    """(metrics, self-time check passed, trace report)."""
    tracer = run.tracer
    traced_ops = {u["op"] for u in run.units if u["traced"]}
    spans = [s for s in tracer.spans if s["op"] in traced_ops and s["end"] is not None]
    tracer.spans = spans
    pieces = tracer.self_times()
    bad = tracer.check_self_le_wall(pieces)
    table = tracer.layer_table(pieces)
    by_id = {s["id"]: s for s in spans}
    n_units = max(1, len(traced_ops))
    wall_ms = 1000 * sum(s["end"] - s["start"] for s in spans if s["name"] in TOP_LEVEL)

    def busy(name):
        return table.get(name, {}).get("busy_ms", 0.0)

    def attr_sum(name, key, pred=lambda s: True):
        return sum(s["attrs"].get(key, 0) for s in spans if s["name"] == name and pred(s))

    maint_compaction_ms = 1000 * union_length(
        (s["start"], s["end"])
        for s in spans
        if s["name"] == "plans.compaction.execute"
        and s["parent"] in by_id
        and by_id[s["parent"]]["name"] == "operators.maintenance.run_maintenance"
    )
    filtered = lambda s: s["attrs"].get("filtered")  # noqa: E731
    pruned = attr_sum("sources.table.scan", "pruned", filtered)
    considered = pruned + attr_sum("sources.table.scan", "scanned", filtered)
    attached = attr_sum("sources.table.scan", "attached", filtered)
    live_deletes = attr_sum("sources.table.scan", "live_deletes", filtered)
    plan_bins = attr_sum("plans.compaction.plan", "bins")
    plan_calls = table.get("plans.compaction.plan", {}).get("calls", 0)
    bin_stats = table.get("plans.compaction.bin")
    plan_capacity = sum(
        s["attrs"]["bins"] * s["attrs"]["target"] for s in spans if s["name"] == "plans.compaction.plan"
    )
    counters = [u.get("counters", {}) for u in run.units if u["traced"]]
    wall_traced = wall_latency([u for u in run.units if u["traced"]])
    wall_plain = wall_latency([u for u in run.units if not u["traced"]])
    overhead = {k: wall_traced[k] - wall_plain[k] for k in wall_traced}

    values = {
        "session.start_ms": 1000 * session_start_s,
        **{k: busy(name) / n_units for k, name in MS_LAYERS.items()},
        "trace.overhead_ms": overhead["op_p50_ms"],
        **{k: busy(name) / wall_ms if wall_ms else 0.0 for k, name in SHARE_LAYERS.items()},
        "operators.maintenance.compaction_share": maint_compaction_ms / wall_ms if wall_ms else 0.0,
        "plans.compaction.bins": plan_bins / plan_calls if plan_calls else 0,
        "plans.packer.fill_ratio": attr_sum("plans.compaction.plan", "bin_bytes") / plan_capacity
        if plan_capacity
        else 0.0,
        "plans.compaction.bin_overlap": bin_stats["sum_ms"] / bin_stats["busy_ms"]
        if bin_stats and bin_stats["busy_ms"]
        else 0.0,
        "sources.manifest.files_footered": attr_sum("sources.manifest.collect_file_infos", "files") / n_units,
        "sources.table.commit_attempts": sum(c.get("commit.attempts", 0) for c in counters) / n_units,
        "sources.table.commit_conflicts": sum(c.get("commit.conflicts", 0) for c in counters) / n_units,
        "plans.pruning.pruned_ratio": pruned / considered if considered else 0.0,
        "plans.delete_scope.attached_ratio": attached / live_deletes if live_deletes else 0.0,
        "operators.maintenance.bytes_deleted": _median([e["bytes_deleted"] for e in run.episode_stats]),
        "spark.jobs": sum(attr_sum(n, "jobs") for n in TOP_LEVEL) / n_units,
        "spark.tasks": sum(attr_sum(n, "tasks") for n in TOP_LEVEL) / n_units,
    }
    metrics = {k: {"value": values[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}

    summary = [
        f"tracing overhead (traced minus untraced episodes): {overhead}",
        f"self time exceeding wall time: {bad or 'none'}",
        f"{'span':48s} {'calls':>6s} {'busy_ms':>10s} {'self_ms':>10s} {'sum_ms':>10s}",
    ] + [
        f"{name:48s} {row['calls']:6d} {row['busy_ms']:10.1f} {row['self_ms']:10.1f} {row['sum_ms']:10.1f}"
        for name, row in table.items()
    ]
    for s in spans:
        s["self_ms"] = 1000 * sum(e - b for b, e in pieces[s["id"]])
    report = {
        "per_layer": values,
        "layer_map": {k: v[2] for k, v in PER_LAYER.items()},
        "layers": table,
        "tracing_overhead": overhead,
        "self_exceeds_wall": bad,
        "summary": summary,
        "spans": spans,
    }
    return metrics, not bad, report
