"""Turns a traced run into the per-layer metrics.

Inputs: the tracer's spans (run number, layer span name, table label), the
Spark event log rolled up per job group (``<run>|<span name>|<label>``),
and the ``/proc`` and ``pg_stat_*`` deltas taken around the traced runs.
Every figure is computed per traced run and the median over runs is
reported; a layer the workload does not exercise reads 0, so every
workload reports every name.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

import eventlog
from workloads import HEADLINE

UNITS = {
    "copier.prepare_s": "s",
    "copier.level_s": "s",
    "copier.straggler_ratio": "ratio",
    "compiler.spec_s": "s",
    "propagation.subset_s": "s",
    "propagation.subset_share": "ratio",
    "propagation.closure_s": "s",
    "propagation.closure_jobs": "count",
    "propagation.closure_path": "code",
    "propagation.kept_ratio": "ratio",
    "anon.native_extra_s": "s",
    "anon.pandas_extra_s": "s",
    "python_worker_cpu_s": "s",
    "sink.write_s": "s",
    "sink.write_max_s": "s",
    "sink.jobs_per_table": "count",
    "sink.files": "count",
    "sink.bytes": "B",
    "source.read_bytes": "B",
    "source.read_rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_skew": "ratio",
    "spark.propagation.jobs": "count",
    "spark.sink.jobs": "count",
    "trace.run_s": "s",
    "trace.untraced_run_s": "s",
    "trace.overhead_s": "s",
    "first_run_s": "s",
    "peak_pss_mb": "MB",
    "jvm_peak_pss_mb": "MB",
    "jvm_heap_peak_mb": "MB",
    "jdbc.write_s": "s",
    "pg.statements": "count",
    "pg.statements_per_row": "ratio",
    "pg.rows_per_statement": "ratio",
    "pg.commits": "count",
    "pg.exec_s": "s",
    "pg.server_cpu_s": "s",
    **{f"query.{name}_s": "s" for name in HEADLINE},
}

_SUMMED = ["jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
           "shuffle_write_bytes", "spill_bytes"]
# span-name prefix -> layer, for the spark.<layer>.jobs split
_LAYER = {"propagation": "propagation", "sink": "sink", "jdbc": "sink"}


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _group_run(group: str) -> int | None:
    head = group.split("|", 1)[0]
    return int(head) if head.isdigit() else None


def _span_name(group: str) -> str:
    parts = group.split("|")
    return parts[1] if len(parts) > 1 else ""


def load_groups(log_dir: str) -> dict[str, dict]:
    groups: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        groups.update(eventlog.rollup(eventlog.parse_file(path),
                                      keep=lambda g: _group_run(g) is not None))
    return groups


def run_metrics(run: int, spans, groups: dict[str, dict], levels) -> tuple[dict, list[float]]:
    """Per-layer figures of one traced run, and its table write times."""
    mine = [s for s in spans if s.run == run]
    by_name: dict[str, list] = {}
    for s in mine:
        by_name.setdefault(s.name, []).append(s)

    def total(name):
        return sum(s.duration for s in by_name.get(name, []))

    out = {
        "copier.prepare_s": sum(total(n) for n in
                                ("copier.add_keys", "copier.validate", "copier.sort_tables")),
        "compiler.spec_s": total("compiler.apply_spec"),
        "propagation.subset_s": total("propagation.apply_subsetting"),
        "propagation.closure_s": total("propagation.self_ref_closure"),
        "jdbc.write_s": total("jdbc.write_jdbc"),
    }
    closures = by_name.get("propagation.self_ref_closure", [])
    on_driver = {s.parent for s in by_name.get("propagation.closure_on_driver", [])}
    out["propagation.closure_path"] = (
        0 if not closures else 1 if all(c.id in on_driver for c in closures) else 2)

    writes = {s.label: s for s in by_name.get("sink.write_table", [])}
    # A level lasts until its slowest table is written: summed level wall
    # time over summed mean table write time is 1 with no straggler.
    level_total = mean_total = 0.0
    for level in levels:
        ws = [writes[t] for t in level if t in writes]
        if not ws:
            continue
        level_total += max(w.end for w in ws) - min(w.start for w in ws)
        mean_total += sum(w.duration for w in ws) / len(ws)
    out["copier.level_s"] = level_total
    out["copier.straggler_ratio"] = level_total / mean_total if mean_total else 0.0
    durations = [w.duration for w in writes.values()]

    mine_groups = {g: v for g, v in groups.items() if _group_run(g) == run}
    for k in _SUMMED:
        out[f"spark.{k}"] = sum(v[k] for v in mine_groups.values())
    out["spark.task_skew"] = max(
        [v["task_skew"] for v in mine_groups.values() if v["tasks"] >= 4] or [1.0])
    for layer in ("propagation", "sink"):
        out[f"spark.{layer}.jobs"] = sum(
            v["jobs"] for g, v in mine_groups.items()
            if _LAYER.get(_span_name(g).split(".")[0]) == layer)
    out["propagation.closure_jobs"] = sum(
        v["jobs"] for g, v in mine_groups.items()
        if _span_name(g) in ("propagation.self_ref_closure", "propagation.closure_on_driver"))
    sink_jobs = sum(v["jobs"] for g, v in mine_groups.items()
                    if _span_name(g) in ("sink.write_table", "jdbc.write_jdbc"))
    out["sink.jobs_per_table"] = sink_jobs / len(writes) if writes else 0.0
    out["source.read_bytes"] = sum(v["read_bytes"] for v in mine_groups.values())
    out["source.read_rows"] = sum(v["read_rows"] for v in mine_groups.values())
    return out, durations


def per_layer(ctx, wl, out: dict, log_dir: str) -> dict[str, float]:
    tracer = out["tracer"]
    groups = load_groups(log_dir)
    per_run, write_durations = [], []
    for r in sorted({s.run for s in tracer.spans}):
        m, durations = run_metrics(r, tracer.spans, groups, wl.levels)
        per_run.append(m)
        write_durations.extend(durations)
    metrics = {k: _median(m[k] for m in per_run) for k in (per_run[0] if per_run else {})}

    extra = dict(out["extra"])
    statements = extra.get("pg.statements", 0.0)
    if "pg.rows" in extra:
        rows = _median(n for _, n in out["traced"])
        extra["pg.rows_per_statement"] = extra.pop("pg.rows") / statements if statements else 0.0
        extra["pg.statements_per_row"] = statements / rows if rows else 0.0
    metrics.update(extra)
    traced_s = _median(t for t, _ in out["traced"])
    untraced_s = _median(t for t, _ in out["untraced"])
    metrics.update({
        "sink.write_s": _median(write_durations),
        "sink.write_max_s": max(write_durations, default=0.0),
        "propagation.subset_share": (metrics.get("propagation.subset_s", 0.0) / traced_s
                                     if traced_s else 0.0),
        "propagation.kept_ratio": wl.kept_ratio(),
        "trace.run_s": traced_s,
        "trace.untraced_run_s": untraced_s,
        "trace.overhead_s": traced_s - untraced_s,
        **{k: out[k] for k in ("first_run_s", "peak_pss_mb", "jvm_peak_pss_mb",
                               "jvm_heap_peak_mb")},
    })
    _write_artifacts(ctx, tracer, groups)
    return {k: float(metrics.get(k, 0.0)) for k in UNITS}


def _write_artifacts(ctx, tracer, groups) -> None:
    """Spans (with self time) and the per-group Spark ledger of the last
    traced run, kept under ``.perfbench/last-trace/`` for offline study."""
    dest = os.path.join(ctx.root, ".perfbench", "last-trace")
    os.makedirs(dest, exist_ok=True)
    with open(os.path.join(dest, "spans.json"), "w") as f:
        json.dump(tracer.to_json(), f)
    with open(os.path.join(dest, "ledger.json"), "w") as f:
        json.dump(groups, f, indent=1, sort_keys=True)
