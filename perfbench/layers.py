"""Per-layer metrics of a traced run: spans joined with the event log by
job group, plus the stream's per-trigger progress.

Analyst figures are per warm pass (median over the warm passes) unless
they belong to the cold pass (``registry.build_*``,
``operators.python_boot_s``); stream figures cover the measured query
after its lead-in batch.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from analyst import WINDOW_QUERIES
from common import Span, Tracer, group_id, percentile
from eventlog import GroupStats
from metrics import PER_LAYER

#: span names whose self time counts as a named layer for ``trace.coverage``
LAYER_SPANS = {
    "registry.build",
    "operators.exec",
    "generator.wait",
    "generator.land",
    "streaming.drain",
}


def self_times(tr: Tracer, root: Span) -> dict[str, float]:
    """Layer name -> summed self time over ``root``'s subtree."""
    out: dict[str, float] = defaultdict(float)
    todo = [root]
    while todo:
        s = todo.pop()
        out[s.name] += tr.self_time(s)
        todo.extend(tr.children(s.id))
    return dict(out)


def coverage(tr: Tracer, roots: list[Span]) -> tuple[float, dict]:
    """Lowest share of a pass or phase covered by named layer self times,
    and the self-time table of every pass or phase."""
    table, worst = {}, 1.0
    for r in roots:
        st = self_times(tr, r)
        wall = r.end - r.start
        named = sum(v for k, v in st.items() if k in LAYER_SPANS)
        worst = min(worst, named / wall if wall > 0 else 1.0)
        table[f"{r.op}:{r.name}"] = {"wall_s": wall, **{k: round(v, 4) for k, v in st.items()}}
    return worst, table


def _subtree_groups(tr: Tracer, root: Span, stats: dict[str, GroupStats], names: set[str]) -> GroupStats:
    total = GroupStats()
    todo = [root]
    while todo:
        s = todo.pop()
        if s.name in names and group_id(s) in stats:
            total.add(stats[group_id(s)])
        todo.extend(tr.children(s.id))
    return total


def _span_sum(tr: Tracer, root: Span, name: str) -> float:
    todo, total = [root], 0.0
    while todo:
        s = todo.pop()
        if s.name == name:
            total += s.end - s.start
        todo.extend(tr.children(s.id))
    return total


def _operators(g: GroupStats, exec_s: float, exec_task_s: float, cores: int) -> dict:
    return {
        "sources.scan_bytes": g.scan_bytes,
        "sources.parquet_scans": g.parquet_scans,
        "sources.cached_scans": g.cached_scans,
        "operators.exec_s": exec_s,
        "operators.jobs": g.jobs,
        "operators.stages": g.stages,
        "operators.tasks": g.tasks,
        "operators.deser_s": g.deser_s,
        "operators.idle_core_s": exec_s * cores - exec_task_s,
        "operators.task_s": g.task_s,
        "operators.gc_s": g.gc_s,
        "operators.spill_bytes": g.spill_bytes,
        "operators.shuffle_read_bytes": g.shuffle_read_bytes,
        "operators.shuffle_write_bytes": g.shuffle_write_bytes,
        "operators.python_s": g.python_s,
        "operators.python_bytes": g.python_bytes,
    }


def base(ctx, e2e: dict, stats: dict[str, GroupStats]) -> dict:
    tr: Tracer = ctx.tracer
    start = next(s for s in tr.spans if s.name == "session.start")
    warm = next(s for s in tr.spans if s.name == "session.warmup")
    out = {k: 0.0 for k in PER_LAYER}
    out.update({
        "session.start_s": start.end - start.start,
        "session.warmup_s": warm.end - warm.start,
        "generator.inputs_s": ctx.inputs_s,
        "check.mismatches": ctx.mismatches,
        "process.peak_rss_mb": ctx.peak_rss_mb,
        "trace.warm_s": e2e["warm_s"],
        "operators.failed_tasks": sum(g.failed_tasks for g in stats.values()),
    })
    return out


def analyst(ctx, e2e: dict, stats: dict[str, GroupStats]) -> tuple[dict, dict]:
    tr: Tracer = ctx.tracer
    out = base(ctx, e2e, stats)
    passes = [tr.spans[p["span"]] for p in ctx.passes]
    cold, warm = passes[0], passes[1:]
    both = {"registry.build", "operators.exec"}
    cold_build = _subtree_groups(tr, cold, stats, {"registry.build"})
    out["registry.build_s"] = _span_sum(tr, cold, "registry.build")
    out["registry.build_jobs"] = cold_build.jobs
    out["registry.memo_hit_ratio"] = ctx.memo_hit_ratio
    out["operators.python_boot_s"] = _subtree_groups(tr, cold, stats, both).python_boot_s
    per_pass = [
        _operators(
            _subtree_groups(tr, p, stats, both),
            _span_sum(tr, p, "operators.exec"),
            _subtree_groups(tr, p, stats, {"operators.exec"}).task_s,
            ctx.cores,
        )
        for p in warm
    ]
    for k in per_pass[0]:
        out[k] = statistics.median(p[k] for p in per_pass)
    out["trace.coverage"], table = coverage(tr, passes)
    plans = _window_plans(tr, stats)
    problems = [f"{q}: executed plan has no Window operator" for q in WINDOW_QUERIES if not plans.get(q)]
    return out, {"self_times": table, "window_operators": plans, "problems": problems}


def _window_plans(tr: Tracer, stats: dict[str, GroupStats]) -> dict[str, bool]:
    """Whether each query's warm executed plans contain a Window operator."""
    seen: dict[str, bool] = {}
    for s in tr.spans:
        if s.name == "operators.exec" and s.op.startswith("pass") and not s.op.startswith("pass0:"):
            name = s.op.split(":", 1)[1]
            g = stats.get(group_id(s))
            has = bool(g and "Window" in g.node_names)
            seen[name] = seen.get(name, False) or has
    return seen


def alerts(ctx, e2e: dict, stats: dict[str, GroupStats]) -> tuple[dict, dict]:
    tr: Tracer = ctx.tracer
    out = base(ctx, e2e, stats)
    lead_batch = ctx.file_batch[0]
    prog = [p for p in ctx.progress if p["batchId"] > lead_batch]
    dur = lambda p, *keys: sum(p["durationMs"].get(k, 0) for k in keys) / 1e3  # noqa: E731
    trig = [dur(p, "triggerExecution") for p in prog]
    rows = [p["numInputRows"] for p in prog if p["numInputRows"]]
    last_state = prog[-1]["stateOperators"]
    g = stats.get(ctx.run_id, GroupStats())
    exec_s = sum(trig)
    out.update(_operators(g, exec_s, g.task_s, ctx.cores))
    out.update({
        "operators.python_boot_s": g.python_boot_s,
        "streaming.batches": len(prog),
        "streaming.empty_batches": sum(1 for p in prog if not p["numInputRows"]),
        "streaming.trigger_p50_s": percentile(trig, 50),
        "streaming.trigger_p95_s": percentile(trig, 95),
        "streaming.add_batch_s": sum(dur(p, "addBatch") for p in prog),
        "streaming.planning_s": sum(dur(p, "queryPlanning") for p in prog),
        "streaming.offsets_s": sum(dur(p, "latestOffset", "getBatch") for p in prog),
        "streaming.commit_s": sum(dur(p, "walCommit", "commitOffsets") for p in prog),
        "streaming.rows_per_batch": statistics.median(rows) if rows else 0,
        "streaming.state_rows": sum(s["numRowsTotal"] for s in last_state),
        "streaming.state_bytes": sum(s["memoryUsedBytes"] for s in last_state),
        "streaming.state_commit_s": sum(s["commitTimeMs"] for p in prog for s in p["stateOperators"]) / 1e3,
        "streaming.python_s": g.python_s,
        "streaming.late_dropped": ctx.late_dropped,
        "streaming.dedup_dropped": ctx.dedup_dropped,
        "streaming.backlog_files_max": ctx.backlog_files_max,
        "streaming.latency_p95_s": ctx.latency_p95_s,
        "streaming.eps": ctx.flood_eps,
        "generator.lag_max_s": ctx.lag_max_s,
    })
    phases = [s for s in tr.spans if s.name in ("phase.paced", "phase.flood")]
    out["trace.coverage"], table = coverage(tr, phases)
    files = [
        {"file": f, "due": due, "landed": t, "batch": ctx.file_batch[f],
         "commit": ctx.batch_commit[ctx.file_batch[f]]}
        for f, (due, t) in sorted(ctx.landed.items())
    ]
    triggers = [{"batch": p["batchId"], "rows": p["numInputRows"], **p["durationMs"]} for p in prog]
    return out, {"self_times": table, "triggers": triggers, "files": files, "problems": []}
