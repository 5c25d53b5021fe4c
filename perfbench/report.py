"""Metrics of a finished run: the end-to-end numbers of an untraced run and
the per-layer numbers of a traced one."""

from __future__ import annotations

import statistics

import layertrace
import stats

from workloads import BATTERY

# the ops behind each workload's named timing metrics
WORKLOAD_OPS = {
    "converge": ("pagerank", "lpa", "cc", "nmf"),
    "incremental": ("refresh", "read", "reconverge", "recompute"),
}

SPARK = (
    "jobs", "stages_run", "stages_skipped", "tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
    "input_mb", "spill_mb",
)


def e2e_metrics(run, untraced: list[dict]) -> dict:
    """The result-line metrics of an untraced run: medians over its
    passes of the steal-adjusted wall and of the CPU time, and set-up."""
    return {
        "pass_s": {"value": statistics.median(p["unstolen_s"] for p in untraced), "unit": "s"},
        "pass_cpu_s": {"value": statistics.median(p["cpu_s"] for p in untraced), "unit": "s"},
        "setup_s": {"value": run.setup_s, "unit": "s"},
    }


def e2e_detail(run, ops: dict) -> dict:
    """The workload's named end-to-end metrics, each with its unit and
    sample count."""
    out = {
        "setup_s": {"value": run.setup_s, "unit": "s", "samples": 1},
        "failed_op_ratio": {
            "value": run.failed / run.attempted if run.attempted else None,
            "unit": "ratio",
            "samples": run.attempted,
        },
        "peak_rss_mb": {"value": run.peak_rss_mb, "unit": "MB", "samples": 1},
    }
    for op in WORKLOAD_OPS[run.args.workload]:
        s = ops.get(f"{op}_s", stats.summary([]))
        out[f"{op}_s"] = {"value": s["median"], "unit": "s", "samples": s["samples"]}
        if op == "refresh":
            out["refresh_s_tail"] = {
                "value": s["tail"],
                "unit": "s",
                "percentile": s["tail_pct"],
                "samples": s["samples"],
            }
    if run.args.workload == "incremental" and run.args.trace:
        # one battery pass = the battery queries of one pass
        per_pass = [sum(xs) for xs in zip(*(run.times.get(q, []) for q in BATTERY))]
        out["battery_s"] = {
            "value": stats.median(per_pass), "unit": "s", "samples": len(per_pass)}
    return out


def _overhead(run) -> float:
    """Tracing overhead: the median over op kinds of (traced median /
    untraced median) - 1. Per op, so that an op whose cost legitimately
    differs between consecutive passes (a refresh that compacts) moves
    one ratio instead of the whole figure."""
    ratios = []
    for metric, pairs in run.op_times_by_mode.items():
        t, u = pairs.get(True), pairs.get(False)
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return statistics.median(ratios) - 1.0 if ratios else 0.0


def _descendants(spans, roots) -> list:
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out, todo = [], list(roots)
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(children.get(s.sid, ()))
    return out


def _sum(counters: list[dict], key: str) -> float:
    return sum(c[key] for c in counters)


def _div(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(run) -> tuple[dict, dict]:
    """Per-layer metrics from the traced passes, averaged per pass unless
    the name says otherwise, plus the detail block (self time per layer,
    per-op Spark counters, tracing overhead)."""
    spans = run.tracer.spans
    jobs, stages = layertrace.read_status_store(run.spark)
    traced = [p for p in run.passes if p["traced"]]
    n = len(traced)
    scope = _descendants(spans, [p["span"] for p in traced])
    ranged = [s for s in scope if s.job_lo is not None and s.job_hi is not None]
    counters = dict(
        zip(
            (s.sid for s in ranged),
            layertrace.attribute([(s.job_lo, s.job_hi) for s in ranged], jobs, stages),
        )
    )
    zero = dict.fromkeys(layertrace.COUNTERS, 0)
    by_name: dict[str, list] = {}
    for s in scope:
        by_name.setdefault(s.name, []).append(s)

    def named(name):
        return by_name.get(name, [])

    def cnt(s):
        return counters.get(s.sid, zero)

    self_s = layertrace.self_times(scope)
    m: dict[str, tuple[float, str]] = {}

    rounds = named("loop.round")
    rc = [cnt(s) for s in rounds]
    round_wall = sum(s.dur for s in rounds)
    parts = [s.attrs["partitions"] for s in named("loop.negotiate_partitions")]
    m["loop.iterations"] = (_div(len(rounds), n), "count")
    m["loop.partitions"] = (statistics.mean(parts) if parts else 0.0, "count")
    m["loop.round_s"] = (statistics.median(s.dur for s in rounds) if rounds else 0.0, "s")
    m["loop.jobs_per_round"] = (_div(_sum(rc, "jobs"), len(rounds)), "count")
    m["loop.stages_run_per_round"] = (_div(_sum(rc, "stages_run"), len(rounds)), "count")
    m["loop.stages_skipped_per_round"] = (_div(_sum(rc, "stages_skipped"), len(rounds)), "count")
    m["loop.tasks_per_round"] = (_div(_sum(rc, "tasks"), len(rounds)), "count")
    m["loop.executor_s_per_round"] = (_div(_sum(rc, "executor_run_s"), len(rounds)), "s")
    m["loop.shuffle_write_mb_per_round"] = (_div(_sum(rc, "shuffle_write_mb"), len(rounds)), "MB")
    m["loop.core_busy"] = (_div(_sum(rc, "executor_run_s"), round_wall * run.cores), "ratio")
    m["loop.self_s"] = (_div(self_s.get("loop", 0.0), n), "s")

    pruned = named("incr.pagerank_pruned")
    m["incr.pruned_rounds"] = (_div(sum(s.attrs["rounds"] for s in pruned), n), "count")
    m["incr.frontier_rows"] = (_div(sum(s.attrs["frontier_rows"] for s in pruned), n), "count")
    m["incr.self_s"] = (_div(self_s.get("incr", 0.0), n), "s")
    m["iterative.self_s"] = (_div(self_s.get("iterative", 0.0), n), "s")

    # refresh work net of the compactions its cadence triggers
    refreshes = named("store.refresh")
    compacts = named("store.compact")
    refresh_net = dict.fromkeys(layertrace.COUNTERS, 0.0)
    for s in refreshes:
        for k in refresh_net:
            refresh_net[k] += cnt(s)[k]
    for s in compacts:
        if s.parent is not None and spans[s.parent].name == "store.refresh":
            for k in refresh_net:
                refresh_net[k] -= cnt(s)[k]
    refresh_ops = named("op.refresh")
    groups = sum(s.attrs.get("affected_groups", 0) for s in refresh_ops)
    delta_rows = sum(s.attrs.get("delta_rows", 0) for s in refresh_ops)
    child_dur: dict[int, float] = {}
    for s in scope:
        if s.parent is not None:
            child_dur[s.parent] = child_dur.get(s.parent, 0.0) + s.dur
    m["store.refresh_self_s"] = (
        _div(sum(s.dur - child_dur.get(s.sid, 0.0) for s in refreshes), len(refreshes)), "s")
    reads = named("op.read")
    m["store.read_s"] = (statistics.median(s.dur for s in reads) if reads else 0.0, "s")
    m["store.compact_s"] = (_div(sum(s.dur for s in compacts), n), "s")
    m["store.layers"] = (
        statistics.mean(s.attrs["version"] for s in refreshes) if refreshes else 0.0, "count")
    m["store.input_mb_per_refresh"] = (_div(refresh_net["input_mb"], len(refreshes)), "MB")
    m["store.rows_read_per_affected_group"] = (_div(refresh_net["input_rows"], groups), "count")
    m["store.bytes_written_per_refresh"] = (
        _div(refresh_net["output_mb"] * 1e6, len(refreshes)), "B")
    m["store.write_amp"] = (_div(refresh_net["output_rows"], delta_rows), "ratio")

    commits = named("occ.commit_meta")
    m["occ.commit_s"] = (statistics.mean(s.dur for s in commits) if commits else 0.0, "s")
    m["occ.lock_wait_s"] = (_div(sum(s.dur for s in named("occ.store_lock_wait")), n), "s")
    m["occ.conflicts"] = (
        float(sum(s.attrs.get("error") == "ConcurrentWriteError" for s in commits)), "count")

    spreads = named("catalog.spread_scan")
    m["catalog.spread_calls"] = (_div(len(spreads), n), "count")
    m["catalog.spread_exchanges"] = (_div(sum(s.attrs["exchange"] for s in spreads), n), "count")

    for q in BATTERY:
        xs = [s.dur for s in named(f"op.{q}")]
        m[f"battery.{q}_s"] = (statistics.median(xs) if xs else 0.0, "s")

    starts = [s.dur for s in spans if s.name == "session.get_spark"]
    m["session.start_s"] = (starts[0] if starts else 0.0, "s")

    op_spans = [s for s in scope if s.name.startswith("op.")]
    oc = [cnt(s) for s in op_spans]
    op_wall = sum(s.dur for s in op_spans)
    for k in SPARK:
        unit = "s" if k.endswith("_s") else "MB" if k.endswith("_mb") else "count"
        m[f"spark.{k}"] = (_div(_sum(oc, k), n), unit)
    m["spark.core_busy"] = (_div(_sum(oc, "executor_run_s"), op_wall * run.cores), "ratio")

    t_pass = [p["s"] for p in traced]
    u_pass = [p["s"] for p in run.passes if not p["traced"]]
    overhead = _overhead(run)
    m["trace.overhead"] = (overhead, "ratio")
    m["trace.stages_evicted"] = (float(_sum(list(counters.values()), "stages_evicted")), "count")

    per_op: dict[str, dict] = {}
    for s in op_spans:
        agg = per_op.setdefault(s.name[3:], {"samples": 0, **dict.fromkeys(SPARK, 0.0)})
        agg["samples"] += 1
        for k in SPARK:
            agg[k] += cnt(s)[k]
    for agg in per_op.values():
        for k in SPARK:
            agg[k] /= agg["samples"]
    extra = {
        "self_s_per_pass": {k: v / n for k, v in sorted(self_s.items())},
        "spark_per_op": per_op,
        "trace_overhead": {
            "traced_pass_s": t_pass,
            "untraced_pass_s": u_pass,
            "median_op_ratio_minus_1": overhead,
        },
        "spans": len(spans),
    }
    return m, extra
