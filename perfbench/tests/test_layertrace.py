import layertrace
from layertrace import Span


def _stage(status="COMPLETE", submitted=100, tasks=4, run_s=1.0, attempt=0):
    return {
        "attempt": attempt, "status": status, "submitted": submitted,
        "tasks": tasks, "executor_run_s": run_s, "executor_cpu_s": run_s / 2,
        "gc_s": 0.0, "shuffle_write_mb": 1.0, "shuffle_read_mb": 0.5,
        "input_mb": 0.0, "input_rows": 0, "output_mb": 0.0, "output_rows": 0,
        "spill_mb": 0.0,
    }


def test_attribution_splits_run_and_skipped_by_stage_id():
    jobs = {
        0: {"stages": [0, 1], "submitted": 100},
        1: {"stages": [1, 2], "submitted": 200},  # reuses stage 1
        2: {"stages": [3, 4], "submitted": 300},
    }
    stages = {
        0: [_stage()], 1: [_stage(tasks=8)],
        2: [_stage(submitted=200)],
        3: [_stage(status="SKIPPED", submitted=None)],
        4: [_stage(submitted=300), _stage(submitted=310, attempt=1)],  # retried
    }
    a, b, c = layertrace.attribute([(0, 1), (1, 2), (2, 3)], jobs, stages)
    assert (a["jobs"], a["stages_run"], a["stages_skipped"], a["tasks"]) == (1, 2, 0, 12)
    assert (b["stages_run"], b["stages_skipped"], b["tasks"]) == (1, 1, 4)
    assert (c["stages_run"], c["stages_skipped"], c["tasks"]) == (1, 1, 8)
    assert c["executor_run_s"] == 2.0  # both attempts of stage 4


def test_evicted_stages_never_move_work_between_ranges():
    jobs = {
        5: {"stages": [10, 11], "submitted": 500},
        6: {"stages": [11, 12], "submitted": 600},
    }
    full = {10: [_stage(submitted=500)], 11: [_stage(submitted=500, tasks=2)],
            12: [_stage(submitted=600)]}
    want = layertrace.attribute([(5, 6), (6, 7)], jobs, full)
    # the store evicted the oldest stages (10, 11) after job 6 ran
    evicted = {12: full[12]}
    got_a, got_b = layertrace.attribute([(5, 6), (6, 7)], jobs, evicted)
    assert got_a["stages_evicted"] == 2 and got_a["tasks"] == 0
    assert got_b["stages_evicted"] == 1
    assert got_b["tasks"] == want[1]["tasks"] == 4
    assert got_b["stages_run"] == want[1]["stages_run"] == 1


def test_evicted_runner_job_is_not_replaced_by_a_later_one():
    # job 7 ran stage 20 and was evicted; job 8 lists it as reused
    jobs = {8: {"stages": [20, 21], "submitted": 800}}
    stages = {20: [_stage(submitted=700)], 21: [_stage(submitted=800)]}
    (c,) = layertrace.attribute([(7, 9)], jobs, stages)
    assert (c["jobs"], c["stages_run"], c["stages_skipped"]) == (1, 1, 1)


def test_self_times_subtract_direct_children():
    spans = [
        Span(0, "op.x", None, 0.0, 10.0),
        Span(1, "loop.iterate", 0, 1.0, 9.0),
        Span(2, "loop.round", 1, 1.0, 5.0),
        Span(3, "iterative.step", 2, 1.0, 1.5),
        Span(4, "catalog.load_table", 0, 9.0, 9.5),
    ]
    st = layertrace.self_times(spans)
    assert st["op"] == 10.0 - 8.0 - 0.5
    assert st["loop"] == (8.0 - 4.0) + (4.0 - 0.5)
    assert st["iterative"] == 0.5
    assert st["catalog"] == 0.5


def test_install_patches_every_binding_and_uninstall_restores():
    import sys
    import types

    mod = types.ModuleType("incr_iter_hadoop_spark.catalog")

    def spread_scan(df, key):
        return df

    spread_scan.__module__ = mod.__name__
    mod.spread_scan = spread_scan
    user = types.ModuleType("incr_iter_hadoop_spark.operators.fake")
    user.spread_scan = spread_scan
    saved = {n: sys.modules.get(n) for n in (mod.__name__, user.__name__)}
    sys.modules[mod.__name__] = mod
    sys.modules[user.__name__] = user
    try:
        t = layertrace.Tracer()
        t.install()
        assert user.spread_scan is not spread_scan and mod.spread_scan is not spread_scan
        x = object()
        assert user.spread_scan(x, "k") is x
        (s,) = t.spans
        assert s.name == "catalog.spread_scan" and s.attrs["exchange"] is False
        t.uninstall()
        assert user.spread_scan is spread_scan and mod.spread_scan is spread_scan
    finally:
        for n, m in saved.items():
            if m is None:
                sys.modules.pop(n, None)
            else:
                sys.modules[n] = m
