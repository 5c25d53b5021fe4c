"""Layer tracing for the benchmark's traced run.

Spans (name, start, end, parent) are recorded around the engine's public
functions by patching them wherever they are bound — the defining module
and every engine module that imported the name — and restored afterwards.
Each span also records the range of Spark job IDs submitted while it was
open; the client is single-threaded and closed-loop, so that range is
exactly the span's Spark work. After the run, the app status store is read
once and its per-stage counters are attributed to spans by stage ID.

Loop rounds are spans too: the wrapped ``step`` callback of
``plans.loopdriver.iterate`` closes the previous round and opens the next,
so a round covers the step's plan building and the jobs that materialize it.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import threading
import time
from dataclasses import dataclass, field

# engine module -> layer name used in metric and span names
LAYERS = {
    "incr_iter_hadoop_spark.session": "session",
    "incr_iter_hadoop_spark.catalog": "catalog",
    "incr_iter_hadoop_spark.plans.loopdriver": "loop",
    "incr_iter_hadoop_spark.operators.iterative": "iterative",
    "incr_iter_hadoop_spark.operators.incremental": "incr",
    "incr_iter_hadoop_spark.sources.preserve_store": "store",
    "incr_iter_hadoop_spark.sources.occ": "occ",
}
ENGINE = "incr_iter_hadoop_spark"

COUNTERS = (
    "jobs", "stages_run", "stages_skipped", "stages_evicted", "tasks",
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "input_mb", "input_rows", "output_mb", "output_rows",
    "spill_mb",
)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    job_lo: int | None = None
    job_hi: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder. ``job_counter`` returns the number of Spark
    jobs submitted so far, or None before a session exists."""

    def __init__(self, job_counter=lambda: None):
        self.job_counter = job_counter
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()  # span ids are list indexes
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, **attrs) -> Span:
        st = self._stack()
        job_lo = self.job_counter()
        with self._lock:
            s = Span(
                sid=len(self.spans),
                name=name,
                parent=st[-1].sid if st else None,
                start=time.perf_counter(),
                job_lo=job_lo,
                attrs=attrs,
            )
            self.spans.append(s)
        st.append(s)
        return s

    def end(self, span: Span) -> None:
        st = self._stack()
        # close anything opened inside this span and left open (a loop
        # round whose iterate() raised)
        while st and st[-1] is not span:
            self._close(st.pop())
        if st:
            st.pop()
        self._close(span)

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        s.job_hi = self.job_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.begin(name, **attrs)
        try:
            yield s
        except BaseException as e:
            s.attrs["error"] = type(e).__name__
            raise
        finally:
            self.end(s)

    # -- wrapping ----------------------------------------------------------

    def wrap(self, fn, name: str):
        if name == "occ.store_lock":
            return self._wrap_lock(fn, name)
        if name == "loop.iterate":
            return self._wrap_iterate(fn, name)
        observe = _OBSERVERS.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if observe is not None:
                    observe(s, args, kwargs, out)
                return out

        return traced

    def _wrap_lock(self, fn, name):
        """``store_lock`` is a context manager: time its acquisition."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            cm = fn(*args, **kwargs)

            class _Timed:
                def __enter__(self_):
                    with tracer.span(name + "_wait"):
                        return cm.__enter__()

                def __exit__(self_, *exc):
                    return cm.__exit__(*exc)

            return _Timed()

        return traced

    def _wrap_iterate(self, fn, name):
        """``iterate(state, step, ...)``: every call of ``step`` starts a
        new ``loop.round`` span that stays open until the next call or
        until iterate returns."""
        tracer = self

        @functools.wraps(fn)
        def traced(state, step, *args, **kwargs):
            rounds: list[Span] = []

            def traced_step(st, i):
                if rounds:
                    tracer.end(rounds[-1])
                rounds.append(tracer.begin("loop.round", i=i))
                with tracer.span("iterative.step"):
                    return step(st, i)

            with tracer.span(name) as s:
                try:
                    out = fn(state, traced_step, *args, **kwargs)
                finally:
                    if rounds and rounds[-1].end is None:
                        tracer.end(rounds[-1])
                s.attrs["iterations"] = out.iterations
                return out

        return traced

    def install(self) -> None:
        """Patch every public function of the traced engine modules (and
        the public methods of ``PreserveStore``) wherever it is bound."""
        if self._patched:
            return
        targets: dict[int, tuple[object, str]] = {}
        for modname, layer in LAYERS.items():
            mod = sys.modules.get(modname)
            if mod is None:
                continue
            for attr, obj in vars(mod).items():
                if attr.startswith("_") or not inspect.isfunction(obj):
                    continue
                if obj.__module__ != modname:
                    continue
                targets[id(obj)] = (obj, f"{layer}.{attr}")
        for mod in [m for n, m in sys.modules.items() if n.startswith(ENGINE)]:
            for attr, obj in list(vars(mod).items()):
                hit = targets.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._set(mod, attr, self.wrap(obj, hit[1]))
        ps = sys.modules.get("incr_iter_hadoop_spark.sources.preserve_store")
        if ps is not None:
            cls = ps.PreserveStore
            for attr, obj in list(vars(cls).items()):
                if not attr.startswith("_") and inspect.isfunction(obj):
                    self._set(cls, attr, self.wrap(obj, f"store.{attr}"))

    def _set(self, owner, attr, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


def _obs_partitions(s, args, kwargs, out):
    s.attrs["partitions"] = int(out)


def _obs_spread(s, args, kwargs, out):
    s.attrs["exchange"] = out is not args[0]


def _obs_pruned(s, args, kwargs, out):
    _state, sizes = out
    s.attrs["rounds"] = len(sizes)
    s.attrs["frontier_rows"] = int(sum(sizes))


def _obs_refresh(s, args, kwargs, out):
    s.attrs["version"] = int(out)


_OBSERVERS = {
    "loop.negotiate_partitions": _obs_partitions,
    "catalog.spread_scan": _obs_spread,
    "incr.pagerank_pruned": _obs_pruned,
    "store.refresh": _obs_refresh,
}


# -- Spark status store ----------------------------------------------------


def spark_job_counter(spark):
    """Callable returning the number of jobs the session's scheduler has
    submitted (the next job ID)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return lambda: int(dag.numTotalJobs())


def read_status_store(spark) -> tuple[dict, dict]:
    """All retained jobs and stage attempts, as plain dicts:
    ``jobs[job_id] = {"stages": [...], "submitted": ms}`` and
    ``stages[stage_id] = [attempt dict, ...]``."""
    sc = spark.sparkContext
    jvm = sc._jvm
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    raw_jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    raw_stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), None)
        )
    )
    jobs = {
        j["jobId"]: {"stages": list(j["stageIds"]), "submitted": j.get("submissionTime")}
        for j in raw_jobs
    }
    stages: dict[int, list[dict]] = {}
    for st in raw_stages:
        stages.setdefault(st["stageId"], []).append(
            {
                "attempt": st["attemptId"],
                "status": st["status"],
                "submitted": st.get("submissionTime"),
                "tasks": st["numTasks"],
                "executor_run_s": st["executorRunTime"] / 1e3,
                "executor_cpu_s": st["executorCpuTime"] / 1e9,
                "gc_s": st["jvmGcTime"] / 1e3,
                "shuffle_write_mb": st["shuffleWriteBytes"] / 1e6,
                "shuffle_read_mb": st["shuffleReadBytes"] / 1e6,
                "input_mb": st["inputBytes"] / 1e6,
                "input_rows": st["inputRecords"],
                "output_mb": st["outputBytes"] / 1e6,
                "output_rows": st["outputRecords"],
                "spill_mb": (st["memoryBytesSpilled"] + st["diskBytesSpilled"]) / 1e6,
            }
        )
    return jobs, stages


def attribute(ranges: list[tuple[int, int]], jobs: dict, stages: dict) -> list[dict]:
    """Spark counters for each half-open job-ID range ``[lo, hi)``.

    A stage counts as *run* by the lowest retained job that lists it —
    unless it is ``SKIPPED`` or was submitted before that job, which means
    its true runner was evicted — and as *skipped* by every other job that
    lists it. A listed stage the store no longer holds counts as
    ``stages_evicted`` and contributes no counters, so eviction can
    undercount a range but never moves one range's work into another."""
    owner: dict[int, int] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    out = []
    for lo, hi in ranges:
        c = dict.fromkeys(COUNTERS, 0)
        for jid in range(lo, hi):
            job = jobs.get(jid)
            if job is None:
                continue
            c["jobs"] += 1
            for sid in job["stages"]:
                attempts = stages.get(sid)
                if attempts is None:
                    c["stages_evicted"] += 1
                    continue
                first = min(attempts, key=lambda a: a["attempt"])
                ran_here = (
                    owner[sid] == jid
                    and first["status"] != "SKIPPED"
                    and not (
                        first["submitted"] is not None
                        and job["submitted"] is not None
                        and first["submitted"] < job["submitted"]
                    )
                )
                if not ran_here:
                    c["stages_skipped"] += 1
                    continue
                c["stages_run"] += 1
                for a in attempts:
                    for k in COUNTERS[4:]:
                        c[k] += a[k]
        out.append(c)
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the time its direct
    children cover, summed by the span's layer."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.dur
    out: dict[str, float] = {}
    for s in spans:
        out[s.layer] = out.get(s.layer, 0.0) + s.dur - child.get(s.sid, 0.0)
    return out
