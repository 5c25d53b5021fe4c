"""Closed-loop benchmark of the engine: one client, one process, ``local[n]``
with ``n`` the usable cores; each op starts when the previous one has
completed and been checked.

    python3 perfbench/run.py --workload converge --seed 1 --seconds 10 --trace 0

Run from the repository root. A run generates its inputs from the seed,
computes their references with DuckDB, starts the session, sets up the
workload and runs one warm-up pass (all of that is ``setup_s``), then runs
passes over the workload's ops for ``--seconds``. The last stdout line is
the result object; the line before it is the detailed report (every op
timing with its sample count, the run's environment and, with
``--trace 1``, the per-layer numbers and self time per layer).

Every run works in a fresh scratch root under ``.perfbench/`` (temp files,
Spark local dirs, warehouse, store), removed when the run ends, so no run
reuses state an earlier one left behind.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_DIR = os.path.join(ROOT, "incr_iter_hadoop_spark")
DRIVER_MEM = "3g"
MAX_SEED_ATTEMPTS = 8


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("converge", "incremental"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=_positive, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _positive(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError("must be >= 1")
    return n


def _isolate(run_root: str) -> dict[str, str]:
    """Point every scratch location at ``run_root``; returns the Spark
    confs that do the same inside the JVM."""
    tmp = os.path.join(run_root, "tmp")
    local = os.path.join(run_root, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.sql.warehouse.dir": os.path.join(run_root, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_root}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants —
    the JVM and any Python workers it forks — including exited children
    already reaped (their time moves into the parent's ``cutime``)."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while scanning
            continue
        ticks = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        procs[int(entry)] = (int(fields[1]), ticks)
    tree, total, grew = {os.getpid()}, 0, True
    while grew:
        grew = False
        for pid, (ppid, _) in procs.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    total = sum(procs[p][1] for p in tree if p in procs)
    return total / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU seconds the hypervisor gave to others, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not reported")


class Run:
    def __init__(self, args, run_root: str):
        self.args = args
        self.run_root = run_root
        self.cores = _cores()
        self.tracer = None
        self.times: dict[str, list[float]] = {}
        self.cpu_times: dict[str, list[float]] = {}
        # op -> traced? -> times, for the tracing overhead
        self.op_times_by_mode: dict[str, dict[bool, list[float]]] = {}
        self.lock = threading.Lock()  # op tallies; warm-up lanes run in threads
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []
        self.spark = None
        self.starter = None
        self.ref_thread = None

    # -- set-up ------------------------------------------------------------

    def _workload(self):
        """Generate inputs, rejecting seeds whose reference cannot be
        computed (a derived seed replaces them; the rejection is reported,
        never counted as failed ops)."""
        from workloads import WORKLOADS, RejectSeed

        cls = WORKLOADS[self.args.workload]
        data_dir = os.path.join(self.run_root, "data")
        self.rejected = []
        seed = self.args.seed
        for attempt in range(1, MAX_SEED_ATTEMPTS + 1):
            wl = cls(data_dir, seed, self.args.seconds, bool(self.args.trace))
            wl.generate()
            try:
                wl.early_references()
                self.used_seed = seed
                return wl
            except RejectSeed as e:
                self.rejected.append({"seed": seed, "reason": str(e)})
                shutil.rmtree(data_dir)
                seed = (self.args.seed * 7919 + attempt) % 2**31
        raise RuntimeError(f"no usable seed after {MAX_SEED_ATTEMPTS} attempts")

    def setup(self):
        import incr_iter_hadoop_spark.session as session

        conf = dict(self.conf)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        if self.args.trace:
            import layertrace
            import incr_iter_hadoop_spark.sources.preserve_store  # noqa: F401
            from incr_iter_hadoop_spark import registry

            registry.all_queries()  # imports every module to patch
            conf["spark.ui.retainedJobs"] = "1000000"
            conf["spark.ui.retainedStages"] = "1000000"
            self.tracer = layertrace.Tracer()
            self.tracer.install()

        # the JVM starts while this thread generates inputs and references
        start_error = []

        def start():
            try:
                self.spark = session.get_spark(app_name="perfbench", extra_conf=conf)
            except BaseException as e:  # re-raised on the main thread
                start_error.append(e)

        self.starter = threading.Thread(target=start, name="session")
        self.starter.start()
        self.wl = self._workload()
        self.ref_error = None

        def refs():
            try:
                self.wl.late_references()
            except BaseException as e:  # reported when the first check needs it
                self.ref_error = e

        self.ref_thread = threading.Thread(target=refs, name="references")
        self.ref_thread.start()
        self.starter.join()
        if start_error:
            raise start_error[0]
        if self.tracer:
            import layertrace

            self.tracer.job_counter = layertrace.spark_job_counter(self.spark)
        self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.wl.setup(self.spark)
        self.warm_up()
        self.setup_s = time.perf_counter() - T0

    # -- ops ---------------------------------------------------------------

    def _expected(self, op):
        if self.ref_thread.is_alive():
            self.ref_thread.join()
        if self.ref_error is not None:
            raise self.ref_error
        return op.expected()

    def _run_op(self, op, traced: bool = False) -> tuple[float, float, float] | None:
        """Run and check one op; (wall, cpu, steal) seconds, or None when it
        raised or its output was wrong (counted as failed)."""
        import check

        ospan = self.tracer.begin(f"op.{op.metric}", **op.attrs) if traced else None
        t, c, st = time.perf_counter(), _tree_cpu_s(), _steal_s()
        try:
            out = op.run()
            err = None
        except Exception as e:  # a failed op is counted, not fatal
            out, err = None, f"{type(e).__name__}: {e}"
        cost = (time.perf_counter() - t, _tree_cpu_s() - c, _steal_s() - st)
        if ospan is not None:
            self.tracer.end(ospan)
        if err is None:
            err = check.mismatch(out, self._expected(op))
        with self.lock:
            self.attempted += 1
            if err is not None:
                self.failed += 1
                self.errors.append(f"{op.metric}: {err}"[:300])
        return None if err is not None else cost

    def warm_up(self) -> None:
        """One run of every op kind, the workload's lanes side by side:
        this fills the JIT, codegen and file caches without serial wall
        time. Ops in one lane (a store's refresh/read/recompute) keep
        their order."""
        lanes: dict[str, list] = {}
        for op in self.wl.pass_ops():
            lanes.setdefault(op.lane or op.metric, []).append(op)
        with ThreadPoolExecutor(len(lanes)) as ex:
            futures = [ex.submit(lambda ops: [self._run_op(o) for o in ops], ops)
                       for ops in lanes.values()]
            for f in futures:
                f.result()

    def run_pass(self, traced: bool = False) -> None:
        span = self.tracer.begin("bench.pass") if traced else None
        total = cpu = steal = 0.0
        ok_all = True
        for op in self.wl.pass_ops():
            cost = self._run_op(op, traced)
            if cost is None:
                ok_all = False
                continue
            dt, dc, dst = cost
            total += dt
            cpu += dc
            steal += dst
            self.times.setdefault(op.metric, []).append(dt)
            self.cpu_times.setdefault(op.metric, []).append(dc)
            self.op_times_by_mode.setdefault(op.metric, {}).setdefault(traced, []).append(dt)
        if span is not None:
            self.tracer.end(span)
        self.passes.append({
            "traced": traced, "span": span, "ok": ok_all,
            "s": total, "cpu_s": cpu, "steal_s": steal,
            # wall the pass would have taken without the CPU time the
            # hypervisor gave other guests, spread over the cores
            "unstolen_s": total - steal / self.cores,
        })

    def measure(self) -> None:
        t0 = time.perf_counter()
        i = 0
        while not self.wl.exhausted():
            done = time.perf_counter() - t0 >= self.args.seconds
            kinds = {p["traced"] for p in self.passes}
            if done and (not self.args.trace or kinds == {True, False}):
                break
            # untraced first, so the traced pass of a short traced run is
            # the one whose refresh compacts
            traced = bool(self.args.trace) and i % 2 == 1
            if self.tracer:
                if traced:
                    self.tracer.install()
                else:
                    self.tracer.uninstall()
            self.run_pass(traced=traced)
            i += 1
        if self.tracer:
            self.tracer.uninstall()

    def close(self) -> None:
        """Wait for the helper threads, stop the session and its JVM."""
        for t in (self.starter, self.ref_thread):
            if t is not None:
                t.join()
        if self.spark is not None:
            _stop(self.spark)

    # -- report ------------------------------------------------------------

    def env(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "cores": self.cores,
            "spark": self.spark.version,
        }

    def report(self) -> tuple[dict, dict]:
        import report
        import stats

        self.peak_rss_mb = _vm_hwm_mb(self.jvm_pid)
        untraced = [p for p in self.passes if not p["traced"] and p["ok"]]
        ops = {f"{m}_s": stats.summary(xs) for m, xs in self.times.items()}
        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seed_used": self.used_seed,
            "seeds_rejected": self.rejected,
            "trace": self.args.trace,
            "env": self.env(),
            "passes": [
                {k: p[k] for k in ("traced", "s", "unstolen_s", "cpu_s", "steal_s")}
                for p in self.passes
            ],
            "ops": ops,
            "ops_cpu_s": {f"{m}_cpu_s": stats.median(xs) for m, xs in self.cpu_times.items()},
            "e2e": report.e2e_detail(self, ops),
            "errors": self.errors[:20],
        }
        if self.args.trace:
            layers, extra = report.layer_metrics(self)
            detail.update(extra)
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        else:
            metrics = report.e2e_metrics(self, untraced)
        result = {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }
        return detail, result


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ENGINE_DIR, "__init__.py")):
        print(f"perfbench: engine package not found at {ENGINE_DIR}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_root = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_root)
    run = Run(args, run_root)
    run.conf = _isolate(run_root)
    try:
        run.setup()
        run.measure()
        detail, result = run.report()
        if args.trace:
            _write_spans(run, args)
    finally:
        run.close()
        shutil.rmtree(run_root, ignore_errors=True)
    print(json.dumps({"perfbench": detail}, default=str))
    print(json.dumps(result))
    return 0


def _write_spans(run, args) -> None:
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump([vars(s) for s in run.tracer.spans], f)


if __name__ == "__main__":
    sys.exit(main())
