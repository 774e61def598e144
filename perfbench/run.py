"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build_resume --seed 1 --seconds 1 --trace 0

Runs from the repository root.  Sets up three times (a local Spark session
with one task slot per core, its Python workers, the workload's inputs from
``--seed``): the first set-up launches the JVM, the others restart the
session in it; ``setup_s`` is their median.  Then one warm-up rep, then the
workload's op in a closed loop for ``--seconds``, with every op's output
checked.  Standard output ends with two JSON lines: a ``report`` with the
run's conditions and the workload's named figures, and the result object
(``correct``, ``attempted``, ``failed``, ``metrics``).

With ``--trace 1`` the run measures the untraced loop first, then restarts
the Spark context with a local event log, installs the layer spans and
measures again; the metrics are then the per-layer figures (README.md).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3  # set-ups per run; setup_s is their median


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def process_tree() -> list[int]:
    """This process and all its descendants: the Spark JVM, the Python
    worker daemon and its workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children's) used so far
    by the process tree.  Unlike wall time, it does not count the time the
    tree waits for a CPU held by another tenant of the host."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """High-water resident memory of the process tree, sampled from
    ``/proc``.  Each process counts its proportional set size, so pages
    that forked Python workers share with their daemon are counted once.
    The JVM's and the Python processes' own high-water marks are kept too."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_bytes = 0
        self.peak_jvm_bytes = 0
        self.peak_python_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_pss() -> tuple[int, int]:
        """(JVM, Python) proportional set size, in bytes."""
        jvm = py = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    is_jvm = fh.read().strip() == "java"
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            pss = int(line.split()[1]) * 1024
                            if is_jvm:
                                jvm += pss
                            else:
                                py += pss
                            break
            except OSError:
                pass
        return jvm, py

    def _run(self) -> None:
        while not self._stop.is_set():
            jvm, py = self._tree_pss()
            self.peak_bytes = max(self.peak_bytes, jvm + py)
            self.peak_jvm_bytes = max(self.peak_jvm_bytes, jvm)
            self.peak_python_bytes = max(self.peak_python_bytes, py)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


class Ctx:
    """What a workload sees: the session, the tracer, its work directory,
    the seed and sizes, and the counters of attempted and failed ops."""

    def __init__(self, seed: int, size: dict, work: str):
        self.seed = seed
        self.size = size
        self.work = work
        # kept between runs: outputs of the checks' reference queries
        self.oracle_cache = os.path.join(WORK_ROOT, "oracle")
        self.cores = host_cores()
        self.spark = None
        self.tracer = None
        self.info: dict = {}
        self.phases: dict[str, list[float]] = {}
        self.check_s = 0.0
        self.attempted = 0  # timed ops
        self.failed = 0  # timed ops that raised or failed their check
        self.failures: list[str] = []
        self.setup_failures: list[str] = []

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases.setdefault(name, []).append(time.perf_counter() - t0)

    @contextlib.contextmanager
    def checking(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.check_s += time.perf_counter() - t0

    def expect_setup(self, ok: bool, what: str) -> None:
        """A check made during set-up or warm-up.  A failure makes the run
        incorrect; it is not an op, so it is not counted as attempted."""
        if not ok:
            self.setup_failures.append(what)
            print(f"[perfbench] set-up check failed: {what}", file=sys.stderr)


def start_spark(ctx: Ctx, event_log: str | None = None):
    """The program's local session, one slot per core, with its Python
    workers started; temporary files and the event log stay in the run's work
    directory.  Heap and other settings are ``get_spark``'s own."""
    from nerzo_spark.session import get_spark, warm_python_workers

    from perfbench.trace import Tracer

    conf = {
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(ctx.work, 'tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            # zstd is Spark's default and the zstandard module is absent
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    ctx.spark = get_spark("perfbench", master=f"local[{ctx.cores}]",
                          shuffle_partitions=max(ctx.cores, 8), extra_conf=conf)
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer = Tracer(ctx.spark.sparkContext, enabled=event_log is not None)
    warm_python_workers(ctx.spark)


def stop_spark(ctx: Ctx) -> None:
    if ctx.spark is not None:
        ctx.spark.stop()
        ctx.spark = None


def stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(ctx: Ctx, wl, seconds: float) -> tuple[list[dict], list[str]]:
    """Closed loop: run ``wl.op`` until ``seconds`` of op time have passed
    (output checks between ops do not count), always at least once.
    Returns every op that completed, its check passed or not, and the
    traced ops' span ids."""
    results, op_spans = [], []
    spent, i = 0.0, 0
    while True:
        ctx.attempted += 1
        t0, cpu0 = time.perf_counter(), tree_cpu_s()
        res = None
        try:
            with ctx.tracer.span("op") as sp:
                res = wl.op(ctx, i)
            res["cpu_s"] = tree_cpu_s() - cpu0
            if sp is not None:
                op_spans.append(sp["id"])
        except Exception:  # an op that raises counts as failed; keep going
            traceback.print_exc()
            ctx.failed += 1
            ctx.failures.append(f"op {i} raised")
        spent += time.perf_counter() - t0
        done = spent >= seconds
        if res is not None:
            with ctx.checking():
                try:
                    ok = wl.check(ctx, res)
                except Exception:
                    traceback.print_exc()
                    ok = False
            results.append(res)
            if not ok:
                ctx.failed += 1
                ctx.failures.append(f"op {i} output check")
        i += 1
        if done:
            return results, op_spans


def run(args, real_stdout) -> int:
    from perfbench import workloads

    load0 = os.getloadavg()
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cores())
    # Python workers import the program from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])

    ctx = Ctx(args.seed, workloads.SIZES[args.size], work)
    wl = workloads.WORKLOADS[args.workload]()
    setups = []
    try:
        for k in range(SETUPS):
            t0, check0 = time.perf_counter(), ctx.check_s
            if k:
                stop_spark(ctx)  # the next session starts in the same JVM
            with ctx.phase("session"):
                start_spark(ctx)
            wl.setup(ctx)
            setups.append(time.perf_counter() - t0 - (ctx.check_s - check0))
        t0, check0 = time.perf_counter(), ctx.check_s
        wl.warm_up(ctx)
        warmup_s = time.perf_counter() - t0 - (ctx.check_s - check0)
        with RssSampler() as rss:
            results, _ = measure(ctx, wl, args.seconds)
        untraced = [r["s"] for r in results]
        layers = None
        if args.trace:
            stop_spark(ctx)
            log_dir = os.path.join(work, "eventlog")
            start_spark(ctx, event_log=log_dir)
            wl.attach(ctx)
            ctx.tracer.install()
            try:
                traced, op_spans = measure(ctx, wl, args.seconds)
            finally:
                ctx.tracer.uninstall()
            spans = ctx.tracer.spans
            stop_spark(ctx)  # closes the event log
            from perfbench.trace import layer_metrics, read_event_log

            queries = workloads.CATALOG_QUERIES
            layers = layer_metrics(read_event_log(log_dir), spans, op_spans, queries)
            layers["trace.overhead_s"] = (statistics.median([r["s"] for r in traced])
                                          - statistics.median(untraced))
    finally:
        stop_spark(ctx)
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if not results:
        print("[perfbench] no op completed", file=sys.stderr)
        return 1

    setup_s = statistics.median(setups)
    named = {
        "setup_s": (setup_s, "s"),
        "op_s": (statistics.median(untraced), "s"),
        "error_rate": (ctx.failed / ctx.attempted, "failed/attempted"),
        "peak_rss_mb": (rss.peak_bytes / 1e6, "MB"),
        "peak_python_mb": (rss.peak_python_bytes / 1e6, "MB"),
        **wl.report(results),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "cores": ctx.cores, "seconds": args.seconds, "trace": args.trace,
        "loadavg_start": load0, "loadavg_end": os.getloadavg(),
        **ctx.info, "setups_s": setups, "warmup_s": warmup_s,
        "ops": len(results), "op_wall_s": untraced,
        "op_cpu_s": [r["cpu_s"] for r in results],
        "peak_jvm_mb": rss.peak_jvm_bytes / 1e6,
        "phases_s": ctx.phases, "check_s": ctx.check_s,
        "failures": ctx.failures, "setup_failures": ctx.setup_failures,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
    }
    if layers is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_cpu_s": (statistics.median(r["cpu_s"] for r in results), "s"),
            "peak_python_mb": (rss.peak_python_bytes / 1e6, "MB"),
        }
    else:
        metrics = {k: (v, layer_unit(k)) for k, v in layers.items()}
        # the wall per op, recorded without a bound: co-tenant load on the
        # host moves it by more than the widest bound BENCHMARK.json can hold
        metrics["op.wall_s"] = (statistics.median(untraced), "s")
        metrics["session.start_s"] = (statistics.median(ctx.phases["session"][:SETUPS]), "s")
        metrics["fixtures.generate_s"] = (
            statistics.median(ctx.phases.get("fixtures", [0.0])), "s")
    result = {
        "correct": ctx.failed == 0 and not ctx.setup_failures,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps({"report": report}), file=real_stdout)
    print(json.dumps(result), file=real_stdout, flush=True)
    return 0


def layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    return {"wall_s": "s", "task_s": "s", "python_s": "s", "python_init_s": "s",
            "gc_s": "s", "overhead_s": "s", "jobs": "count", "files_written": "count",
            "rows_out": "rows", "arrow_out_rows": "rows",
            "arrow_out_bytes_per_row": "B/row"}.get(suffix, "MB")


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input sizes; 'toy' is for the smoke test")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "nerzo_spark")):
        print(f"[perfbench] no nerzo_spark package under {ROOT}", file=sys.stderr)
        return 2
    real_stdout = sys.stdout
    # the program prints progress notes; keep stdout for the result lines
    with contextlib.redirect_stdout(sys.stderr):
        return run(args, real_stdout)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
