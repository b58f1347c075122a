"""disco_spark benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, starts Spark on ``local[<half the cores>]``, builds its stores and
warms up, registers the inputs (several times, reporting the median),
lets the JIT settle, then issues one operation at a time until
``--seconds`` of operation time are measured. Every output is
checked outside the timed window. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones). All state
lives under ``perfbench/.work/`` and is removed at exit; the run fails
its own check if it changed any other file of the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_ROUNDS = 3
# Before measuring, wait (at most JIT_SETTLE_CAP_S) until the JIT compilers
# use less than JIT_QUIET_SHARE of the wall time: the warm-up leaves them a
# queue of hot code, and compiling it inside the measured loop would slow
# whichever operations happen to run then.
JIT_SETTLE_CAP_S, JIT_QUIET_SHARE, JIT_POLL_S = 10.0, 0.1, 0.5
MIN_TAIL_SAMPLES = 10  # samples beyond the reported tail percentile
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # thread names, as /proc cuts them

# The bounded cost of an operation is its CPU time, summed as the
# geometric mean over operation types of each type's median: a median
# over one cycle of unlike operations jumps between types from run to
# run. Wall-clock latency is not bounded: two busy neighbour threads on
# the machine slowed it by a third to three fifths, where the CPU time
# moved by at most a sixth. The latency summary (op_gmean_ms, the same
# mean over latencies), the median and the tail (the maximum: a run
# measures 8 to 15 operations, and with ten samples beyond it no
# percentile above the median is resolved) and operations per second (a
# mean, which one stalled operation moves) are in the summary line and
# in client.*.
END_TO_END = ("setup_s", "op_cpu_ms", "peak_rss_mb", "answer_recall")
UNITS = {
    "setup_s": "s",
    "op_cpu_ms": "ms",
    "peak_rss_mb": "MiB",
    "answer_recall": "ratio",
}


# -- process tree memory ------------------------------------------------------
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    kids[int(fh.read().rsplit(")", 1)[1].split()[1])].append(int(name))
            except (OSError, ValueError, IndexError):
                pass
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def _pss_kib(pid: int) -> int:
    """Proportional set size: pages shared between the Python daemon and
    the workers it forks count once across the tree, not once per
    process as RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass
    return 0


def _stat_fields(path: str) -> tuple[str, list[str]]:
    with open(path) as fh:
        head, tail = fh.read().rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _jvm_ticks(pid: int) -> tuple[int, int]:
    """(work, JIT) CPU ticks of a JVM's live threads: the JIT compiler
    threads' apart, since compiling is the runtime warming up, not the
    program's work, and how much of it lands in a given operation varies
    from run to run. Threads that exit take their ticks with them; the
    compiler threads come and go, the threads doing the program's work
    live as long as the session."""
    work = jit = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            name, fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        except (OSError, ValueError, IndexError):
            continue
        ticks = int(fields[11]) + int(fields[12])  # utime stime
        if name.startswith(JIT_THREADS):
            jit += ticks
        else:
            work += ticks
    return work, jit


def tree_cpu_s() -> tuple[float, float]:
    """(work, JIT) CPU seconds used so far by this process and every
    descendant (the JVM and its Python workers), with the reaped children
    each one has waited for; JIT is the JVM's compiler threads, which
    work leaves out. The kernel leaves out the time the hypervisor gave
    to other machines."""
    work = jit = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            name, fields = _stat_fields(f"/proc/{pid}/stat")
            work += int(fields[13]) + int(fields[14])  # cutime cstime
            if name == "java":
                jvm_work, jvm_jit = _jvm_ticks(pid)
                work, jit = work + jvm_work, jit + jvm_jit
            else:
                work += int(fields[11]) + int(fields[12])
        except (OSError, ValueError, IndexError):
            pass
    hz = os.sysconf("SC_CLK_TCK")
    return work / hz, jit / hz


class MemSampler(threading.Thread):
    """Peak memory of this process plus every descendant (the JVM and its
    Python workers), sampled from /proc, less this process's own memory
    when sampling starts: the interpreter, the generator's truth and the
    other state the benchmark holds on its side."""

    def __init__(self, period: float = 0.5):
        super().__init__(daemon=True)
        self.period = period
        self.baseline_kib = _pss_kib(os.getpid())
        self.peak_kib = self.baseline_kib
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.is_set():
            total = sum(_pss_kib(p) for p in [me, *descendants(me)])
            self.peak_kib = max(self.peak_kib, total)
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()

    def peak_mb(self) -> float:
        return (self.peak_kib - self.baseline_kib) / 1024.0


# -- hermetic state -------------------------------------------------------------
def _own_outputs() -> set[str]:
    """Files this process writes its stdout/stderr to (a caller may
    redirect them into the checkout)."""
    out = set()
    for fd in (1, 2):
        try:
            out.add(os.path.realpath(os.readlink(f"/proc/self/fd/{fd}")))
        except OSError:
            pass
    return out


def tree_snapshot(skip: str) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every checkout file outside ``skip`` and .git."""
    snap, own = {}, _own_outputs()
    for root, dirs, files in os.walk(ROOT):
        dirs[:] = [d for d in dirs if os.path.join(root, d) != skip and d != ".git"]
        for f in files:
            p = os.path.join(root, f)
            if os.path.realpath(p) in own:
                continue
            try:
                st = os.lstat(p)
            except OSError:
                continue
            snap[os.path.relpath(p, ROOT)] = (st.st_size, st.st_mtime_ns)
    return snap


def git_status() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")) or shutil.which("git") is None:
        return None
    res = subprocess.run(
        ["git", "status", "--porcelain"], cwd=ROOT, capture_output=True, text=True, timeout=60
    )
    return res.stdout if res.returncode == 0 else None


# -- statistics -------------------------------------------------------------------
def percentile(values: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values, dtype=float), q)) if values else 0.0


def type_medians(records: list, field: int = 1) -> dict[str, float]:
    """Median latency in ms of each operation type (``field=3``: median
    CPU ms, this process, the JVM and the Python workers)."""
    import numpy as np

    by_type: dict[str, list[float]] = defaultdict(list)
    for rec in records:
        by_type[rec[0].name].append(rec[field] * 1e3)
    return {name: float(np.median(v)) for name, v in by_type.items()}


def read_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time the hypervisor gave to others in
    between: a run with a high share was slowed by its neighbours."""
    total = after[1] - before[1]
    return round((after[0] - before[0]) / total, 4) if total else 0.0


def type_gmean(records: list, field: int = 1) -> float:
    """Geometric mean over operation types of each type's median latency
    (``field=3``: median CPU time)."""
    import numpy as np

    return float(np.exp(np.mean(np.log(list(type_medians(records, field).values())))))


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least
    MIN_TAIL_SAMPLES samples beyond it; the maximum when there are too
    few samples for any such percentile above the median."""
    n = len(values)
    if n > 2 * MIN_TAIL_SAMPLES:
        q = 100.0 * (1.0 - MIN_TAIL_SAMPLES / n)
    else:
        q = 100.0
    return q, percentile(values, q)


# -- the run -------------------------------------------------------------------------
class Bench:
    def __init__(self, args):
        self.args = args
        self.seed = args.seed
        self.traced = bool(args.trace)
        self.work = os.path.join(ROOT, "perfbench", ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.warehouse = os.path.join(self.work, "warehouse")
        self.timings: dict[str, list[float]] = defaultdict(list)
        self.spark = None
        self.tracer = None
        self.sampler = None

    def configure_env(self) -> None:
        """Point every Spark and Python scratch path into the work dir
        before the JVM starts; the JVM and its workers inherit this."""
        tmp = os.path.join(self.work, "tmp")
        for d in (tmp, os.path.join(self.work, "local"), self.warehouse):
            os.makedirs(d, exist_ok=True)
        # Half the cores: an operation's tasks and their Python workers
        # then leave the JVM's compiler and GC threads and the driver
        # room. On a quiet 4-vCPU machine the batch operations took about
        # a sixth less time and a quarter less CPU than with all four,
        # and the set-up was shorter.
        cores = max(1, len(os.sched_getaffinity(0)) // 2)
        conf = {
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.work}",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf.update(
                {
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                    "spark.sql.ui.retainedExecutions": "100000",
                    "spark.ui.port": "0",
                }
            )
        submit = " ".join(f"--conf {k}={v}" if " " not in v else f'--conf "{k}={v}"' for k, v in conf.items())
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(cores),
                "SPARK_GRAFT_DRIVER_MEM": "1g",
                "SPARK_GRAFT_UI": "1" if self.traced else "0",
                "SPARK_LOCAL_DIRS": os.path.join(self.work, "local"),
                "TMPDIR": tmp,
                "PYTHONDONTWRITEBYTECODE": "1",
                "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
                "PYSPARK_SUBMIT_ARGS": f"{submit} pyspark-shell",
            }
        )
        self.cores = cores

    def start_session(self) -> None:
        from disco_spark.session import get_spark

        from perfbench.trace import Tracer

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.timings["session.get_spark_s"].append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark.sparkContext, self.traced)

    def shutdown(self) -> None:
        """Stop Spark, its JVM and every process this run started."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.kill()
                proc.wait(timeout=30)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            time.sleep(0.1)

    def run_op(self, op, i: int, records: list) -> None:
        self.tracer.op = f"{op.name}#{i}"
        cpu0 = tree_cpu_s()[0] if i >= 0 else 0.0
        t0 = time.perf_counter()
        try:
            check = op.run()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            records.append((op, time.perf_counter() - t0, False, 0.0))
            return
        elapsed = time.perf_counter() - t0
        cpu = tree_cpu_s()[0] - cpu0 if i >= 0 else 0.0
        if self.traced:
            self.spark.sparkContext.setJobGroup("check", "check")
        try:
            ok = bool(check())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"perfbench: wrong result from {op.name} (op {i})", file=sys.stderr)
        records.append((op, elapsed, ok, cpu))

    def main(self) -> dict:
        from perfbench.workloads import WORKLOADS, Stats

        wl = WORKLOADS[self.args.workload](self)
        data = os.path.join(self.work, "data")
        os.makedirs(data)
        t0 = time.perf_counter()
        wl.generate(data)
        generate_s = time.perf_counter() - t0
        gc.collect()
        self.sampler = MemSampler()
        self.sampler.start()

        t0 = time.perf_counter()
        self.start_session()
        session_s = time.perf_counter() - t0

        warm = time.perf_counter()
        warm_records = self.warm_up(wl, data)
        warm_s = time.perf_counter() - warm

        setups = []
        for r in range(SETUP_ROUNDS):
            round_dir = os.path.join(self.work, f"data_r{r}")
            shutil.copytree(data, round_dir)
            t0 = time.perf_counter()
            wl.setup(round_dir, r)
            setups.append(time.perf_counter() - t0)

        settle = time.perf_counter()
        # a full collection now rather than inside a measured operation
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.settle_jit()
        settle_s = time.perf_counter() - settle
        self.tracer.tag = ""
        wl.stats = Stats()  # workload figures cover the measured loop only
        records: list = []
        (cpu0, jit0), steal0 = tree_cpu_s(), read_steal()
        # at least one whole cycle, so every operation type has a sample;
        # then operations until --seconds of operation time have passed
        measured, pending, cycles = 0.0, [], 0
        while pending or cycles == 0 or measured < self.args.seconds:
            if not pending:
                pending, cycles = wl.cycle(), cycles + 1
            self.run_op(pending.pop(0)(), len(records), records)
            measured += records[-1][1]
            if cycles > 1 and measured >= self.args.seconds:
                break

        cpu1, jit1 = tree_cpu_s()
        cpu_s, jit_s = cpu1 - cpu0, jit1 - jit0
        lat = [r[1] * 1e3 for r in records]
        tail_q, tail_ms = tail(lat)
        reads = [r[1] * 1e3 for r in records if r[0].kind == "read"]
        writes = [r[1] * 1e3 for r in records if r[0].kind == "write"]
        failed = sum(1 for r in records + warm_records if not r[2])
        self.summary = {
            "workload": wl.name,
            "seed": self.seed,
            "cores": self.cores,
            "ops": len(records),
            "op_p50_ms": percentile(lat, 50),
            "type_p50_ms": type_medians(records),
            "tail_percentile": round(tail_q, 2),
            "op_tail_ms": tail_ms,
            "generate_s": round(generate_s, 4),
            "session_s": round(session_s, 4),
            "setup_rounds_s": [round(s, 4) for s in setups],
            "warmup_s": round(warm_s, 4),
            "settle_s": round(settle_s, 4),
            "warm_type_ms": type_medians(warm_records),
            "build_s": {k: round(v[0], 4) for k, v in self.timings.items() if k.endswith(".build_s")},
            "op_gmean_ms": type_gmean(records),
            "ops_per_s": len(records) / measured,
            "rows_per_s": sum(r[0].rows for r in records) / measured,
            "cpu_s_per_op": cpu_s / len(records),
            "jit_s_per_op": jit_s / len(records),
            "read_p50_ms": percentile(reads, 50),
            "write_p50_ms": percentile(writes, 50),
            "error_rate": failed / (len(records) + len(warm_records)),
            "type_cpu_ms": type_medians(records, field=3),
            "op_ms": [[r[0].name, round(r[1] * 1e3, 1)] for r in records],
            "steal_share": steal_share(steal0, read_steal()),
        }
        e2e = {
            "setup_s": session_s + warm_s + percentile(setups, 50) + settle_s,
            "op_cpu_ms": type_gmean(records, field=3),
            "answer_recall": wl.recall(),
        }
        per_layer = self.per_layer(wl, e2e, warm_s) if self.traced else {}
        return {
            "attempted": len(records) + len(warm_records),
            "failed": failed,
            "e2e": e2e,
            "per_layer": per_layer,
        }

    def settle_jit(self) -> None:
        bean = self.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        deadline = time.monotonic() + JIT_SETTLE_CAP_S
        prev = bean.getTotalCompilationTime()  # ms, summed over compiler threads
        while time.monotonic() < deadline:
            time.sleep(JIT_POLL_S)
            cur = bean.getTotalCompilationTime()
            if cur - prev < JIT_QUIET_SHARE * JIT_POLL_S * 1e3:
                return
            prev = cur

    def warm_up(self, wl, data: str) -> list:
        """Run the workload's set-up tracks, one thread each: the builds
        start first, the warm-up operations are made in this thread while
        they run (so their inputs do not depend on the threads'
        interleaving), and each track runs its operations once its build
        is done."""
        from concurrent.futures import ThreadPoolExecutor

        tracks = wl.warm_tracks(data)
        records: list = []

        def run_ops(build, ops) -> None:
            if build is not None:
                build.result()
            for op in ops:
                self.run_op(op, -1, records)

        with ThreadPoolExecutor(max_workers=2 * len(tracks)) as pool:
            builds = [pool.submit(build) if build is not None else None for build, _ in tracks]
            runs = [pool.submit(run_ops, build, make()) for build, (_, make) in zip(builds, tracks)]
            for future in builds + runs:
                if future is not None:
                    future.result()
        return records

    def per_layer(self, wl, e2e: dict, warm_s: float) -> dict:
        import numpy as np

        from perfbench.trace import GENERIC, LAYERS, PER_LAYER, layer_counters

        counters = layer_counters(self.spark.sparkContext)
        spans = self.tracer.span_totals()
        out = dict.fromkeys(PER_LAYER, 0.0)
        for layer in LAYERS:
            merged = {**counters.get(layer, {}), **spans.get(layer, {})}
            for key in GENERIC:
                out[f"{layer}.{key}"] = float(merged.get(key, 0.0))
        for layer, key in (
            ("operators.classic", "python_busy_s"),
            ("operators.classic", "python_sent_mb"),
            ("plans.pipeline", "python_busy_s"),
            ("plans.pipeline", "python_sent_mb"),
            ("operators.relational", "input_mb"),
            ("operators.relational", "broadcast_mb"),
        ):
            out[f"{layer}.{key}"] = counters.get(layer, {}).get(key, 0.0)
        out.update(wl.layer_extras(counters))
        out.update(
            {
                "session.get_spark_s": float(np.median(self.timings["session.get_spark_s"])),
                "session.load_tables_ms": float(np.median(self.timings["session.load_tables_ms"])),
                "client.ops_per_s": self.summary["ops_per_s"],
                "client.op_cpu_ms": e2e["op_cpu_ms"],
                "client.op_gmean_ms": self.summary["op_gmean_ms"],
                "client.op_p50_ms": self.summary["op_p50_ms"],
                "client.op_tail_ms": self.summary["op_tail_ms"],
                "client.rows_per_s": self.summary["rows_per_s"],
                "client.read_p50_ms": self.summary["read_p50_ms"],
                "client.write_p50_ms": self.summary["write_p50_ms"],
                "client.warmup_s": warm_s,
            }
        )
        if set(out) != set(PER_LAYER):
            raise RuntimeError(f"unexpected per-layer metrics: {sorted(set(out) ^ set(PER_LAYER))}")
        self.tracer.dump(os.path.join(ROOT, "perfbench", ".work", f"spans-{self.args.workload}-{self.seed}.json"))
        return out


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description="disco_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "disco_spark")):
        print(f"perfbench: no disco_spark package under {ROOT}: run from a checkout's root", file=sys.stderr)
        return 2
    bench = Bench(args)
    skip = os.path.dirname(bench.work)
    before, git_before = tree_snapshot(skip), git_status()
    os.makedirs(bench.work)
    os.chdir(bench.work)
    bench.configure_env()
    try:
        result = bench.main()
    finally:
        if bench.sampler is not None:
            bench.sampler.stop()
        t0 = time.perf_counter()
        bench.shutdown()
        os.chdir(ROOT)
        shutil.rmtree(bench.work, ignore_errors=True)
        teardown_s = time.perf_counter() - t0
    hermetic = tree_snapshot(skip) == before and git_status() == git_before
    if not hermetic:
        print("perfbench: the run changed files outside perfbench/.work", file=sys.stderr)

    e2e = dict(result["e2e"], peak_rss_mb=bench.sampler.peak_mb())
    if args.trace:
        from perfbench.trace import unit_of

        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in result["per_layer"].items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    out = {
        "correct": result["failed"] == 0 and hermetic,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }
    print(json.dumps({"summary": dict(bench.summary, teardown_s=round(teardown_s, 4)), "end_to_end": e2e}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.dont_write_bytecode = True
    sys.exit(main())
