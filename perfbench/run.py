"""Run one benchmark workload in this (fresh) process and print its metrics.

    python3 perfbench/run.py --workload browse|sync --seed N \\
        --seconds S --trace 0|1

Set-up: start the Spark session, generate the seeded inputs, run the
workload's checked warm-up passes. Then timed passes follow until their
summed time reaches ``--seconds`` (at least one). Every call's result is
checked outside the timed window. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics, or with ``--trace 1`` the per-layer metrics. The process exits
nonzero if any call failed or raised.

Each run works in its own directory under ``.perfbench_runs/`` (archive,
generated inputs, ``TMPDIR``, ``SPARK_LOCAL_DIRS``, the JVM's
``java.io.tmpdir``) and removes it at the end.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: JVM heap (-Xms = -Xmx): the inputs are small, and a heap of fixed size
#: keeps peak RSS from following the garbage collector's heap growth
JVM_HEAP = "1g"


def spark_cpus() -> int:
    """Spark task threads: half the cores. The other half is left to the
    JVM's JIT compiler and GC threads and to the Python client, so the
    pass times measure the program rather than contention for cores."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _ticks(stat: str) -> int:
    """utime + stime from the text of a /proc .../stat file."""
    fields = stat.rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:  # the thread or process has ended
        return None


def jvm_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's threads, less its JIT compiler threads, plus
    every process under the JVM (the Python workers it starts)."""
    ticks = 0
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        stat = _read(f"{task_dir}/{tid}/stat")
        if stat and "CompilerThre" not in stat[: stat.rindex(")")]:
            ticks += _ticks(stat)
    parent, own = {}, {}
    for d in os.listdir("/proc"):
        stat = _read(f"/proc/{d}/stat") if d.isdigit() else None
        if stat:
            parent[int(d)], own[int(d)] = int(stat.rsplit(")", 1)[1].split()[1]), _ticks(stat)
    kids: dict[int, list[int]] = {}
    for pid, pp in parent.items():
        kids.setdefault(pp, []).append(pid)
    todo = list(kids.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        ticks += own[pid]
        todo += kids.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


class CpuClock:
    """CPU seconds the program spends in a call: the Python thread that
    makes it (the client half of PySpark), the JVM less its JIT compiler
    threads, and the Python workers under the JVM.

    Wall time on this kind of shared host follows how much CPU the
    hypervisor takes away (steal), which varies from minute to minute; CPU
    time does so much less. The JIT compilers are left out because in a
    warm pass they still use about a third of the JVM's CPU, an amount set
    by the JVM's warm-up rather than by the calls. The benchmark's own
    checks (DuckDB, in other threads of this process) are not counted."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def start(self) -> None:
        self._jvm = jvm_cpu_s(self.jvm_pid)
        self._py = time.thread_time()

    def stop(self) -> float:
        py = time.thread_time() - self._py  # before the /proc walk, which is not the program's
        return py + jvm_cpu_s(self.jvm_pid) - self._jvm


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Runner:
    """Runs passes, times each call, checks each result, counts failures."""

    def __init__(self, workload, cpu: CpuClock, tracer=None):
        self.wl, self.cpu, self.tracer = workload, cpu, tracer
        self.attempted = self.failed = self.wrong = 0
        self.check_s = 0.0
        self.latencies: list[float] = []
        self.pass_s: list[float] = []
        self.pass_cpu_s: list[float] = []

    def _fail(self, what: str, detail: str) -> None:
        self.failed += 1
        log(f"FAILED {what}: {detail}")

    def run_pass(self, ops, label: str, timed: bool) -> float:
        tr = self.tracer
        if tr:
            tr.begin_pass()
        spent = cpu = 0.0
        took = []
        for op in ops:
            self.attempted += 1
            self.cpu.start()
            t = time.perf_counter()
            try:
                if tr:
                    with tr.op(op.name):
                        res = op.call()
                else:
                    res = op.call()
            except Exception:  # noqa: BLE001 - one failed call, the run goes on
                spent += time.perf_counter() - t
                cpu += self.cpu.stop()
                self._fail(op.name, traceback.format_exc(limit=3))
                continue
            dt = time.perf_counter() - t
            cpu += self.cpu.stop()
            spent += dt
            took.append(f"{op.name}={dt * 1000:.0f}")
            if timed:
                self.latencies.append(dt)
            if op.check is not None:
                self._check(op.name, lambda: op.check(res))
        self._check("pass", self.wl.after_pass)
        if tr:
            tr.end_pass(timed)
        if timed:
            self.pass_s.append(spent)
            self.pass_cpu_s.append(cpu)
        log(f"{label} {spent:.2f}s, CPU {cpu:.2f}s: {' '.join(took)}")
        return spent

    def _check(self, what, fn) -> None:
        """A failed check counts as one failed call (for the whole-pass
        check: of the pass's last call) and makes the run incorrect."""
        t = time.perf_counter()
        try:
            errs = fn()
        except Exception:  # noqa: BLE001
            errs = [traceback.format_exc(limit=3)]
        self.check_s += time.perf_counter() - t
        if errs:
            self.wrong += 1
            self._fail(what, "; ".join(errs)[:2000])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("browse", "sync"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"
    time.tzset()
    cpus = str(spark_cpus())
    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_CPUS=cpus, SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    spark = None
    try:
        from perfbench import workloads
        from youtube_scraper_db_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{JVM_HEAP}",
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t

        wl = workloads.WORKLOADS[args.workload](spark, run_dir, args.seed)
        t = time.perf_counter()
        wl.setup()
        log(f"set-up: imports {t - T0 - session_s:.1f}s, session {session_s:.1f}s, "
            f"inputs {time.perf_counter() - t:.1f}s")
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark, args.workload)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        runner = Runner(wl, CpuClock(jvm_pid), tracer)
        for p in range(wl.WARMUP_PASSES):  # checked too, like every call
            runner.run_pass(wl.ops(p), f"warm-up {p}", timed=False)
        setup_s = time.perf_counter() - T0 - runner.check_s
        timed_s, p = 0.0, wl.WARMUP_PASSES
        while timed_s < args.seconds:
            timed_s += runner.run_pass(wl.ops(p), f"pass {p} timed", timed=True)
            p += 1

        if tracer:
            tracer.anchor()
            metrics = tracer.metrics(session_s, getattr(wl, "archive", None) and wl.archive.root)
            tracer.uninstall()
            tracer.write(os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-{args.seed}.json"))
        else:
            py_mb, jvm_mb = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)
            log(f"peak RSS: python {py_mb:.0f} MB, JVM {jvm_mb:.0f} MB")
            metrics = {
                "setup_s": setup_s,
                "pass_cpu_s": statistics.median(runner.pass_cpu_s),
                "peak_rss_mb": py_mb + jvm_mb,
            }
        units = _units()
        print(f"# {args.workload} seed={args.seed} timed_passes={len(runner.pass_s)} "
              f"wall pass_s={statistics.median(runner.pass_s):.3f} "
              f"op_p50_ms={statistics.median(runner.latencies or [math.nan]) * 1000:.1f} "
              f"(of {len(runner.latencies)} calls) "
              f"check_s={runner.check_s:.2f}", flush=True)
        result = {
            "correct": runner.wrong == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        return 1 if runner.failed else 0
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        log(f"teardown {time.perf_counter() - t:.1f}s, total {time.perf_counter() - T0:.1f}s")
        with contextlib.suppress(OSError):  # last run out removes the parent
            os.rmdir(os.path.dirname(run_dir))


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and the Python workers the
    JVM started) to exit: the JVM quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
