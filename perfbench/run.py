"""End-to-end benchmark of the package's product entry points.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload tokens --seed 1 --seconds 15 \
        --trace 0

One closed-loop caller, one run in flight, Spark at ``local[$(nproc)]``
(``SPARK_GRAFT_CPUS`` overrides). The process generates the workload's
inputs from ``--seed``, starts the session, makes the workload's untimed
warm-up runs, then times runs until ``--seconds`` have passed, at least two
of them.
Every run's outputs are checked against expectations computed from the
generator alone.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: end-to-end metrics with ``--trace 0``, per-layer
metrics (see ``tracing.py``) with ``--trace 1``. The line before it is a
``{"stamp": ...}`` object recording the host, versions, seed, inputs and
the 1-minute load average around every timed run.

Everything the run writes goes under ``.bench_out/`` in the checkout and
is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))

E2E_UNITS = {
    "setup_s": "s",
    "cpu_s": "cpu-s",
    "rows_per_cpu_s": "rows/cpu-s",
    "ok_frac": "ratio",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}
MAX_TIMED_RUNS = 200
MIN_TIMED_RUNS = 2


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def launch_env(work: str, trace: bool) -> None:
    """Environment for the session the package's ``get_spark`` builds:
    parallelism, a bounded heap, and launch-time conf that keeps every
    file Spark and Python write inside ``work``."""
    os.environ.setdefault(
        "SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: with G1 growing it on demand the JVM's
        # peak RSS swung by a quarter between identical runs, so peak_rss_mb
        # now moves with off-heap and Python-driver memory only
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            # C1 only: with C2 the JIT compiled for 8+ runs, as much CPU
            # again as the run itself, and how far it had got set the
            # run's CPU; compiler threads live as long as the JVM, so their
            # CPU can be told apart at every run
            "-XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


CLK_TCK = os.sysconf("SC_CLK_TCK")


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a ``/proc`` stat file."""
    with open(path) as f:
        head, _, rest = f.read().rpartition(")")
    return head.partition("(")[2], rest.split()


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and of every live process below it (the
    Spark JVM and its Python workers), each with its reaped children's.
    The kernel leaves the time the hypervisor stole out of these counts."""
    parent, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            _comm, f = _stat(f"/proc/{d}/stat")
        except OSError:
            continue  # exited meanwhile
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p not in (root, 0, 1) and p in parent:
            p = parent[p]
        if p == root:
            total += ticks
    return total / CLK_TCK


def jit_cpu_s(jvm_pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads."""
    total = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            comm, f = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        except OSError:
            continue
        if comm.startswith(JIT_THREADS):
            total += int(f[11]) + int(f[12])
    return total / CLK_TCK


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to others while this VM's vCPUs
    wanted to run, summed over vCPUs (0 where the kernel does not count
    it)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK if len(fields) > 8 else 0.0


def source_digest() -> str:
    """sha256 over the package sources: identifies the code measured when
    the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "data_linter_spark")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(root, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    def __init__(self, args, work):
        from workloads import WORKLOADS

        self.wl = WORKLOADS[args.workload](work, args.seed)
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.loadavg: list[tuple] = []
        self.jvm_pid = None
        self.tracer = None

    def one_run(self, count: bool, traced_id=None) -> dict:
        """reset (untimed), timed run, check (untimed). With ``traced_id``
        the run is traced under that run id, inside one ``other`` span."""
        wl = self.wl
        wl.reset()
        load0 = os.getloadavg()[0]
        tree0, jit0 = tree_cpu_s(os.getpid()), jit_cpu_s(self.jvm_pid)
        steal0 = host_steal_s()
        cpu0 = time.process_time()
        t0 = time.perf_counter()
        try:
            if traced_id is None:
                result = wl.run()
            else:
                self.tracer.run_id = traced_id
                try:
                    with self.tracer.span("other", "run"):
                        result = wl.run()
                finally:
                    self.tracer.run_id = None
            error = None
        except Exception as e:  # a failing run is counted, not fatal
            result, error = None, f"{type(e).__name__}: {e}"
        dt = time.perf_counter() - t0
        cpu = time.process_time() - cpu0
        steal = host_steal_s() - steal0
        jit = jit_cpu_s(self.jvm_pid) - jit0
        tree_cpu = tree_cpu_s(os.getpid()) - tree0 - jit
        load1 = os.getloadavg()[0]
        if error is None:
            attempted, failed, notes = wl.check(result)
        else:
            attempted, failed, notes = 1, 1, [error]
        if count:
            self.attempted += attempted
            self.failed += failed
            self.notes += notes
            self.loadavg.append((round(load0, 2), round(load1, 2)))
        return {
            "run_s": dt, "cpu_s": tree_cpu, "jit_cpu_s": jit, "steal_s": steal,
        "driver_cpu_s": cpu, "ok": failed == 0, "notes": notes,
            "result": result, "out_bytes": wl.out_bytes() if error is None
            else 0,
        }

    def self_check(self, result) -> bool:
        """The oracle must notice one corrupted expectation."""
        _a, failed, _n = self.wl.check(
            result, self.wl.corrupted_expectation()
        )
        return failed > 0


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_out", f"{args.workload}-{os.getpid()}")
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    try:
        import data_linter_spark  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the package: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(work, exist_ok=True)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def measure(args, work) -> int:
    trace = bool(args.trace)
    launch_env(work, trace)
    bench = Bench(args, work)
    wl = bench.wl
    phases = {"start": time.perf_counter() - T0}
    wl.generate()
    phases["generate"] = time.perf_counter() - T0

    from data_linter_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    bench.jvm_pid = spark._jvm.ProcessHandle.current().pid()
    phases["session"] = time.perf_counter() - T0
    try:
        wl.prepare(spark)
        phases["prepare"] = time.perf_counter() - T0
        warm = [bench.one_run(count=False) for _ in range(wl.warmup_runs)]
        warm_ok = all(w["ok"] for w in warm)
        oracle_ok = warm_ok and bench.self_check(warm[-1]["result"])
        bench.notes += ["warm-up: " + n for w in warm for n in w["notes"]]
        phases["warmup"] = time.perf_counter() - T0
        setup_s = time.perf_counter() - T0

        if trace:
            from tracing import Tracer

            bench.tracer = Tracer(spark.sparkContext)
            bench.tracer.install()
        runs, untraced = [], []
        t_start = time.perf_counter()
        while len(runs) < MAX_TIMED_RUNS:
            done = time.perf_counter() - t_start >= args.seconds
            if done and len(runs) >= MIN_TIMED_RUNS and (
                untraced or not trace
            ):
                break
            if trace and runs and len(untraced) < len(runs):
                untraced.append(bench.one_run(count=True))
                continue
            runs.append(bench.one_run(
                count=True, traced_id=len(runs) if trace else None
            ))
        peak_rss = vm_hwm_mb(bench.jvm_pid) + vm_hwm_mb("self")
        stamp = make_stamp(args, spark, bench, phases, runs, untraced)
    finally:
        if bench.tracer is not None:
            bench.tracer.uninstall()
        stop_spark(spark)

    correct = warm_ok and oracle_ok and bench.failed == 0
    if not oracle_ok:
        bench.notes.append(
            "oracle self-check did not see a corrupted expectation"
        )
    if trace:
        metrics = trace_metrics(bench.tracer, runs, untraced, bench, work)
    else:
        cpu = statistics.median(r["cpu_s"] for r in runs)
        metrics = {
            "setup_s": setup_s,
            "cpu_s": cpu,
            "rows_per_cpu_s": wl.input_rows / cpu,
            "ok_frac": 1.0 - bench.failed / bench.attempted,
            "peak_rss_mb": peak_rss,
            "out_bytes_per_in_byte": statistics.median(
                r["out_bytes"] for r in runs
            ) / wl.input_bytes,
        }
        metrics = {
            k: {"value": v, "unit": E2E_UNITS[k]} for k, v in metrics.items()
        }
    for n in bench.notes[:20]:
        print(f"perfbench: {n}", file=sys.stderr)
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(bench.attempted),
        "failed": int(bench.failed),
        "metrics": metrics,
    }))
    return 0


def make_stamp(args, spark, bench, phases, runs, untraced) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "workload": args.workload,
        "entry": bench.wl.entry,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": sc.master,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "input_rows": bench.wl.input_rows,
        "input_bytes": bench.wl.input_bytes,
        "setup_phase_end_s": {k: round(v, 3) for k, v in phases.items()},
        "timed_runs": len(runs),
        "run_s_median": statistics.median(r["run_s"] for r in runs),
        **{
            f"{k}_each": [round(r[k], 3) for r in runs]
            for k in ("run_s", "cpu_s", "jit_cpu_s", "steal_s")
        },
        "untraced_run_s_each": [round(r["run_s"], 3) for r in untraced],
        "untraced_cpu_s_each": [round(r["cpu_s"], 3) for r in untraced],
        "loadavg_1m_start_end": bench.loadavg,
    }


def trace_metrics(tracer, runs, untraced, bench, work) -> dict:
    """Per-layer metrics: the median over the traced timed runs of each
    run's per-layer figures, plus the tracing overhead against the
    interleaved untraced runs of the same process."""
    from tracing import (
        parse_event_log,
        per_layer_metric_units,
        queue_wait_seconds,
        run_layer_metrics,
        validator_file_seconds,
    )

    groups = parse_event_log(os.path.join(work, "eventlog"))
    per_run = [run_layer_metrics(tracer, i, groups) for i in range(len(runs))]
    units = per_layer_metric_units()
    out = {}
    for name in per_run[0]:
        out[name] = statistics.median(r[name] for r in per_run)

    def counts(r):
        return {k: v for k, v in r.items() if k.endswith((".jobs", ".tasks"))}

    unstable = sum(counts(r) != counts(per_run[0]) for r in per_run[1:])
    file_s = sorted(
        s for i in range(len(runs))
        for s in validator_file_seconds(tracer.run_spans(i))
    )
    if file_s:
        q = statistics.quantiles(file_s, n=10, method="inclusive")
        p50, p90 = statistics.median(file_s), q[8]
    else:
        p50 = p90 = 0.0
    traced_cpu = statistics.median(r["cpu_s"] for r in runs)
    untraced_cpu = statistics.median(r["cpu_s"] for r in untraced)
    summaries = [
        s for s in (
            bench.wl.partition_summary(r["result"])
            for r in runs if r["result"] is not None
        )
        if s is not None
    ]
    screened = out.get("checks.stats_screen.calls", 0)
    proven = statistics.median(
        s.get("partitions_proven_by_stats", 0) for s in summaries
    ) if summaries else 0
    skipped = [
        s["partitions_skipped_resume"] / s["partitions_total"]
        for s in summaries
        if s.get("partitions_total")
    ]
    out.update({
        "validator.file_s.p50": p50,
        "validator.file_s.p90": p90,
        "runner.queue_wait_s": statistics.median(
            queue_wait_seconds(tracer.run_spans(i)) for i in range(len(runs))
        ),
        "checks.stats_screen.proven_frac": proven / screened if screened else 0.0,
        "manifest.skipped_frac": statistics.median(skipped) if skipped else 0.0,
        "driver.cpu_s": statistics.median(r["driver_cpu_s"] for r in runs),
        "jvm.jit_cpu_s": statistics.median(r["jit_cpu_s"] for r in runs),
        "trace.cpu_s": traced_cpu,
        "trace.untraced_cpu_s": untraced_cpu,
        "trace.overhead_frac": traced_cpu / untraced_cpu - 1.0,
        "trace.unstable_runs": unstable,
    })
    if unstable:
        bench.notes.append(
            f"job/task counts differ across {unstable} warm traced run(s)"
        )
    return {k: {"value": out[k], "unit": units[k]} for k in units}


if __name__ == "__main__":
    sys.exit(main())
