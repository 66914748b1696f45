"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Each workload is a closed loop with one
client: the next cycle, trigger or pass starts when the previous one
returns. Spark runs as ``local[N]`` with N one less than the number of
CPUs this process may use. Inputs are generated from ``--seed`` under
``.perfbench_work/`` and removed at exit; a full report (environment,
samples, checks and, with ``--trace 1``, every span) is written to
``.perfbench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (tracing off); with ``--trace 1``
the per-layer ones, taken from spans recorded around the engine's
public calls (see spans.py). The end-to-end metrics of a traced run are
in its report, so the tracing overhead is the difference to an
untraced run of the same seed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import resource
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("cdc_steady", "operators_mix")
SETUP_ROUNDS = 3  # input-generation rounds per run; setup_s takes the median


def tail(samples: list[float | None]) -> tuple[float, str, int]:
    """The highest percentile with at least ten samples beyond it, its
    name and the sample count. A failed attempt (None) counts as
    missing it. With ten or fewer samples no such percentile exists,
    and the maximum is reported as ``max``."""
    vals = sorted(math.inf if s is None else s for s in samples)
    n = len(vals)
    if n <= 10:
        return vals[-1], "max", n
    return vals[n - 11], f"p{math.floor(100 * (n - 10) / n)}", n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@dataclass
class Bench:
    """One run's session, scratch directory and results."""

    workload: str
    seed: int
    seconds: int
    trace: bool
    work: str
    spark: object = None
    tracer: object = None
    setup: dict = field(default_factory=dict)
    samples: list = field(default_factory=list)  # per attempt: seconds or None
    cpu: list = field(default_factory=list)  # per attempt: CPU seconds or None
    jit: list = field(default_factory=list)  # per attempt: JIT compiler CPU seconds
    values: dict = field(default_factory=dict)  # every metric by name
    checks: list = field(default_factory=list)  # (name, ok, detail)
    inputs: dict = field(default_factory=dict)  # table -> {rows, bytes}
    details: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)
    _jvm_pid: int = 0

    def attempt(self, fn, *args) -> float | None:
        """Run one closed-loop operation; its wall time, or None if it
        raised (the error is kept for the report). Its CPU seconds go
        to ``cpu``, those of the JVM's JIT compiler threads to ``jit``."""
        t0, (c0, j0) = time.perf_counter(), self.cpu_s()
        try:
            fn(*args)
        except Exception as e:  # one failed attempt must not end the run
            self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            self.cpu.append(None)
            self.jit.append(None)
            return None
        dt = time.perf_counter() - t0
        c1, j1 = self.cpu_s()
        self.cpu.append(c1 - c0)
        self.jit.append(j1 - j0)
        return dt

    def summarize(self, cold, p50, loop, rows: int) -> None:
        """The end-to-end values from (wall, CPU, JIT CPU) second
        triples: the cold operation, the median operation and the whole
        timed loop; ``rows`` is the source rows one operation reads."""
        (cold_s, cold_cpu, _), (p50_s, p50_cpu, _), (loop_s, loop_cpu, loop_jit) = (
            cold, p50, loop
        )
        self.values.update(
            cold_s=cold_s or 0.0,
            cold_cpu_s=cold_cpu or 0.0,
            p50_s=p50_s,
            p50_cpu_s=p50_cpu,
            loop_s=loop_s,
            loop_cpu_s=loop_cpu,
            source_rows_per_s=rows / p50_s if p50_s else 0.0,
            source_rows_per_cpu_s=rows / p50_cpu if p50_cpu else 0.0,
            **{"bench.loop_jit_cpu_s": loop_jit},
        )

    def op(self, name: str, op_id: int):
        """The root span of one closed-loop operation, when traced."""
        return self.tracer.op(name, op_id) if self.tracer else contextlib.nullcontext()

    def check(self, name: str, ok: bool, detail="") -> None:
        self.checks.append((name, bool(ok), detail))

    def peak_rss_mb(self) -> float:
        """Peak RSS of the driver JVM plus this Python process."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        with open(f"/proc/{self.jvm_pid()}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
        return kb / 1024

    def cpu_s(self) -> tuple[float, float]:
        """CPU seconds used so far: (this process, the driver JVM and the
        JVM's descendants (Python workers), reaped children included, but
        not the JVM's JIT compiler threads; those threads).

        JIT compilation is half of a run's CPU and, in a JVM this young,
        its amount swings with timing, so it is reported apart. The
        compiler threads live as long as the JVM
        (``-XX:-UseDynamicNumberOfCompilerThreads``), so none of their
        time is lost with an exited thread."""
        jvm = self.jvm_pid()
        stat = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        rest = f.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                stat[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
        tree, frontier = set(), {jvm}
        while frontier:
            tree |= frontier
            frontier = {p for p, (pp, _) in stat.items() if pp in frontier} - tree
        ticks = sum(stat[p][1] for p in tree if p in stat)
        jit = 0
        for tid in os.listdir(f"/proc/{jvm}/task"):
            try:
                with open(f"/proc/{jvm}/task/{tid}/stat") as f:
                    head, rest = f.read().rsplit(")", 1)
            except OSError:
                continue
            if head.split("(", 1)[1].startswith(("C1 Compiler", "C2 Compiler")):
                jit += sum(int(x) for x in rest.split()[11:13])
        hz = os.sysconf("SC_CLK_TCK")
        t = os.times()
        return (ticks - jit) / hz + t.user + t.system, jit / hz

    def jvm_pid(self) -> int:
        if not self._jvm_pid:
            self._jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return self._jvm_pid

    def persistent_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


def task_slots(nproc: int) -> int:
    """Spark task threads: one CPU fewer than the process may use, so
    the driver's own threads (scheduler, JIT, GC) and the Python
    process do not compete with the tasks for the last core."""
    return max(1, nproc - 1)


def _pin_environment(work: str, nproc: int) -> None:
    """Point every scratch path of Spark, the JVM and Python at the
    run's work directory, and pin the session to ``local[task_slots]``
    with as many shuffle partitions as task slots."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, including spark-submit's launcher, keeps its temp files
    # (and no hsperfdata) inside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(task_slots(nproc))
    os.environ["SPARK_GRAFT_SHUFFLE_PARTITIONS"] = str(task_slots(nproc))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers (Arrow UDFs) import updater_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )


def start_session(b: Bench):
    from updater_spark import get_spark

    spark = get_spark(
        app_name=f"perfbench-{b.workload}",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(b.work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit. The JVM exits
    when its stdin closes; its Python workers exit with it."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def environment(b: Bench, nproc: int) -> dict:
    sc = b.spark.sparkContext
    return {
        "nproc": nproc,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": b.spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": b.spark.conf.get("spark.driver.memory"),
        "seed": b.seed,
        "seconds": b.seconds,
        "spark": b.spark.version,
        "java": b.spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "inputs": b.inputs,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "updater_spark", "__init__.py")):
        print(f"perfbench: no updater_spark package under {REPO}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(
        REPO, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    _pin_environment(work, nproc)
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)

    import cdc_workload
    import ops_workload

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    module = {"cdc_steady": cdc_workload, "operators_mix": ops_workload}[args.workload]
    try:
        t0 = time.perf_counter()
        b.spark = start_session(b)
        b.setup["session"] = time.perf_counter() - t0
        b.values["session.get_spark.s"] = b.setup["session"]
        module.run(b)
        env = environment(b, nproc)
        b.values["bench.peak_rss_mb"] = b.peak_rss_mb()
    finally:
        if b.spark is not None:
            stop_session(b.spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(b.samples)
    failed = sum(s is None for s in b.samples)
    b.values["bench.failed_ratio"] = failed / attempted if attempted else 1.0
    correct = bool(b.checks) and all(ok for _, ok, _ in b.checks) and not failed
    units = _units()
    for name in units["per_layer"]:
        if not module.covers(name):
            b.values.setdefault(name, 0.0)  # the layer is not on this workload
    section = "per_layer" if b.trace else "end_to_end"
    missing = [m for m in units[section] if m not in b.values]
    if missing:
        raise RuntimeError(f"workload {b.workload} did not report {missing}")

    report = {
        "workload": b.workload,
        "trace": b.trace,
        "environment": env,
        "setup": b.setup,
        "samples": b.samples,
        "cpu": b.cpu,
        "jit": b.jit,
        "values": b.values,
        "checks": b.checks,
        "errors": b.errors,
        "details": b.details,
        "spans": b.tracer.dump() if b.tracer else [],
    }
    out_dir = os.path.join(REPO, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{b.workload}-seed{b.seed}-trace{int(b.trace)}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({"environment": env}))
    print(json.dumps({"checks": b.checks, "errors": b.errors, "details": b.details}))
    if b.trace:
        print(json.dumps({"traced_end_to_end": {m: b.values[m] for m in units["end_to_end"]}}))
    result = {
        "correct": correct,
        "attempted": max(attempted, 1),
        "failed": failed if attempted else 1,
        "metrics": {
            name: {"value": _finite(b.values[name]), "unit": unit}
            for name, unit in units[section].items()
        },
    }
    print(json.dumps(result))
    return 0 if correct else 1


def _finite(v: float) -> float:
    """JSON has no infinity: a tail missed by a failed attempt is
    reported as 1e9 (the failure itself is in ``failed``)."""
    return float(v) if math.isfinite(v) else 1e9


def _units() -> dict[str, dict[str, str]]:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        k: {m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer")
    }


if __name__ == "__main__":
    sys.exit(main())
