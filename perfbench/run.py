#!/usr/bin/env python3
"""Fresh-plan benchmark of the engine's registered ops.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 20 --trace 0

One process is one batch job: it starts a ``local[nproc]`` session with
the engine's ``get_session``, runs one untimed cold pass over the
workload's mix, then repeats fresh passes until ``--seconds`` have
passed. In a fresh pass every op calls ``ensure_engine_conf`` and the
registered function's ``__wrapped__`` (skipping the registry's plan
memo), then ``toPandas`` — what a batch job in a new process pays per op.
One client, closed loop: the driver thread runs ops one after another.
The seed sets the op order of every pass; the tables are the vendored
fixtures under ``perfbench/data``. Every result is checked against the
stored signature of the DuckDB oracle's result.

``--trace 1`` runs the same schedule with spans around the engine's layer
functions, Spark job groups around each build and action, and a Spark
event log, and reports per-layer metrics instead of end-to-end ones.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # set-up wall time is timed from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dicebox_sensorybatchprocessor_spark"
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# The driver JVM's heap is pinned (-Xms = -Xmx, pre-touched) so its RSS
# does not follow the garbage collector's sizing choices from run to run,
# and it runs C1-compiled code only: passes still speed up over the first
# few timed passes under C1, but tiered C2 kept speeding them up for
# longer, so a short run would measure more of the warm-up curve and less
# of the program.
DRIVER_MEM = "1g"
JVM_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 -XX:-UsePerfData"

import mixes  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(mixes.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def geomean(values: list[float]) -> float:
    """Geometric mean of positive values. One slow op cannot hide a
    change on a short op the way it does in an arithmetic total."""
    if not values or any(v <= 0 for v in values):
        raise ValueError(f"geomean needs positive values, got {values}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(run_dir: str, trace: bool) -> str | None:
    """Point every scratch writer of the run (Spark local dirs, JVM and
    Python temp files, the engine's scratch base, the event log) into
    ``run_dir``, and put the repo root on the Python workers' path so
    the results do not depend on the working directory. Returns the
    event-log directory when tracing."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    scratch = os.path.join(run_dir, "scratch")
    for d in (tmp, local, scratch):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    os.environ["SBP_SCRATCH_BASE"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)
    # spark-submit first runs a small launcher JVM; keep its files in the run dir too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} {JVM_OPTS}"
    conf = {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": local,
        "spark.ui.showConsoleProgress": "false",
    }
    eventlog = None
    if trace:
        eventlog = os.path.join(run_dir, "eventlog")
        os.makedirs(eventlog)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return eventlog


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_table() -> dict[int, tuple[int, int]]:
    """{pid: (parent pid, CPU ticks)} of every process. The ticks are the
    process's user and system time plus that of the children it reaped."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                data = f.read()
        except OSError:
            continue
        fields = data[data.rfind(")") + 2:].split()  # fields from `state` on
        table[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below it:
    the driver, its JVM and the JVM's Python workers. A guest kernel with
    paravirtual steal accounting leaves out the time the hypervisor gave
    to other guests, which wall time cannot."""
    table = proc_table()
    children = defaultdict(list)
    for pid, (ppid, _) in table.items():
        children[ppid].append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += table.get(pid, (0, 0))[1]
        todo.extend(children[pid])
    return ticks / CLK_TCK


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of ``pid`` in MB (VmHWM), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class Runner:
    """Runs ops against one session, checks every result, and keeps the
    failures."""

    def __init__(self, spark, workload: str, trace_state=None):
        import dicebox_sensorybatchprocessor_spark as engine
        from dicebox_sensorybatchprocessor_spark.session import ensure_engine_conf

        import signatures

        self.spark = spark
        self.sf_dir = mixes.data_dir(mixes.WORKLOADS[workload].sf)
        self.specs = engine.all_queries()
        self.ensure_engine_conf = ensure_engine_conf
        self.expected = signatures.load_signatures()[workload]
        self.signature = signatures.signature
        self.trace = trace_state
        self.attempted = 0
        self.failures: dict[str, list[str]] = defaultdict(list)

    def build(self, op: str):
        """A fresh plan: the engine conf, then the registered function
        without the registry's plan memo."""
        self.ensure_engine_conf(self.spark)
        return self.specs[op].fn.__wrapped__(self.spark, self.sf_dir)

    def _check(self, op: str, pdf) -> None:
        got, want = self.signature(pdf), self.expected[op]
        if got != want:
            raise AssertionError(
                f"result differs from the oracle: rows {got['rows']} vs {want['rows']}, "
                f"columns {got['columns']} vs {want['columns']}"
            )

    def run_op(self, op: str) -> tuple[float, float] | None:
        """(wall s, CPU s) of one op (fresh plan build + ``toPandas``);
        None if it raised or its result did not match the oracle."""
        self.attempted += 1
        try:
            cpu0 = tree_cpu_s()
            if self.trace is not None:
                elapsed, pdf = self.trace.run_op(self, op)
            else:
                t0 = time.perf_counter()
                pdf = self.build(op).toPandas()
                elapsed = time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            self._check(op, pdf)
            return elapsed, cpu
        except Exception as exc:  # an op's failure is a result, not a crash
            self.failures[op].append(f"{type(exc).__name__}: {exc}".splitlines()[0][:300])
            traceback.print_exc(file=sys.stderr)
            return None

    def run_pass(self, order: list[str]) -> dict[str, tuple[float, float]]:
        """{op: (wall s, CPU s)} over the ops that succeeded."""
        times = {}
        for op in order:
            t = self.run_op(op)
            if t is not None:
                times[op] = t
        return times


def record(args, mix) -> dict:
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf": mix.sf,
        "ops": len(mix.ops),
        "nproc": nproc(),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "loadavg_start": list(os.getloadavg()),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: engine package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    mix = mixes.WORKLOADS[args.workload]
    if not os.path.isdir(mixes.data_dir(mix.sf)):
        print(f"error: fixture tables missing at {mixes.data_dir(mix.sf)}", file=sys.stderr)
        return 2

    os.makedirs(RUNS_DIR, exist_ok=True)
    run_dir = os.path.join(RUNS_DIR, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = None
    try:
        eventlog = prepare_environment(run_dir, bool(args.trace))
        info = record(args, mix)
        from dicebox_sensorybatchprocessor_spark.session import get_session

        tracing = None
        if args.trace:
            import tracing as tracing_mod

            tracing = tracing_mod.TraceState(run_dir)

        t = time.perf_counter()
        spark = get_session(app_name=f"perfbench-{args.workload}")
        get_session_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        if tracing is not None:
            tracing.start(spark)

        runner = Runner(spark, args.workload, tracing)
        rng = random.Random(args.seed)
        # Cold pass: first-touch JIT and codegen, fixture staging and
        # footer caches. Charged to set-up, never to a pass.
        cold = runner.run_pass(rng.sample(mix.ops, len(mix.ops)))
        setup_wall_s = time.perf_counter() - T_PROCESS
        setup_cpu_s = tree_cpu_s()  # since the process started

        pass_s: list[float] = []  # wall time of each pass
        pass_cpu_s: list[float] = []
        op_s: dict[str, list[float]] = defaultdict(list)
        op_cpu_s: dict[str, list[float]] = defaultdict(list)
        t_loop = time.perf_counter()
        ticks0 = cpu_ticks()
        while not pass_s or time.perf_counter() - t_loop < args.seconds:
            order = rng.sample(mix.ops, len(mix.ops))
            if tracing is not None:
                tracing.begin_pass()
            times = runner.run_pass(order)
            if tracing is not None:
                tracing.end_pass()
            pass_s.append(sum(wall for wall, _ in times.values()))
            pass_cpu_s.append(sum(cpu for _, cpu in times.values()))
            for op, (wall, cpu) in times.items():
                op_s[op].append(wall)
                op_cpu_s[op].append(cpu)
        measured_s = time.perf_counter() - t_loop
        ticks1 = cpu_ticks()

        rss_python_mb, rss_jvm_mb = vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)
        peak_rss_mb = rss_python_mb + rss_jvm_mb
        info.update(
            get_session_s=get_session_s,
            cold_pass_s=sum(wall for wall, _ in cold.values()),
            setup_wall_s=setup_wall_s,
            rss_python_mb=rss_python_mb,
            rss_jvm_mb=rss_jvm_mb,
            loadavg_end=list(os.getloadavg()),
            passes=len(pass_s),
            measured_s=measured_s,
            # share of CPU time the hypervisor gave to other guests while
            # the passes ran: the machine noise this run was exposed to
            cpu_steal=(ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1),
            failures=dict(runner.failures),
        )
        if tracing is not None:
            metrics = tracing.finish(spark, get_session_s, eventlog, pass_s)
            spark = None  # finish() stopped the session to close the event log
        else:
            metrics = {
                "pass_cpu_s": (statistics.median(pass_cpu_s), "s"),
                "op_geomean_cpu_s": (
                    geomean([statistics.median(v) for v in op_cpu_s.values()]), "s"
                ),
                "setup_s": (setup_cpu_s, "s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
        os.makedirs(OUT_DIR, exist_ok=True)
        out_path = os.path.join(
            OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        )
        with open(out_path, "w") as f:
            json.dump({**info, "pass_s": pass_s, "pass_cpu_s": pass_cpu_s,
                       "op_s": op_s, "op_cpu_s": op_cpu_s,
                       "metrics": {k: v[0] for k, v in metrics.items()}}, f, indent=1)
        if tracing is not None:
            tracing.tracer.dump(out_path.replace(".json", "-spans.json"), info)
        print(json.dumps(info), file=sys.stderr)
        for op, errs in runner.failures.items():
            print(f"FAILED {op}: {len(errs)}x {errs[0]}", file=sys.stderr)
        failed = sum(len(v) for v in runner.failures.values())
        result = {
            "correct": failed == 0,
            "attempted": runner.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        try:
            stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    reap_children()


def reap_children(timeout: float = 30.0) -> None:
    """Terminate and wait for any child process still running, such as a
    JVM whose launch was interrupted before the gateway was set."""
    me = os.getpid()
    pids = [pid for pid, (ppid, _) in proc_table().items() if ppid == me]
    for pid in pids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    for pid in pids:
        while True:
            try:
                done, _ = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                break
            if done:
                break
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
                break
            time.sleep(0.1)


if __name__ == "__main__":
    # SIGTERM unwinds through main's cleanup (session, JVM, run dir).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
