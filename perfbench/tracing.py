"""The traced run: per-layer metrics for one workload.

Layers are the engine's own modules, measured from outside the package:

* ``registry`` — each op's fresh plan build and its action, split by a
  span and a Spark job group around each (jobs and tasks from the status
  tracker), also per module that registered the op;
* ``catalyst`` — analysis, optimisation and planning time from the
  action's ``QueryPlanningTracker``;
* ``spark`` — executor task metrics from the run's event log;
* ``session``, ``lake``, ``mv``, ``utils`` — spans around their public
  functions (see ``spans.Instrumentation``);
* ``streaming`` — the progress records of every streaming query started.

Every time and count is per measured pass: summed over the measured
passes' ops and divided by their number (the cold pass is left out). Spans are written out at the end.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

import eventlog
import mixes
import spans

PHASES = ("analysis", "optimization", "planning")


def op_module(spec) -> str:
    """The engine module that registered ``spec``, without the package."""
    return spec.fn.__wrapped__.__module__.removeprefix(spans.PACKAGE + ".")


def module_names() -> list[str]:
    """Modules that register an op of any workload: one metric set each,
    reported on every workload so the metric list is fixed."""
    import dicebox_sensorybatchprocessor_spark as engine

    specs = engine.all_queries()
    return sorted({op_module(specs[op]) for m in mixes.WORKLOADS.values() for op in m.ops})


def metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    units = {
        "trace.pass_s": "s",
        "session.get_session_s": "s",
        "session.ensure_engine_conf_s": "s",
        "registry.build_s": "s",
        "registry.build_jobs": "count",
        "registry.run_s": "s",
        "registry.run_jobs": "count",
        "registry.run_tasks": "count",
        "registry.result_rows": "count",
        "registry.span_coverage": "fraction",
    }
    units.update({f"catalyst.{p}_s": "s" for p in PHASES})
    for name in eventlog.SPARK_METRICS:
        units[name] = (
            "s" if name.endswith("_s") else "bytes" if name.endswith("_bytes")
            else "ratio" if name == "spark.task_skew" else "count"
        )
    units.update({
        "lake.commits": "count", "lake.commit_s": "s", "lake.commit_conflicts": "count",
        "lake.stage_s": "s", "lake.read_s": "s",
        "mv.refreshes": "count", "mv.refresh_s": "s", "mv.incremental_ratio": "fraction",
        "streaming.microbatches": "count", "streaming.trigger_s": "s",
        "streaming.addbatch_s": "s", "streaming.lifecycle_s": "s",
        "streaming.input_rows": "count", "streaming.state_rows": "count",
        "streaming.state_bytes": "bytes", "streaming.microbatch_p50_s": "s",
        "streaming.rows_per_s": "1/s",
        "utils.footer_probes": "count", "utils.footer_probe_s": "s",
        "utils.stage_cache_hit_ratio": "fraction", "utils.scratch_bytes": "bytes",
        "self.registry_build_s": "s", "self.registry_run_s": "s",
        "self.lake_s": "s", "self.mv_s": "s", "self.utils_s": "s", "self.session_s": "s",
    })
    for mod in module_names():
        units.update({f"{mod}.build_s": "s", f"{mod}.run_s": "s", f"{mod}.build_jobs": "count"})
    return units


class TraceState:
    def __init__(self, run_dir: str):
        self.tracer = spans.Tracer()
        self.instrumentation = spans.Instrumentation(self.tracer)
        self.scratch = os.path.join(run_dir, "scratch")
        self.windows: list[tuple[float, float]] = []
        self.pass_idx = 0
        self.acc: dict[str, float] = defaultdict(float)
        self.trigger_s: list[float] = []
        self.scratch_bytes = 0

    def start(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.instrumentation.install()

    def begin_pass(self) -> None:
        self.pass_idx += 1
        if self.pass_idx == 1:  # counters cover measured passes only
            self.tracer.counters.clear()
        self.pass_start_ms = time.time() * 1e3

    def end_pass(self) -> None:
        self.windows.append((self.pass_start_ms, time.time() * 1e3))
        self.scratch_bytes = max(self.scratch_bytes, _dir_bytes(self.scratch))

    def _jobs(self, group: str) -> tuple[int, int]:
        ids = self.status.getJobIdsForGroup(group)
        tasks = 0
        for jid in ids:
            job = self.status.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                stage = self.status.getStageInfo(sid)
                tasks += stage.numCompletedTasks if stage else 0
        return len(ids), tasks

    def run_op(self, runner, op: str):
        """``runner.build(op)`` and ``toPandas`` inside spans and job
        groups; folds the op's layer numbers in unless it is the cold
        pass (pass 0)."""
        tag = f"pass{self.pass_idx}:{op}"
        t = self.tracer
        t.op = tag
        with t.span("op"):
            t0 = time.perf_counter()
            self.sc.setJobGroup(f"{tag}:build", op)
            with t.span("registry.build"):
                df = runner.build(op)
            t1 = time.perf_counter()
            self.sc.setJobGroup(f"{tag}:run", op)
            with t.span("registry.run"):
                pdf = df.toPandas()
            t2 = time.perf_counter()
        progress = self.instrumentation.drain_progress()
        if self.pass_idx > 0:
            build_jobs, _ = self._jobs(f"{tag}:build")
            run_jobs, run_tasks = self._jobs(f"{tag}:run")
            mod = op_module(runner.specs[op])
            a = self.acc
            a["registry.build_s"] += t1 - t0
            a["registry.run_s"] += t2 - t1
            a["registry.build_jobs"] += build_jobs
            a["registry.run_jobs"] += run_jobs
            a["registry.run_tasks"] += run_tasks
            a["registry.result_rows"] += len(pdf)
            a[f"{mod}.build_s"] += t1 - t0
            a[f"{mod}.run_s"] += t2 - t1
            a[f"{mod}.build_jobs"] += build_jobs
            for phase, ms in _phases(df).items():
                a[f"catalyst.{phase}_s"] += ms / 1e3
            self._add_progress(progress, t2 - t0)
        return t2 - t0, pdf

    def _add_progress(self, progress: list[dict], op_wall_s: float) -> None:
        if not progress:
            return
        a = self.acc
        trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress]
        self.trigger_s.extend(trig)
        a["streaming.microbatches"] += len(progress)
        a["streaming.trigger_s"] += sum(trig)
        a["streaming.addbatch_s"] += sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1e3
        a["streaming.lifecycle_s"] += op_wall_s - sum(trig)
        a["streaming.input_rows"] += sum(p.get("numInputRows", 0) for p in progress)
        last = {}
        for p in progress:  # state size after each query's final batch
            last[p.get("runId")] = p
        for p in last.values():
            for s in p.get("stateOperators") or ():
                a["streaming.state_rows"] += s.get("numRowsTotal", 0)
                a["streaming.state_bytes"] += s.get("memoryUsedBytes", 0)

    def finish(self, spark, get_session_s, eventlog_dir, pass_s) -> dict:
        """Stop the session (closing the event log) and fold everything
        into per-pass metrics: {name: (value, unit)}."""
        self.instrumentation.restore()
        spark.stop()
        n = max(len(self.windows), 1)
        measured = {s[4] for s in self.tracer.spans if s[4] and not s[4].startswith("pass0:")}
        sp = self.tracer.spans
        values = {k: v / n for k, v in self.acc.items()}
        executor = eventlog.read_dir(eventlog_dir, self.windows)
        values.update({k: v / n for k, v in executor.items()})
        values["spark.task_skew"] = executor["spark.task_skew"]
        values["trace.pass_s"] = statistics.median(pass_s)
        values["session.get_session_s"] = get_session_s
        values["session.ensure_engine_conf_s"] = spans.totals(sp, "session.ensure_engine_conf", measured)[1] / n
        # share of the passes' wall time (result checks included) that the
        # per-op build and run spans account for
        wall_s = sum(b - a for a, b in self.windows) / 1e3
        covered = self.acc["registry.build_s"] + self.acc["registry.run_s"]
        values["registry.span_coverage"] = covered / wall_s if wall_s else 0.0
        commits, commit_s = spans.totals(sp, "lake.commit", measured)
        values["lake.commits"] = commits / n
        values["lake.commit_s"] = commit_s / n
        values["lake.commit_conflicts"] = self.tracer.counters["lake.commit_conflicts"] / n
        values["lake.stage_s"] = spans.totals(sp, "lake.stage", measured)[1] / n
        values["lake.read_s"] = spans.totals(sp, "lake.read", measured)[1] / n
        refreshes, refresh_s = spans.totals(sp, "mv.refresh", measured)
        values["mv.refreshes"] = refreshes / n
        values["mv.refresh_s"] = refresh_s / n
        inc, rec = (self.tracer.counters[f"mv.{m}"] for m in ("incremental", "recompute"))
        values["mv.incremental_ratio"] = inc / (inc + rec) if inc + rec else 0.0
        trig_total = sum(self.trigger_s)
        values["streaming.microbatch_p50_s"] = statistics.median(self.trigger_s) if self.trigger_s else 0.0
        values["streaming.rows_per_s"] = (
            self.acc["streaming.input_rows"] / trig_total if trig_total else 0.0
        )
        probes, probe_s = spans.totals(sp, "utils.footer_probe", measured)
        values["utils.footer_probes"] = probes / n
        values["utils.footer_probe_s"] = probe_s / n
        calls = self.tracer.counters["utils.scratch_calls"]
        values["utils.stage_cache_hit_ratio"] = (
            self.tracer.counters["utils.scratch_hits"] / calls if calls else 0.0
        )
        values["utils.scratch_bytes"] = self.scratch_bytes
        own = spans.self_times(sp, measured)
        values["self.registry_build_s"] = own.get("registry.build", 0.0) / n
        values["self.registry_run_s"] = own.get("registry.run", 0.0) / n
        for layer in ("lake", "mv", "utils", "session"):
            values[f"self.{layer}_s"] = sum(
                v for k, v in own.items() if k.startswith(layer + ".")
            ) / n
        units = metric_units()
        return {k: (float(values.get(k, 0.0)), u) for k, u in units.items()}


def _phases(df) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded on ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = float(opt.get().durationMs())
    return out


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(base, name)).st_size
            except OSError:
                pass
    return total
