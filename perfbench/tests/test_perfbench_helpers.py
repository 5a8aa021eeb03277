"""Tests of the benchmark's pure helpers (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import math
import os
import statistics
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import run  # noqa: E402
import signatures  # noqa: E402
import spans  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


# -- signatures ---------------------------------------------------------


def test_signature_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
    b = pd.DataFrame({"v": ["z", "x", "y"], "k": [3, 1, 2]})
    assert signatures.signature(a) == signatures.signature(b)


def test_signature_sees_a_changed_value_and_a_missing_row():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    changed = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5000001]})
    short = a.iloc[:1]
    assert signatures.signature(a)["sha256"] != signatures.signature(changed)["sha256"]
    assert signatures.signature(short)["rows"] == 1


def test_date_matches_midnight_timestamp():
    spark_side = pd.DataFrame({"d": [datetime.date(1995, 3, 15)]})
    duckdb_side = pd.DataFrame({"d": [pd.Timestamp("1995-03-15")]})
    assert signatures.signature(spark_side) == signatures.signature(duckdb_side)


def test_canon_cell_kinds():
    c = signatures.canon_cell
    assert c(None) == c(pd.NaT) == ("null",)
    assert c(float("nan")) == c(np.float64("nan")) == ("nan",)
    assert c(np.int64(3)) == c(3) == ("i", 3)
    assert c(np.float32(0.5)) == ("f", 0.5)
    assert c(True) == ("b", True) and c(np.bool_(False)) == ("b", False)
    assert c(np.array([1, 2])) == c([1, 2]) == ("a", (("i", 1), ("i", 2)))
    assert c("a") == ("s", "a")


def test_integer_and_float_one_differ():
    assert signatures.canon_cell(1) != signatures.canon_cell(1.0)


# -- geomean ------------------------------------------------------------


def test_geomean():
    assert run.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert run.geomean([0.5]) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        run.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        run.geomean([])


# -- process-tree CPU time ---------------------------------------------


def test_proc_table_sees_this_process():
    ppid, ticks = run.proc_table()[os.getpid()]
    assert ppid == os.getppid() and ticks >= 0


def test_tree_cpu_counts_a_reaped_child():
    before = run.tree_cpu_s()
    child = subprocess.run(
        [sys.executable, "-c", "import time\nt = time.process_time()\n"
         "while time.process_time() - t < 0.3: pass"], check=True)
    assert child.returncode == 0
    assert run.tree_cpu_s() - before >= 0.25


# -- event log ----------------------------------------------------------


def _fixture_lines():
    with open(FIXTURE) as f:
        return f.readlines()


def test_eventlog_window_filters_tasks_by_launch_time():
    m = eventlog.task_metrics(_fixture_lines(), windows=[(0, 2000)])
    assert m["spark.tasks"] == 5
    assert m["spark.failed_tasks"] == 1
    assert m["spark.executor_run_s"] == pytest.approx(0.525)
    assert m["spark.executor_cpu_s"] == pytest.approx(0.46)
    assert m["spark.jvm_gc_s"] == pytest.approx(0.02)
    assert m["spark.scan_bytes"] == 8192
    assert m["spark.shuffle_write_bytes"] == 1000
    assert m["spark.shuffle_read_bytes"] == 1000
    assert m["spark.fetch_wait_s"] == pytest.approx(0.007)
    assert m["spark.spill_bytes"] == 512
    assert m["spark.result_bytes"] == 14000
    # stage 0: 300 / median(100, 300, 100); stage 1: 50 / median(50, 20)
    assert m["spark.task_skew"] == pytest.approx(statistics.median([3.0, 50 / 35]))


def test_eventlog_without_windows_counts_every_task():
    m = eventlog.task_metrics(_fixture_lines())
    assert m["spark.tasks"] == 6
    assert m["spark.scan_bytes"] == 8192 + 65536
    assert set(m) == set(eventlog.SPARK_METRICS)


def test_eventlog_read_dir(tmp_path):
    (tmp_path / "app-1").write_text("".join(_fixture_lines()))
    assert eventlog.read_dir(str(tmp_path))["spark.tasks"] == 6


def test_eventlog_no_tasks_reports_neutral_skew():
    m = eventlog.task_metrics(['{"Event":"SparkListenerLogStart"}'])
    assert m["spark.tasks"] == 0 and m["spark.task_skew"] == 1.0


# -- spans --------------------------------------------------------------


def test_self_time_subtracts_children():
    rows = [
        ["op", 0.0, 10.0, None, "pass1:a"],
        ["registry.build", 0.0, 4.0, 0, "pass1:a"],
        ["lake.commit", 1.0, 2.0, 1, "pass1:a"],
        ["registry.run", 4.0, 10.0, 0, "pass1:a"],
    ]
    own = spans.self_times(rows)
    assert own["op"] == pytest.approx(0.0)
    assert own["registry.build"] == pytest.approx(3.0)
    assert own["lake.commit"] == pytest.approx(1.0)
    assert own["registry.run"] == pytest.approx(6.0)


def test_self_time_merges_overlapping_children():
    rows = [
        ["mv.refresh", 0.0, 10.0, None, None],
        ["lake.read", 1.0, 5.0, 0, None],
        ["lake.read", 3.0, 6.0, 0, None],
    ]
    assert spans.self_times(rows)["mv.refresh"] == pytest.approx(5.0)


def test_tracer_nests_and_totals():
    t = spans.Tracer()
    t.op = "pass1:x"
    with t.span("op"):
        with t.span("registry.build"):
            pass
    t.op = "pass2:x"
    with t.span("op"):
        pass
    assert t.spans[1][3] == 0 and t.spans[0][3] is None
    n, s = spans.totals(t.spans, "op", {"pass1:x"})
    assert n == 1 and s >= 0 and not math.isnan(s)


def test_self_time_filters_by_op_without_breaking_parent_links():
    rows = [
        ["op", 0.0, 1.0, None, "pass0:a"],
        ["op", 1.0, 4.0, None, "pass1:a"],
        ["registry.build", 1.0, 2.0, 1, "pass1:a"],
    ]
    own = spans.self_times(rows, {"pass1:a"})
    assert own == {"op": pytest.approx(2.0), "registry.build": pytest.approx(1.0)}
