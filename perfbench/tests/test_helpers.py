"""Unit tests for the benchmark's own helpers (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import subprocess
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pytest

from perfbench import eventlog, oracle, run, summary


def _python_exact(values, q):
    s = sorted(values)
    return s[int(q * (len(s) - 1))]


# -- oracle ---------------------------------------------------------------
def test_oracle_sql_matches_python_rank_rule():
    rng = np.random.default_rng(3)
    # every group size from 1 to 240, so q*(n-1) lands on integers and on
    # values a decimal product would round differently
    groups, values = [], []
    for g, n in enumerate(range(1, 241)):
        groups += [g] * n
        values += list(rng.lognormal(0.0, 2.0, n))
    con = duckdb.connect()
    con.register("t", pa.table({"g": groups, "x": values}))
    sql = oracle.exact_quantiles_sql("t", {"grp": "g"}, "x")
    got = {r[0]: r for r in con.execute(sql).fetchall()}
    by_group: dict[int, list[float]] = {}
    for g, x in zip(groups, values):
        by_group.setdefault(g, []).append(x)
    assert len(got) == len(by_group)
    for g, xs in by_group.items():
        _, n, q50, q95, q99 = got[g]
        assert n == len(xs)
        assert (q50, q95, q99) == tuple(
            _python_exact(xs, q) for q in (0.5, 0.95, 0.99)
        )


def test_oracle_sql_ignores_nulls_and_needs_a_group():
    con = duckdb.connect()
    con.register("t", pa.table({"g": [1, 1, 1], "x": [3.0, None, 1.0]}))
    (row,) = con.execute(oracle.exact_quantiles_sql("t", {"g": "g"}, "x")).fetchall()
    assert row[1] == 2 and row[2] == 1.0 and row[4] == 1.0
    with pytest.raises(ValueError):
        oracle.exact_quantiles_sql("t", {}, "x")


def test_exact_quantiles_reads_parquet(tmp_path):
    import pyarrow.parquet as pq

    path = str(tmp_path / "x.parquet")
    pq.write_table(pa.table({"k": ["a", "a", "b"], "v": [1.0, 2.0, 5.0]}), path)
    ex = oracle.exact_quantiles([path], {"k": "k"}, "v")
    assert ex[("a",)]["q50"] == 1.0 and ex[("a",)]["q99"] == 1.0
    assert ex[("b",)] == {"n": 1, "q50": 5.0, "q95": 5.0, "q99": 5.0}


def test_max_relative_error():
    exact = {("a",): {"q50": 10.0, "q95": 20.0, "q99": 40.0}}
    est = {("a",): {"q50": 10.1, "q95": 20.0, "q99": 39.8}}
    assert oracle.max_relative_error(est, exact) == pytest.approx(0.01)
    assert oracle.max_relative_error({}, exact) == float("inf")
    assert oracle.max_relative_error(
        {("a",): {"q50": 10.0, "q95": None, "q99": 40.0}}, exact
    ) == float("inf")


# -- event log ------------------------------------------------------------
def _job(job, stages, group):
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": job,
        "Stage IDs": stages,
        "Properties": {"spark.jobGroup.id": group} if group else {},
    }


def _stage(stage, tasks, **acc):
    names = {
        "run": "internal.metrics.executorRunTime",
        "cpu": "internal.metrics.executorCpuTime",
        "in_bytes": "internal.metrics.input.bytesRead",
        "in_rows": "internal.metrics.input.recordsRead",
        "shuffle": "internal.metrics.shuffle.write.bytesWritten",
    }
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage,
            "Number of Tasks": tasks,
            "Accumulables": [
                {"ID": i, "Name": names[k], "Value": v}
                for i, (k, v) in enumerate(acc.items())
            ]
            + [{"ID": 99, "Name": "number of output rows", "Value": "7"}],
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    _job(0, [0], None),
    _stage(0, 2, run=100, in_rows=10),
    # two jobs of one query (adaptive execution) share the group
    _job(1, [1, 2], "g-0"),
    _job(2, [3, 4], "g-0"),
    _stage(1, 24, run=2000, cpu=1_500_000_000, in_bytes=4096, in_rows=1000, shuffle=50),
    _stage(2, 4, run=500, shuffle=7),
    _stage(3, 1, run=10, in_rows=5, in_bytes=300),
    _stage(4, 1, run=20),
]


def test_stage_metrics_selects_the_group_and_converts_units(tmp_path):
    path = tmp_path / "events"
    path.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    stages = eventlog.stage_metrics(eventlog.read_events(str(path)), "g-0")
    assert [s["stage"] for s in stages] == [1, 2, 3, 4]
    first = stages[0]
    assert first["tasks"] == 24
    assert first["executor_run_s"] == pytest.approx(2.0)
    assert first["executor_cpu_s"] == pytest.approx(1.5)
    assert first["input_records"] == 1000 and first["shuffle_write_bytes"] == 50
    assert eventlog.stage_metrics(EVENTS, "other") == []


def test_summarise_stages_totals_and_scan_tasks():
    stages = eventlog.stage_metrics(EVENTS, "g-0")
    total = eventlog.summarise_stages(stages, cores=4, scan_min_records=100)
    assert total["tasks"] == 30
    assert total["executor_run_s"] == pytest.approx(2.53)
    assert total["shuffle_write_bytes"] == 57
    assert total["input_bytes"] == 4396
    # stage 3 read 5 rows of metadata: not an input scan
    assert total["min_scan_tasks_per_core"] == 6.0
    assert eventlog.summarise_stages(stages, 4, 1)["min_scan_tasks_per_core"] == 0.25
    with pytest.raises(ValueError):
        eventlog.summarise_stages(stages, 4, 10_000)
    with pytest.raises(ValueError):
        eventlog.summarise_stages([], 4, 1)


# -- summariser -----------------------------------------------------------
DECLARED = [{"name": "job_s", "unit": "s"}, {"name": "rows_per_s", "unit": "rows/s"}]


def test_result_line_reports_every_declared_metric_with_its_unit():
    line = summary.result_line(DECLARED, {"job_s": 1.25, "rows_per_s": 8}, True, 3, 0)
    out = json.loads(line)
    assert list(out) == ["correct", "attempted", "failed", "metrics"]
    assert out["metrics"]["job_s"] == {"value": 1.25, "unit": "s"}
    assert out["metrics"]["rows_per_s"] == {"value": 8.0, "unit": "rows/s"}
    assert (out["correct"], out["attempted"], out["failed"]) == (True, 3, 0)


def test_result_line_refuses_missing_or_undeclared_metrics():
    with pytest.raises(ValueError):
        summary.result_line(DECLARED, {"job_s": 1.0}, True, 1, 0)
    with pytest.raises(ValueError):
        summary.result_line(DECLARED, {"job_s": 1.0, "rows_per_s": 1, "x": 2}, True, 1, 0)


def test_box_noise_adds_steal_to_the_bench_reading():
    noise = run.box_noise()
    assert noise["loadavg_1m"] >= 0.0
    assert 0.0 <= noise["cpu_busy_frac"] <= 1.0
    assert 0.0 <= noise["cpu_steal_frac"] <= 1.0
    assert isinstance(noise["box_loud"], bool)


def test_busy_and_steal_fractions():
    assert summary.busy_and_steal((100, 10, 1000), (400, 60, 2000)) == (0.3, 0.05)


def test_peak_rss_counts_child_processes():
    child = subprocess.Popen(
        [sys.executable, "-c", "import time; b = bytearray(64 << 20); time.sleep(30)"]
    )
    try:
        deadline = 50
        while sum(summary.rss_by_process().values()) < 64 and deadline:
            subprocess.run([sys.executable, "-c", "import time; time.sleep(0.1)"])
            deadline -= 1
        assert sum(summary.rss_by_process().values()) >= 64
    finally:
        child.kill()
        child.wait(timeout=10)
