"""Repository benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Generates the workload's inputs from the
seed, checks them against the pinned fingerprints, starts Spark at
local[nproc], times the workload's job for S seconds and checks every
answer. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with ``--trace 1``.
The line before it is a record of the run (box noise, every sample).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import eventlog, layers, summary  # noqa: E402
from perfbench.workloads import CANARY_SEED, WORKLOADS  # noqa: E402

PINS = os.path.join(ROOT, "perfbench", "pins.json")
WORK = os.path.join(ROOT, ".perfbench_work")
# input splits are sized so that every input scan runs at least this many
# tasks per core; the traced run fails a job whose scan ran fewer
MIN_SCAN_TASKS_PER_CORE = 4
TRACE_GROUP = "perfbench-traced"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def box_noise() -> dict:
    """bench.py's pre-flight reading (1-min load average, CPU busy
    fraction over 1 s) plus the CPU steal fraction over the same second.
    Read before the JVM starts."""
    import bench

    start = summary.cpu_times()
    noise = bench._box_noise()
    noise["cpu_steal_frac"] = summary.busy_and_steal(start, summary.cpu_times())[1]
    return noise


def import_package():
    """The package under test, from this checkout only."""
    import ddsketch_ruby_spark

    if not os.path.abspath(ddsketch_ruby_spark.__file__).startswith(ROOT + os.sep):
        raise SystemExit(
            f"ddsketch_ruby_spark imported from {ddsketch_ruby_spark.__file__}, "
            f"not from {ROOT}"
        )


def prepare_environment(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the work directory and
    let the Python workers import the checkout's package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf",
            shlex.quote(f"spark.local.dir={tmp}"),
            "--conf",
            "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]
    )
    import tempfile

    tempfile.tempdir = tmp


class Session:
    """Starts and stops the Spark session the workload runs in."""

    def __init__(self, cores: int, scan_bytes: int, work: str) -> None:
        self.cores = cores
        self.max_partition_bytes = max(1 << 12, scan_bytes // (MIN_SCAN_TASKS_PER_CORE * cores))
        self.events = os.path.join(work, "events")
        self.spark = None

    def start(self, event_log: bool = False):
        from ddsketch_ruby_spark.sources.session import get_spark

        if event_log:
            # a new SparkConf reads spark.* JVM system properties, so this
            # reaches the next context without touching get_spark's builder
            from pyspark import SparkContext

            os.makedirs(self.events, exist_ok=True)
            system = SparkContext._jvm.java.lang.System
            system.setProperty("spark.eventLog.enabled", "true")
            system.setProperty("spark.eventLog.compress", "false")
            system.setProperty("spark.eventLog.rolling.enabled", "false")
            system.setProperty("spark.eventLog.dir", "file://" + self.events)
        self.spark = get_spark(
            "perfbench", cpus=self.cores, shuffle_partitions=self.cores
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.conf.set(
            "spark.sql.files.maxPartitionBytes", str(self.max_partition_bytes)
        )
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stops the session, then the JVM, and waits for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def fingerprint(spark, wl, inputs) -> list[int]:
    from pyspark.sql import functions as F

    row = (
        spark.read.parquet(*inputs.paths)
        .agg(F.count("*"), F.bit_xor(F.xxhash64(*wl.fingerprint_cols)))
        .collect()[0]
    )
    return [int(row[0]), int(row[1])]


def check_pins(name: str, seed: int, canary_fp, main_fp) -> list[str]:
    """Problems that make the inputs untrustworthy. The canary input is
    pinned for every workload, so a generator change is caught on any seed;
    the full input is checked when its seed is pinned."""
    with open(PINS) as f:
        pins = json.load(f)
    problems = []
    if pins["canary"].get(name) != canary_fp:
        problems.append(f"canary input {canary_fp} != pinned {pins['canary'].get(name)}")
    pinned = pins["seeds"].get(name, {}).get(str(seed))
    if pinned is not None and pinned != main_fp:
        problems.append(f"seed {seed} input {main_fp} != pinned {pinned}")
    return problems


def measure(session, wl, inputs, work, seconds, group=None):
    """One untimed job, then the job back to back until ``seconds`` have
    passed (at least once). Returns [(seconds, outcome or None)]. Jobs
    still get faster for a few jobs after the set-up's; the untimed one
    keeps the slowest of them out of the median."""
    spark = session.spark
    wl.job(spark, inputs, work)
    runs = []
    deadline = time.perf_counter() + seconds
    while True:
        if group is not None:
            spark.sparkContext.setJobGroup(f"{group}-{len(runs)}", "traced job")
        t0 = time.perf_counter()
        try:
            outcome = wl.job(spark, inputs, work)
        except Exception:  # a failed job is counted, the run goes on
            traceback.print_exc()
            outcome = None
        runs.append((time.perf_counter() - t0, outcome))
        if time.perf_counter() >= deadline:
            break
    if group is not None:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return runs


def check_runs(spark, wl, inputs, runs, problems: list[str]) -> tuple[int, float]:
    """Checks every job's answer; returns (failed jobs, max relative error)."""
    expected = wl.expected(spark, inputs)
    failed, worst = 0, 0.0
    for i, (_, outcome) in enumerate(runs):
        if outcome is None:
            failed += 1
            problems.append(f"job {i} raised")
            continue
        err, bad = wl.check(outcome, expected, inputs)
        worst = max(worst, err)
        if bad:
            failed += 1
            problems.extend(f"job {i}: {b}" for b in bad)
    return failed, worst


def run(args, wl, work: str, record: dict) -> tuple[dict, bool, int, int]:
    """Generates and pins the inputs, sets up, then times the job.
    Returns (metrics, correct, attempted, failed)."""
    cores = os.cpu_count() or 1
    t_start = time.perf_counter()
    phases = record.setdefault("phase_end_s", {})

    def mark(name):
        phases[name] = time.perf_counter() - t_start

    canary = wl.generate(CANARY_SEED, os.path.join(work, "canary"), small=True)
    inputs = wl.generate(args.seed, os.path.join(work, "input"))
    session = Session(cores, wl.scan_bytes(inputs), work)
    mark("generate")
    problems: list[str] = []
    record.update(cores=cores, input_rows=inputs.rows, problems=problems)
    try:
        # set-up: JVM launch, get_spark() and one untimed job. The first job
        # in a new JVM runs several times slower than the next ones.
        t0 = time.perf_counter()
        spark = session.start()
        wl.job(spark, inputs, work)
        record["setup_s"] = setup_s = time.perf_counter() - t0
        # peak memory over a fixed amount of work, the cold start and its
        # job. In the next jobs the JVM may grow its heap again, by 10-90%
        # on this input, at moments that vary from run to run.
        record["peak_rss_mb"] = rss = summary.rss_by_process()
        mark("setup")
        fps = fingerprint(spark, wl, canary), fingerprint(spark, wl, inputs)
        record["fingerprint"] = fps[1]
        pin_problems = check_pins(wl.name, args.seed, *fps)
        if pin_problems:
            raise SystemExit("refusing to time changed inputs: " + "; ".join(pin_problems))
        mark("pins")
        if args.trace:
            metrics, runs, failed = traced_run(
                args, session, wl, inputs, work, record, problems
            )
        else:
            metrics, runs, failed = timed_run(args, session, wl, inputs, work, record, problems)
            metrics.update(setup_s=setup_s, peak_rss_mb=sum(rss.values()))
        mark("done")
        return metrics, failed == 0 and not problems, len(runs), failed
    finally:
        session.close()


def timed_run(args, session, wl, inputs, work, record, problems):
    """The end-to-end metrics, from untraced jobs."""
    cpu0 = summary.cpu_times()
    runs = measure(session, wl, inputs, work, args.seconds)
    record["timed_busy_steal_frac"] = summary.busy_and_steal(cpu0, summary.cpu_times())
    failed, err = check_runs(session.spark, wl, inputs, runs, problems)
    times = [t for t, _ in runs]
    # without a checkpoint, a restarted job starts over
    resumes = [
        t if o.resume_s is None else o.resume_s for t, o in runs if o is not None
    ]
    record.update(job_s=times, resume_s=resumes)
    job_s = statistics.median(times)
    metrics = {
        "job_s": job_s,
        "rows_per_s": inputs.rows / job_s,
        "resume_s": statistics.median(resumes) if resumes else job_s,
        "max_rel_err": err,
    }
    return metrics, runs, failed


def traced_run(args, session, wl, inputs, work, record, problems):
    """The per-layer metrics: untraced jobs, then traced jobs in a session
    with the event log on, then one call into each layer."""
    untraced = measure(session, wl, inputs, work, args.seconds)
    session.stop()
    spark = session.start(event_log=True)
    traced = measure(session, wl, inputs, work, args.seconds, group=TRACE_GROUP)
    metrics = layers.spark_layers(spark, wl, inputs, work)
    runs = untraced + traced
    failed, _ = check_runs(spark, wl, inputs, runs, problems)
    session.stop()
    (log,) = glob.glob(os.path.join(session.events, "*"))
    stages = eventlog.stage_metrics(
        eventlog.read_events(log), f"{TRACE_GROUP}-{len(traced) - 1}"
    )
    totals = eventlog.summarise_stages(
        stages, session.cores, inputs.rows // len(inputs.paths)
    )
    if totals["min_scan_tasks_per_core"] < MIN_SCAN_TASKS_PER_CORE:
        problems.append(
            f"a scan stage ran {totals['min_scan_tasks_per_core']} tasks per "
            f"core, under {MIN_SCAN_TASKS_PER_CORE}"
        )
    metrics.update({f"spark.{k}": v for k, v in totals.items()})
    metrics.update(layers.kernel_layers(inputs.values))
    untraced_s = [t for t, _ in untraced]
    traced_s = [t for t, _ in traced]
    record.update(untraced_job_s=untraced_s, traced_job_s=traced_s, stages=stages)
    metrics["trace.overhead_frac"] = (
        statistics.median(traced_s) / statistics.median(untraced_s) - 1.0
    )
    return metrics, runs, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    import_package()
    record["box_noise"] = box_noise()  # before the JVM starts
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    try:
        metrics, correct, attempted, failed = run(
            args, WORKLOADS[args.workload], work, record
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record, default=str))
    print(summary.result_line(declared, metrics, correct, attempted, failed))
    return 0


if __name__ == "__main__":
    sys.exit(main())
