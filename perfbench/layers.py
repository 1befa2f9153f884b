"""Per-layer timings for the traced run.

Each timing wraps one call into a layer's public function, made from the
benchmark's own code on the workload's own inputs; nothing is added inside
the package. Spark-side layers run in the traced session; the NumPy kernel
and the state codec run in this process.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np


def timed(fn, reps: int = 1) -> tuple[float, object]:
    """Median wall seconds of ``reps`` calls, and the last call's result."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return float(np.median(times)), out


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith(".")
    )


def spark_layers(spark, wl, inputs, work: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from ddsketch_ruby_spark.operators.agg import sketch_finalize, sketch_partials
    from ddsketch_ruby_spark.operators.ddsketch_jvm import (
        assemble_histogram,
        histogram_rows,
    )
    from ddsketch_ruby_spark.plans.lineage import CheckpointedSketchBuild
    from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

    spec = DDSketchSpec()
    out: dict[str, float] = {}
    raw = spark.read.parquet(*inputs.paths)
    sk = wl.sketch_frame(raw)

    def fold(df, cols):
        return lambda: df.agg(F.bit_xor(F.xxhash64(*cols))).collect()

    out["sources.scan_s"], _ = timed(fold(raw, wl.scan_cols), reps=3)
    out["functions.project_s"], _ = timed(fold(sk, wl.project_cols), reps=3)

    hist = histogram_rows(sk, spec, wl.value_col, wl.group_by)
    out["ddsketch_jvm.histogram_s"], n = timed(hist.count, reps=3)
    out["ddsketch_jvm.histogram_rows"] = n
    hist_dir = os.path.join(work, "layer-hist")
    hist.write.parquet(hist_dir)
    persisted = spark.read.parquet(hist_dir)
    t, rows = timed(lambda: assemble_histogram(persisted, spec, wl.group_by).collect())
    out["ddsketch_jvm.assemble_s"] = t
    out["ddsketch_jvm.assemble_ms_per_group"] = 1000.0 * t / len(rows)

    split = wl.sketch_frame(spark.read.parquet(inputs.paths[0]))
    part_dir = os.path.join(work, "layer-partials")
    out["agg.partials_s"], _ = timed(
        lambda: sketch_partials(split, spec, wl.value_col, wl.group_by)
        .write.parquet(part_dir)
    )
    partials = spark.read.parquet(part_dir)
    out["agg.partial_rows"] = partials.count()
    out["agg.merge_s"], _ = timed(
        lambda: sketch_finalize(partials, spec, wl.group_by).collect()
    )

    ckpt = os.path.join(work, "layer-ckpt")
    build = CheckpointedSketchBuild(
        spark, spec, ckpt, wl.value_col, wl.group_by, transform=wl.sketch_frame
    )
    first = inputs.paths[:1]
    out["lineage.split_s"], executions = timed(lambda: build.run(first))
    out["lineage.result_s"], _ = timed(lambda: build.result().collect())
    out["lineage.noop_resume_s"], n = timed(lambda: build.run(first))
    executions += n
    out["lineage.sketch_bytes"] = _dir_bytes(os.path.join(ckpt, "partials"))
    out["lineage.useful_split_frac"] = len(build.completed_splits()) / executions
    for d in (hist_dir, part_dir, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return out


def kernel_layers(values: np.ndarray, chunks: int = 256) -> dict[str, float]:
    """NumPy kernel and state-codec throughput on the workload's values."""
    from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

    spec = DDSketchSpec()
    v = np.asarray(values, dtype=np.float64)

    def add():
        s = spec.zero()
        s.add_batch(v)
        return s

    t, _ = timed(add, reps=3)
    out = {"kernel.add_values_per_s": v.size / t}
    parts = []
    for chunk in np.array_split(v, chunks):
        s = spec.zero()
        s.add_batch(chunk)
        parts.append(s)

    def merge_all():
        m = spec.zero()
        for s in parts:
            m.merge(s)
        return m

    t, merged = timed(merge_all, reps=3)
    out["kernel.merge_per_s"] = len(parts) / t
    qs = np.linspace(0.0, 1.0, 2001)
    t, _ = timed(lambda: [merged.get_quantile_value(float(q)) for q in qs], reps=3)
    out["kernel.quantile_per_s"] = qs.size / t
    t, _ = timed(
        lambda: [spec.row_to_state(spec.state_to_row(s)) for s in parts], reps=3
    )
    out["sketches.state_roundtrip_per_s"] = len(parts) / t
    return out
