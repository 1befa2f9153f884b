"""The benchmark workloads: input generation, the timed job, and the checks
on its answer, one class per workload.

Every input is generated from the run's seed into parquet under the run's
work directory; the program under test sees only those files. Both
workloads read ``web_pages`` rows, made by ``sources.webpages._generate``,
the function ``web_pages`` maps over.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracle

WEB_COLUMNS = ["url", "warc_ts", "html", "text", "lang", "latency_ms"]
ROW_GROUPS_PER_FILE = 32  # so every scan task of a split has rows to read
MAX_REL_ERR = 0.01
HOST = r"regexp_extract(url, '^https?://([^/:]+)', 1)"

# seed of a small fixed input whose fingerprint is pinned, so that a
# generator change shows even on a run seed that has no pin
CANARY_SEED = 0


def generator_seed(seed: int) -> int:
    """A 62-bit generator seed from the run seed. ``web_pages`` XORs its
    seed into the row index, so small seeds that differ only in low bits
    would give the same rows in another order."""
    return int(np.random.SeedSequence(seed).generate_state(1, np.uint64)[0]) >> 2


def busiest_host_rows(seed: int, rows: int, hosts: int) -> np.ndarray:
    """The first ``rows`` row indexes whose page is on one of the ``hosts``
    busiest of the generator's 997 Zipf-skewed hosts. It repeats the host
    rule of ``_generate``; the pages made from these indexes are checked
    against ``hosts`` after generation."""
    from ddsketch_ruby_spark.sources.webpages import _splitmix64, _uniform01

    base = np.uint64(generator_seed(seed))
    out, lo = [], 0
    while sum(len(o) for o in out) < rows:
        idx = np.arange(lo, lo + 2 * rows, dtype=np.uint64)
        host = np.floor(997.0 * _uniform01(_splitmix64(idx ^ base)) ** 4)
        out.append(idx[host < hosts].astype(np.int64))
        lo += 2 * rows
    return np.concatenate(out)[:rows]


@dataclass
class Inputs:
    paths: list[str]
    rows: int
    values: np.ndarray  # the sketched measure, for the in-process kernel layer


@dataclass
class Outcome:
    rows: list
    resume_s: float | None = None  # None: a restart reruns the whole job
    executions: int = 0
    distinct_splits: int = 0


def _write_pages(seed: int, index: np.ndarray, path: str):
    """Writes the pages of ``index`` to ``path``; returns them."""
    from ddsketch_ruby_spark.sources.webpages import _generate

    pdf = _generate(index, generator_seed(seed), "lognormal")
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    row_group = max(64, table.num_rows // ROW_GROUPS_PER_FILE)
    pq.write_table(table, path, row_group_size=row_group, coerce_timestamps="us")
    return pdf


def _canon(rows) -> list[tuple]:
    return sorted(tuple(r.asDict().items()) for r in rows)


class Workload:
    """What every workload provides. ``value_col`` and ``group_by`` are
    the measure and keys the per-layer calls sketch; ``scan_cols`` are the
    job's input columns and ``project_cols`` the prepared columns that
    force its projection."""

    name: str
    value_col: str
    group_by: list[str]
    scan_cols: list[str]
    project_cols: list[str]
    fingerprint_cols = WEB_COLUMNS

    def generate(self, seed: int, out_dir: str, small: bool = False) -> Inputs:
        raise NotImplementedError

    def scan_bytes(self, inputs: Inputs) -> int:
        """Bytes one scan of the job reads; scans are split by this size."""
        return sum(os.path.getsize(p) for p in inputs.paths)

    def job(self, spark, inputs: Inputs, work: str) -> Outcome:
        raise NotImplementedError

    def expected(self, spark, inputs: Inputs):
        """What ``check`` compares each job's answer with."""
        raise NotImplementedError

    def check(self, outcome: Outcome, expected, inputs: Inputs) -> tuple[float, list[str]]:
        """(max relative error, problems)."""
        raise NotImplementedError

    @staticmethod
    def sketch_frame(raw):
        from ddsketch_ruby_spark.operators.webcorpus import prepare_web_corpus

        return prepare_web_corpus(raw)


def _check_groups(est, exact, problems: list[str]) -> float:
    if set(est) != set(exact):
        problems.append(f"{len(est)} result groups, oracle has {len(exact)}")
    err = oracle.max_relative_error(est, exact)
    if not err <= MAX_REL_ERR:
        problems.append(f"max_rel_err {err} > {MAX_REL_ERR}")
    return err


class WebcorpusByHost(Workload):
    """The north-star rollup: raw crawl to per-host q50/q95/q99 of
    ``n_chars`` and ``latency_ms`` through ``web_corpus_quantiles``."""

    name = "webcorpus_by_host"
    value_col = "latency_ms"
    group_by = ["host"]
    scan_cols = ["url", "html", "latency_ms"]
    project_cols = ["host", "n_chars", "latency_ms"]
    # input size: a job is sized to take a few seconds at local[4], so that
    # a run of ``run_seconds`` holds several jobs (README.md, Sizes)
    ROWS, FILES, HOSTS = 100_000, 4, 100

    def generate(self, seed, out_dir, small=False):
        os.makedirs(out_dir, exist_ok=True)
        rows, files = (100, 1) if small else (self.ROWS, self.FILES)
        index = busiest_host_rows(seed, rows, self.HOSTS)
        paths, values = [], []
        for i, part in enumerate(np.array_split(index, files)):
            path = os.path.join(out_dir, f"part-{i:03d}.parquet")
            pdf = _write_pages(seed, part, path)
            host = pdf["url"].str.extract(r"://host(\d+)\.", expand=False).astype(int)
            if host.max() >= self.HOSTS:
                raise RuntimeError("web_pages host rule changed; update busiest_host_rows")
            paths.append(path)
            values.append(pdf["latency_ms"].to_numpy())
        return Inputs(paths, rows, np.concatenate(values))

    def job(self, spark, inputs, work):
        from ddsketch_ruby_spark.operators.webcorpus import web_corpus_quantiles

        df = spark.read.parquet(*inputs.paths)
        return Outcome(web_corpus_quantiles(df, group_cols=["host"]).collect())

    def expected(self, spark, inputs):
        """Exact-rank quantiles per (measure, host) from DuckDB. A page is
        ``<html><body>TEXT</body></html>``, so its extracted length is the
        raw text's length."""
        out = {}
        for measure, expr in (("latency_ms", "latency_ms"), ("n_chars", "length(text)")):
            ex = oracle.exact_quantiles(inputs.paths, {"host": HOST}, expr)
            out.update({(measure, *k): v for k, v in ex.items()})
        return out

    def check(self, outcome, expected, inputs):
        problems: list[str] = []
        est: dict[tuple, dict[str, float]] = {}
        for r in outcome.rows:
            for measure in ("latency_ms", "n_chars"):
                est.setdefault((measure, r["host"]), {})[r["qname"]] = r[f"{measure}_q"]
        if len(outcome.rows) != len(oracle.QUANTILES) * len(expected) // 2:
            problems.append(f"{len(outcome.rows)} result rows")
        return _check_groups(est, expected, problems), problems


class ResumableBuild(Workload):
    """A checkpointed per-split build of per-language ``n_chars`` sketches,
    killed after half the splits, resumed, then finalised."""

    name = "resumable_build"
    value_col = "n_chars"
    group_by = ["lang"]
    scan_cols = ["url", "html", "lang"]
    project_cols = ["lang", "n_chars"]
    SPLITS, SPLIT_ROWS = 2, 8_000

    def generate(self, seed, out_dir, small=False):
        os.makedirs(out_dir, exist_ok=True)
        splits, per = (1, 100) if small else (self.SPLITS, self.SPLIT_ROWS)
        paths, values = [], []
        for i in range(splits):
            path = os.path.join(out_dir, f"split-{i:03d}.parquet")
            pdf = _write_pages(seed, np.arange(i * per, (i + 1) * per), path)
            paths.append(path)
            values.append(pdf["text"].str.len().to_numpy(np.float64))
        return Inputs(paths, splits * per, np.concatenate(values))

    def scan_bytes(self, inputs):
        return min(os.path.getsize(p) for p in inputs.paths)  # one split per scan

    def _build(self, spark, ckpt: str):
        from ddsketch_ruby_spark.plans.lineage import CheckpointedSketchBuild
        from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

        return CheckpointedSketchBuild(
            spark,
            DDSketchSpec(),
            ckpt,
            value_col=self.value_col,
            group_by=self.group_by,
            transform=self.sketch_frame,
        )

    def job(self, spark, inputs, work):
        ckpt = os.path.join(work, f"ckpt-{uuid.uuid4().hex[:8]}")
        try:
            killed = self._build(spark, ckpt).run(
                inputs.paths, fail_after=max(1, len(inputs.paths) // 2)
            )
            restart = time.perf_counter()
            build = self._build(spark, ckpt)
            resumed = build.run(inputs.paths)
            rows = build.result().collect()
            return Outcome(
                rows,
                resume_s=time.perf_counter() - restart,
                executions=killed + resumed,
                distinct_splits=len(build.completed_splits()),
            )
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    def expected(self, spark, inputs):
        """(exact-rank quantiles per language from DuckDB, the answer of an
        uninterrupted ``sketch_agg`` over the same prepared splits)."""
        from ddsketch_ruby_spark.operators.agg import sketch_agg
        from ddsketch_ruby_spark.sketches.ddsketch_spec import DDSketchSpec

        ex = oracle.exact_quantiles(inputs.paths, {"lang": "lang"}, "length(text)")
        exact = {("n_chars", *k): v for k, v in ex.items()}
        df = self.sketch_frame(spark.read.parquet(*inputs.paths))
        reference = sketch_agg(df, DDSketchSpec(), self.value_col, self.group_by).collect()
        return exact, _canon(reference)

    def check(self, outcome, expected, inputs):
        exact, reference = expected
        problems: list[str] = []
        est = {
            ("n_chars", r["lang"]): {q: r[q] for q in oracle.QUANTILES} | {"n": r["count"]}
            for r in outcome.rows
        }
        bad = [k for k, v in est.items() if k in exact and v["n"] != exact[k]["n"]]
        if bad:
            problems.append(f"count differs from the oracle on {len(bad)} groups")
        err = _check_groups(est, exact, problems)
        if not outcome.distinct_splits == outcome.executions == len(inputs.paths):
            problems.append(
                f"{outcome.executions} split executions for "
                f"{outcome.distinct_splits} distinct splits"
            )
        if _canon(outcome.rows) != reference:
            problems.append("resumed result differs from the uninterrupted build")
        return err, problems


WORKLOADS = {wl.name: wl for wl in (WebcorpusByHost(), ResumableBuild())}
