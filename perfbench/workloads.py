"""The three workloads. Each is one closed-loop client on one thread.

A workload generates its inputs in ``setup`` (counted in ``setup_s``, with
a fixed warm-up), then the runner calls ``op`` and ``noop`` in turn until
the measuring window closes. Every op checks its output against the
generator's ground truth and raises :class:`CheckFailed` on a mismatch.
In a traced run ``traced_op`` and ``traced_noop`` replace ``op`` and
``noop`` on alternate blocks of iterations and add the per-layer
measurements.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import time
from typing import Dict, List

import pyarrow.parquet as pq

import gen
from probes import Tracer, median_ms


#: Documents of the single-thread kernel ledger.
LEDGER_DOCS = 1000


class CheckFailed(AssertionError):
    """An op's output disagreed with the generator's ground truth."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


class Workload:
    name = ""
    #: Items one op processes: ``throughput_per_s`` is this over the
    #: median op time.
    items_per_op = 1
    #: Per-layer name under which event-log jobs per op are also reported.
    jobs_metric = None
    #: No-op calls after each untraced op (each timed for ``noop_ms``).
    noops_per_op = 1
    #: Untraced iterations measured even when they outlast ``--seconds``,
    #: so that every run's median has the same number of ops behind it.
    min_iterations = 2
    #: A traced run alternates blocks of this many untraced and traced
    #: iterations, so every op key is measured both ways.
    trace_block = 1
    #: The workload's own first documents, kept from set-up for the
    #: single-thread kernel ledger (empty: no documents).
    ledger_texts: List[str] = []

    @classmethod
    def session_conf(cls, nproc: int) -> Dict[str, str]:
        """Workload-specific session settings."""
        return {}

    def __init__(self, spark, work: str, seed: int, tracer: Tracer,
                 nproc: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.nproc = tracer, nproc

    def prepare(self, i: int) -> None:
        """Untimed per-iteration preparation."""

    def install_spans(self) -> None:
        """Wrap program functions whose calls become spans."""

    def op_key(self, i: int) -> str:
        """Ops with the same key are timed as one population."""
        return "op"

    def extra_metrics(self, times: Dict[str, List[float]]) -> Dict:
        """Workload figures beyond the gated ones, from untraced ops."""
        return {}

    def traced_noop(self, i: int) -> None:
        self.spark.sparkContext.setJobDescription(f"noop#{i}")
        with self.tracer.span("noop"):
            self.noop(i)

    def timed(self, fn, *args):
        t0 = time.perf_counter()
        fn(*args)
        return time.perf_counter() - t0

    def ledger(self) -> Dict[str, float]:
        """Single-thread kernel split on this workload's own documents:
        JSON parse, walk (``get_samples`` minus parse) and Arrow-batch
        assembly (``process_batch`` minus ``get_samples``), µs per doc.
        Empty for a workload without documents."""
        if not self.ledger_texts:
            return {}
        import pandas as pd

        from json_time_series_extractor_spark.core import jsondoc
        from json_time_series_extractor_spark.core.extractor import (
            get_samples)
        from json_time_series_extractor_spark.core.options import (
            ExtractorOptions)
        from json_time_series_extractor_spark.operators.extract import (
            process_batch)

        opts = ExtractorOptions.from_dict(gen.PAGES_OPTIONS)
        texts = self.ledger_texts
        fallback = pd.Timestamp(gen.BASE_EPOCH, unit="s", tz="UTC")
        pdf = pd.DataFrame({"url": ["u"] * len(texts),
                            "warc_ts": fallback.tz_localize(None),
                            "text": texts})
        reps: Dict[str, List[float]] = {"parse": [], "walk": [], "batch": []}
        n_samples = 0
        for _ in range(3):
            t0 = time.perf_counter()
            for t in texts:
                jsondoc.loads(t)
            t1 = time.perf_counter()
            opts.get_default_timestamp = lambda: fallback
            n_samples = sum(len(list(get_samples(t, opts))) for t in texts)
            t2 = time.perf_counter()
            process_batch(pdf, opts)
            t3 = time.perf_counter()
            reps["parse"].append(t1 - t0)
            reps["walk"].append(t2 - t1)
            reps["batch"].append(t3 - t2)
        us = {k: statistics.median(v) * 1e6 / len(texts)
              for k, v in reps.items()}
        return {"core.parse_us_per_doc": us["parse"],
                "core.walk_us_per_doc": us["walk"] - us["parse"],
                "core.samples_per_doc": n_samples / len(texts),
                "extract.batch_us_per_doc": us["batch"],
                "extract.assembly_us_per_doc": us["batch"] - us["walk"]}


# ---------------------------------------------------------------------------
# ingest_rollup: pages -> extract_samples -> rollup 1m -> cascade 1h
# ---------------------------------------------------------------------------

class IngestRollup(Workload):
    name = "ingest_rollup"
    noops_per_op = 2
    min_iterations = 3
    spec = gen.PagesSpec(n_docs=60_000, days=4, n_devices=500)
    items_per_op = spec.n_docs

    @classmethod
    def session_conf(cls, nproc: int) -> Dict[str, str]:
        # One split per generated file (>= 4 x nproc splits).
        return {"spark.sql.files.minPartitionNum": str(4 * nproc)}

    def setup(self) -> None:
        pages = gen.Pages(self.spec, self.seed)
        pages.write_flat(os.path.join(self.work, "pages"))
        empty = os.path.join(self.work, "pages_empty")
        os.makedirs(empty)
        pq.write_table(pages.table(slice(0, 0)),
                       os.path.join(empty, "part-00000.parquet"))
        self.expect = pages.expect_ingest()
        self.ledger_texts = pages.texts()[:LEDGER_DOCS]
        # Fixed warm-up: two ops, each followed by its no-ops.
        for i in range(2):
            self.op(i)
            for _ in range(self.noops_per_op):
                self.noop(i)

    def _chain(self, path: str):
        from json_time_series_extractor_spark.operators.extract import (
            extract_samples)
        from json_time_series_extractor_spark.operators.rollup import rollup

        pages = self.spark.read.parquet(path)
        samples = extract_samples(pages, gen.PAGES_OPTIONS)
        return pages, samples, rollup(samples, "1 minute")

    def _result(self, path: str, observe: bool = True):
        """Aggregate of the 1h tier, plus the 1m row count observed on the
        way (no extra job)."""
        from pyspark.sql import Observation, functions as F

        from json_time_series_extractor_spark.operators.rollup import (
            rollup_cascade)

        _, _, r1m = self._chain(path)
        obs = Observation()
        if observe:
            r1m = r1m.observe(obs, F.count(F.lit(1)).alias("n"))
        r1h = rollup_cascade(r1m, "1 hour")
        row = r1h.agg(F.count(F.lit(1)).alias("rows"),
                      F.sum("count").alias("samples"),
                      F.sum("sum").alias("value_sum"),
                      F.min("min").alias("min"),
                      F.max("max").alias("max")).collect()[0]
        return row, obs.get["n"] if observe else None

    def op(self, i: int) -> None:
        row, rows_1m = self._result(os.path.join(self.work, "pages"))
        e = self.expect
        check(row["rows"] == e["rows_1h"], f"1h rows {row['rows']}")
        check(rows_1m == e["rows_1m"], f"1m rows {rows_1m}")
        check(row["samples"] == e["samples"], f"samples {row['samples']}")
        check(close(row["value_sum"], e["value_sum"]), "value checksum")
        check(row["min"] == e["min"] and row["max"] == e["max"], "min/max")

    def noop(self, i: int) -> None:
        row, _ = self._result(os.path.join(self.work, "pages_empty"),
                              observe=False)
        check(row["rows"] == 0 and row["samples"] is None,
              "empty table rows")

    def traced_op(self, i: int) -> None:
        """Cumulative prefixes of the chain, each to a noop sink, then the
        checked op itself. The 1m prefix keeps only the columns the op's
        1h cascade and aggregate read, so that the optimiser prunes the
        1m aggregate as it does in the op."""
        path = os.path.join(self.work, "pages")
        pages, samples, r1m = self._chain(path)
        r1m = r1m.select("series_key", "bucket_ts", "min", "max", "sum",
                         "count")
        tr = self.tracer
        for label, df in (("sources.scan", pages),
                          ("extract.cum", samples),
                          ("rollup.cum_1m", r1m)):
            self.spark.sparkContext.setJobDescription(f"{label}#{i}")
            with tr.span(label):
                df.write.format("noop").mode("overwrite").save()
        self.spark.sparkContext.setJobDescription(f"op#{i}")
        with tr.span("op"):
            self.op(i)

    def layer_metrics(self, ledger: Dict[str, float]) -> Dict[str, float]:
        d = self.tracer.durations()
        scan = median_ms(d.get("sources.scan", []))
        ext = median_ms(d.get("extract.cum", []))
        r1m = median_ms(d.get("rollup.cum_1m", []))
        full = median_ms(d.get("op", []))
        kernel_ms = (ledger["extract.batch_us_per_doc"] * self.spec.n_docs
                     / self.nproc / 1000.0)
        return {"sources.scan_ms": scan, "extract.cum_ms": ext,
                "rollup.cum_1m_ms": r1m, "trace.op_ms": full,
                "extract.transfer_ms": ext - scan - kernel_ms,
                "rollup.1m_self_ms": r1m - ext,
                "rollup.1h_self_ms": full - r1m}


# ---------------------------------------------------------------------------
# pipeline_commit: cli.run_pipeline on a fresh root, then a no-op resume
# ---------------------------------------------------------------------------

PIPE_STAGES = ("extract", "rollup_1m", "rollup_1h", "rollup_1d", "compress")


class PipelineCommit(Workload):
    name = "pipeline_commit"
    min_iterations = 3
    spec = gen.PagesSpec(n_docs=20_000, days=5, n_devices=12)
    items_per_op = spec.n_docs
    #: Retention "today": raw horizon (7 days) expires the first 2 days.
    today_day = 9

    def setup(self) -> None:
        from json_time_series_extractor_spark import cli

        self.cli = cli
        pages = gen.Pages(self.spec, self.seed)
        pages.write_by_day(os.path.join(self.work, "pages"))
        self.expect = pages.expect_pipeline(self.today_day)
        self.ledger_texts = pages.texts()[:LEDGER_DOCS]
        # Fixed warm-up: one fresh run and its resume on the real input
        # (the first run of a process is ~1.7x slower than later ones).
        self._root = None
        self.prepare(0)
        self.op(0)
        self.noop(0)

    def _args(self, pages: str, root: str):
        return self.cli._build_parser().parse_args([
            "pipeline", "--input", os.path.join(self.work, pages),
            "--output-root", os.path.join(self.work, root),
            "--tiers", "1m,1h,1d", "--gapfill", "locf", "--compress",
            "--retention-today", gen.Pages.day_str(self.today_day),
            "--options-json", json.dumps(gen.PAGES_OPTIONS)])

    def _run(self, args) -> dict:
        return self.cli.run_pipeline(self.spark, args)

    def _fresh_root(self, i: int) -> str:
        if self._root:
            shutil.rmtree(os.path.join(self.work, self._root),
                          ignore_errors=True)
        self._root = f"out{i}"
        return self._root

    def op(self, i: int) -> None:
        # Prepared before the clock starts by the runner's `prepare`.
        report = self._run(self._pending)
        e = self.expect
        st = report["stages"]
        for stage in PIPE_STAGES + ("gapfill_locf",):
            check(st[stage]["output_rows"] == e[stage],
                  f"{stage} rows {st[stage]['output_rows']} != {e[stage]}")
        check(st["retention"]["raw"] == len(e["retention_raw"]),
              f"retention raw {st['retention']['raw']}")
        remaining = {n[3:] for n in os.listdir(os.path.join(
            self.work, self._root, "samples")) if n.startswith("dt=")}
        check(not remaining & set(e["retention_raw"]),
              "expired raw partitions still present")

    def prepare(self, i: int) -> None:
        self._pending = self._args("pages", self._fresh_root(i))

    def noop(self, i: int) -> None:
        report = self._run(self._pending)
        for stage, rec in report["stages"].items():
            if stage == "retention":
                check(not any(rec.values()), "resume expired again")
            else:
                check(rec["processed"] == 0 and rec["output_rows"] == 0,
                      f"resume reprocessed {stage}")

    def traced_op(self, i: int) -> None:
        tr = self.tracer
        self.spark.sparkContext.setJobDescription(f"op#{i}")
        with tr.span("op"):
            self.op(i)
        files = size = 0
        for dirpath, _, names in os.walk(os.path.join(self.work,
                                                      self._root)):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
        tr.count("pipeline.files_written", files)
        tr.count("pipeline.bytes_written", size)

    def install_spans(self) -> None:
        """Stage spans from the ``plans.pipeline`` module functions, which
        ``cli.run_pipeline`` imports at call time."""
        import json_time_series_extractor_spark.plans.pipeline as pl

        stage = lambda a, k: "pipeline." + k["stage"]  # noqa: E731
        self.tracer.wrap(pl, "run_partitioned_stage", stage)
        self.tracer.wrap(pl, "run_event_day_stage", stage)
        self.tracer.wrap(pl.LineageStore, "append",
                         lambda a, k: "pipeline.lineage_append")

    def layer_metrics(self, ledger: Dict[str, float]) -> Dict[str, float]:
        tr = self.tracer
        selfs = tr.self_times()
        # Self time (ms) per stage span name, summed under each top-level
        # span: a traced fresh run ("op") or its no-op resume ("noop").
        under: Dict[int, Dict[str, float]] = {}
        for i, rec in enumerate(tr.spans):
            top = tr.root(i)
            if top != i:
                d = under.setdefault(top, {})
                d[rec["name"]] = d.get(rec["name"], 0.0) + selfs[i] * 1e3
        tops = {name: [i for i, rec in enumerate(tr.spans)
                       if rec["name"] == name and rec["parent"] is None]
                for name in ("op", "noop")}

        def median_of(name: str, fn) -> float:
            values = [fn(under.get(i, {}), i) for i in tops[name]]
            return statistics.median(values) if values else 0.0

        def span_ms(i: int) -> float:
            return (tr.spans[i]["end"] - tr.spans[i]["start"]) * 1e3

        out = {f"pipeline.{s}_ms": median_of(
            "op", lambda d, i, s=s: d.get(f"pipeline.{s}", 0.0))
            for s in PIPE_STAGES}
        out["pipeline.lineage_append_ms"] = median_of(
            "op", lambda d, i: d.get("pipeline.lineage_append", 0.0))
        out["pipeline.other_ms"] = median_of(
            "op", lambda d, i: span_ms(i) - sum(d.values()))
        out["pipeline.resume_stage_ms"] = median_of(
            "noop", lambda d, i: sum(d.values()))
        n_ops = max(len(tops["op"]), 1)
        out["pipeline.lineage_appends"] = sum(
            1 for i, rec in enumerate(tr.spans)
            if rec["name"] == "pipeline.lineage_append"
            and tr.spans[tr.root(i)]["name"] == "op") / n_ops
        out["pipeline.files_written"] = (
            tr.counts.get("pipeline.files_written", 0) / n_ops)
        out["pipeline.bytes_written_mb"] = (
            tr.counts.get("pipeline.bytes_written", 0) / n_ops / (1 << 20))
        out["rollup.1m_self_ms"] = out["pipeline.rollup_1m_ms"]
        out["rollup.1h_self_ms"] = out["pipeline.rollup_1h_ms"]
        return out


# ---------------------------------------------------------------------------
# promql_serving: four query kinds against a samples table + its 1m tier
# ---------------------------------------------------------------------------

class PromqlServing(Workload):
    name = "promql_serving"
    spec = gen.SamplesSpec()
    kinds = ("raw_rate", "tier_topk", "point_avg", "subquery")
    jobs_metric = "promql.jobs_per_query"
    trace_block = len(kinds)

    def setup(self) -> None:
        from json_time_series_extractor_spark.operators.rollup import rollup

        data = gen.Samples(self.spec, self.seed)
        path = os.path.join(self.work, "samples")
        data.write(path)
        self.expect = data.expectations()
        self.counters = sorted(self.expect["subquery"])
        self.gauges = sorted(self.expect["point_avg"])
        del data
        self.samples = self.spark.read.parquet(path)
        tier_path = os.path.join(self.work, "tier_1m")
        (rollup(self.samples, "1 minute", deterministic_last=True)
         .write.parquet(tier_path))
        self.tier = self.spark.read.parquet(tier_path)
        # Fixed warm-up: one query of each kind, one no-op. With the C1-only
        # JIT (run.py) query times are flat from the first rotation on.
        for i in range(len(self.kinds)):
            self.op(i)
        self.noop(0)

    def query(self, i: int) -> tuple:
        """(kind, expression, expected rows, expected value sum)."""
        kind = self.kinds[i % len(self.kinds)]
        rot = i // len(self.kinds)
        e = self.expect
        if kind == "raw_rate":
            expr = f'sum(rate({{series_key=~".+/{gen.COUNTER}"}}[1h]))'
            expected = e[kind]
        elif kind == "tier_topk":
            expr = (f'topk({gen.TOPK_K}, max_over_time('
                    f'{{series_key=~".+/{gen.GAUGES[0]}"}}'
                    f'[{gen.TOPK_WINDOW_H}h]))')
            expected = e[kind]
        elif kind == "point_avg":
            series = self.gauges[(rot * 37) % len(self.gauges)]
            expr = f'avg_over_time({{series_key="{series}"}}[1h])'
            expected = e[kind][series]
        else:
            series = self.counters[(rot * 53) % len(self.counters)]
            expr = (f'max_over_time(rate({{series_key="{series}"}}[1h])'
                    f'[6h:1h])')
            expected = e[kind][series]
        return (kind, expr) + expected

    def _compile(self, expr: str):
        from json_time_series_extractor_spark.plans.promql import promql

        return promql(self.samples, expr, "1 hour",
                      tiers={"1 minute": self.tier})

    def op(self, i: int) -> None:
        kind, expr, rows, total = self.query(i)
        with self.tracer.span("promql.compile"):
            df = self._compile(expr)
        with self.tracer.span("promql.execute"):
            got = df.collect()
        values = [r["value"] for r in got]
        check(len(got) == rows, f"{kind}: {len(got)} rows != {rows}")
        check(all(v is not None and math.isfinite(v) for v in values),
              f"{kind}: non-finite value")
        check(close(sum(values), total, 1e-9), f"{kind}: value checksum")

    def noop(self, i: int) -> None:
        df = self._compile('max_over_time({series_key="none/none"}[1h])')
        check(len(df.collect()) == 0, "query on no series returned rows")

    def op_key(self, i: int) -> str:
        return "op." + self.kinds[i % len(self.kinds)]

    def traced_op(self, i: int) -> None:
        self.spark.sparkContext.setJobDescription(f"op#{i}")
        with self.tracer.span(self.op_key(i)):
            self.op(i)

    def extra_metrics(self, times: Dict[str, List[float]]) -> Dict:
        out = {f"promql.{k}_p50_ms": median_ms(times.get("op." + k, []))
               for k in self.kinds}
        every = sorted(t for v in times.values() for t in v)
        if every:
            out["promql.query_p90_ms"] = 1000.0 * every[
                min(len(every) - 1, int(0.9 * len(every)))]
            out["promql.above_p90"] = len(every) - 1 - int(0.9 * len(every))
        return out

    def layer_metrics(self, ledger: Dict[str, float]) -> Dict[str, float]:
        from json_time_series_extractor_spark.operators.rollup import (
            rollup, rollup_cascade)

        d = self.tracer.durations()
        out = {}
        out["promql.compile_ms"] = median_ms(d.get("promql.compile", []))
        out["promql.execute_ms"] = median_ms(d.get("promql.execute", []))
        sink = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731,E501
        self.spark.sparkContext.setJobDescription("rollup#0")
        out["rollup.1m_self_ms"] = 1000.0 * statistics.median(
            self.timed(sink, rollup(self.samples, "1 minute",
                                    deterministic_last=True))
            for _ in range(3))
        out["rollup.1h_self_ms"] = 1000.0 * statistics.median(
            self.timed(sink, rollup_cascade(self.tier, "1 hour"))
            for _ in range(3))
        return out


WORKLOADS = {w.name: w for w in (IngestRollup, PipelineCommit,
                                 PromqlServing)}
