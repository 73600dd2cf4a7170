"""Tests of the benchmark's own generator, checks and tracer. No Spark
session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from probes import Tracer  # noqa: E402

SMALL = gen.PagesSpec(n_docs=300, days=3, n_devices=12, files=2)


def _workload(cls, tmp_path, **attrs):
    w = cls(spark=None, work=str(tmp_path), seed=3, tracer=Tracer(),
            nproc=4)
    for k, v in attrs.items():
        setattr(w, k, v)
    return w


# -- generator ------------------------------------------------------------

def test_pages_are_seeded():
    a, b = gen.Pages(SMALL, 5), gen.Pages(SMALL, 5)
    assert a.texts() == b.texts()
    assert a.texts() != gen.Pages(SMALL, 6).texts()


def test_pages_truth_matches_the_extraction_core():
    """The generator's expectations, recomputed from the pure-Python
    extraction core's own output on the generated documents."""
    from datetime import datetime, timezone

    from json_time_series_extractor_spark.core.extractor import get_samples
    from json_time_series_extractor_spark.core.options import (
        ExtractorOptions)

    pages = gen.Pages(SMALL, 9)
    opts = ExtractorOptions.from_dict(gen.PAGES_OPTIONS)
    rows, kinds = [], {}
    for text, warc in zip(pages.texts(), pages.warc.tolist()):
        fallback = datetime.fromtimestamp(warc, timezone.utc)
        opts.get_default_timestamp = lambda f=fallback: f
        for s in get_samples(text, opts):
            rows.append((s.key, int(s.timestamp.timestamp()), s.value))
            kinds[int(s.timestamp_source)] = kinds.get(
                int(s.timestamp_source), 0) + 1
    e = pages.expect_ingest()
    assert len(rows) == e["samples"] == pages.n_samples
    assert len({(k, t // 60) for k, t, _ in rows}) == e["rows_1m"]
    assert len({(k, t // 3600) for k, t, _ in rows}) == e["rows_1h"]
    assert sum(v for _, _, v in rows) == pytest.approx(e["value_sum"])
    assert kinds == pages.ts_source_mix()
    assert pages.n_late > 0


def test_samples_truth_matches_a_per_series_loop():
    """The vectorised expectations against a plain loop over each
    series' samples, hour by hour."""
    import numpy as np

    data = gen.Samples(gen.SamplesSpec(n_devices=6, days=1), 2)
    e = data.expectations()

    def hourly(key, fn):
        sel = data.key == data.series.index(key)
        t, v = data.t[sel], data.v[sel]
        return [fn(v[t // 3600 == h]) for h in range(data.hours)]

    assert e["raw_rate"] == (24, pytest.approx(
        24 * sum(data.rates.values())))
    for key, (rows, total) in e["point_avg"].items():
        assert key.endswith("/" + gen.GAUGES[1])
        assert (rows, total) == (24, pytest.approx(
            sum(hourly(key, np.mean))))
    per = []
    for key in data.series:
        if key.endswith("/" + gen.GAUGES[0]):
            hmax = hourly(key, np.max)
            per.append([max(hmax[max(0, h - gen.TOPK_WINDOW_H + 1):h + 1])
                        for h in range(data.hours)])
    top = np.sort(np.array(per), axis=0)[-gen.TOPK_K:]
    assert e["tier_topk"] == (24 * gen.TOPK_K, pytest.approx(top.sum()))
    assert e["subquery"] == {k: (24, 24 * r) for k, r in data.rates.items()}


# -- a corrupted output counts as a failed op ------------------------------

def test_ingest_check_rejects_corrupted_checksum(tmp_path):
    pages = gen.Pages(SMALL, 1)
    e = pages.expect_ingest()
    good = {"rows": e["rows_1h"], "samples": e["samples"],
            "value_sum": e["value_sum"], "min": e["min"], "max": e["max"]}
    w = _workload(workloads.IngestRollup, tmp_path, expect=e)
    w._result = lambda path: (good, e["rows_1m"])
    w.op(1)
    w._result = lambda path: (dict(good, value_sum=e["value_sum"] + 0.01),
                              e["rows_1m"])
    with pytest.raises(workloads.CheckFailed):
        w.op(1)
    w._result = lambda path: (good, e["rows_1m"] - 1)
    with pytest.raises(workloads.CheckFailed):
        w.op(1)


def test_pipeline_check_rejects_wrong_stage_rows(tmp_path):
    pages = gen.Pages(SMALL, 1)
    e = pages.expect_pipeline(workloads.PipelineCommit.today_day)
    stages = {s: {"processed": 1, "output_rows": e[s]}
              for s in workloads.PIPE_STAGES + ("gapfill_locf",)}
    stages["retention"] = {"raw": len(e["retention_raw"])}
    w = _workload(workloads.PipelineCommit, tmp_path, expect=e,
                  _root="out1", _pending=None)
    os.makedirs(tmp_path / "out1" / "samples")
    w._run = lambda args: {"stages": stages}
    w.op(1)
    stages["rollup_1h"] = {"processed": 1, "output_rows": e["rollup_1h"] + 1}
    with pytest.raises(workloads.CheckFailed):
        w.op(1)


def test_promql_check_rejects_missing_row(tmp_path):
    data = gen.Samples(gen.SamplesSpec(n_devices=6, days=1), 4)
    e = data.expectations()
    w = _workload(workloads.PromqlServing, tmp_path, expect=e,
                  counters=sorted(e["subquery"]), gauges=sorted(e["point_avg"]))
    _, _, rows, total = w.query(2)
    answer = [{"value": total / rows}] * rows
    w._compile = lambda expr: types.SimpleNamespace(collect=lambda: answer)
    w.op(2)
    answer = answer[:-1]
    with pytest.raises(workloads.CheckFailed):
        w.op(2)


def test_measure_counts_failed_ops():
    """The runner counts every raising op as attempted and failed."""
    class Flaky(workloads.Workload):
        items_per_op = 10

        def op(self, i):
            if i % 2:
                raise workloads.CheckFailed("corrupted")

        def noop(self, i):
            pass

    spark = _fake_spark()
    w = Flaky(spark, "", 1, Tracer(), 4)
    args = types.SimpleNamespace(seconds=0.05, trace=0)
    out = run._measure(w, args, w.tracer, spark)
    assert out["_failed"] >= 1
    assert out["_attempted"] == 2 * (out["_failed"] + out["ops"])
    assert 0 < out["error_rate"] < 1


def _fake_spark():
    beans = types.SimpleNamespace(getGarbageCollectorMXBeans=lambda: [])
    jvm = types.SimpleNamespace(java=types.SimpleNamespace(
        lang=types.SimpleNamespace(management=types.SimpleNamespace(
            ManagementFactory=beans))))
    return types.SimpleNamespace(sparkContext=types.SimpleNamespace(
        setJobDescription=lambda d: None, _jvm=jvm))


def test_traced_run_measures_every_op_key_both_ways():
    """Traced and untraced blocks alternate so that a rotation of op
    kinds is measured both ways."""
    class Rotating(workloads.Workload):
        trace_block = 2

        def op_key(self, i):
            return f"op.{i % 2}"

        def op(self, i):
            pass

        def noop(self, i):
            pass

        def traced_op(self, i):
            with self.tracer.span(self.op_key(i)):
                pass

    spark = _fake_spark()
    w = Rotating(spark, "", 1, Tracer(), 4)
    args = types.SimpleNamespace(seconds=0.0, trace=1)
    out = run._measure(w, args, w.tracer, spark)
    assert set(out["op_ms"]) == {"op.0", "op.1"}
    assert set(w.tracer.durations()) == {"op.0", "op.1", "noop"}
    assert "trace.overhead_ms" in out


# -- tracer ---------------------------------------------------------------

def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        with tr.span("inner"):
            pass
    outer, a, b = tr.spans
    selfs = tr.self_times()
    children = (a["end"] - a["start"]) + (b["end"] - b["start"])
    assert selfs[0] == pytest.approx(
        outer["end"] - outer["start"] - children)
    assert tr.root(2) == 0


def test_disabled_tracer_records_nothing():
    tr = Tracer()
    holder = types.SimpleNamespace(fn=lambda x: x + 1)
    tr.wrap(holder, "fn", lambda a, k: "fn")
    with tr.span("x"):
        assert holder.fn(1) == 2
    assert tr.spans == []
