"""Seeded input generators and their ground truth.

Everything here is pure NumPy / PyArrow: the generator never calls the
program under test, so every expected count and checksum is computed from
the generator's own arrays. The same ``(spec, seed)`` always yields the same
inputs and the same expectations.

Two input families:

- *pages* (``ingest_rollup``, ``pipeline_commit``): one JSON document per
  page, ``{"device": .., ["ts": ..,] "body": {"data": [{"t": .., ["ts": ..,]
  "v": ..}, ..]}}``, extracted with the template ``{device}/{t}``. The
  generator varies samples per doc (3-8), whether the document and each
  measurement carry their own ``ts`` (the ``ts_source`` mix), a zipf skew
  of device keys, late / out-of-order measurements and series cardinality.
- *samples* (``promql_serving``): a samples table of linear counters and
  random gauges on regular per-series scrape intervals.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2024-02-05T00:00:00Z, midnight-aligned so day partitions are whole.
BASE_EPOCH = 1707091200
DAY = 86400
METRIC_NAMES = ("temp", "hum", "volt", "amp", "rpm", "load", "rssi", "lat")

#: Extraction options for the generated pages (template resolves the
#: ``device`` property through the ancestor object).
PAGES_OPTIONS = {
    "recursive": True,
    "allow_nested_timestamps": True,
    "timestamp_property": "/ts",
    "allow_wildcard_expressions": True,
    "pointers_to_include": ["/body/data/+/v"],
    "template": "{device}/{t}",
    "include_array_indexes_in_sample_keys": False,
}

#: TimestampSource values (core.extractor.TimestampSource).
TS_DOCUMENT, TS_FALLBACK = 1, 2


@dataclass(frozen=True)
class PagesSpec:
    n_docs: int
    days: int
    n_devices: int
    zipf_s: float = 1.1
    p_doc_ts: float = 0.7      # documents with a root "ts"
    p_own_ts: float = 0.6      # measurements with their own "ts"
    p_late: float = 0.08       # of those with their own ts: hours late
    files: int = 16            # parquet files (input splits)


def _iso(seconds: np.ndarray) -> list:
    s = np.datetime_as_string(seconds.astype("datetime64[s]"), unit="s")
    return [x + "Z" for x in s.tolist()]


def _distinct(key: np.ndarray, bucket: np.ndarray) -> int:
    return int(np.unique(key.astype(np.int64) * (1 << 32)
                         + bucket.astype(np.int64)).size)


class Pages:
    """Generated pages plus the expected extraction / rollup results."""

    def __init__(self, spec: PagesSpec, seed: int) -> None:
        self.spec = spec
        rng = np.random.default_rng([seed, spec.n_docs, spec.n_devices])
        n = spec.n_docs
        self.warc = BASE_EPOCH + np.sort(rng.integers(0, spec.days * DAY, n))
        rank = np.arange(1, spec.n_devices + 1, dtype=np.float64)
        p = rank ** -spec.zipf_s
        dev = rng.choice(spec.n_devices, n, p=p / p.sum())
        dev_names = rng.permutation(spec.n_devices)
        self.device = dev_names[dev]
        m = rng.integers(3, 9, n)
        order = np.argsort(rng.random((n, len(METRIC_NAMES))), axis=1)
        has_doc_ts = rng.random(n) < spec.p_doc_ts
        doc_ts = np.where(has_doc_ts, self.warc - rng.integers(0, 30, n),
                          self.warc)

        doc_of = np.repeat(np.arange(n), m)
        pos = np.arange(doc_of.size) - np.repeat(np.cumsum(m) - m, m)
        name = order[doc_of, pos]
        s = doc_of.size
        own = rng.random(s) < spec.p_own_ts
        late = own & (rng.random(s) < spec.p_late)
        offset = np.where(late, rng.integers(3600, 36 * 3600, s),
                          rng.integers(0, 120, s))
        ts = np.where(own, doc_ts[doc_of] - offset, doc_ts[doc_of])
        cents = rng.integers(0, 100_000, s)

        self.m, self.has_doc_ts, self.doc_ts = m, has_doc_ts, doc_ts
        self.doc_of, self.name, self.own = doc_of, name, own
        self.ts, self.cents = ts, cents
        self.key = self.device[doc_of] * len(METRIC_NAMES) + name
        self.n_late = int(late.sum())
        self._texts = None

    # -- inputs -------------------------------------------------------
    def texts(self) -> list:
        if self._texts is not None:
            return self._texts
        ts_iso = _iso(self.ts)
        doc_iso = _iso(self.doc_ts)
        vals = [f"{c // 100}.{c % 100:02d}" for c in self.cents.tolist()]
        names = [METRIC_NAMES[k] for k in self.name.tolist()]
        frags = [(f'{{"t":"{nm}","ts":"{t}","v":{v}}}' if o
                  else f'{{"t":"{nm}","v":{v}}}')
                 for nm, t, v, o in zip(names, ts_iso, vals,
                                        self.own.tolist())]
        out = []
        start = 0
        for i, (k, dev, has) in enumerate(zip(self.m.tolist(),
                                              self.device.tolist(),
                                              self.has_doc_ts.tolist())):
            body = ",".join(frags[start:start + k])
            start += k
            head = (f'{{"device":"dev{dev:04d}","ts":"{doc_iso[i]}",'
                    if has else f'{{"device":"dev{dev:04d}",')
            out.append(f'{head}"body":{{"data":[{body}]}}}}')
        self._texts = out
        return out

    def table(self, rows: slice = slice(None)) -> pa.Table:
        idx = np.arange(self.spec.n_docs)[rows]
        return pa.table({
            "url": [f"https://dev{d:04d}.example/p/{i}"
                    for d, i in zip(self.device[idx].tolist(),
                                    idx.tolist())],
            "warc_ts": pa.array(self.warc[idx] * 1_000_000,
                                pa.timestamp("us", tz="UTC")),
            "text": [self.texts()[i] for i in idx.tolist()],
        })

    def write_flat(self, path: str) -> None:
        """One directory of ``spec.files`` parquet files."""
        os.makedirs(path, exist_ok=True)
        bounds = np.linspace(0, self.spec.n_docs, self.spec.files + 1,
                             dtype=int)
        for f in range(self.spec.files):
            pq.write_table(self.table(slice(bounds[f], bounds[f + 1])),
                           os.path.join(path, f"part-{f:05d}.parquet"))

    def write_by_day(self, path: str, files_per_day: int = 4) -> None:
        """``dt=YYYY-MM-DD`` partition directories (capture day)."""
        day = (self.warc - BASE_EPOCH) // DAY
        for d in np.unique(day).tolist():
            rows = np.flatnonzero(day == d)
            sub = os.path.join(path, f"dt={self.day_str(d)}")
            os.makedirs(sub, exist_ok=True)
            for f, chunk in enumerate(np.array_split(rows, files_per_day)):
                pq.write_table(self.table(chunk),
                               os.path.join(sub, f"part-{f:05d}.parquet"))

    @staticmethod
    def day_str(day_index: int) -> str:
        return str(np.datetime64(BASE_EPOCH + int(day_index) * DAY, "s")
                   .astype("datetime64[D]"))

    # -- ground truth -------------------------------------------------
    @property
    def n_samples(self) -> int:
        return int(self.ts.size)

    def buckets(self, seconds: int) -> int:
        return _distinct(self.key, self.ts // seconds)

    def value_sum(self) -> float:
        return int(self.cents.sum()) / 100.0

    def ts_source_mix(self) -> dict:
        doc = self.own | self.has_doc_ts[self.doc_of]
        return {TS_DOCUMENT: int(doc.sum()), TS_FALLBACK: int((~doc).sum())}

    def gapfill_rows(self) -> int:
        """Dense 1-minute grid rows: per series, first..last minute."""
        minute = self.ts // 60
        order = np.lexsort((minute, self.key))
        k, mi = self.key[order], minute[order]
        first = np.r_[True, k[1:] != k[:-1]]
        last = np.r_[k[1:] != k[:-1], True]
        return int((mi[last] - mi[first] + 1).sum())

    def expect_ingest(self) -> dict:
        return {"rows_1h": self.buckets(3600), "rows_1m": self.buckets(60),
                "samples": self.n_samples, "value_sum": self.value_sum(),
                "min": int(self.cents.min()) / 100.0,
                "max": int(self.cents.max()) / 100.0}

    def expect_pipeline(self, retention_today_day: int) -> dict:
        """Per-stage ``output_rows`` of ``cli.run_pipeline``'s report and
        the raw partitions retention drops (raw horizon: 7 days)."""
        capture_days = np.unique((self.warc - BASE_EPOCH) // DAY)
        cutoff = retention_today_day - 7
        return {
            "extract": self.n_samples,
            "rollup_1m": self.buckets(60),
            "rollup_1h": self.buckets(3600),
            "rollup_1d": self.buckets(DAY),
            "gapfill_locf": self.gapfill_rows(),
            "compress": self.buckets(DAY),
            "retention_raw": sorted(self.day_str(d) for d in
                                    capture_days.tolist() if d < cutoff),
        }


# ---------------------------------------------------------------------------
# PromQL samples table
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class SamplesSpec:
    n_devices: int = 300        # x 5 metrics = 1,500 series
    days: int = 4
    intervals: tuple = (180, 240, 300, 360)
    files: int = 16


GAUGES = ("temp", "hum", "volt", "load")
COUNTER = "req_total"
#: The tier-routed query: ``topk(TOPK_K, max_over_time(..[TOPK_WINDOW_H h]))``
#: over the ``GAUGES[0]`` series.
TOPK_K, TOPK_WINDOW_H = 5, 6


class Samples:
    """Counters ``devNNNN/req_total`` (linear, rate r = k/8 per second) and
    gauges ``devNNNN/<gauge>`` (random hundredths), regularly scraped."""

    def __init__(self, spec: SamplesSpec, seed: int) -> None:
        self.spec = spec
        rng = np.random.default_rng([seed, 7, spec.n_devices])
        names = (COUNTER,) + GAUGES
        keys, ts, vals, series = [], [], [], []
        span = spec.days * DAY
        self.rates = {}
        for dev in range(spec.n_devices):
            for metric in names:
                step = int(rng.choice(spec.intervals))
                t = np.arange(int(rng.integers(0, step)), span, step)
                key = f"dev{dev:04d}/{metric}"
                if metric == COUNTER:
                    r = int(rng.integers(1, 41)) / 8.0
                    self.rates[key] = r
                    v = 1000.0 * int(rng.integers(1, 1000)) + r * t
                else:
                    v = rng.integers(0, 100_000, t.size) / 100.0
                keys.append(np.full(t.size, len(series)))
                series.append(key)
                ts.append(t)
                vals.append(v)
        self.series = series
        self.key = np.concatenate(keys)
        self.t = np.concatenate(ts)
        self.v = np.concatenate(vals)
        self.shuffle = rng.permutation(self.t.size)
        self.hours = span // 3600

    def write(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        idx = self.shuffle
        names = np.array(self.series, dtype=object)
        table = pa.table({
            "series_key": pa.array(names[self.key[idx]], pa.string()),
            "ts": pa.array((BASE_EPOCH + self.t[idx]) * 1_000_000,
                           pa.timestamp("us", tz="UTC")),
            "value_double": pa.array(self.v[idx], pa.float64()),
        })
        for f, chunk in enumerate(np.array_split(np.arange(len(idx)),
                                                 self.spec.files)):
            pq.write_table(table.take(chunk),
                           os.path.join(path, f"part-{f:05d}.parquet"))

    def expectations(self) -> dict:
        """(rows, value checksum) of every query kind, per series for the
        single-series kinds: ``point_avg`` (gauge ``GAUGES[1]``) and
        ``subquery`` (the counters)."""
        hours, n = self.hours, len(self.series)
        cell = self.key * hours + self.t // 3600
        count = np.bincount(cell, minlength=n * hours)
        total = np.bincount(cell, weights=self.v, minlength=n * hours)
        mean_sum = (total / count).reshape(n, hours).sum(axis=1)
        hmax = np.full(n * hours, -np.inf)
        np.maximum.at(hmax, cell, self.v)
        hmax = hmax.reshape(n, hours)
        window = hmax.copy()  # max over the trailing TOPK_WINDOW_H hours
        for lag in range(1, TOPK_WINDOW_H):
            np.maximum(window[:, lag:], hmax[:, :-lag], out=window[:, lag:])
        gauge0 = [k.endswith("/" + GAUGES[0]) for k in self.series]
        top = np.sort(window[gauge0], axis=0)[-TOPK_K:]
        return {
            "raw_rate": (hours, hours * sum(self.rates.values())),
            "tier_topk": (hours * TOPK_K, float(top.sum())),
            "point_avg": {k: (hours, float(mean_sum[i]))
                          for i, k in enumerate(self.series)
                          if k.endswith("/" + GAUGES[1])},
            "subquery": {k: (hours, hours * r)
                         for k, r in self.rates.items()},
        }
