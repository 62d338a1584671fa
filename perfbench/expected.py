"""Query mixes and the answers the benchmark computes itself.

Every PromQL answer is recomputed with numpy from the generated
``(series, time)`` matrix and compared with what the engine returned,
in the Prometheus HTTP API's JSON shape.  The engine runs without
rate extrapolation (``PromQLEngine``'s default, which ``cli serve``
keeps), so ``rate`` is ``(last - first) / span`` over the samples in
``(t - range, t]`` and an instant selector takes the latest sample in
``(t - 5m, t]``.
"""

from __future__ import annotations

import math
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from perfbench import datagen
from perfbench.datagen import DataSet

LOOKBACK_MS = 5 * 60 * 1000
REL_TOL = 1e-9

#: matrix/vector result normalized to {labelset: [(t_ms, value), ...]}
Answer = dict


@dataclass
class Query:
    """One PromQL request: an instant query when ``start == end``."""

    expr: str
    start: int
    end: int
    step: int
    #: per-step evaluation over the data set:
    #: (ds, t) -> {labelset tuple: value}
    evaluate: Callable[[DataSet, int], dict] = field(repr=False)
    kind: str = ""

    @property
    def instant(self) -> bool:
        return self.start == self.end

    def steps(self) -> list[int]:
        return list(range(self.start, self.end + 1, self.step))

    def expected(self, ds: DataSet) -> Answer:
        out: Answer = {}
        for t in self.steps():
            for key, v in self.evaluate(ds, t).items():
                out.setdefault(key, []).append((t, v))
        return out

    def params(self) -> dict:
        if self.instant:
            return {"query": self.expr, "time": self.start / 1000.0}
        return {
            "query": self.expr,
            "start": self.start / 1000.0,
            "end": self.end / 1000.0,
            "step": self.step / 1000.0,
        }


def _window(ds: DataSet, t: int, range_ms: int) -> tuple[int, int]:
    """Index range [lo, hi] of the samples with ts in (t - range, t]."""
    hi = (t - ds.t_first) // datagen.STEP_MS
    lo = (t - range_ms - ds.t_first) // datagen.STEP_MS + 1
    return max(lo, 0), min(hi, len(ds.ts) - 1)


def _rates(ds: DataSet, rows: np.ndarray, t: int, range_ms: int) -> np.ndarray | None:
    lo, hi = _window(ds, t, range_ms)
    if hi - lo < 1:
        return None
    span_s = (ds.ts[hi] - ds.ts[lo]) / 1000.0
    return (ds.values[rows, hi] - ds.values[rows, lo]) / span_s


def _latest(ds: DataSet, rows: np.ndarray, t: int) -> np.ndarray | None:
    lo, hi = _window(ds, t, LOOKBACK_MS)
    return ds.values[rows, hi] if hi >= lo else None


def _key(**labels: str) -> tuple:
    return tuple(sorted((k, v) for k, v in labels.items() if v))


def _labels(ds: DataSet, i: int, drop_name: bool = False) -> tuple:
    s = ds.series[i]
    return _key(**{k: v for k, v in s.items() if not (drop_name and k == "__name__")})


def sum_rate_by(metric: str, by: str, range_ms: int, **match: str):
    def ev(ds: DataSet, t: int) -> dict:
        rows = ds.index(__name__=metric, **match)
        r = _rates(ds, rows, t, range_ms)
        if r is None:
            return {}
        out: dict = {}
        for i, v in zip(rows, r):
            key = _key(**{by: ds.series[i][by]})
            out[key] = out.get(key, 0.0) + v
        return out

    return ev


def histogram_quantile(q: float, by: list[str], range_ms: int, **match: str):
    """Prometheus ``bucketQuantile`` over ``sum by (le, by...)`` rates."""

    def ev(ds: DataSet, t: int) -> dict:
        rows = ds.index(__name__=datagen.HISTOGRAM, **match)
        r = _rates(ds, rows, t, range_ms)
        if r is None:
            return {}
        groups: dict = {}
        for i, v in zip(rows, r):
            s = ds.series[i]
            key = _key(**{b: s[b] for b in by})
            le = float(s["le"])
            groups.setdefault(key, {}).setdefault(le, 0.0)
            groups[key][le] += v
        out = {}
        for key, buckets in groups.items():
            bounds = sorted(buckets)
            total = buckets[bounds[-1]]
            rank = q * total
            prev_le, prev_cnt = None, 0.0
            for le in bounds:
                cnt = buckets[le]
                if cnt >= rank:
                    if math.isinf(le):
                        out[key] = bounds[-2]
                    else:
                        start = prev_le if prev_le is not None else 0.0
                        out[key] = start + (le - start) * (
                            (rank - prev_cnt) / (cnt - prev_cnt)
                        )
                    break
                prev_le, prev_cnt = le, cnt
        return out

    return ev


def topk_sum_rate(k: int, metric: str, by: str, range_ms: int):
    inner = sum_rate_by(metric, by, range_ms)

    def ev(ds: DataSet, t: int) -> dict:
        vals = inner(ds, t)
        top = sorted(vals.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return dict(top)

    return ev


def selector(metric: str, **match: str):
    """A plain selector.  The engine's selector output drops ``__name__``
    (``plans/promql.py``, documented there); Prometheus keeps it.  The
    expected answer follows the engine's contract."""

    def ev(ds: DataSet, t: int) -> dict:
        rows = ds.index(__name__=metric, **match)
        v = _latest(ds, rows, t)
        if v is None:
            return {}
        return {_labels(ds, i, drop_name=True): x for i, x in zip(rows, v)}

    return ev


def avg_by(metric: str, by: str):
    def ev(ds: DataSet, t: int) -> dict:
        rows = ds.index(__name__=metric)
        v = _latest(ds, rows, t)
        if v is None:
            return {}
        acc: dict = {}
        for i, x in zip(rows, v):
            acc.setdefault(_key(**{by: ds.series[i][by]}), []).append(x)
        return {key: sum(xs) / len(xs) for key, xs in acc.items()}

    return ev


def max_over_time(metric: str, range_ms: int, **match: str):
    def ev(ds: DataSet, t: int) -> dict:
        rows = ds.index(__name__=metric, **match)
        lo, hi = _window(ds, t, range_ms)
        if hi < lo:
            return {}
        m = ds.values[rows, lo : hi + 1].max(axis=1)
        return {_labels(ds, i, drop_name=True): x for i, x in zip(rows, m)}

    return ev


# -- the mixes ---------------------------------------------------------------

HOUR_MS = 3_600_000


def dashboard_panels(ds: DataSet, rng: np.random.Generator, now: int) -> list[Query]:
    """One refresh of a Grafana dashboard at ``now``: 1-hour range
    panels at a 60 s step and instant panels.  Three panels share the
    ``http_requests_total`` selector."""
    job = datagen.JOBS[int(rng.integers(len(datagen.JOBS)))]
    start, end, step = now - HOUR_MS, now, 60_000
    five = "[5m]"
    return [
        Query(f"sum by (job) (rate({datagen.COUNTER}{five}))", start, end,
              step, sum_rate_by(datagen.COUNTER, "job", 300_000), "sum_rate"),
        Query(f'sum by (handler) (rate({datagen.COUNTER}{{job="{job}"}}{five}))',
              start, end, step,
              sum_rate_by(datagen.COUNTER, "handler", 300_000, job=job),
              "sum_rate_sel"),
        Query("histogram_quantile(0.9, sum by (le) "
              f'(rate({datagen.HISTOGRAM}{{job="{job}"}}{five})))',
              start, end, step,
              histogram_quantile(0.9, [], 300_000, job=job), "hquantile"),
        Query(f"topk(3, sum by (instance) (rate({datagen.COUNTER}{five})))",
              now, now, 1, topk_sum_rate(3, datagen.COUNTER, "instance", 300_000),
              "topk"),
        Query(f'{datagen.GAUGE}{{job="{job}"}}', start, end, step,
              selector(datagen.GAUGE, job=job), "selector"),
        Query(f"avg by (job) ({datagen.GAUGE})", now, now, 1,
              avg_by(datagen.GAUGE, "job"), "avg"),
    ]


def metadata_requests(ds: DataSet) -> list[tuple[str, dict, object]]:
    """(path, params, expected data) of the metadata endpoints."""
    names = sorted({k for s in ds.series for k, v in s.items() if v})
    series = sorted(
        ({k: v for k, v in s.items() if v} for s in ds.series
         if s["__name__"] == datagen.GAUGE),
        key=lambda m: sorted(m.items()),
    )
    return [
        ("/api/v1/labels", {}, names),
        ("/api/v1/label/job/values", {}, sorted(datagen.JOBS)),
        ("/api/v1/series", {"match[]": datagen.GAUGE}, series),
    ]


def adhoc_queries(ds: DataSet, rng: np.random.Generator) -> list[Query]:
    """Long-range queries over the whole retained range at coarse steps;
    selective (one instance) and unselective (all of a metric)."""
    inst = ds.instances()[int(rng.integers(len(ds.instances())))]
    step = 15 * 60_000
    start = ds.t_first + 30 * 60_000
    end = ds.t_last
    return [
        Query(f"sum by (job) (rate({datagen.COUNTER}[10m]))", start, end, step,
              sum_rate_by(datagen.COUNTER, "job", 600_000), "sum_rate"),
        Query(f'max_over_time({datagen.GAUGE}{{instance="{inst}"}}[30m])',
              start, end, step,
              max_over_time(datagen.GAUGE, 1_800_000, instance=inst),
              "max_over_time_sel"),
        Query("histogram_quantile(0.99, sum by (le, job) "
              f"(rate({datagen.HISTOGRAM}[15m])))", start, end, step,
              histogram_quantile(0.99, ["job"], 900_000), "hquantile"),
    ]


# -- comparison --------------------------------------------------------------


def from_api(result: list[dict]) -> Answer:
    """Normalize an API ``matrix`` or ``vector`` result."""
    out: Answer = {}
    for entry in result:
        key = tuple(sorted(entry["metric"].items()))
        pairs = entry["values"] if "values" in entry else [entry["value"]]
        out[key] = [(round(ts * 1000), float(v)) for ts, v in pairs]
    return out


def same(got: Answer, want: Answer) -> bool:
    if set(got) != set(want):
        return False
    for key, pts in want.items():
        g = got[key]
        if len(g) != len(pts):
            return False
        for (tg, vg), (tw, vw) in zip(g, pts):
            if tg != tw or not math.isclose(vg, vw, rel_tol=REL_TOL, abs_tol=1e-12):
                return False
    return True
