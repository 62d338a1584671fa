"""Seeded Prometheus-like data set shared by every workload.

Label sets: ``__name__``, ``job``, ``instance``, one higher-cardinality
label (``handler``) and ``le`` buckets on one classic histogram.  Every
series is sampled on one 15 s grid, so each series' samples are one row
of a ``(series, time)`` matrix and every expected answer is numpy
arithmetic over that matrix (:mod:`perfbench.expected`).

* ``http_requests_total{job,instance,handler}`` — counters, integer
  increments, never reset;
* ``queue_depth{job,instance}`` — gauges, a random walk;
* ``http_request_duration_seconds_bucket{job,instance,le}`` — cumulative
  histogram buckets, strictly increasing in ``le`` and in time.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

LABELS = ["__name__", "job", "instance", "handler", "le"]
COUNTER = "http_requests_total"
GAUGE = "queue_depth"
HISTOGRAM = "http_request_duration_seconds_bucket"
JOBS = ["api", "web", "db", "cache"]
INSTANCES_PER_JOB = 4
HANDLERS = [f"/v1/h{i:02d}" for i in range(12)]
BUCKETS = ["0.05", "0.1", "0.25", "0.5", "1", "2.5", "5", "+Inf"]
STEP_MS = 15_000
#: Prometheus's default remote-write ``max_samples_per_send`` is 2000:
#: one body carries this many scrapes of every series (336 x 6 = 2016)
SCRAPES_PER_BODY = 6
BODIES = 204
DAY_MS = 86_400_000


@dataclass
class DataSet:
    seed: int
    #: one dict per series, every name in LABELS present ("" = absent)
    series: list[dict[str, str]]
    #: int64 ms sample times, shared by every series
    ts: np.ndarray
    #: float64 values, shape (len(series), len(ts))
    values: np.ndarray

    @property
    def n_samples(self) -> int:
        return self.values.size

    @property
    def t_first(self) -> int:
        return int(self.ts[0])

    @property
    def t_last(self) -> int:
        return int(self.ts[-1])

    def index(self, **match: str) -> np.ndarray:
        """Row indices of the series whose labels equal ``match``."""
        return np.array(
            [
                i
                for i, s in enumerate(self.series)
                if all(s[k] == v for k, v in match.items())
            ],
            dtype=np.int64,
        )

    def instances(self) -> list[str]:
        return sorted({s["instance"] for s in self.series})

    def bodies(self, limit: int | None = None) -> list[bytes]:
        """Snappy-framed remote-write 1.0 bodies in scrape order, each
        holding SCRAPES_PER_BODY consecutive scrapes of every series —
        the batches a Prometheus sender ships; the first ``limit``."""
        from tsdb_parquet_spark.remote_write import (
            encode_write_request,
            frame_payload,
        )

        labels = [{k: v for k, v in s.items() if v} for s in self.series]
        out = []
        n = len(self.ts) // SCRAPES_PER_BODY
        for b in range(n if limit is None else min(limit, n)):
            lo, hi = b * SCRAPES_PER_BODY, (b + 1) * SCRAPES_PER_BODY
            ts = self.ts[lo:hi].tolist()
            batch = [
                (lab, list(zip(ts, self.values[i, lo:hi].tolist())))
                for i, lab in enumerate(labels)
            ]
            out.append(frame_payload(encode_write_request(batch)))
        return out


def generate(seed: int) -> DataSet:
    rng = np.random.default_rng(seed)
    n_ts = BODIES * SCRAPES_PER_BODY
    # the retained range starts one hour into a seed-chosen day and ends
    # inside it, so chunk day-buckets never split a series
    t0 = (20_000 + int(rng.integers(0, 1000))) * DAY_MS + 3_600_000
    ts = t0 + STEP_MS * np.arange(n_ts, dtype=np.int64)
    series: list[dict[str, str]] = []
    rows: list[np.ndarray] = []

    def add(name: str, values: np.ndarray, **labels: str) -> None:
        lab = dict.fromkeys(LABELS, "")
        lab.update(labels, __name__=name)
        series.append(lab)
        rows.append(values)

    for job in JOBS:
        for k in range(INSTANCES_PER_JOB):
            inst = f"{job}-{k}:9100"
            for handler in HANDLERS:
                base = float(rng.integers(0, 10_000))
                inc = rng.integers(1, 60, size=n_ts).astype(np.float64)
                add(COUNTER, base + np.cumsum(inc), job=job, instance=inst,
                    handler=handler)
            walk = 50.0 + np.cumsum(rng.normal(0.0, 1.0, size=n_ts))
            add(GAUGE, walk, job=job, instance=inst)
            # per-bucket increments >= 1: cumulative counts are strictly
            # increasing in le and in time, so every quantile is defined
            inc = rng.integers(1, 20, size=(len(BUCKETS), n_ts))
            cum = np.cumsum(np.cumsum(inc, axis=0), axis=1)
            for le, row in zip(BUCKETS, cum.astype(np.float64)):
                add(HISTOGRAM, row, job=job, instance=inst, le=le)

    expected = len(JOBS) * INSTANCES_PER_JOB * (len(HANDLERS) + 1 + len(BUCKETS))
    distinct = {tuple(s[k] for k in LABELS) for s in series}
    if len(distinct) != expected or len(series) != expected:
        raise RuntimeError(
            f"generator produced {len(distinct)} distinct label sets, "
            f"expected {expected}"
        )
    return DataSet(seed=seed, series=series, ts=ts, values=np.vstack(rows))
