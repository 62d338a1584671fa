"""The three workloads and the traced run's layer census.

Each workload drives the package through its public API from this one
process: ``ingest`` (remote-write receiver -> streaming drain ->
compaction), ``dashboard`` (the ``cli serve`` stack under two
closed-loop HTTP clients) and ``adhoc`` (long-range scans with no
shared pin).  A run returns the end-to-end metrics, the per-layer
metrics when traced, and the attempted / failed operation counts.
"""

from __future__ import annotations

import glob
import os
import shutil
import threading
import time
import urllib.parse
from contextlib import contextmanager
from statistics import median

import numpy as np

from perfbench import datagen, expected
from perfbench.harness import (
    RemoteWriteClient,
    RssSampler,
    Session,
    cpu_ticks,
    environment,
    finish_environment,
    http_get,
    percentile,
)
from perfbench.trace import Tracer, catalyst_ms, job_group, plan_metrics, summarize

#: Prometheus head-chunk range: chunks never span a 2 h block boundary
CHUNK_SPAN_MS = 2 * 3_600_000
#: POST bodies of the warm-up tranche, whose drain starts the Python
#: workers and compiles the plans; the rest come in TIMED_TRANCHES
#: tranches, whose median write-to-visible latency is ``op_p50_ms``
WARM_BODIES = 24
TIMED_TRANCHES = 4
#: remote-write bodies the census decodes on workloads that have no spool
CENSUS_BODIES = 24
#: queries the census sends through the API (solo, in process, paired)
API_QUERIES = 3


class Run:
    """State of one benchmark run."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.extra: dict = {}
        self.phases: dict[str, float] = {}
        self.env: dict = {}
        self.t_start = time.perf_counter()

    @contextmanager
    def phase(self, name: str):
        """Wall time of one step of the run, traced or not."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 10:
                self.failures.append(what)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


# -- store helpers -------------------------------------------------------------


def _parquet_files(dirs: list[str]) -> list[str]:
    return [f for d in dirs for f in glob.glob(os.path.join(d, "*.parquet"))]


def store_stats(root: str) -> dict[str, float]:
    """Live files and bytes, all Parquet bytes ever written under the
    root (parts and every compaction), and the column-chunk share of
    the live files' bytes (from their footers)."""
    import pyarrow.parquet as pq

    from tsdb_parquet_spark.sources.writer import live_store_dirs

    live = _parquet_files(live_store_dirs(root))
    live_bytes = sum(os.path.getsize(f) for f in live)
    written = 0
    for d, _, files in os.walk(root):
        written += sum(
            os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet")
        )
    column_bytes = 0
    for f in live:
        meta = pq.ParquetFile(f).metadata
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            column_bytes += sum(
                rg.column(c).total_compressed_size for c in range(rg.num_columns)
            )
    return {
        "live_files": len(live),
        "live_bytes": live_bytes,
        "write_amp": written / live_bytes,
        "column_bytes_frac": column_bytes / live_bytes,
    }


def drain(run: Run, ingestor, stream, name: str = "ingest.drain") -> None:
    """One ``availableNow`` drain of the spool."""
    with run.tracer.span(name, "streaming.ingest"):
        query = ingestor.ingest(stream)
    run.tracer.count(f"{name}.micro_batches", len(query.recentProgress))


def finalize(run: Run, ingestor) -> None:
    with run.tracer.span("writer.finalize", "sources.writer"):
        ingestor.finalize()


def chunk_input(run: Run, ds: datagen.DataSet) -> dict:
    """The read workloads' input: the generated samples cut into chunk
    rows — one per series and ``CHUNK_SPAN_MS`` bucket, bytes from the
    package's raw chunk codec (``chunks.encode_samples``, the format
    ``samples_to_chunks`` writes), series ids dense in sorted-label
    order like the converter assigns them."""
    import pyarrow as pa

    from tsdb_parquet_spark.chunks import encode_samples
    from tsdb_parquet_spark.schema import CHUNK_BYTES, MAX_T, MIN_T, SERIES_ID

    order = sorted(
        range(len(ds.series)),
        key=lambda i: tuple(ds.series[i][c] for c in datagen.LABELS),
    )
    bucket = ds.ts // CHUNK_SPAN_MS
    cuts = np.flatnonzero(np.diff(bucket)) + 1
    spans = list(zip(np.r_[0, cuts], np.r_[cuts, len(ds.ts)]))
    cols: dict[str, list] = {
        c: [] for c in [SERIES_ID, MIN_T, MAX_T, CHUNK_BYTES, *sorted(datagen.LABELS)]
    }
    for sid, i in enumerate(order):
        for lo, hi in spans:
            cols[SERIES_ID].append(sid)
            cols[MIN_T].append(int(ds.ts[lo]))
            cols[MAX_T].append(int(ds.ts[hi - 1]))
            cols[CHUNK_BYTES].append(encode_samples(ds.ts[lo:hi], ds.values[i, lo:hi]))
            for c in datagen.LABELS:
                cols[c].append(ds.series[i][c])
    return {"chunks": pa.table(cols)}


def build_read_store(run: Run, spark, chunks) -> str:
    """The read workloads' store, bulk-loaded by ``sources.writer`` with
    the options the streaming ingestor uses, then compacted."""
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.sources.writer import SortedParquetWriter, WriterOptions

    root = run.path("store")
    opts = WriterOptions(
        sort_columns=sort_columns(datagen.LABELS),
        bloom_columns=[c for c in datagen.LABELS if c != "__name__"],
        max_files=16,
    )
    writer = SortedParquetWriter(spark, root, opts)
    with run.tracer.span("writer.write", "sources.writer"):
        writer.write(spark.createDataFrame(chunks))
    with run.tracer.span("writer.compact", "sources.writer"):
        writer.compact()
    return root


def open_store(run: Run, spark, root: str):
    """(querier, samples) the way ``cli serve`` / ``cli promql`` open a
    writer root."""
    from tsdb_parquet_spark.querier import ChunkQuerier

    with run.tracer.span("querier.open", "querier"):
        querier = ChunkQuerier.from_store(spark, root)
        samples = querier.select_samples(labels=datagen.LABELS)
    return querier, samples


def _store_e2e(run: Run, root: str, ds: datagen.DataSet) -> dict:
    stats = store_stats(root)
    run.e2e["store_bytes_per_sample"] = stats["live_bytes"] / ds.n_samples
    return stats


# -- ingest ----------------------------------------------------------------------


def _samples_match(ds: datagen.DataSet, chunks: dict, idx) -> bool:
    """``chunks`` maps a label tuple to its decoded ``(ts, values)``
    chunks.  True when exactly the series ``idx`` are present and each
    holds exactly its generated samples, no more, no fewer."""
    if len(chunks) != len(idx):
        return False
    for i in idx:
        parts = chunks.get(tuple(ds.series[i][c] for c in datagen.LABELS))
        if not parts:
            return False
        ts = np.concatenate([p[0] for p in parts])
        vals = np.concatenate([p[1] for p in parts])
        order = np.argsort(ts, kind="stable")
        if not (np.array_equal(ts[order], ds.ts)
                and np.array_equal(vals[order], ds.values[i])):
            return False
    return True


def _read_back(run: Run, root: str, ds: datagen.DataSet) -> None:
    """The store must hold exactly the generated sample multiset: every
    live file's chunks, decoded with the package's chunk codec."""
    import pyarrow.parquet as pq

    from tsdb_parquet_spark.chunks import decode_samples
    from tsdb_parquet_spark.schema import CHUNK_BYTES
    from tsdb_parquet_spark.sources.writer import live_store_dirs

    chunks: dict[tuple, list] = {}
    for f in _parquet_files(live_store_dirs(root)):
        t = pq.read_table(f, columns=[*datagen.LABELS, CHUNK_BYTES]).to_pydict()
        for k, blob in enumerate(t[CHUNK_BYTES]):
            key = tuple(t[c][k] for c in datagen.LABELS)
            chunks.setdefault(key, []).append(decode_samples(blob))
    n = sum(len(ts) for parts in chunks.values() for ts, _ in parts)
    ok = _samples_match(ds, chunks, range(len(ds.series)))
    run.check(ok, f"read-back: {n} samples, want {ds.n_samples}")


def encode_bodies(run: Run, ds: datagen.DataSet) -> dict:
    return {"bodies": ds.bodies()}


def ingest(run: Run, session: Session, ds: datagen.DataSet, prep: dict) -> dict:
    from tsdb_parquet_spark.sources.remote_write_server import RemoteWriteServer
    from tsdb_parquet_spark.streaming.receiver import remote_write_spool_ingestor

    spark = session.spark
    bodies = prep["bodies"]
    per_body = len(ds.series) * datagen.SCRAPES_PER_BODY
    spool, root = run.path("spool"), run.path("store")
    server = RemoteWriteServer(spool)
    client = RemoteWriteClient(server.__enter__())
    acks: list[float] = []

    def post_tranche(part) -> int:
        acked = 0
        for b in part:
            t = time.perf_counter()
            with run.tracer.span("remote_write.post", "remote_write_server"):
                status = client.post(bodies[b])
            acks.append(time.perf_counter() - t)
            ok = status in (200, 204)
            run.check(ok, f"POST body {b}: HTTP {status}")
            acked += per_body if ok else 0
        return acked

    try:
        ingestor, stream = remote_write_spool_ingestor(
            spark, spool, root, datagen.LABELS, chunk_span_ms=CHUNK_SPAN_MS
        )
        first = np.arange(WARM_BODIES)
        rest = np.array_split(np.arange(WARM_BODIES, len(bodies)), TIMED_TRANCHES)
        with run.phase("warm_up"):
            post_tranche(first)
            drain(run, ingestor, stream, "ingest.drain.warm_up")
        run.e2e["setup_s"] = time.perf_counter() - run.t_start
        acked = 0
        visible = []
        t0 = time.perf_counter()
        for part in rest:
            t = time.perf_counter()
            acked += post_tranche(part)
            drain(run, ingestor, stream)
            visible.append(time.perf_counter() - t)
        finalize(run, ingestor)
        wall = time.perf_counter() - t0
    finally:
        client.close()
        server.__exit__(None, None, None)
    run.phases["timed"] = wall
    with run.phase("verify"):
        _read_back(run, root, ds)
    stats = _store_e2e(run, root, ds)
    # a ~1 ms loopback ack swings by a third between runs on a shared
    # host; a tranche's write-to-visible latency is the steadier op
    run.e2e["op_p50_ms"] = median(visible) * 1000
    run.e2e["throughput_per_s"] = acked / wall
    run.extra.update(
        posts=len(acks),
        ingest_samples_per_s=acked / wall,
        write_ack_p50_ms=percentile(acks, 50) * 1000,
        write_ack_p95_ms=percentile(acks, 95) * 1000,
        visible_s=visible,
        ingest_wall_s=wall,
    )
    return {
        "root": root,
        "spool": spool,
        "stats": stats,
        # read-after-write: long-range queries over the fresh store, the
        # unpinned ``cli promql`` path
        "queries": expected.adhoc_queries(ds, run.rng),
        "shared_engine": None,
    }


# -- dashboard -------------------------------------------------------------------


def _http_query(url: str, q: expected.Query) -> tuple[int, dict | None]:
    path = "/api/v1/query" if q.instant else "/api/v1/query_range"
    return http_get(f"{url}{path}?{urllib.parse.urlencode(q.params())}")


def _http_meta(url: str, path: str, params: dict) -> tuple[int, dict | None]:
    qs = urllib.parse.urlencode(params)
    return http_get(f"{url}{path}" + (f"?{qs}" if qs else ""))


def _check_query(run: Run, ds, q: expected.Query, status: int, body) -> bool:
    ok = (
        status == 200
        and body is not None
        and body.get("status") == "success"
        and expected.same(expected.from_api(body["data"]["result"]), q.expected(ds))
    )
    run.check(ok, f"{q.kind} {q.expr} @ {q.start}..{q.end}: HTTP {status}")
    return ok


def _check_meta(run: Run, path: str, want, status: int, body) -> bool:
    ok = status == 200 and body is not None and body.get("data") == want
    run.check(ok, f"{path}: HTTP {status}")
    return ok


def start_server(run: Run, samples):
    """``cli serve``'s stack: a shared-scan engine behind the API."""
    from tsdb_parquet_spark.api import PromApiServer
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    engine = PromQLEngine(samples, shared_scan=True)
    server = PromApiServer(engine)
    return engine, server, server.start()


def dashboard(run: Run, session: Session, ds: datagen.DataSet, prep: dict) -> dict:
    spark = session.spark
    with run.phase("store_build"):
        root = build_read_store(run, spark, prep["chunks"])
    _, samples = open_store(run, spark, root)
    engine, server, url = start_server(run, samples)
    meta = expected.metadata_requests(ds)
    # a seeded, moving "now": every refresh is 15 s later than the last
    base = ds.t_first + 2 * expected.HOUR_MS + int(run.rng.integers(0, 15_000))
    try:
        warm = expected.dashboard_panels(ds, run.rng, base)
        with run.phase("pin"), run.tracer.span("shared_scan.pin", "plans.promql"):
            status, body = _http_query(url, warm[0])
        _check_query(run, ds, warm[0], status, body)
        # one solo refresh compiles every panel's plan shape
        with run.phase("warm_up"):
            for q in warm[1:]:
                _check_query(run, ds, q, *_http_query(url, q))
        run.e2e["setup_s"] = time.perf_counter() - run.t_start

        log: list[tuple] = []
        lock = threading.Lock()
        deadline = time.perf_counter() + run.seconds

        def client(c: int) -> None:
            rng = np.random.default_rng([run.seed, c])
            r = 0
            while time.perf_counter() < deadline:
                now = base + (2 * r + c + 1) * datagen.STEP_MS
                panels = expected.dashboard_panels(ds, rng, now)
                path, params, want = meta[r % len(meta)]
                for q in [*panels, (path, params, want)]:
                    if time.perf_counter() >= deadline:
                        return
                    t = time.perf_counter()
                    if isinstance(q, expected.Query):
                        with run.tracer.span("api.query", "api", f"c{c}r{r}"):
                            res = _http_query(url, q)
                    else:
                        with run.tracer.span("api.metadata", "api", f"c{c}r{r}"):
                            res = _http_meta(url, q[0], q[1])
                    dt = time.perf_counter() - t
                    with lock:
                        log.append((q, res, dt))
                r += 1

        threads = [threading.Thread(target=client, args=(c,)) for c in range(2)]
        t0 = time.perf_counter()
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        wall = time.perf_counter() - t0
    finally:
        server.stop()
    run.phases["timed"] = wall
    # answers are checked after the timed window: the server shares this
    # process's interpreter lock with the checker
    correct = 0
    for q, (status, body), _ in log:
        if isinstance(q, expected.Query):
            correct += _check_query(run, ds, q, status, body)
        else:
            correct += _check_meta(run, q[0], q[2], status, body)
    lat = [dt for _, _, dt in log]
    stats = _store_e2e(run, root, ds)
    run.e2e["op_p50_ms"] = percentile(lat, 50) * 1000
    run.e2e["throughput_per_s"] = correct / wall
    by_kind: dict[str, list[float]] = {}
    for q, _, dt in log:
        kind = q.kind if isinstance(q, expected.Query) else q[0]
        by_kind.setdefault(kind, []).append(dt * 1000)
    run.extra.update(
        requests=len(lat),
        query_p50_ms=run.e2e["op_p50_ms"],
        query_p95_ms=percentile(lat, 95) * 1000,
        queries_per_s=run.e2e["throughput_per_s"],
        latency_by_kind_ms={k: [median(v), len(v)] for k, v in by_kind.items()},
    )
    return {
        "root": root,
        "spool": None,
        "stats": stats,
        "queries": expected.dashboard_panels(ds, run.rng, base),
        "shared_engine": engine,
        "samples": samples,
    }


# -- adhoc -----------------------------------------------------------------------


def _chunk_selections(ds: datagen.DataSet, rng) -> list[tuple[str, list, dict]]:
    """(kind, matchers, label match) of the raw series selections: one
    instance's gauge (selective) and every counter (unselective)."""
    from tsdb_parquet_spark.operators.selection import Matcher

    inst = ds.instances()[int(rng.integers(len(ds.instances())))]
    return [
        ("select_sel", [Matcher("__name__", "=", datagen.GAUGE),
                        Matcher("instance", "=", inst)],
         {"__name__": datagen.GAUGE, "instance": inst}),
        ("select_all", [Matcher("__name__", "=", datagen.COUNTER)],
         {"__name__": datagen.COUNTER}),
    ]


def _check_chunks(run: Run, ds, kind: str, match: dict, rows) -> bool:
    """Decode the selected chunks and compare them with the generated
    samples of the matching series."""
    from tsdb_parquet_spark.chunks import decode_samples
    from tsdb_parquet_spark.schema import CHUNK_BYTES

    got: dict[tuple, list] = {}
    for row in rows:
        d = row.asDict()
        key = tuple(d[c] for c in datagen.LABELS)
        got.setdefault(key, []).append(decode_samples(d[CHUNK_BYTES]))
    ok = _samples_match(ds, got, ds.index(**match))
    run.check(ok, f"{kind} {match}: {len(got)} series")
    return ok


def adhoc(run: Run, session: Session, ds: datagen.DataSet, prep: dict) -> dict:
    from tsdb_parquet_spark.api import matrix_result
    from tsdb_parquet_spark.plans.promql import PromQLEngine

    spark = session.spark
    with run.phase("store_build"):
        root = build_read_store(run, spark, prep["chunks"])
    querier, samples = open_store(run, spark, root)
    engine = PromQLEngine(samples)

    def one_round(rng) -> list:
        ops = []
        for q in expected.adhoc_queries(ds, rng):
            ops.append(("promql", q))
        for sel in _chunk_selections(ds, rng):
            ops.append(("select", sel))
        return ops

    def execute(op, r: int):
        kind, arg = op
        if kind == "promql":
            with run.tracer.span("adhoc.promql", "plans.promql", f"r{r}"):
                df = engine.query_range(arg.expr, arg.start, arg.end, arg.step)
                return matrix_result(df)
        with run.tracer.span("adhoc.select", "querier", f"r{r}"):
            return querier.select_chunks(ds.t_first, ds.t_last, arg[1]).collect()

    def verify(op, res) -> bool:
        kind, arg = op
        if kind == "promql":
            ok = expected.same(expected.from_api(res), arg.expected(ds))
            run.check(ok, f"{arg.kind} {arg.expr}")
            return ok
        return _check_chunks(run, ds, arg[0], arg[2], res)

    # warm-up: one round compiles every query shape
    with run.phase("warm_up"):
        for op in one_round(run.rng):
            verify(op, execute(op, -1))
    run.e2e["setup_s"] = time.perf_counter() - run.t_start

    log = []
    deadline = time.perf_counter() + run.seconds
    t0 = time.perf_counter()
    r = 0
    while time.perf_counter() < deadline:
        for op in one_round(run.rng):
            if time.perf_counter() >= deadline:
                break
            t = time.perf_counter()
            res = execute(op, r)
            log.append((op, res, time.perf_counter() - t))
        r += 1
    wall = time.perf_counter() - t0
    run.phases["timed"] = wall
    correct = sum(verify(op, res) for op, res, _ in log)
    lat = [dt for _, _, dt in log]
    stats = _store_e2e(run, root, ds)
    run.e2e["op_p50_ms"] = percentile(lat, 50) * 1000
    run.e2e["throughput_per_s"] = correct / wall
    run.extra.update(
        requests=len(lat),
        query_p50_ms=run.e2e["op_p50_ms"],
        queries_per_s=run.e2e["throughput_per_s"],
    )
    return {
        "root": root,
        "spool": None,
        "stats": stats,
        "queries": expected.adhoc_queries(ds, run.rng),
        "shared_engine": None,
        "samples": samples,
        "querier": querier,
    }


#: name -> (Spark-free input preparation, the workload)
WORKLOADS = {
    "ingest": (encode_bodies, ingest),
    "dashboard": (chunk_input, dashboard),
    "adhoc": (chunk_input, adhoc),
}


# -- traced run: layer census ------------------------------------------------------


def census(run: Run, session: Session, ds: datagen.DataSet, out: dict) -> None:
    """Per-layer metrics over this workload's store, spool and query set.

    Each probe calls one module's public function from outside and
    times it; the same probes run on every workload, so a layer the
    workload's own path skips is still measured on its data."""
    spark = session.spark
    _probe_write_path(run, spark, ds, out)
    querier, samples = out.get("querier"), out.get("samples")
    if querier is None or samples is None:
        querier, samples = open_store(run, spark, out["root"])
    _probe_scan(run, spark, ds, querier)
    _probe_promql(run, spark, ds, out, samples)
    _probe_api(run, ds, out["queries"][:API_QUERIES], samples)


def _probe_write_path(run: Run, spark, ds: datagen.DataSet, out: dict) -> None:
    """remote_write decode and chunks encode over a spool of POST bodies
    (the workload's own, else the first CENSUS_BODIES), a drain and
    finalize of that spool when the workload's store was bulk-loaded,
    and the store's layout."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.remote_write import remote_write_frame
    from tsdb_parquet_spark.sources.writer import live_store_dirs
    from tsdb_parquet_spark.streaming.receiver import remote_write_spool_ingestor

    tr, L = run.tracer, run.layers
    spool = out["spool"]
    n_bodies = len(ds.ts) // datagen.SCRAPES_PER_BODY
    if spool is None:
        spool = run.path("census-spool")
        os.makedirs(spool)
        bodies = ds.bodies(CENSUS_BODIES)
        for i, body in enumerate(bodies):
            with open(os.path.join(spool, f"req-{i:08d}-v0.bin"), "wb") as fh:
                fh.write(body)
        n_bodies = len(bodies)
    want = n_bodies * datagen.SCRAPES_PER_BODY * len(ds.series)
    payloads = spark.read.format("binaryFile").load(spool).select(
        F.col("content").alias("payload")
    )
    decoded = remote_write_frame(payloads, datagen.LABELS).persist()
    with tr.span("remote_write.decode", "remote_write"):
        n = decoded.count()
    run.check(n == want, f"remote_write decode: {n} samples, want {want}")
    L["remote_write.samples"] = n
    with tr.span("chunks.encode", "chunks"):
        samples_to_chunks(
            decoded, datagen.LABELS, chunk_span_ms=CHUNK_SPAN_MS,
            assign_series_ids=False,
        ).write.format("noop").mode("overwrite").save()
    decoded.unpersist()
    if not tr.durations("ingest.drain"):
        ingestor, stream = remote_write_spool_ingestor(
            spark, spool, run.path("census-store"), datagen.LABELS,
            chunk_span_ms=CHUNK_SPAN_MS,
        )
        drain(run, ingestor, stream)
        finalize(run, ingestor)

    stats = out["stats"]
    chunk_rows = spark.read.parquet(*live_store_dirs(out["root"])).count()
    L["chunks.samples_per_chunk"] = ds.n_samples / chunk_rows
    L["writer.live_files"] = stats["live_files"]
    L["writer.write_amp"] = stats["write_amp"]
    L["writer.column_bytes_frac"] = stats["column_bytes_frac"]


def _probe_scan(run: Run, spark, ds: datagen.DataSet, querier) -> None:
    """``select_chunks`` over the whole retained range, selective and
    unselective, with the Parquet scan's SQL metrics; then the chunk
    decode of the unselective selection."""
    from tsdb_parquet_spark.chunks import chunks_to_samples

    tr, L = run.tracer, run.layers
    scan = dict.fromkeys(["files", "bytes", "rows"], 0.0)
    matched = 0
    selections = _chunk_selections(ds, run.rng)
    for _, matchers, _ in selections:
        counted = querier.select_chunks(ds.t_first, ds.t_last, matchers).groupBy().count()
        with tr.span("querier.select", "querier"):
            matched += counted.collect()[0][0]
        m = plan_metrics(spark, counted)
        for k in scan:
            scan[k] += m[k]
    L["scan.files_read"] = scan["files"]
    L["scan.bytes_read"] = scan["bytes"]
    L["scan.rows_read"] = scan["rows"]
    L["scan.rows_per_result"] = scan["rows"] / matched
    _, matchers, _ = selections[1]
    decoded = chunks_to_samples(
        querier.select_chunks(ds.t_first, ds.t_last, matchers), datagen.LABELS
    ).groupBy().count()
    with tr.span("chunks.decode", "chunks"):
        decoded.collect()
    L["chunks.udf_s"] = plan_metrics(spark, decoded)["udf_ms"] / 1000.0


def _render(q: expected.Query, df) -> list[dict]:
    from tsdb_parquet_spark.api import matrix_result, vector_result

    return (vector_result if q.instant else matrix_result)(df)


def _probe_promql(run: Run, spark, ds: datagen.DataSet, out: dict, samples) -> None:
    """Parse, plan and execute the query set in process on the
    workload's engine (a plain one when the workload has none)."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine, parse_promql

    tr, L = run.tracer, run.layers
    engine = out["shared_engine"] or PromQLEngine(samples)
    per: dict[str, list[float]] = {k: [] for k in (
        "catalyst", "jobs", "tasks", "shuffle", "exchanges", "aggregates")}
    for i, q in enumerate(out["queries"]):
        if out["shared_engine"] is None:
            # first run of this plan shape on this engine: compile it
            _render(q, engine.query_range(q.expr, q.start, q.end, q.step))
        with tr.span("promql.parse", "plans.promql", f"q{i}"):
            parse_promql(q.expr)
        with tr.span("promql.plan", "plans.promql", f"q{i}"):
            df = engine.query_range(q.expr, q.start, q.end, q.step)
        counts: dict = {}
        with job_group(spark, f"perfbench-q{i}", counts):
            with tr.span("exec", "spark", f"q{i}"):
                res = _render(q, df)
        run.check(expected.same(expected.from_api(res), q.expected(ds)), f"census {q.expr}")
        m = plan_metrics(spark, df)
        per["catalyst"].append(catalyst_ms(df))
        per["jobs"].append(counts["jobs"])
        per["tasks"].append(counts["tasks"])
        per["shuffle"].append(m["shuffle_bytes"])
        per["exchanges"].append(m["exchanges"])
        per["aggregates"].append(m["aggregates"])
    L["promql.parse_ms"] = tr.mean("promql.parse") * 1000
    L["promql.plan_ms"] = tr.mean("promql.plan") * 1000
    L["promql.exchanges"] = sum(per["exchanges"])
    L["promql.aggregates"] = sum(per["aggregates"])
    L["exec.catalyst_ms"] = float(np.mean(per["catalyst"]))
    L["exec.ms"] = tr.mean("exec") * 1000
    L["exec.jobs"] = float(np.mean(per["jobs"]))
    L["exec.tasks"] = float(np.mean(per["tasks"]))
    L["shuffle.bytes_written"] = float(np.mean(per["shuffle"]))


def _probe_api(run: Run, ds: datagen.DataSet, queries: list, samples) -> None:
    """The API over a fresh shared-scan engine: pin, each query solo
    over HTTP and in process on the same engine, then two clients, then
    the metadata endpoints."""
    tr, L = run.tracer, run.layers
    served, server, url = start_server(run, samples)
    try:
        with tr.span("shared_scan.pin", "plans.promql"):
            _check_query(run, ds, queries[0], *_http_query(url, queries[0]))
        for q in queries[1:]:  # compile every shape on this engine
            _check_query(run, ds, q, *_http_query(url, q))
        direct, solo = [], []
        for q in queries:
            t = time.perf_counter()
            res = _http_query(url, q)
            solo.append(time.perf_counter() - t)
            _check_query(run, ds, q, *res)
            t = time.perf_counter()
            _render(q, served.query_range(q.expr, q.start, q.end, q.step))
            direct.append(time.perf_counter() - t)
        pair: list[float] = []
        lock = threading.Lock()

        def client() -> None:
            for q in queries:
                t = time.perf_counter()
                res = _http_query(url, q)
                with lock:
                    pair.append(time.perf_counter() - t)
                    _check_query(run, ds, q, *res)

        threads = [threading.Thread(target=client) for _ in range(2)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        meta = []
        for path, params, want in expected.metadata_requests(ds):
            t = time.perf_counter()
            res = _http_meta(url, path, params)
            meta.append(time.perf_counter() - t)
            _check_meta(run, path, want, *res)
    finally:
        server.stop()
    L["api.overhead_ms"] = (np.mean(solo) - np.mean(direct)) * 1000
    L["api.queue_ms"] = (np.mean(pair) - np.mean(solo)) * 1000
    L["api.metadata_ms"] = float(np.mean(meta)) * 1000
    L["shared_scan.pin_s"] = tr.durations("shared_scan.pin")[0]


def layer_metrics_from_spans(run: Run, session: Session) -> None:
    tr, L = run.tracer, run.layers
    L["session.start_s"] = session.start_s
    L["remote_write.decode_s"] = tr.total("remote_write.decode")
    L["chunks.encode_s"] = tr.total("chunks.encode")
    L["ingest.drain_s"] = tr.total("ingest.drain")
    L["ingest.micro_batches"] = tr.counts.get("ingest.drain.micro_batches", 0)
    L["writer.finalize_s"] = tr.total("writer.finalize")
    L["querier.open_ms"] = tr.mean("querier.open") * 1000
    L["querier.select_s"] = tr.mean("querier.select")
    L["chunks.decode_s"] = tr.total("chunks.decode")


def execute(workload: str, seed: int, seconds: float, trace: bool, work: str) -> Run:
    run = Run(workload, seed, seconds, trace, work)
    run.env = environment(seed)
    ticks = cpu_ticks()
    with RssSampler() as rss:
        prepare, body = WORKLOADS[workload]
        run.t_start = time.perf_counter()
        # data generation and input encoding are pure Python / Arrow: they
        # run while the JVM starts
        inputs: dict = {}

        def prep() -> None:
            try:
                with run.phase("prepare"):
                    inputs["ds"] = datagen.generate(seed)
                    inputs["prep"] = prepare(run, inputs["ds"])
            except BaseException as exc:  # re-raised on the main thread
                inputs["error"] = exc

        worker = threading.Thread(target=prep)
        worker.start()
        try:
            with run.phase("session_start"):
                session = Session(run.tracer)
        finally:
            worker.join()
        if "error" in inputs:
            session.stop()
            raise inputs["error"]
        ds = inputs["ds"]
        try:
            out = body(run, session, ds, inputs["prep"])
            if trace:
                with run.phase("census"):
                    census(run, session, ds, out)
                layer_metrics_from_spans(run, session)
        finally:
            with run.phase("session_stop"):
                session.stop()
    run.extra["phases_s"] = run.phases
    run.e2e["peak_rss_mb"] = rss.peak_mb
    finish_environment(run.env, ticks)
    if trace:
        run.extra["layer_self_time"] = summarize(run.tracer.spans)
        run.tracer.dump(run.path("spans.json"))
    return run


def clean(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
