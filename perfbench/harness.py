"""Run plumbing shared by the workloads: Spark session lifetime, the
process-tree RSS sampler, the run-environment record and HTTP clients."""

from __future__ import annotations

import http.client
import json
import os
import subprocess
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = max(0, min(len(xs) - 1, int(round(q / 100.0 * len(xs) + 0.5)) - 1))
    return xs[k]


def prepare_env(work: str) -> None:
    """Point Spark, its JVM and its Python workers at the checkout.

    Executor-side Python (``mapInPandas``, pandas UDFs) imports the
    package in worker processes forked by the JVM; those find it through
    ``PYTHONPATH``, never through the current directory.  Every scratch
    file Spark or the JVM writes lands under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # a heap sized up front: the JVM's resident size then follows what
    # the run touches, not when the collector decided to grow the heap
    java_opts = (
        f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
        "-XX:-UsePerfData"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "{java_opts}" '
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )


class Session:
    """The package's SparkSession (``session.get_spark``), timed from
    the call to the end of its first job, and stopped together with the
    JVM it launched."""

    def __init__(self, tracer):
        from tsdb_parquet_spark.session import get_spark

        t = time.perf_counter()
        with tracer.span("session.start", "session"):
            self.spark = get_spark(app_name="perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.range(1).count()
        self.start_s = time.perf_counter() - t

    def stop(self) -> None:
        sc = self.spark.sparkContext
        gateway = sc._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _tree_pss_kb(root: int) -> int:
    """Summed proportional set size of ``root`` and all its descendants:
    pages shared between forked Python workers count once, not once per
    worker as a summed RSS would count them."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for pid, pp in parent.items():
            if pp == p and pid not in tree:
                tree.add(pid)
                frontier.append(pid)
    total = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of this process tree (Python driver, JVM,
    Python workers) as summed PSS, sampled every ``interval`` seconds on
    a thread."""

    def __init__(self, interval: float = 0.1):
        self.peak_kb = 0
        self._interval = interval
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_pss_kb(pid))
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from ``/proc/stat``: steal is
    time the hypervisor ran someone else while this guest wanted to run."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


#: a run during which the hypervisor took more than this share of the
#: CPU time is flagged ``suspect`` (the load guard: flag, do not wait)
STEAL_GATE = 0.05


def finish_environment(env: dict, start_ticks: tuple[int, int]) -> None:
    """Add the end-of-run load and the CPU share stolen during the run."""
    steal, total = cpu_ticks()
    frac = (steal - start_ticks[0]) / max(1, total - start_ticks[1])
    env["loadavg_1m_end"] = os.getloadavg()[0]
    env["cpu_steal_frac"] = frac
    env["suspect"] = frac > STEAL_GATE


def environment(seed: int) -> dict:
    """What tells two runs on a shared host apart."""
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "git_commit": commit,
        "seed": seed,
        "loadavg_1m_start": os.getloadavg()[0],
    }


def http_get(url: str, timeout: float = 120.0) -> tuple[int, dict | None]:
    """(status, parsed JSON body or None)."""
    try:
        with urllib.request.urlopen(url, timeout=timeout) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as exc:
        exc.read()
        return exc.code, None


class RemoteWriteClient:
    """A remote-write sender on one kept-alive connection, as Prometheus
    keeps its connections to a receiver open."""

    HEADERS = {
        "Content-Encoding": "snappy",
        "Content-Type": "application/x-protobuf",
        "X-Prometheus-Remote-Write-Version": "0.1.0",
    }

    def __init__(self, url: str):
        parts = urllib.parse.urlsplit(url)
        self._conn = http.client.HTTPConnection(parts.hostname, parts.port, timeout=60)

    def post(self, body: bytes) -> int:
        """POST one snappy-framed body; the HTTP status."""
        self._conn.request("POST", "/api/v1/write", body=body, headers=self.HEADERS)
        resp = self._conn.getresponse()
        resp.read()
        return resp.status

    def close(self) -> None:
        self._conn.close()
