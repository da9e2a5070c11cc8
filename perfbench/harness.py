"""Session lifetime, timed calls and committed-table accounting shared
by the workloads."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time

from perfbench.tracing import RssSampler, Tracer


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Point every file Spark and its workers write at ``work`` and make
    the repository importable by the Python workers. Must run before
    pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "pyspark-shell")
    if root not in sys.path:
        sys.path.insert(0, root)


class Harness:
    """One benchmark run: the Spark session, the tracer, the RSS
    sampler and the per-call records the metrics are computed from."""

    def __init__(self, root: str, work: str, seed: int, trace: bool):
        self.root = root
        self.work = work
        self.seed = seed
        self.trace = trace
        self.tracer = Tracer(run_id=f"{os.getpid()}-{seed}")
        self.rss = RssSampler(os.getpid()).start()
        self.spark = None
        self.calls: list[dict] = []
        self.failed_calls = 0
        self.setups: list[float] = []
        # traced runs only: the status-endpoint reader, the streaming
        # listener and the counts of the forced layer calls
        self.rest = None
        self.stream_listener = None
        self.forced_counts: dict = {}

    # --- session ---------------------------------------------------------

    def start_session(self):
        from pdfspark.session import build_session

        conf = {"spark.ui.showConsoleProgress": "false"}
        if self.trace:
            conf["spark.ui.enabled"] = "true"
        self.spark = build_session(master=f"local[{nproc()}]",
                                   app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            from perfbench.restmetrics import RestCollector

            self.rest = RestCollector(self.spark)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for every child to exit."""
        self.stop_session()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:  # the JVM may already be gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                try:
                    proc.stdin.close()
                except OSError:
                    pass
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
        deadline = time.time() + 20
        while self.rss.descendants() and time.time() < deadline:
            time.sleep(0.2)
        for pid in self.rss.descendants():
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        self.rss.stop()

    def setup(self, warm) -> None:
        """One set-up: a session start plus one untimed warm-up call
        (``warm()``) into a throwaway table; its wall time is a
        ``setup_s`` sample. The first set-up starts Spark; later ones
        build a fresh session on the running SparkContext."""
        from pyspark.sql import SparkSession

        t0 = time.perf_counter()
        with self.tracer.span("setup"):
            if self.spark is not None:
                jvm = self.spark.sparkContext._jvm
                jvm.SparkSession.clearActiveSession()
                jvm.SparkSession.clearDefaultSession()
                SparkSession._activeSession = None
                SparkSession._instantiatedSession = None
            self.start_session()
            warm()
        self.setups.append(time.perf_counter() - t0)

    # --- timed calls -----------------------------------------------------

    def call(self, name: str, fn, docs: int, in_bytes: int,
             tables: tuple = (), **attrs) -> dict:
        """Run one timed call into the program. ``tables`` are the
        committed tables the call writes; the files and bytes it adds
        there are recorded. A call that raises counts as failed."""
        before = {t: committed_files(t) for t in tables}
        rec = dict(name=name, docs=docs, in_bytes=in_bytes, ok=True,
                   wall_start=time.time(), **attrs)
        if self.rest is not None:
            self.rest.reset()
        cpu0, st0 = self.rss.cpu_seconds(), _cpu_steal()
        self.rss.active.set()
        try:
            with self.tracer.span(name, **attrs) as sp:
                try:
                    rc = fn()
                except Exception as e:  # recorded; the run goes on
                    rec["ok"] = False
                    rec["error"] = f"{type(e).__name__}: {e}"
                    rc = None
                if rc not in (None, 0):
                    rec["ok"] = False
                    rec["error"] = f"exit code {rc}"
        finally:
            self.rss.active.clear()
        rec["seconds"] = sp["end"] - sp["start"]
        rec["cpu_s"] = self.rss.cpu_seconds() - cpu0
        st1 = _cpu_steal()
        rec["steal_frac"] = ((st1[0] - st0[0]) / (st1[1] - st0[1])
                             if st1[1] > st0[1] else 0.0)
        rec["span_id"] = sp["id"]
        added = 0
        for t in tables:
            added += len(set(committed_files(t)) - set(before[t]))
        rec["out_files"] = added
        if self.rest is not None:
            self.rest.collect(rec)
        if not rec["ok"]:
            self.failed_calls += 1
        self.calls.append(rec)
        return rec


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share a
    hypervisor gave to other guests while this one wanted to run."""
    with open("/proc/stat", encoding="ascii") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def committed_files(table: str) -> dict[str, int]:
    """Data files of the committed snapshots of ``table`` -> size."""
    from pdfspark.sinks.snapshot import _manifest_files, committed_snapshots

    if not os.path.isdir(table):
        return {}
    out = {}
    for snap in committed_snapshots(table):
        files = _manifest_files(table, snap)
        if files:
            paths = [os.path.join(table, f) for f in files]
        else:
            base = os.path.join(table, snap)
            paths = [os.path.join(d, f) for d, _s, fs in os.walk(base)
                     for f in fs if not f.startswith(("_", "."))]
        for p in paths:
            out[p] = os.path.getsize(p)
    return out


def committed_bytes(table: str) -> int:
    """Committed data bytes plus manifest bytes of ``table``."""
    total = sum(committed_files(table).values())
    mdir = os.path.join(table, "_manifests")
    if os.path.isdir(mdir):
        total += sum(os.path.getsize(os.path.join(mdir, f))
                     for f in os.listdir(mdir) if f.endswith(".manifest"))
    return total


def tree_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, fs in os.walk(path) for f in fs)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def cached(cache_dir: str, key_parts: list, compute):
    """JSON cache of a reference result, keyed by the content of the
    inputs and code it depends on. References are pure functions of
    those, so a cache hit is the same value recomputed."""
    h = hashlib.sha256()
    for p in key_parts:
        if isinstance(p, str) and os.path.exists(p):
            for f in sorted(_files_under(p)):
                h.update(f.encode())
                with open(f, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
        else:
            h.update(repr(p).encode())
    os.makedirs(cache_dir, exist_ok=True)
    path = os.path.join(cache_dir, h.hexdigest()[:32] + ".json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            return json.load(fh)
    val = compute()
    tmp = path + f".{os.getpid()}.tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(val, fh)
    os.replace(tmp, path)
    return val


def _files_under(p: str) -> list[str]:
    if os.path.isfile(p):
        return [p]
    return [os.path.join(d, f) for d, _s, fs in os.walk(p) for f in fs
            if "__pycache__" not in d]
