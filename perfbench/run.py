"""Benchmark entry point.

    python3 perfbench/run.py --workload bytes_in --seed 1 --seconds 10 \
        --trace 0

Run it from the root of a checkout. It generates the workload's inputs
from the seed, sets Spark up (a fresh ``local[nproc]`` session from
``pdfspark.session.build_session`` plus one warm-up call, several times,
reporting the median), runs the closed loop for ``--seconds``, reads
every committed row back through ``read_committed`` and checks it
against a Spark-free reference, and prints one JSON object as its last
line of standard output. ``--trace 1`` makes the traced run instead:
Spark's status endpoint on localhost is enabled and read, and the
per-layer metrics are printed.

All files go under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
DEADLINE_S = 170
MIN_ITERATIONS = 4

# the end-to-end metrics BENCHMARK.json gates, with their units
E2E_UNITS = {
    "setup_s": "s", "out_files": "count", "out_bytes_per_in_byte": "ratio",
    "docs_ok_frac": "fraction",
}
# printed on every run but not gated: throughput, latency and RSS moved
# with the load on the shared host by more, between runs of the same
# code, than the widest bound BENCHMARK.json may set (0.25 of the
# median); perfbench/README.md has the measured spreads
PRINTED_UNITS = {"docs_per_cpu_s": "docs/cpu-s", "docs_per_s": "docs/s",
                 "wave_latency_p50_s": "s", "compact_s": "s",
                 "peak_rss_mb": "MB", "steal_frac": "fraction"}


def _die(signum, frame):
    raise TimeoutError("benchmark run exceeded its deadline")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def check_checkout(root: str) -> None:
    need = [os.path.join(root, "pdfspark", "session.py"),
            os.path.join(root, "jobs", "extract_job.py"),
            os.path.join(root, "fixtures", "sf0.1", "documents_in.parquet")]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        raise SystemExit(f"perfbench: not a pdfspark checkout, missing "
                         f"{[os.path.relpath(p, root) for p in missing]}")


def e2e_metrics(h, wl) -> tuple[dict, dict]:
    """End-to-end metrics from the run's call records, plus the
    check's detail (mismatches by doc_id)."""
    from perfbench.harness import median

    timed = [c for c in h.calls if c.get("timed_docs", True)]
    loop = [c for c in h.calls if not c.get("forced")]
    docs = sum(c["docs"] for c in timed)

    def per_doc_total(key: str) -> float:
        """Σ over call types of (median per-doc cost of that type in the
        run) × (its docs): one call slowed by a burst on the host, or
        still warming the JIT, does not set the run's figure."""
        total = 0.0
        for name in {c["name"] for c in timed}:
            same = [c for c in timed if c["name"] == name]
            total += (median([c[key] / c["docs"] for c in same])
                      * sum(c["docs"] for c in same))
        return total

    secs, cpu = per_doc_total("seconds"), per_doc_total("cpu_s")
    compact = [c["seconds"] for c in loop
               if c["name"] == "extract_job.compact"]
    lat = [c["wave_latency_s"] for c in loop if "wave_latency_s" in c]
    in_bytes = sum(c["in_bytes"] for c in timed)
    shared, contract = wl.verify()
    failed = len(shared)
    m = {
        "setup_s": median(h.setups),
        "docs_per_cpu_s": docs / cpu if cpu else float("nan"),
        "out_files": (sum(c["out_files"] for c in timed) / len(timed)
                      if timed else float("nan")),
        "out_bytes_per_in_byte": wl.out_bytes() / in_bytes,
        "docs_ok_frac": 1.0 - failed / docs if docs else float("nan"),
        "docs_per_s": docs / secs if secs else float("nan"),
        "wave_latency_p50_s": median(lat),
        "compact_s": median(compact),
        "peak_rss_mb": h.rss.peak_bytes / 2**20,
        "steal_frac": (sum(c["steal_frac"] * c["seconds"] for c in timed)
                       / sum(c["seconds"] for c in timed)),
    }
    detail = dict(docs=docs, docs_failed=failed,
                  docs_failed_frac=failed / docs if docs else float("nan"),
                  mismatches=shared, contract_mismatches=contract,
                  calls=len(loop), iterations=1 + max(
                      (c.get("iteration", 0) for c in loop), default=0))
    return m, detail


def run(args) -> dict:
    from perfbench.harness import Harness, prepare_env

    check_checkout(ROOT)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(ROOT, work)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    h = Harness(ROOT, work, args.seed, bool(args.trace))
    t_harness = time.perf_counter()
    try:
        with h.tracer.span("generate"):
            wl = WORKLOADS[args.workload](h)
        harness_s = time.perf_counter() - t_harness
        for warm in wl.warmups:
            h.setup(warm)
        with contextlib.ExitStack() as stack:
            if args.trace:
                from perfbench.layers import instrument

                stack.enter_context(instrument(h))
                h.rest.reset()
            t0 = time.perf_counter()
            i = 0
            with h.tracer.span("loop"):
                while (i < MIN_ITERATIONS
                       or time.perf_counter() - t0 < args.seconds):
                    wl.iteration(i)
                    i += 1
                wl.finish()
            if args.trace:
                from perfbench.layers import forced_layer_calls

                forced_layer_calls(h, wl)
        with h.tracer.span("check"):
            m, detail = e2e_metrics(h, wl)
        report = dict(workload=args.workload, seed=args.seed,
                      seconds=args.seconds, trace=args.trace,
                      harness_s=harness_s, setups=h.setups, e2e=m,
                      detail=detail, calls=h.calls,
                      phases={s["name"]: s["end"] - s["start"]
                              for s in h.tracer.spans
                              if s["parent"] is None})
        if args.trace:
            from perfbench.layers import layer_metrics

            report["layers"] = layer_metrics(h, wl, m["docs_per_s"])
            report["spans"] = h.tracer.spans
        return report
    finally:
        h.shutdown()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGALRM, _die)
    signal.alarm(DEADLINE_S)
    report = run(args)
    signal.alarm(0)
    base = os.path.join(ROOT, ".perfbench_work", "reports")
    os.makedirs(base, exist_ok=True)
    name = (f"{args.workload}-seed{args.seed}-trace{args.trace}"
            f"-{int(time.time())}")
    with open(os.path.join(base, name + ".json"), "w", encoding="utf-8") as fh:
        json.dump(report, fh, indent=1, default=str)
    d = report["detail"]
    units = {**E2E_UNITS, **PRINTED_UNITS}
    for k, v in report["e2e"].items():
        print(f"{k} = {v:.6g} {units[k]}" if math.isfinite(v)
              else f"{k} = n/a (no such call on this workload)")
    print(f"docs_failed_frac = {d['docs_failed_frac']:.6g} fraction "
          f"({d['docs_failed']} of {d['docs']} docs)")
    for doc_id, why in sorted(d["mismatches"].items()):
        print(f"mismatch {doc_id}: {why}")
    print(f"harness_s = {report['harness_s']:.3f} s (input generation)")
    ok = (not d["contract_mismatches"]
          and all(math.isfinite(report["e2e"][k]) for k in E2E_UNITS))
    if args.trace:
        metrics = {k: {"value": v["value"], "unit": v["unit"]}
                   for k, v in report["layers"].items()}
    else:
        metrics = {k: {"value": report["e2e"][k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    line = json.dumps({"correct": ok, "attempted": len(report["calls"]),
                       "failed": sum(1 for c in report["calls"]
                                     if not c["ok"]),
                       "metrics": metrics})
    # one write, on a line of its own, after everything buffered before
    sys.stdout.flush()
    os.write(sys.stdout.fileno(), f"\n{line}\n".encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
