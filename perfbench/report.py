"""Render the trace report from the run reports a checkout holds.

    python3 perfbench/report.py [reports-dir] > perfbench/TRACE.md

Every run writes ``.perfbench_work/reports/<workload>-seed<n>-trace<t>-
<time>.json``. The report has, per workload, the per-layer table of the
latest traced run (each metric with its value, or the reason it is not
measured on that workload), the tracing overhead against the untraced
runs of the same workload, and a list of every run found.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.run import E2E_UNITS, PRINTED_UNITS  # noqa: E402


def load(reports_dir: str) -> list[dict]:
    out = []
    for f in sorted(glob.glob(os.path.join(reports_dir, "*.json"))):
        with open(f, encoding="utf-8") as fh:
            r = json.load(fh)
        r["file"] = os.path.basename(f)
        out.append(r)
    return out


def _fmt(v: float) -> str:
    if v != v:  # NaN
        return "n/a"
    return f"{v:.4g}"


def render(reports: list[dict]) -> str:
    lines = ["# Trace report", ""]
    workloads = sorted({r["workload"] for r in reports})
    for w in workloads:
        runs = [r for r in reports if r["workload"] == w]
        traced = [r for r in runs if r["trace"]]
        plain = [r for r in runs if not r["trace"]]
        lines += [f"## {w}", ""]
        if not traced:
            lines += ["No traced run recorded.", ""]
        else:
            t = traced[-1]
            base = statistics.median(r["e2e"]["docs_per_s"] for r in plain) \
                if plain else float("nan")
            over = t["e2e"]["docs_per_s"] / base if plain else float("nan")
            lines += [
                f"Traced run: seed {t['seed']}, {t['detail']['calls']} timed "
                f"calls. Tracing overhead: traced docs_per_s "
                f"{_fmt(t['e2e']['docs_per_s'])} against the untraced median "
                f"{_fmt(base)} over {len(plain)} runs (ratio {_fmt(over)}).",
                "",
                "| metric | value | unit | note |",
                "|---|---|---|---|",
            ]
            for name, m in t["layers"].items():
                lines.append(f"| `{name}` | {_fmt(m['value'])} | {m['unit']} "
                             f"| {m.get('reason', '')} |")
            lines.append("")
        lines += [f"### Runs of {w}", "",
                  "| file | seed | trace | correct | "
                  + " | ".join(list(E2E_UNITS) + list(PRINTED_UNITS)) + " |",
                  "|---" * (4 + len(E2E_UNITS) + len(PRINTED_UNITS)) + "|"]
        for r in runs:
            ok = not r["detail"]["contract_mismatches"]
            vals = [_fmt(r["e2e"].get(k, float("nan")))
                    for k in list(E2E_UNITS) + list(PRINTED_UNITS)]
            lines.append(f"| {r['file']} | {r['seed']} | {r['trace']} "
                         f"| {ok} | " + " | ".join(vals) + " |")
        lines.append("")
    return "\n".join(lines)


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    d = argv[0] if argv else os.path.join(ROOT, ".perfbench_work", "reports")
    print(render(load(d)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
