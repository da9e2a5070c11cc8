"""Spark's own plan-node and stage metrics, read from the driver's
status endpoint on localhost, and the plan-node -> layer mapping.

Each SQL execution's JSON nodes carry metrics but no columns; the
execution's formatted plan text carries columns but no JSON node ids.
Nodes are matched to plan-text blocks by operator name: within one
execution the k-th JSON node of an operator (JSON ids descend through
the final plan) is the k-th final-plan block of that operator. A node
then maps to a layer by its operator and its output columns or
aggregate functions, never by UDF name (both decode variants and the
fold define a function named ``run``).
"""

from __future__ import annotations

import json
import re
import time
import urllib.request

_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0,
          "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_QTY_RE = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]+)?")
_STAGE_RE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")
_NODE_RE = re.compile(r"([A-Za-z][\w ]*?)\s+\((\d+)\)")
_ID_RE = re.compile(r"#\d+L?")
_WRAPPERS = ("WholeStageCodegen", "AdaptiveSparkPlan", "InputAdapter",
             "ShuffleQueryStage", "BroadcastQueryStage", "ResultQueryStage",
             "TableCacheQueryStage", "InMemoryRelation", "ReusedExchange")
PYTHON_OPS = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
              "BatchEvalPython", "FlatMapGroupsInPandas",
              "FlatMapCoGroupsInPandas", "AggregateInPandas",
              "WindowInPandas")


def metric_value(text: str) -> float:
    """A node metric string as a number in seconds / bytes / count.
    Aggregated metrics read 'total (min, med, max ...)\\n<total> (...)';
    the total is taken."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _QTY_RE.match(text.strip())
    if m is None:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1.0)


def metric_stages(text: str) -> set[int]:
    return {int(s) for s in _STAGE_RE.findall(text)}


def _indent(line: str) -> int:
    for i, ch in enumerate(line):
        if ch.isalnum() or ch == "=":
            return i
    return len(line)


def final_plan_blocks(plan: str) -> dict[int, dict]:
    """Operator blocks of the executed (final) plan: id -> {name, text}.
    Blocks under an ``== Initial Plan ==`` marker are the plan AQE
    replaced and never ran."""
    tree, _, details = plan.partition("\n\n\n")
    final: list[int] = []
    skip = None
    for line in tree.splitlines():
        ind = _indent(line)
        if skip is not None:
            if ind >= skip:
                continue
            skip = None
        if "== Initial Plan ==" in line:
            skip = ind
            continue
        m = _NODE_RE.search(line)
        if m:
            final.append(int(m.group(2)))
    blocks = {}
    for b in re.split(r"\n\n(?=\(\d+\) )", details.strip()):
        m = re.match(r"\((\d+)\) ([^\n\[]*)", b)
        if m and int(m.group(1)) in final:
            blocks[int(m.group(1))] = dict(
                name=m.group(2).strip(), text=_ID_RE.sub("", b))
    return blocks


def map_nodes(execution: dict) -> list[dict]:
    """The execution's JSON nodes (wrappers dropped), each with its
    parsed metrics, the stages its metrics name, its parent node id and
    the matched plan-text block ('' when unmatched)."""
    blocks = final_plan_blocks(execution.get("planDescription", ""))
    by_name: dict[str, list[str]] = {}
    for bid in sorted(blocks):
        by_name.setdefault(blocks[bid]["name"], []).append(blocks[bid]["text"])
    parent = {e["fromId"]: e["toId"] for e in execution.get("edges", [])}
    seen: dict[str, int] = {}
    out = []
    for n in sorted(execution["nodes"], key=lambda n: -n["nodeId"]):
        name = n["nodeName"].strip()
        if name.startswith(_WRAPPERS):
            continue
        k = seen.get(name, 0)
        seen[name] = k + 1
        texts = by_name.get(name, [])
        metrics, stages = {}, set()
        for m in n["metrics"]:
            metrics[m["name"]] = metric_value(m["value"])
            stages |= metric_stages(m["value"])
        out.append(dict(id=n["nodeId"], name=name,
                        parent=parent.get(n["nodeId"]), metrics=metrics,
                        stages=stages,
                        text=texts[k] if k < len(texts) else ""))
    return out


def _out_cols(text: str) -> set[str]:
    """Output column names of a plan-text block: the ``Output`` list, or
    for a Python node the list after the function in ``Arguments``
    (the function's own argument list names its inputs)."""
    cols: set[str] = set()
    for line in text.splitlines():
        if line.startswith("Arguments"):
            m = re.search(r"\),\s*\[([^\]]*)\]", line)
            if m:
                cols |= set(re.findall(r"[a-z_][a-z0-9_]*", m.group(1)))
        elif line.startswith("Output"):
            cols |= set(re.findall(r"\b([a-z_][a-z0-9_]*)\b",
                                   line.split(":", 1)[-1]))
    return cols


def classify(node: dict) -> str | None:
    """Layer of one mapped plan node, or None."""
    name, text = node["name"], node["text"]
    low = text.lower()
    if name.startswith("Scan binaryFile"):
        return "binary_decode"
    if name.startswith(PYTHON_OPS):
        cols = _out_cols(text)
        if "geom_digest" in cols or {"page_id", "x0"} <= cols:
            return "binary_decode"
        if cols & {"sections", "wall_ms", "spans_out"}:
            return "extract"
        if "pred_lang" in cols:
            return "textstats"
        return None
    if name.startswith(("Execute InsertIntoHadoopFsRelationCommand",
                        "WriteFiles")):
        return "snapshot"
    if "aggregate" in name.lower():
        if "collect_list(struct(o, offset, s," in low:
            return "extract_job.regroup"
        if "is_header" in low or "hdr_items" in low or "_page_top" in low:
            return "boilerplate"
        if "max(size(spans" in low:
            return "extract_job.probe"
    return None


def node_layers(nodes: list[dict]) -> dict[int, str | None]:
    """Layer per node id. An Exchange or shuffle read takes the layer of
    the first classified operator above it (the consumer it feeds)."""
    by_id = {n["id"]: n for n in nodes}
    own = {n["id"]: classify(n) for n in nodes}
    out = {}
    for n in nodes:
        layer = own[n["id"]]
        if layer is None and n["name"].startswith(("Exchange",
                                                   "AQEShuffleRead")):
            p = n["parent"]
            while p is not None and p in by_id:
                if own[p] is not None:
                    layer = own[p]
                    break
                p = by_id[p]["parent"]
        out[n["id"]] = layer
    return out


class RestCollector:
    """Reads the executions, jobs and stages each timed call produced."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")
        self.mark_exec = -1
        self.mark_job = -1
        self.reset()

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def reset(self) -> None:
        """Ignore everything that ran so far (set-up, warm-up)."""
        execs = self.get("sql?details=false&length=100000")
        jobs = self.get("jobs")
        self.mark_exec = max([e["id"] for e in execs], default=-1)
        self.mark_job = max([j["jobId"] for j in jobs], default=-1)

    def _settled(self) -> tuple[list, list]:
        """New executions and jobs, once the listener has seen them end."""
        for _ in range(50):
            jobs = [j for j in self.get("jobs") if j["jobId"] > self.mark_job]
            execs = self.get(
                f"sql?details=true&planDescription=true"
                f"&offset={self.mark_exec + 1}&length=100000")
            execs = [e for e in execs if e["id"] > self.mark_exec]
            if (all(j["status"] != "RUNNING" for j in jobs)
                    and all(e["status"] != "RUNNING" for e in execs)):
                return execs, jobs
            time.sleep(0.1)
        return execs, jobs

    def collect(self, rec: dict) -> None:
        execs, jobs = self._settled()
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.get("stages?details=false")
                  if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
        nodes = []
        for e in execs:
            mapped = map_nodes(e)
            layers = node_layers(mapped)
            for n in mapped:
                nodes.append(dict(
                    exec=e["id"], id=n["id"], name=n["name"],
                    layer=layers[n["id"]], metrics=n["metrics"],
                    stages=sorted(n["stages"]), matched=bool(n["text"])))
        tasks = {}
        for n in nodes:
            if n["layer"] == "extract" and n["name"].startswith(PYTHON_OPS):
                for sid in n["stages"]:
                    tasks[sid] = self._task_times(sid, stages)
        rec["rest"] = dict(
            executions=[dict(id=e["id"], description=e["description"],
                             duration_ms=e.get("duration"),
                             plan=e.get("planDescription", ""))
                        for e in execs],
            nodes=nodes,
            jobs=[dict(id=j["jobId"], status=j["status"],
                       stages=j["stageIds"]) for j in jobs],
            stages=[dict(id=s["stageId"], attempt=s["attemptId"],
                         tasks=s["numTasks"], failed=s["numFailedTasks"],
                         run_ms=s["executorRunTime"],
                         cpu_ns=s["executorCpuTime"],
                         shuffle_write=s["shuffleWriteBytes"],
                         input_bytes=s["inputBytes"])
                    for s in stages],
            task_run_ms={str(k): v for k, v in tasks.items()})

    def _task_times(self, sid: int, stages: list) -> list[int]:
        att = next((s["attemptId"] for s in stages if s["stageId"] == sid), 0)
        rows = self.get(f"stages/{sid}/{att}/taskList?length=100000")
        return [t["taskMetrics"]["executorRunTime"] for t in rows
                if t.get("taskMetrics")]
