"""Per-layer metrics of a traced launch, read from outside the program.

Every public call of a job runs in a span whose Spark jobs carry the job
group "<job id>|<span name>" (jobbench/job.py). After the last job this
module reads Spark's own SQL-node and stage metrics through the UI REST API
and assigns them to layers named after the package's modules. Most layers
are nodes of the one fused execution that `write_sinks` runs:

    Scan parquet (sources) -> Filter (token_prefilter) -> Python node (spans)
    -> Filter (route survival) -> BroadcastHashJoin (enrich) -> write (sink)
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from typing import Dict, List, Optional

# (metric, unit); the order is the order of BENCHMARK.json's per_layer list
LAYER_METRICS = [
    ("sources.rows", "count"),
    ("sources.bytes", "B"),
    ("sources.scan_s", "s"),
    ("sources.tasks", "count"),
    ("token_prefilter.rows_out", "count"),
    ("token_prefilter.pass_ratio", "ratio"),
    ("spans.rows_in", "count"),
    ("spans.python_run_s", "s"),
    ("spans.python_boot_s", "s"),
    ("spans.python_init_s", "s"),
    ("spans.bytes_sent", "B"),
    ("spans.bytes_received", "B"),
    ("spans.task_max_s", "s"),
    ("spans.task_skew", "ratio"),
    ("route.rows_out", "count"),
    ("route.survival_ratio", "ratio"),
    ("enrich.broadcast_s", "s"),
    ("enrich.rows_out", "count"),
    ("sink.write_s", "s"),
    ("sink.files", "count"),
    ("sink.bytes", "B"),
    ("sink.task_peak_mem_mb", "MB"),
    ("aggregate.metrics_s", "s"),
    ("aggregate.bytes_read", "B"),
    ("page.display_s", "s"),
    ("pipeline.plan_s", "s"),
    ("job.spark_jobs", "count"),
    ("job.task_s", "s"),
    ("job.gc_s", "s"),
    ("job.shuffle_bytes", "B"),
    ("job.spill_bytes", "B"),
    ("trace.overhead_s", "s"),
    ("trace.span_cover", "ratio"),
]

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")


def parse_total(value: str) -> float:
    """The total of an SQL metric as the UI formats it: "1,000", "548 ms",
    "12.5 s", "902.5 KiB", or a "total (min, med, max ...)" block whose
    second line starts with the total."""
    line = value.split("\n")[1] if "\n" in value else value
    parts = line.split()
    num = float(parts[0].replace(",", ""))
    if len(parts) > 1 and parts[1] in _UNITS:
        num *= _UNITS[parts[1]]
    return num


def metric_stage(value: str) -> Optional[int]:
    m = _STAGE.search(value)
    return int(m.group(1)) if m else None


class Rest:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)


def _settled(rest: Rest, deadline: float):
    """Jobs and SQL executions once the listener has recorded every end."""
    while True:
        jobs = rest.get("jobs")
        sql = rest.get("sql?details=true&planDescription=false&offset=0&length=100000")
        busy = any(j["status"] == "RUNNING" for j in jobs) or any(
            e["status"] == "RUNNING" for e in sql
        )
        if not busy or time.monotonic() > deadline:
            return jobs, sql
        time.sleep(0.2)


def _node_metrics(node: dict) -> Dict[str, str]:
    return {m["name"]: m["value"] for m in node["metrics"]}


def _chain_from_scan(execution: dict) -> List[dict]:
    """Nodes from the sequences scan up to the write, following the plan's
    edges (child -> parent)."""
    nodes = {n["nodeId"]: n for n in execution["nodes"]}
    parent = {e["fromId"]: e["toId"] for e in execution["edges"]}
    scans = [n for n in execution["nodes"] if n["nodeName"].startswith("Scan")]
    scan = max(scans, key=lambda n: parse_total(_node_metrics(n).get("size of files read", "0")))
    chain = [scan]
    while chain[-1]["nodeId"] in parent:
        chain.append(nodes[parent[chain[-1]["nodeId"]]])
    return chain


def _is_python(node: dict) -> bool:
    return "time to run Python workers" in _node_metrics(node)


def _rows(node: dict) -> float:
    return parse_total(_node_metrics(node)["number of output rows"])


def _one_job(rest: Rest, job: dict, jobs: list, sql: list, stages: dict) -> dict:
    prefix = f"job{job['job']}|"
    mine = [j for j in jobs if (j.get("jobGroup") or "").startswith(prefix)]
    ids = {j["jobId"] for j in mine}
    by_group: Dict[str, set] = {}
    for j in mine:
        by_group.setdefault(j["jobGroup"][len(prefix):], set()).add(j["jobId"])
    stage_ids = {s for j in mine for s in j["stageIds"] if s in stages}
    out: Dict[str, float] = {}

    def executions(group: str) -> list:
        g = by_group.get(group, set())
        return [e for e in sql if g & set(e["successJobIds"])]

    write = next(
        e
        for e in executions("sink.write")
        if any(n["nodeName"].startswith("Execute InsertIntoHadoopFsRelationCommand") for n in e["nodes"])
    )
    chain = _chain_from_scan(write)
    scan = _node_metrics(chain[0])
    py_at = next(i for i, n in enumerate(chain) if _is_python(n))
    py = _node_metrics(chain[py_at])
    span_stage = metric_stage(py["time to run Python workers"])
    out["sources.rows"] = _rows(chain[0])
    out["sources.bytes"] = parse_total(scan["size of files read"])
    out["sources.scan_s"] = parse_total(scan["scan time"])
    out["sources.tasks"] = stages[span_stage]["numTasks"]
    pre = [n for n in chain[1:py_at] if n["nodeName"] == "Filter"]
    out["token_prefilter.rows_out"] = _rows(pre[-1]) if pre else out["sources.rows"]
    out["token_prefilter.pass_ratio"] = out["token_prefilter.rows_out"] / out["sources.rows"]
    out["spans.rows_in"] = out["token_prefilter.rows_out"]
    out["spans.python_run_s"] = parse_total(py["time to run Python workers"])
    out["spans.python_boot_s"] = parse_total(py["time to start Python workers"])
    out["spans.python_init_s"] = parse_total(py["time to initialize Python workers"])
    out["spans.bytes_sent"] = parse_total(py["data sent to Python workers"])
    out["spans.bytes_received"] = parse_total(py["data returned from Python workers"])
    st = stages[span_stage]
    summary = rest.get(f"stages/{span_stage}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0")
    med, mx = summary["executorRunTime"]
    out["spans.task_max_s"] = mx / 1000
    out["spans.task_skew"] = mx / med if med else 0.0
    route = next(n for n in chain[py_at + 1 :] if n["nodeName"] == "Filter")
    out["route.rows_out"] = _rows(route)
    out["route.survival_ratio"] = out["route.rows_out"] / out["spans.rows_in"] if out["spans.rows_in"] else 0.0
    join = next(n for n in chain if n["nodeName"] == "BroadcastHashJoin")
    out["enrich.rows_out"] = _rows(join)
    bx = next(_node_metrics(n) for n in write["nodes"] if n["nodeName"] == "BroadcastExchange")
    out["enrich.broadcast_s"] = sum(
        parse_total(bx[k]) for k in ("time to collect", "time to build", "time to broadcast")
    )
    cmd = next(
        _node_metrics(n)
        for n in write["nodes"]
        if n["nodeName"].startswith("Execute InsertIntoHadoopFsRelationCommand")
    )
    # write time: task time of the fused stage left after the upstream
    # pipeline (the codegen stage feeding the writer, which includes every
    # node it pulls from), plus the commit times
    w_at = next(i for i, n in enumerate(chain) if n["nodeName"] == "WriteFiles")
    feed_id = chain[w_at - 1].get("wholeStageCodegenId")
    feed = [n for n in write["nodes"] if n["nodeName"] == f"WholeStageCodegen ({feed_id})"]
    upstream = parse_total(_node_metrics(feed[0])["duration"]) if feed else 0.0
    out["sink.write_s"] = max(0.0, st["executorRunTime"] / 1000 - upstream) + parse_total(
        cmd.get("job commit time", "0 ms")
    ) + parse_total(cmd.get("task commit time", "0 ms"))
    out["sink.files"] = parse_total(cmd["number of written files"])
    out["sink.bytes"] = parse_total(cmd["written output"])
    out["sink.task_peak_mem_mb"] = summary["peakExecutionMemory"][1] / 1e6
    spans = {name: b - a for name, a, b in job["spans"]}
    out["aggregate.metrics_s"] = spans["aggregate.metrics"] + spans["aggregate.searches"]
    out["aggregate.bytes_read"] = sum(
        parse_total(_node_metrics(n).get("size of files read", "0"))
        for g in ("aggregate.metrics", "aggregate.searches")
        for e in executions(g)
        for n in e["nodes"]
        if n["nodeName"].startswith("Scan")
    )
    out["page.display_s"] = spans["page.display"]
    out["pipeline.plan_s"] = spans["pipeline.plan"]
    out["job.spark_jobs"] = len(ids)
    out["job.task_s"] = sum(stages[s]["executorRunTime"] for s in stage_ids) / 1000
    out["job.gc_s"] = sum(stages[s]["jvmGcTime"] for s in stage_ids) / 1000
    out["job.shuffle_bytes"] = sum(stages[s]["shuffleWriteBytes"] for s in stage_ids)
    out["job.spill_bytes"] = sum(
        stages[s]["memoryBytesSpilled"] + stages[s]["diskBytesSpilled"] for s in stage_ids
    )
    out["trace.span_cover"] = sum(spans.values()) / job["wall_s"]
    out["_span_node"] = chain[py_at]["nodeName"]
    return out


def job_layers(spark, jobs: list) -> dict:
    """Per-layer metrics of every finished job of this session."""
    rest = Rest(spark)
    spark_jobs, sql = _settled(rest, time.monotonic() + 10)
    stages = {
        s["stageId"]: s for s in rest.get("stages?details=false") if s["status"] == "COMPLETE"
    }
    return {str(j["job"]): _one_job(rest, j, spark_jobs, sql, stages) for j in jobs if j.get("ok")}


def per_layer(traced: dict, untraced_warm_s: float, steady) -> dict:
    """Medians over the steady warm jobs of the traced launch, plus the
    tracing overhead: traced minus untraced median warm job time.
    `spans.python_init_s` is the cold job's: Spark reports it as the time
    since the reused Python worker started, so on warm jobs it counts the
    jobs before them too."""
    by_job = traced["layers"]
    st = [j for j in steady(traced["jobs"]) if str(j["job"]) in by_job]
    values = {}
    for name, _ in LAYER_METRICS:
        if name == "trace.overhead_s":
            values[name] = statistics.median(j["wall_s"] for j in st) - untraced_warm_s
        elif name == "spans.python_init_s":
            values[name] = by_job["0"][name]
        else:
            values[name] = statistics.median(by_job[str(j["job"])][name] for j in st)
    return values
