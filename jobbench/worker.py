"""The Spark side of one benchmark launch: one process, one SparkSession.

    python3 jobbench/worker.py --workload W --data DIR --golden FILE \
        --work DIR --pyfiles ZIP --seconds S --min-warm N --trace 0|1

Prints "READY" once the session is up and the pipeline is built (run.py
times set-up from process start to that line). Then runs one cold job and
warm jobs back to back, a closed loop with one client, until `--seconds`
have passed and at least `--min-warm` warm jobs have run, and prints
"JOBS_DONE" (run.py samples memory up to that line). After the last job,
outside every timed region, each job's outputs are checked against the
golden result, together with a tampered copy of the last sink that the
check must catch. Prints "RESULT <json>" last.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from golden import check, sink_digests  # noqa: E402

MAX_WARM = 12


def session_settings(work: str, pyfiles: str, ui_port: int) -> dict:
    """Settings that differ from a bare `spark-submit --master local[N]`
    launch, each with its reason; everything else keeps Spark's default.
    spark.driver.memory stays at its 1g default: a 4g heap ran the jobs no
    faster, and its peak PSS varied between 2.8 and 3.9 GB from run to run."""
    settings = {
        "spark.submit.pyFiles": (
            pyfiles,
            "ships the package to the Python workers the way run_job's "
            "documented --py-files launch does",
        ),
        "spark.local.dir": (os.path.join(work, "local"), "a fresh local dir per run"),
        "spark.sql.warehouse.dir": (os.path.join(work, "warehouse"), "a fresh warehouse per run"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
            "keeps JVM temporary and perf-data files out of /tmp",
        ),
        "spark.ui.showConsoleProgress": ("false", "progress bars only add stderr noise"),
    }
    if ui_port:
        settings["spark.ui.port"] = (str(ui_port), "traced run: the REST API serves layer metrics")
    else:
        settings["spark.ui.enabled"] = ("false", "untraced run: no UI listener cost")
    return settings


def build_session(nproc: int, settings: dict):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.master(f"local[{nproc}]").appName("txtlogparser-jobbench")
    for k, (v, _) in settings.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def counts_table(path: str) -> dict:
    """{matcher id: [occurrence_count, line_count]} of a metrics table."""
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    ids = t.column(0).to_pylist()
    return {
        str(k): [occ, lines]
        for k, occ, lines in zip(
            ids, t.column("occurrence_count").to_pylist(), t.column("line_count").to_pylist()
        )
    }


def verify(spark, golden_result: dict, work: str, jobs: list) -> dict:
    """Compare every finished job's outputs with the golden result, in place
    (`mismatch`, `ok`), after the last job. A copy of the last sink with one
    token changed is checked in the same pass; returns that self-check."""
    done = [j for j in jobs if "out" in j]
    sinks = {str(j["job"]): os.path.join(j["out"], "routed") for j in done}
    self_check = {"detected": False}
    if done:
        tampered = os.path.join(work, "out", "tampered")
        shutil.copytree(done[-1]["out"], tampered)
        self_check["file"] = tamper(tampered)
        sinks["tampered"] = os.path.join(tampered, "routed")
    digests = sink_digests(spark, sinks) if sinks else {}
    want = (golden_result["rows"], golden_result["digest"])
    for j in done:
        rows, digest = digests[str(j["job"])]
        got = {
            "rows": j["rows_routed"],
            "digest": digest,
            "filters": counts_table(os.path.join(j["out"], "metrics_filters")),
            "searches": counts_table(os.path.join(j["out"], "metrics_searches")),
            "page": j.pop("page"),
        }
        j["mismatch"] = check(golden_result, got) + (["sink_rows"] if rows != want[0] else [])
        j["ok"] = not j["mismatch"]
    if done:
        self_check["detected"] = digests["tampered"] != want
    return self_check


def tamper(out_dir: str) -> str:
    """Change one token of one routed row in the largest sink file, the way
    a silent storage or writer fault would. Returns the file changed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = []
    for root, _, names in os.walk(os.path.join(out_dir, "routed")):
        files += [os.path.join(root, f) for f in names if f.endswith(".parquet")]
    path = max(files, key=os.path.getsize)
    t = pq.read_table(path)
    tokens = t.column("tokens").combine_chunks()
    values = tokens.values.to_numpy(zero_copy_only=False).copy()
    values[tokens.offsets[0].as_py()] ^= 1
    changed = pa.ListArray.from_arrays(tokens.offsets, pa.array(values, type=tokens.type.value_type))
    t = t.set_column(t.schema.get_field_index("tokens"), "tokens", changed)
    pq.write_table(t, path)
    # the local file system checks .crc side files on read; drop it so the
    # change reaches the digest instead of failing the read
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return os.path.relpath(path, out_dir)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--golden", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--pyfiles", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--min-warm", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ui-port", type=int, default=0)
    args = ap.parse_args()

    nproc = len(os.sched_getaffinity(0))
    settings = session_settings(args.work, args.pyfiles, args.ui_port if args.trace else 0)
    spark = build_session(nproc, settings)

    from txtlogparser_spark.plans.pipeline import LogPipeline
    from txtlogparser_spark.sources.fixtures import build_vocab

    from job import Tracer, run_job
    from procs import session_cpu_s
    from workloads import WORKLOADS

    ws = WORKLOADS[args.workload].workspace()
    vocab = build_vocab()
    info = spark.read.parquet(os.path.join(args.data, "source_info.parquet"))
    LogPipeline(spark, ws, vocab, source_info=info)
    print("READY", flush=True)

    sid = os.getsid(0)
    jobs = []
    warm_t0 = None
    while True:
        i = len(jobs)
        out_dir = os.path.join(args.work, "out", f"job-{i}")
        tracer = Tracer(spark, f"job{i}", tag_jobs=bool(args.trace))
        rec = {"job": i, "cold": i == 0, "ok": False}
        jobs.append(rec)
        c0, t0 = session_cpu_s(sid), time.perf_counter()
        try:
            n, page = run_job(spark, ws, vocab, info, args.data, out_dir, tracer)
        except Exception:  # one failed job is a result, not a crash
            rec["error"] = traceback.format_exc(limit=3)
            break
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = session_cpu_s(sid) - c0
        rec["t_start"], rec["t_end"] = t0, t0 + rec["wall_s"]
        rec["spans"] = [[name, a - t0, b - t0] for name, a, b in tracer.spans]
        rec["rows_routed"] = n
        rec["page"] = page
        rec["out"] = out_dir
        rec["sink_bytes"] = dir_bytes(out_dir)
        if i == 0:
            warm_t0 = time.perf_counter()
        elif i >= MAX_WARM or (i >= args.min_warm and time.perf_counter() - warm_t0 >= args.seconds):
            break
    print("JOBS_DONE", flush=True)

    with open(args.golden) as fh:
        golden_result = json.load(fh)
    v0 = time.perf_counter()
    self_check = verify(spark, golden_result, args.work, jobs)
    verify_s = time.perf_counter() - v0

    layers = None
    if args.trace:
        from layers import job_layers

        layers = job_layers(spark, jobs)

    jvm = spark.sparkContext._jvm.System
    result = {
        "nproc": nproc,
        "spark": spark.version,
        "java": f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}",
        "session": {k: {"value": v, "why": why} for k, (v, why) in settings.items()},
        "jobs": jobs,
        "self_check": self_check,
        "verify_s": verify_s,
        "layers": layers,
    }
    spark.stop()
    print("RESULT " + json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
