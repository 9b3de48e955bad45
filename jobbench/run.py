"""Log-pipeline benchmark: one workload, one seed, one run.

    python3 jobbench/run.py --workload wordlocal_hot --seed 1 --seconds 10 --trace 0

Run from the repository root; the package `txtlogparser_spark` must sit
next to this directory. A run

1. generates the workload's input from the seed with the repository's
   fixture generator, and computes its golden result with the pure-Python
   oracle (both cached under .jobbench_work/, never timed);
2. zips the package for the Python workers, as run_job's --py-files launch
   does, and reads the input files once so that no job times the disk;
3. with --trace 0, launches one worker process (jobbench/worker.py) with a
   fresh Spark local dir and warehouse, samples the memory of its process
   session until its last job ends, and reports the end-to-end metrics;
4. with --trace 1, launches an untraced worker and right after it a traced
   one (Spark UI on, jobs tagged per public call), each for half the
   seconds and at least one warm job, and reports the per-layer metrics
   plus the tracing overhead: traced minus untraced median warm job time
   of these two launches.

Every job's outputs are checked against the golden result. On every way
out (SIGTERM, SIGINT and SIGHUP included) the run kills and reaps every
process below it, zombies included. The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}; the line before it
is the run record (seed, nproc, versions, session settings,
load, steal, every job), which is also appended to .jobbench_work/runs.jsonl.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "txtlogparser_spark"
WORK = os.path.join(ROOT, ".jobbench_work")
PSS_PERIOD_S = 0.25
# a run must end within 180 s; the first run of a checkout also generates
# inputs and golden results and is allowed longer
RUN_BUDGET_S = 175.0
# warm jobs per untraced run, at least; each traced launch runs one
MIN_WARM = 2

END_TO_END_UNITS = {
    "throughput_seq_per_s": "seq/s",
    "first_job_s": "s",
    "setup_s": "s",
    "cpu_s_per_job": "s",
    "peak_mem_mb": "MB",
    "sink_mb": "MB",
    "jobs_ok_ratio": "ratio",
}


def fail(msg: str) -> None:
    print(f"jobbench: {msg}", file=sys.stderr)
    sys.exit(2)


class SessionWatch:
    """Samples the summed PSS of one process session until stopped."""

    def __init__(self, sid: int) -> None:
        self.sid = sid
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        from procs import session_pss_bytes

        while not self._stop.wait(PSS_PERIOD_S):
            self.peak = max(self.peak, session_pss_bytes(self.sid))

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def cpu_stat() -> tuple:
    """(total, steal) jiffies of the whole box."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), vals[7]


def loadavg1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def prepare_input(workload, seed: int) -> str:
    """The workload's input for `seed`, generated once. Inputs of other
    seeds of the same workload are removed to bound disk use."""
    from txtlogparser_spark.sources.fixtures import write_fixture_tables

    spec = workload.spec(seed)
    root = os.path.join(WORK, "data")
    name = f"{workload.name}-s{seed}-n{spec.n_rows}"
    path = os.path.join(root, name)
    os.makedirs(root, exist_ok=True)
    for other in os.listdir(root):
        if other.startswith(workload.name + "-") and other != name:
            shutil.rmtree(os.path.join(root, other), ignore_errors=True)
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write_fixture_tables(tmp, spec)
        os.replace(tmp, path)
    return path


def prepare(workload, seed: int, nproc: int) -> tuple:
    """(input dir, golden result path, package zip), all cached, with the
    input and the zip read once into the page cache."""
    from golden import golden

    data = prepare_input(workload, seed)
    gdir = os.path.join(WORK, "golden")
    os.makedirs(gdir, exist_ok=True)
    gpath = os.path.join(gdir, f"{os.path.basename(data)}-{workload.workspace().digest()[:12]}.json")
    golden(data, workload.name, gpath, procs=nproc)
    pyfiles = package_zip()
    read_once([data, pyfiles])
    return data, gpath, pyfiles


def package_zip() -> str:
    """The package as a zip, named by a digest of its sources."""
    src = os.path.join(ROOT, PACKAGE)
    files = []
    for root, dirs, names in os.walk(src):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        files += [os.path.join(root, n) for n in sorted(names) if n.endswith(".py")]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    path = os.path.join(WORK, "pyfiles", f"{PACKAGE}-{h.hexdigest()[:16]}.zip")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
            for f in files:
                z.write(f, os.path.relpath(f, ROOT))
        os.replace(tmp, path)
    return path


def read_once(paths) -> None:
    """Read every file under `paths`, so that the first job finds the input
    in the page cache."""
    for p in paths:
        walk = [(os.path.dirname(p), [], [os.path.basename(p)])] if os.path.isfile(p) else os.walk(p)
        for root, _, names in walk:
            for name in names:
                with open(os.path.join(root, name), "rb") as fh:
                    while fh.read(1 << 20):
                        pass


def launch(
    workload: str,
    data: str,
    golden_path: str,
    pyfiles: str,
    trace: int,
    seconds: float,
    min_warm: int,
    deadline: float,
) -> dict:
    """One worker process: set-up, a cold job, warm jobs. Returns its
    result plus set-up time, peak PSS over set-up and jobs, load and steal.
    The worker is killed at `deadline` (time.monotonic)."""
    tag = "traced" if trace else "untraced"
    from procs import die_with_parent, reap_session

    run_dir = os.path.join(WORK, "runs", f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}-{tag}")
    for sub in ("local", "warehouse", "tmp", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(
        os.environ,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--data", data, "--golden", golden_path,
        "--work", run_dir, "--pyfiles", pyfiles, "--seconds", str(seconds),
        "--min-warm", str(min_warm),
        "--trace", str(trace), "--ui-port", str(free_port() if trace else 0),
    ]
    load0, (tot0, steal0) = loadavg1(), cpu_stat()
    with open(os.path.join(run_dir, "worker.log"), "wb") as log:
        t0 = time.monotonic()
        proc = subprocess.Popen(
            cmd,
            cwd=run_dir,
            env=env,
            stdout=subprocess.PIPE,
            stderr=log,
            start_new_session=True,
            preexec_fn=die_with_parent,
        )
        watch = SessionWatch(proc.pid)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        timer.start()
        setup_s = None
        result = None
        try:
            for line in proc.stdout:
                line = line.decode().rstrip("\n")
                if line == "READY":
                    setup_s = time.monotonic() - t0
                elif line == "JOBS_DONE":
                    # verification and the REST reads are not part of a job
                    watch.stop()
                elif line.startswith("RESULT "):
                    result = json.loads(line[len("RESULT "):])
            proc.wait()
        finally:
            timer.cancel()
            watch.stop()
            reaped = reap_session(proc.pid, timeout=20.0)
    tot1, steal1 = cpu_stat()
    if result is None:
        with open(os.path.join(run_dir, "worker.log"), "rb") as fh:
            tail = fh.read()[-4000:].decode(errors="replace")
        fail(f"worker exited with {proc.returncode} and no result:\n{tail}")
    shutil.rmtree(run_dir, ignore_errors=True)
    result.update(
        setup_s=setup_s,
        peak_pss_bytes=watch.peak,
        loadavg_start=load0,
        loadavg_end=loadavg1(),
        steal_pct=100.0 * (steal1 - steal0) / max(1, tot1 - tot0),
        reaped=reaped,
        trace=trace,
    )
    return result


def steady(jobs: list) -> list:
    """The warm jobs the medians are taken over: all of them. Warm jobs
    still speed up from one to the next while the JVM compiles planner
    code (the first by ~20%, later ones by a few percent); the run budget
    of the benchmark leaves no room to discard the first."""
    return [j for j in jobs if not j["cold"] and j.get("ok")]


def require_measurable(launch_result: dict) -> None:
    """The cold job and at least one warm job must have succeeded."""
    jobs = launch_result["jobs"]
    if not (steady(jobs) and jobs[0].get("ok")):
        fail(f"too few jobs succeeded to measure: {[j.get('error') or j.get('mismatch') for j in jobs]}")


def end_to_end(launch_result: dict, n_rows: int) -> dict:
    jobs = launch_result["jobs"]
    st = steady(jobs)
    ok = sum(1 for j in jobs if j.get("ok"))
    return {
        "throughput_seq_per_s": n_rows / statistics.median(j["wall_s"] for j in st),
        "first_job_s": jobs[0]["wall_s"],
        "setup_s": launch_result["setup_s"],
        "cpu_s_per_job": statistics.median(j["cpu_s"] for j in st),
        "peak_mem_mb": launch_result["peak_pss_bytes"] / 1e6,
        "sink_mb": statistics.median(j["sink_bytes"] for j in jobs if j.get("ok")) / 1e6,
        "jobs_ok_ratio": ok / len(jobs),
    }


def _exit_on_signal(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def run_reaped(body) -> None:
    """Call `body` as a child subreaper, and on every way out of it, signals
    included, kill and reap every process below this one."""
    from procs import become_subreaper, reap_descendants

    signals = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)
    for sig in signals:
        signal.signal(sig, _exit_on_signal)
    become_subreaper()
    try:
        body()
    finally:
        for sig in signals:
            signal.signal(sig, signal.SIG_IGN)
        reap_descendants(timeout=30.0)


def main() -> None:
    sys.path[:0] = [ROOT, HERE]
    run_reaped(run)


def run() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        fail(f"package {PACKAGE}/ not found next to {os.path.basename(HERE)}/; run from a full checkout")
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))

    t = time.monotonic()
    data, gpath, pyfiles = prepare(workload, args.seed, nproc)
    prep_s = time.monotonic() - t
    deadline = max(t + RUN_BUDGET_S, time.monotonic() + RUN_BUDGET_S - 60)

    def run_launch(trace: int, seconds: float, min_warm: int) -> dict:
        res = launch(workload.name, data, gpath, pyfiles, trace, seconds, min_warm, deadline)
        require_measurable(res)
        return res

    if args.trace:
        # the untraced launch is the baseline of the tracing overhead; both
        # share the run budget
        launches = [run_launch(t, args.seconds / 2, 1) for t in (0, 1)]
    else:
        launches = [run_launch(0, args.seconds, MIN_WARM)]

    import pyarrow
    import pyspark

    record = {
        "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "n_rows": workload.n_rows,
        "nproc": nproc,
        "versions": {
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "java": launches[-1]["java"],
            "python": platform.python_version(),
        },
        "prep_s": prep_s,
        "launches": launches,
    }
    jobs = [j for L in launches for j in L["jobs"]]
    attempted = len(jobs)
    ok = sum(1 for j in jobs if j.get("ok"))
    correct = ok == attempted and all(L["self_check"]["detected"] for L in launches)

    if args.trace:
        from layers import LAYER_METRICS, per_layer

        untraced_warm = statistics.median(j["wall_s"] for j in steady(launches[0]["jobs"]))
        values = per_layer(launches[1], untraced_warm, steady)
        units = dict(LAYER_METRICS)
    else:
        values = end_to_end(launches[0], workload.n_rows)
        units = END_TO_END_UNITS
    record["metrics"] = values
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "runs.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": attempted - ok,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )


if __name__ == "__main__":
    main()
