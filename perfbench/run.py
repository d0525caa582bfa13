"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the root of a checkout. Starts ``perfbench.worker`` in its own
process group with ``SPARK_GRAFT_CPUS`` set to the usable core count and
``PYTHONPATH`` pointing at the checkout (Spark's Python workers need it),
samples the resident memory of the worker's whole process tree (Python
driver, JVM, Python workers), and prints a report followed by one JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the ``end_to_end`` ones of BENCHMARK.json, with
``--trace 1`` the ``per_layer`` ones. A run whose worker dies still prints
its line, with the failure counted. Exit code 0 only when every output
check passed and no operation failed.

``--smoke`` runs every workload at a tiny size, traced and untraced, in
one Spark session, and checks that every metric BENCHMARK.json names is
printed with its unit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "devcontainers_etl_node_spark"
WORKLOADS = ("star_etl", "curation_funnel", "incremental_dedup", "query_mix")
# a run must end within 180 s; leave room to stop the JVM and clean up
WORKER_TIMEOUT_S = 165
SMOKE_TIMEOUT_S = 600


def _pgrp_members(pgid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp ...
        state, _, pgrp = stat.rsplit(")", 1)[1].split()[:3]
        if int(pgrp) == pgid and state != "Z":
            out.append(int(d))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of a process group, sampled every 100 ms."""

    def __init__(self, pgid: int):
        super().__init__(daemon=True)
        self.pgid, self.peak_kb = pgid, 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.wait(0.1):
            kb = sum(_rss_kb(p) for p in _pgrp_members(self.pgid))
            self.peak_kb = max(self.peak_kb, kb)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def _meminfo_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop_group(proc: subprocess.Popen, kill: bool) -> None:
    """Wait for the worker's process group (the JVM and Python workers
    share it) to end: a few seconds for the JVM's own shutdown, then
    SIGTERM, then SIGKILL. ``kill`` SIGKILLs the group first."""
    if kill:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    start = time.monotonic()
    while _pgrp_members(proc.pid):
        waited = time.monotonic() - start
        sig = None if waited < 5 else signal.SIGTERM if waited < 10 else signal.SIGKILL
        if sig is not None:
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
        time.sleep(0.1)


def run_worker(jobs: list[str], seed: int, seconds: float, size: str, timeout: float) -> dict:
    """Run the worker to completion; returns its results plus the peak
    RSS, its exit status and host facts."""
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "spark-local"))
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["PYSPARK_PYTHON"] = sys.executable
    cmd = [
        sys.executable, "-m", "perfbench.worker", "--jobs", ",".join(jobs),
        "--seed", str(seed), "--seconds", str(seconds), "--size", size,
        "--out", out, "--spans-dir", os.path.join(ROOT, ".perfbench_out"),
    ]
    host = {"loadavg_start": os.getloadavg(), "mem_total_mb": round(_meminfo_mb())}
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
    sampler = RssSampler(proc.pid)
    sampler.start()
    finished = False
    try:
        proc.wait(timeout=timeout)
        finished = True
    except subprocess.TimeoutExpired:
        pass
    finally:
        # also on SIGTERM/Ctrl-C: never leave the JVM behind
        sampler.stop()
        _stop_group(proc, kill=not finished)
    host["loadavg_end"] = os.getloadavg()
    try:
        with open(out) as f:
            result = json.load(f)
    except (OSError, ValueError):
        result = {"jobs": []}
    shutil.rmtree(work, ignore_errors=True)
    result["host"] = {**result.get("host", {}), **host}
    result["peak_rss_mb"] = sampler.peak_kb / 1024
    result["exit"] = proc.returncode if finished else "timeout"
    return result


def metrics_line(job: dict, peak_rss_mb: float, spec: dict) -> dict:
    """The contract line for one job; metric names and units from
    BENCHMARK.json."""
    if job.get("trace"):
        wanted = spec["per_layer"]
        values = {**job.get("layers", {}), "peak_rss_mb": peak_rss_mb}
    else:
        wanted = spec["end_to_end"]
        values = {k: job.get(k, 0.0) for k in ("setup_s", "wall_s", "bytes_written_per_input_byte")}
    return {
        "correct": bool(job.get("correct")),
        "attempted": max(1, int(job.get("attempted", 0))),
        "failed": int(job.get("failed", 0)),
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted},
    }


# what the report calls the median operation time and the throughput
OP_NAMES = {
    "star_etl": ("wall_s", "events_per_s"),
    "curation_funnel": ("wall_s", "docs_per_s"),
    "incremental_dedup": ("step_p50_s", "ingest_docs_per_s"),
    "query_mix": ("query_p50_s", "queries_per_s"),
}


def report(job: dict, result: dict) -> None:
    """Human-readable lines (stdout, before the JSON line)."""
    name = job["workload"]
    lat, thr = OP_NAMES[name]
    attempted = max(1, job.get("attempted", 0))
    lines = [
        f"workload {name} trace={int(job.get('trace', 0))} ops={job.get('ops', 0)} "
        f"loop_s={job.get('loop_s', 0):.2f}",
        f"  setup_s {job.get('setup_s', 0):.3f} s (session {job.get('session_start_s', 0):.3f}, "
        f"inputs {job.get('inputs_s', 0):.3f}, warm-up {job.get('warmup_s', 0):.3f})",
        f"  {lat} {job.get('wall_s', 0):.4f} s (ops: {', '.join(f'{x:.3f}' for x in job.get('op_latencies_s', []))})",
        f"  cpu_s {job.get('cpu_s', 0):.4f} s (ops: {', '.join(f'{x:.3f}' for x in job.get('op_cpu_s', []))}; "
        f"steal: {', '.join(f'{x:.3f}' for x in job.get('op_steal_s', []))})",
        f"  {thr} {job.get('items_per_s', 0):.2f} 1/s",
        f"  failed_ratio {job.get('failed', 0) / attempted:.4f} ratio "
        f"({job.get('failed', 0)}/{attempted}, {job.get('failures', {})})",
        f"  peak_rss_mb {result['peak_rss_mb']:.1f} MB",
    ]
    if name != "query_mix":
        lines.append(f"  bytes_written_per_input_byte {job.get('bytes_written_per_input_byte', 0):.4f} ratio")
    lines.append(f"  check {json.dumps(job.get('check'))}")
    for k, v in sorted(job.get("layers", {}).items()):
        lines.append(f"  layer {k} {v:.6g}")
    lines.append(f"  host {json.dumps(result['host'])} worker_exit {result['exit']}")
    print("\n".join(lines), flush=True)


def _package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py"))


def smoke(spec: dict) -> int:
    """Every workload at a tiny size, untraced and traced, in one worker.
    Fails unless every job is correct, every line carries exactly the
    BENCHMARK.json metrics with their units, every end-to-end value is
    non-zero on the workloads BENCHMARK.json lists (query_mix writes
    nothing) and every per-layer metric is measured by some workload."""
    jobs = [f"{w}:{t}" for w in WORKLOADS for t in (0, 1)]
    result = run_worker(jobs, seed=1, seconds=1, size="tiny", timeout=SMOKE_TIMEOUT_S)
    problems = [] if len(result["jobs"]) == len(jobs) else [f"{len(result['jobs'])}/{len(jobs)} jobs finished"]
    listed = {w["name"] for w in spec["workloads"]}
    measured = {"peak_rss_mb"}  # sampled here, not by the worker
    for job in result["jobs"]:
        report(job, result)
        line = json.loads(json.dumps(metrics_line(job, result["peak_rss_mb"], spec)))
        print(json.dumps(line), flush=True)
        tag = f"{job['workload']} trace={int(job['trace'])}"
        wanted = spec["per_layer"] if job["trace"] else spec["end_to_end"]
        if {k: v["unit"] for k, v in line["metrics"].items()} != {m["name"]: m["unit"] for m in wanted}:
            problems.append(f"{tag}: metric names or units differ from BENCHMARK.json")
        if not line["correct"]:
            problems.append(f"{tag}: not correct ({job.get('check')})")
        if not job["trace"] and job["workload"] in listed:
            problems += [f"{tag}: {k} is 0" for k, v in line["metrics"].items() if not v["value"]]
        measured |= set(job.get("layers", {}))
    problems += [f"per-layer {m['name']} measured by no workload" for m in spec["per_layer"] if m["name"] not in measured]
    for p in problems:
        print(f"smoke: {p}", flush=True)
    print(f"smoke {'FAILED' if problems else 'ok'}: {len(result['jobs'])} jobs", flush=True)
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not _package_present():
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.smoke:
        return smoke(spec)
    if args.workload is None:
        ap.error("--workload is required")
    result = run_worker([f"{args.workload}:{args.trace}"], args.seed, args.seconds, "full", WORKER_TIMEOUT_S)
    job = result["jobs"][0] if result["jobs"] else {
        "workload": args.workload, "trace": bool(args.trace), "attempted": 1, "failed": 1,
        "failures": {f"worker_exit:{result['exit']}": 1}, "correct": False,
    }
    report(job, result)
    line = metrics_line(job, result["peak_rss_mb"], spec)
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
