"""Benchmark worker: runs workloads in one Spark session and writes their
raw results as JSON. Started by ``run.py``, which measures the process
tree's memory and turns the results into the metrics line.

    python3 -m perfbench.worker --jobs star_etl:0,query_mix:1 --seed 1 \
        --seconds 10 --size full --out result.json --spans-dir DIR

Each job is ``workload:trace``. Per job: generate the seeded inputs, warm
up with untimed operations, run the closed loop (one client; the next
operation starts when the previous one returns) for at least ``--seconds``
and ``MIN_OPS`` operations, then check the outputs. A cold workload (a
batch job, run once per JVM in production) skips the warm-up and its
untraced run times exactly one pass. With trace 1 the loop alternates
untraced and traced operations (``TRACE_PATTERN``), so the tracing
overhead is measured in the same run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from collections import Counter

# Spark's own Python workers import the package from the checkout root.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

WARMUP_OPS = 1
# an untraced run measures at least this many operations, so its median
# is not one sample
MIN_OPS = 2
# traced runs order their blocks untraced, traced, traced, untraced, so a
# steady drift (JIT still settling) cancels out of the tracing overhead
TRACE_PATTERN = (False, True, True, False)


CLK_TCK = os.sysconf("SC_CLK_TCK")


def group_cpu_s() -> float:
    """CPU seconds used by this process group: the worker, the JVM it
    launched and Spark's Python workers (children they reaped included).
    Unlike wall time it does not grow when the host steals the CPUs."""
    pgid, ticks = os.getpgrp(), 0
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is field 3 of proc(5): pgrp is 5, utime..cstime 14..17
        if int(fields[2]) == pgid:
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def steal_s() -> float:
    """Host-wide CPU time stolen by the hypervisor, from /proc/stat."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / CLK_TCK


def _jvm_exit_code(spark) -> int | None:
    """Exit code of the Spark driver JVM, or None while it runs
    (negative: killed by that signal, as subprocess reports it)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return None if proc is None else proc.poll()


class LayerStats:
    """Span totals of a traced loop, averaged per traced operation or
    per call of the span."""

    def __init__(self, totals: dict, traced_ops: int, overhead_s: float):
        self.totals, self.traced_ops, self.overhead_s = totals, traced_ops, overhead_s

    def per_op(self, span_name: str, key: str = "self_s") -> float:
        return self.totals.get(span_name, {}).get(key, 0.0) / self.traced_ops

    def per_call(self, span_name: str, key: str = "self_s") -> float:
        t = self.totals.get(span_name)
        return t[key] / t["calls"] if t else 0.0


def run_job(spark, name: str, trace: bool, seed: int, seconds: float, size: str,
            work: str, session_start_s: float, spans_dir: str) -> dict:
    from perfbench.common import CheckFailed
    from perfbench.trace import NullTracer, Tracer, layer_totals
    from perfbench.workloads import load

    null = NullTracer()
    tr = Tracer(spark, name) if trace else null
    jobdir = os.path.join(work, f"{name}-{int(trace)}")
    wl = load(name)(spark, jobdir, seed, size)
    res: dict = {"workload": name, "trace": trace, "attempted": 0, "failed": 0, "failures": {}}
    failures: Counter = Counter()

    t0 = time.perf_counter()
    with tr.span("generators.inputs"):
        input_bytes = wl.generate()
    inputs_s = time.perf_counter() - t0
    # A cold workload's untraced run times its first pass in this fresh
    # JVM. A traced run always warms up, so its untraced and traced
    # operations are alike and their difference is the tracing overhead.
    cold = getattr(wl, "cold", False)
    t0 = time.perf_counter()
    if hasattr(wl, "warm_up"):
        wl.warm_up()
    elif trace or not cold:
        for k in range(WARMUP_OPS):
            wl.op(-1 - k, null)
    warmup_s = time.perf_counter() - t0

    latencies: list[float] = []
    traced_latencies: list[float] = []
    cpu: list[float] = []
    stolen: list[float] = []
    items = written = 0
    first_loop_span = len(tr.spans)
    jvm_exit = None
    block = getattr(wl, "trace_block", 1)
    i = 0
    loop_start = time.perf_counter()
    deadline = loop_start + seconds
    footprint = getattr(wl, "footprint", lambda: 0)
    while True:
        traced = trace and TRACE_PATTERN[(i // block) % len(TRACE_PATTERN)]
        # sizing the output is bookkeeping: it stays out of the timed region
        before = footprint()
        c0, st0 = group_cpu_s(), steal_s()
        t0 = time.perf_counter()
        try:
            if traced:
                with tr.span(f"{name}.op"):
                    r = wl.op(i, tr)
            else:
                r = wl.op(i, null)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            failures[type(e).__name__] += 1
            jvm_exit = _jvm_exit_code(spark)
            if jvm_exit is not None:
                failures[f"jvm_exit:{jvm_exit}"] += 1
                break
        else:
            dt = time.perf_counter() - t0
            (traced_latencies if traced else latencies).append(dt)
            if not traced:
                cpu.append(group_cpu_s() - c0)
                stolen.append(steal_s() - st0)
                items += r.items
                written += footprint() - before
        tr.release()
        i += 1
        if cold and not trace:
            break
        if time.perf_counter() < deadline:
            continue
        if failures or (trace and i % (block * len(TRACE_PATTERN)) == 0):
            break
        if not trace and len(latencies) >= MIN_OPS:
            break
    loop_s = time.perf_counter() - loop_start

    res.update(
        attempted=i,
        failed=sum(v for k, v in failures.items() if not k.startswith("jvm_exit")),
        failures=dict(failures),
        setup_s=session_start_s + inputs_s + warmup_s,
        session_start_s=session_start_s,
        inputs_s=inputs_s,
        warmup_s=warmup_s,
        ops=len(latencies),
        op_latencies_s=latencies,
        op_cpu_s=cpu,
        op_steal_s=stolen,
        loop_s=loop_s,
        items=items,
        item=wl.item,
        input_bytes=input_bytes,
        bytes_written_per_input_byte=(written / len(latencies) / input_bytes) if latencies else 0.0,
    )
    if latencies:
        res["wall_s"] = statistics.median(latencies)
        res["cpu_s"] = statistics.median(cpu)
        res["items_per_s"] = items / sum(latencies)
    if jvm_exit is not None:
        res["correct"] = False
        res["check"] = {"error": f"driver JVM exited with {jvm_exit}"}
        return res

    try:
        res["check"] = wl.check()
        res["correct"] = res["failed"] == 0
    except Exception as e:  # noqa: BLE001 - any check error fails the run
        traceback.print_exc()
        res["check"] = {"error": f"{type(e).__name__}: {e}"}
        res["correct"] = False

    if trace:
        totals = layer_totals(tr.spans[first_loop_span:])
        n = max(1, len(traced_latencies))

        layers = {
            "session.start_s": session_start_s,
            "generators.inputs_s": inputs_s,
            "trace.overhead_s": (
                statistics.median(traced_latencies) - statistics.median(latencies)
                if latencies and traced_latencies else 0.0
            ),
            "items_per_s": res.get("items_per_s", 0.0),
            "cpu_s": res.get("cpu_s", 0.0),
        }
        for k in ("jobs", "stages", "tasks", "tasks_failed"):
            layers[f"spark.{k}"] = sum(t[k] for t in totals.values()) / n
        try:
            layers.update(wl.layer_metrics(LayerStats(totals, n, layers["trace.overhead_s"])))
        except CheckFailed as e:
            res["check"] = {**(res.get("check") or {}), "trace_error": str(e)}
            res["correct"] = False
        res["layers"] = layers
        res["traced_latencies_s"] = traced_latencies
        res["layer_totals"] = totals
        os.makedirs(spans_dir, exist_ok=True)
        tr.write(os.path.join(spans_dir, f"spans-{name}-seed{seed}.json"))
    return res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--jobs", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--size", default="full")
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-dir", required=True)
    args = ap.parse_args(argv)

    t0 = time.perf_counter()
    from devcontainers_etl_node_spark.session import get_spark

    spark = get_spark()
    session_start_s = time.perf_counter() - t0
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "spark.driver.memory": spark.conf.get("spark.driver.memory"),
    }
    results = []
    try:
        for job in args.jobs.split(","):
            name, trace = job.split(":")
            results.append(
                run_job(spark, name, trace == "1", args.seed, args.seconds, args.size,
                        os.getcwd(), session_start_s, args.spans_dir)
            )
            with open(args.out, "w") as f:
                json.dump({"host": host, "jobs": results}, f)
    finally:
        if _jvm_exit_code(spark) is None:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
