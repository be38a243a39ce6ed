"""Data-lake benchmark for pydala2_spark.

Usage (from any directory; paths below are relative to the repository):

    python3 perfbench/run.py --workload lake_mixed --seed 1 --seconds 20 --trace 0

Workloads (see workloads.py): ``lake_mixed`` and ``registry_fixed``.
Each is a closed loop with one client on one ``local[<cpus>]``
SparkSession. The inputs are made from ``--seed``; every result is
checked against DuckDB and a wrong result counts as a failed operation.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps each
layer's entry points with spans (spans.py), reads Spark's status store
per operation, writes the spans to ``.perfbench_out/`` and prints the
per-layer metrics (layers.py). The tracing overhead is the difference
between the traced run's ``trace.ops_per_s`` and ``ops_per_s`` of
untraced runs; ``trace.overhead_frac`` estimates it from the cost of a
span.

The last line of standard output is one JSON object ``{"correct",
"attempted", "failed", "metrics"}``; the lines before it give the run
conditions (CPUs, driver heap, load average, calibration probe at both
ends), every operation's latency and every metric with its unit.

Tests of the harness itself: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "class_geomean_s": "s",
    "op_p90_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["lake_mixed", "registry_fixed"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# statistics


def summarize(records: list[dict]) -> dict:
    """End-to-end latency metrics of a finished loop. A record is
    ``{"cls", "latency", "ok"}``; ``ok`` is False for an error or a wrong
    result. Latencies of every attempted operation count."""
    lat = [r["latency"] for r in records]
    by_cls: dict[str, list[float]] = {}
    for r in records:
        by_cls.setdefault(r["cls"], []).append(r["latency"])
    medians = {c: statistics.median(v) for c, v in by_cls.items()}
    failed = sum(1 for r in records if not r["ok"])
    return {
        "attempted": len(records),
        "failed": failed,
        "failed_op_frac": failed / len(records),
        "op_p50_s": statistics.median(lat),
        "op_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[-1],
        "class_geomean_s": math.exp(statistics.fmean(math.log(m) for m in medians.values())),
        "class_p50_s": medians,
        "class_n": {c: len(v) for c, v in by_cls.items()},
    }


# ---------------------------------------------------------------------------
# run conditions


def _jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set (MB) of this Python process and of the driver JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    return py, _vm_hwm_mb(_jvm_pid(spark))


def calib_s(spark) -> float:
    """Fixed-work calibration probe: one small Spark job whose cost does
    not depend on this repository's code (min of 3, seconds). A loaded
    box inflates it the way it inflates every operation."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, 16).selectExpr("sum(id * 3 % 7)").collect()
        best = min(best, time.perf_counter() - t0)
    return best


def conditions(spark, when: str) -> dict:
    return {
        "when": when,
        "cpus": os.cpu_count(),
        "driver_mem": spark.sparkContext.getConf().get("spark.driver.memory"),
        "loadavg": os.getloadavg(),
        "calib_s": calib_s(spark),
    }


# ---------------------------------------------------------------------------
# session


def start_spark(work: str):
    """One ``local[<cpus>]`` session whose scratch space, Python workers
    and temp files all stay inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers start from a fresh interpreter: hand them the
    # package's location, or they fail with ModuleNotFoundError when the
    # benchmark runs outside the repository root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    # both JVMs (the spark-submit launcher and the driver) keep their
    # temp files in the work directory and write no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp
    from pydala2_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=os.cpu_count(),
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and with it the
    Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------------------
# the loop


def run_loop(wl, ops, seconds: float, tracer=None, jobs=None) -> list[dict]:
    """Closed loop: issue operations one after another until ``seconds``
    have passed and at least one whole cycle (every class once) has run.
    With a tracer every operation is traced; what tracing needs beyond
    the spans (file listings, Spark's status store) is read outside the
    timed region."""
    from workloads import CYCLE, op_class

    records = []
    t_start = time.perf_counter()
    for i, op in enumerate(ops):
        if i >= CYCLE[wl.name] and time.perf_counter() - t_start >= seconds:
            break
        rec = {"i": i, "op": op, "cls": op_class(wl.name, op)}
        if tracer:
            rec["before"] = wl.observe(op)
            tracer.op, tracer.enabled = i, True
            jobs.begin(i)
        t0 = time.perf_counter()
        try:
            rec["result"] = wl.run(op)
            rec["error"] = None
        except Exception as e:  # a failed operation is counted, not fatal
            rec["result"], rec["error"] = None, f"{type(e).__name__}: {e}"
        rec["latency"] = time.perf_counter() - t0
        if tracer:
            tracer.enabled, tracer.op = False, None
            rec["spark"] = jobs.end(i)
            rec["after"] = wl.observe(op)
        records.append(rec)
    return records


def check(wl, records: list[dict]) -> list[dict]:
    """Mark each record ``ok`` when it ran and equals the oracle's result;
    the lake_mixed end state of both copies is checked on the last
    record."""
    from workloads import matches

    want = wl.expected([r["op"] for r in records])
    for r, w in zip(records, want):
        r["ok"] = r["error"] is None and matches(wl.name, r["result"], w)
    if wl.name == "lake_mixed":
        got = [tuple(g) for g in wl.final_state()]
        if got != [tuple(f) for f in wl.final]:
            records[-1]["ok"] = False
            records[-1]["error"] = f"end state {got} != oracle {wl.final}"
    return records


# ---------------------------------------------------------------------------
# main


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pydala2_spark")):
        print(f"perfbench: no pydala2_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads
    from spans import SparkJobs, Tracer, instrument

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        boot_s = time.perf_counter() - t0
        cond = [conditions(spark, "start")]

        tracer = Tracer() if args.trace else None
        inst = instrument(tracer) if tracer else None
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        builds = []
        for i in range(wl.setup_repeats):
            if tracer:
                tracer.enabled = True
            t0 = time.perf_counter()
            wl.setup(i)
            builds.append(time.perf_counter() - t0)
            if tracer:
                tracer.enabled = False
        setup_s = boot_s + statistics.median(builds)
        ops = workloads.OP_LISTS[args.workload](args.seed)

        t0 = time.perf_counter()
        records = run_loop(wl, ops, args.seconds, tracer, SparkJobs(spark) if tracer else None)
        loop_s = time.perf_counter() - t0
        check(wl, records)
        summary = summarize(records)
        stored_bytes, live_rows = wl.stored()
        cond.append(conditions(spark, "end"))
        rss_py, rss_jvm = peak_rss_mb(spark)

        e2e = {
            "setup_s": setup_s,
            "ops_per_s": len(records) / loop_s,
            "class_geomean_s": summary["class_geomean_s"],
            "op_p90_s": summary["op_p90_s"],
            "peak_rss_mb": rss_py + rss_jvm,
        }
        for c in cond:
            print("# conditions " + json.dumps(c))
        print(f"# operations attempted={summary['attempted']} failed={summary['failed']} "
              f"failed_op_frac={summary['failed_op_frac']:.4f} op_p50_s={summary['op_p50_s']:.4f} "
              f"loop_s={loop_s:.3f} "
              f"boot_s={boot_s:.3f} builds_s={[round(b, 3) for b in builds]}")
        for c, m in sorted(summary["class_p50_s"].items()):
            print(f"# class {c}: p50={m:.4f} s n={summary['class_n'][c]}")
        print(f"# peak_rss_mb python={rss_py:.1f} jvm={rss_jvm:.1f}")
        print(f"# stored_bytes_per_row={stored_bytes / max(live_rows, 1):.3f} B "
              f"(bytes={stored_bytes} rows={live_rows})")
        for r in records:
            status = "ok" if r["ok"] else f"FAILED: {r['error'] or 'wrong result'}"
            print(f"# op {r['i']} {r['op'][0]} {r['cls']} {r['latency']:.3f} s {status}")
        if tracer:
            from layers import layer_metrics

            inst.undo()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl")
            tracer.write(spans_path)
            print(f"# spans written to {spans_path} ({len(tracer.spans)} spans)")
            metrics = layer_metrics(
                wl, records, tracer, summary, stored_bytes, live_rows, e2e["ops_per_s"]
            )
            units = {k: u for k, (_, u) in metrics.items()}
            values = {k: v for k, (v, _) in metrics.items()}
        else:
            units, values = END_TO_END, e2e
        for k in values:
            print(f"# metric {k} = {values[k]:.6g} {units[k]}")
        result = {
            "correct": summary["failed"] == 0,
            "attempted": summary["attempted"],
            "failed": summary["failed"],
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in values},
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
