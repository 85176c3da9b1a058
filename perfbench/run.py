#!/usr/bin/env python3
"""CDC benchmark: runs one named workload against the package's public API
and prints its metrics as the last line of standard output.

    python3 perfbench/run.py --workload default --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` records spans
around each layer's public functions and prints the per-layer metrics.
``--workload all`` runs every workload, each in its own process, and exits
non-zero if any output check fails.  See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "go_data_publisher_spark"
WORKLOADS = ("default", "hot_redelivery")
DRIVER_MEMORY = "3g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "toy"), default="full",
                   help="input sizes; toy is the smoke test's")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="drop a row from the expected state (the check must "
                        "then fail)")
    return p.parse_args(argv)


def run_all(args) -> int:
    """Every workload, each in a fresh process; non-zero if any fails."""
    worst = 0
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", args.scale]
        if args.corrupt_expected:
            cmd.append("--corrupt-expected")
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        print(json.dumps({"workload": w, "exit": proc.returncode,
                          "result": json.loads(lines[-1]) if lines else None}),
              flush=True)
        worst = worst or proc.returncode
    return worst


def pin_host(work: str) -> dict:
    """Host settings every run uses; recorded with the result."""
    cpus = len(os.sched_getaffinity(0))
    settings = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_LOCAL_DIR": f"{work}/spark-local",
        "TMPDIR": f"{work}/tmp",
        # every JVM, the launcher's too: temp files inside the work dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    os.environ.update(settings)
    os.makedirs(settings["TMPDIR"])
    return settings


def package_digest() -> str:
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    """HEAD of the checkout, when the checkout is itself a git repository."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2 or \
            os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def peak_rss_mb(pid: int) -> float:
    """High-water resident set of a process (with a pinned heap, mostly
    the heap itself)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return math.nan


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far: the time a hypervisor
    gave to other guests, a sign of a noisy host."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def start_spark(work: str):
    from go_data_publisher_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        # a fixed-size heap: no resize pauses, so steadier timings; memory
        # is measured as the heap retained after a full collection
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def measure(args, spark, work: str) -> tuple[dict, dict]:
    import check
    import metrics
    import workloads
    from spans import Tracer

    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    steal0 = cpu_steal()
    ctx = workloads.Ctx(spark=spark, work=work, workload=args.workload,
                        seed=args.seed, seconds=args.seconds,
                        size=workloads.SIZES[args.scale])
    t0 = time.perf_counter()
    st = workloads.setup(ctx)
    setup_s = args.session_s + time.perf_counter() - t0
    tracer = None
    if args.trace:
        tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
        tracer.install()
    try:
        p = workloads.run_pass(ctx, st)
    finally:
        if tracer is not None:
            tracer.uninstall()
    steal1 = cpu_steal()
    t1 = time.perf_counter()
    want = p.delivered
    exp = check.expected_state(want).cache()
    problems = check.check_state(p.snapshot_fps, exp, args.corrupt_expected)
    for phase in (p.backfill, p.tail):
        problems += check.check_lineage(phase["lineage"],
                                        workloads.committed(phase))
    problems += check.check_quarantine(
        spark, [p.backfill["quarantine"], p.tail["quarantine"]], want)
    problems += check.check_rows(want, p.serve["responses"])
    exp.unpersist()
    check_s = time.perf_counter() - t1

    if tracer is not None:
        values = metrics.per_layer(tracer, spark.sparkContext, p, setup_s)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
        units = metrics.PER_LAYER
    else:
        values = metrics.end_to_end(p, setup_s)
        units = metrics.END_TO_END
    problems += [f"{k} not measured" for k in units
                 if not math.isfinite(values[k])]
    phases = (p.backfill, p.tail, p.serve)
    attempted = sum(x["attempted"] for x in phases) + len(p.snapshot_reads)
    failed = sum(x["failed"] for x in phases)
    correct = not problems
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed if correct else attempted,
        "metrics": {k: {"value": float(values[k]) if math.isfinite(values[k])
                        else 0.0, "unit": u} for k, u in units.items()},
    }
    info = {
        "session_s": args.session_s, "setup_parts_s": st["setup_parts_s"],
        "sizes": st["sizes"], "problems": problems,
        "peak_rss_mb": peak_rss_mb(jvm_pid),
        "cpu_steal_share": (steal1[0] - steal0[0]) /
                           max(1, steal1[1] - steal0[1]),
        "check_s": check_s,
        "retried": p.backfill["retried"] + p.tail["retried"],
        "phase_s": {k: sum(b - a for a, b in w) for k, w in p.phases.items()},
        "warm_s": {"tail": p.tail["warm_s"], "serve": p.serve["warm_s"]},
        "tail_drain_s": [round(x, 3) for x in p.tail["drain_s"]],
        "backfill_commit_s": [round(x, 3) for x in p.backfill["latencies"]],
        "tail_freshness_samples": len(p.tail["fresh"]),
        "lookup_samples": len(p.serve["latencies"]),
        "lookup_s": [round(x, 3) for x in p.serve["latencies"]],
        "tail_commit_s": [round(c["end"] - c["start"], 3)
                          for c in p.tail["calls"]],
        "freshness_s": [round(x, 2) for x in p.tail["fresh"]],
        "snapshot_reads_s": [round(x, 3) for x in p.snapshot_reads],
    }
    return result, info


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if args.workload == "all":
        return run_all(args)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE}/ not found beside the benchmark",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        settings = pin_host(work)
        t0 = time.perf_counter()
        spark = start_spark(work)
        args.session_s = time.perf_counter() - t0
        result, info = measure(args, spark, work)
        import pyspark

        prov = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
            "git_sha": git_sha(), "package_sha256": package_digest(),
            "nproc": len(os.sched_getaffinity(0)),
            "spark_version": pyspark.__version__,
            "master": spark.sparkContext.master, "host_settings": settings,
            **info,
        }
        print(json.dumps({"provenance": prov}, default=str), flush=True)
        print(json.dumps(result), flush=True)
        return 0 if result["correct"] else 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run is still using it


if __name__ == "__main__":
    sys.exit(main())
