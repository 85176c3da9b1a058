"""Metric definitions and their computation from a measured pass.

End-to-end metrics come from untraced runs; per-layer metrics from a traced
run, its spans and Spark's status store.  ``BENCHMARK.json`` lists the same
names and units; the smoke test holds the two in step.
"""

from __future__ import annotations

import json
import math
import os
import statistics

from spans import MANIFEST_READS, dur, group_spark_stats, wait_listener_bus

END_TO_END = {
    "setup_s": "s",
    "backfill_events_per_s": "events/s",
    "freshness_p50_s": "s",
    "freshness_p90_s": "s",
    "lookup_p50_s": "s",
    "lookup_p90_s": "s",
    "snapshot_read_s": "s",
    "stored_bytes_per_event": "bytes/event",
    "retained_heap_mb": "MB",
}

# measured on the commits of both writing phases, under these prefixes
COMMIT_LAYER = {
    "spark.shuffle_write_bytes_per_event": "bytes/event",
    "spark.write_stage.executor_run_s": "s",
    "spark.write_stage.task_max_over_median": "ratio",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.jobs_per_commit": "count",
    "spark.tasks_per_commit": "count",
    "table.merge.busy_s": "s",
    "table.evolve_schema.busy_s": "s",
    "table.manifest_reads_per_commit": "count",
    "apply.apply_batch.p50_s": "s",
    "apply.self_s": "s",
    "apply.unattributed_share": "ratio",
    "apply.failures_retried": "count",
    "apply.degraded_commits": "count",
}
PER_LAYER = {
    **{f"{phase}.{k}": u for phase in ("backfill", "tail")
       for k, u in COMMIT_LAYER.items()},
    "tail.table.compact.calls": "count",
    "tail.table.compact.busy_s": "s",
    "tail.pipeline.self_s": "s",
    "tail.pipeline.files_per_batch": "count",
    "tail.pipeline.backlog_files.max": "count",
    "tail.generator.late_s.max": "s",
    "serve.table.delta_files_per_bucket.max": "count",
    "serve.table.live_files": "count",
    "serve.table.snapshot.busy_s": "s",
    "serve.table.lookup.busy_s": "s",
    "serve.table.bucket_of.busy_s": "s",
    "serve.serving.self_s": "s",
    "serve.serving.http_s": "s",
    "trace.backfill_events_per_s": "events/s",
    "trace.freshness_p50_s": "s",
    "trace.lookup_p50_s": "s",
    "trace.bookkeeping_s": "s",
}


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q: float) -> float:
    """Linearly interpolated quantile (numpy's default).  Over the few
    lookups of a run, p90 then blends the two slowest instead of being the
    slowest alone."""
    xs = sorted(xs)
    if not xs:
        return math.inf
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def end_to_end(p, setup_s: float) -> dict:
    b, fresh, lookups = p.backfill, p.tail["fresh"], p.serve["latencies"]
    return {
        "setup_s": setup_s,
        "backfill_events_per_s": median(b["rates"]),
        "freshness_p50_s": median(fresh) if fresh else math.inf,
        "freshness_p90_s": quantile(fresh, 0.9),
        "lookup_p50_s": median(lookups) if lookups else math.inf,
        "lookup_p90_s": quantile(lookups, 0.9),
        "snapshot_read_s": median(p.snapshot_reads),
        "stored_bytes_per_event": p.stored_bytes_per_event,
        "retained_heap_mb": p.retained_heap_mb,
    }


def in_phase(spans, windows) -> list[dict]:
    """The spans that start inside one of ``windows``, [(start, end)]."""
    return [s for s in spans
            if any(lo <= s["start"] <= hi for lo, hi in windows)]


def commit_layer(tr, sc, kids, windows, rec: dict) -> dict:
    """Per-commit layer metrics of the apply_batch spans inside ``windows``."""
    applies = in_phase(tr.named("apply.apply_batch"), windows)
    n = max(1, len(applies))
    jobs = tasks = shuffle = spill = gc_ms = manifest_reads = 0
    write_run, write_skew, self_s, unattributed = [], [], [], []
    for a in applies:
        below = tr.descendants(a, kids)
        manifest_reads += sum(s["name"] in MANIFEST_READS for s in below)
        for s in [a] + below:
            if "group" not in s:
                continue
            is_merge = s["name"] == "table.merge"
            g = group_spark_stats(sc, s["group"], want_tasks=is_merge)
            jobs += g["jobs"]
            tasks += g["tasks"]
            shuffle += g["shuffle_write_bytes"]
            spill += g["spill_bytes"]
            gc_ms += g["gc_ms"]
            if is_merge and g["last_stage_task_ms"]:
                t = g["last_stage_task_ms"]
                write_run.append(g["last_stage_run_ms"] / 1000.0)
                write_skew.append(max(t) / max(1.0, statistics.median(t)))
        st = tr.self_time(a, kids)
        self_s.append(st)
        unattributed.append(st / dur(a) if dur(a) > 0 else 0.0)
    return {
        "spark.shuffle_write_bytes_per_event": shuffle / max(1, rec["rows"]),
        "spark.write_stage.executor_run_s": median(write_run),
        "spark.write_stage.task_max_over_median": median(write_skew),
        "spark.spill_bytes": spill,
        "spark.gc_s": gc_ms / 1000.0,
        "spark.jobs_per_commit": jobs / n,
        "spark.tasks_per_commit": tasks / n,
        "table.merge.busy_s": tr.busy("table.merge", windows),
        "table.evolve_schema.busy_s": tr.busy("table.evolve_schema", windows),
        "table.manifest_reads_per_commit": manifest_reads / n,
        "apply.apply_batch.p50_s": median(dur(a) for a in applies),
        "apply.self_s": median(self_s),
        "apply.unattributed_share": median(unattributed),
        "apply.failures_retried": len(rec["retried"]),
        "apply.degraded_commits": sum(c.get("degraded", False)
                                      for c in rec["calls"]),
    }


def per_layer(tr, sc, p, setup_s: float) -> dict:
    """Per-layer metrics of traced pass ``p``; the tracer is uninstalled."""
    kids = tr.children()
    wait_listener_bus(sc)
    out = {}
    tw, sw = p.phases["tail"], p.phases["serve"]
    # the tail's warm-up microbatch is not measured; the lookup rounds in
    # between hold no commits
    measured_tail = [(p.tail["sched"][0] if p.tail["sched"] else tw[0][0],
                      tw[-1][1])]
    for phase, windows in (("backfill", p.phases["backfill"]),
                           ("tail", measured_tail)):
        for k, v in commit_layer(tr, sc, kids, windows,
                                 getattr(p, phase)).items():
            out[f"{phase}.{k}"] = v
    out["tail.table.compact.calls"] = len(in_phase(tr.named("table.compact"), tw))
    out["tail.table.compact.busy_s"] = tr.busy("table.compact", tw)
    out.update(pipeline_metrics(p.tail))

    m = p.table.manifest()
    out["serve.table.delta_files_per_bucket.max"] = max(
        p.table.delta_file_counts().values(), default=0)
    out["serve.table.live_files"] = m.get("n_live_files", len(m["files"]))
    for name in ("snapshot", "lookup", "bucket_of"):
        out[f"serve.table.{name}.busy_s"] = tr.busy(f"table.{name}", sw)
    out.update(serving_metrics(tr, p.serve))

    e2e = end_to_end(p, setup_s)
    for k in ("backfill_events_per_s", "freshness_p50_s", "lookup_p50_s"):
        out[f"trace.{k}"] = e2e[k]
    out["trace.bookkeeping_s"] = tr.bookkeeping_s
    return out


def pipeline_metrics(t: dict) -> dict:
    """Trigger loop of the tail phase, from the stream's metrics listener."""
    apply_s = {c["epoch"]: c["end"] - c["start"] for c in t["calls"]}
    loop_self = []
    if os.path.exists(t["metrics"]):
        with open(t["metrics"]) as f:
            for line in f:
                row = json.loads(line)
                if row.get("event") == "progress" and row["batch_id"] in apply_s:
                    trig = row["duration_ms"].get("triggerExecution", 0) / 1000.0
                    loop_self.append(trig - apply_s[row["batch_id"]])
    first = t["sched"][0] if t["sched"] else math.inf
    measured = [c for c in t["calls"] if c["start"] >= first]
    backlog = [sum(r <= c["start"] < v for r, v in
                   zip(t["released"], t["visible"])) for c in measured]
    return {
        "tail.pipeline.self_s": median(loop_self),
        "tail.pipeline.files_per_batch":
            len(t["released"]) / max(1, len(measured)),
        "tail.pipeline.backlog_files.max": max(backlog, default=0),
        "tail.generator.late_s.max": max(
            (r - s for r, s in zip(t["released"], t["sched"])), default=0.0),
    }


def serving_metrics(tr, s: dict) -> dict:
    """/row wall time minus the table lookup, and minus the whole route."""
    def inside(name, s0, s1):
        return sum(dur(x) for x in tr.named(name)
                   if s0 <= x["start"] and x["end"] <= s1)

    reqs = s["requests"]
    return {
        "serve.serving.self_s": median(
            (s1 - s0) - inside("table.lookup", s0, s1) for s0, s1 in reqs),
        "serve.serving.http_s": median(
            (s1 - s0) - inside("serving.row", s0, s1) for s0, s1 in reqs),
    }
