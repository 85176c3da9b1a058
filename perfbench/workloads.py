"""The benchmark workloads.

A workload is one change log, made from the seed, and one life cycle of a
table fed by it.  The backfill does a fixed amount of work; the tail and
serve phases then alternate in ``ROUNDS`` rounds, measuring for set shares
of ``--seconds`` in all:

1. ``backfill``: closed-loop replay with one caller.  The first part of
   the log, a fixed number of large LSN chunks that hold the v1->v2 schema
   flip, goes through ``replay_batch_range`` one chunk per commit, as the
   ``batch`` verb does.  The phase does a fixed amount of work, so the
   table the later phases see does not depend on how fast it ran.
2. ``tail``: open loop.  The rest of the log, cut into small files, is
   released into the source directory of ``run_stream`` on a fixed
   schedule from a separate thread, with the ``stream`` verb's applier
   (lineage, quarantine and the metrics listener on; no inline
   compaction, so delta files pile up in every bucket).
3. ``serve``: one client on one connection at a time issues closed-loop
   ``/row`` lookups to a ``ReportServer`` over the table (its buckets hold
   the tail's piled-up delta files); after the last round the table is
   read in full a few times.

Each round releases its share of the tail's files, waits until they are
visible, then runs its share of the lookups while the stream idles.  So each
metric samples the host over the whole phase rather than one short window:
on a shared host, speed drifts over tens of seconds.

The workloads differ in the log: ``default`` uses the generator's default
mix; ``hot_redelivery`` puts ~30% of events on one conv_id and delivers
every event one to five times with the same LSN.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from check import STATE_COLS, fingerprint
from go_data_publisher_spark import schemas
from go_data_publisher_spark.lake.table import TranscriptTable
from go_data_publisher_spark.serving import ReportServer
from go_data_publisher_spark.sources.changelog import generate_changelog
from go_data_publisher_spark.streaming import pipeline
from go_data_publisher_spark.streaming.apply import (
    ChangeApplier,
    RetryPolicy,
    replay_batch_range,
)

# Share of --seconds the tail's release schedule and the lookups measure
# for, alternating in ROUNDS rounds; the backfill is a fixed amount of work
# (about a fifth of a run at full scale).
PHASES = {"tail": 0.55, "serve": 0.45}
ROUNDS = 2

# Sizes per scale; ``toy`` is the smoke test's.  Event counts are logical
# events: hot_redelivery delivers each one three times on average.
SIZES = {
    "full": {"chunks": 3, "chunk_events": 80_000, "file_events": 60,
             "interval_s": 0.06, "turns": 8, "buckets": 32, "sample_keys": 40},
    "toy": {"chunks": 2, "chunk_events": 3_000, "file_events": 40,
            "interval_s": 0.2, "turns": 4, "buckets": 8, "sample_keys": 10},
}
CONVS = 5_000  # more than bucket_of's 4096-entry memo holds
HOT_EVERY = 5
# Warm-up of the live phase, not measured: the first commits and lookups
# of a session are slow while the JVM warms up.  The tail's files released
# over WARM_TAIL_S run on the schedule, then WARM_LOOKUPS /row requests
# while the last of them commit; each round then starts the way the second
# does, with the stream idle after lookups.
WARM_LOOKUPS = 2
WARM_TAIL_S = 2.5
SCHEMA_FLIP = 0.6  # share of the backfill written with schema v1
HOT_EVENTS_SHARE = 1 / 3  # hot_redelivery: events per delivered row
SNAPSHOT_READS = 2
CHUNK_FILES = 4  # parquet files per backfill chunk
MAX_FILES_PER_TRIGGER = 1000


@dataclass
class Ctx:
    spark: object
    work: str
    workload: str
    seed: int
    seconds: float
    size: dict


@dataclass
class Pass:
    """What one measured life cycle leaves behind, phase by phase."""
    table: TranscriptTable
    # name -> [(start, end)]: the windows a phase measured in
    phases: dict = field(default_factory=dict)
    backfill: dict = field(default_factory=dict)
    tail: dict = field(default_factory=dict)
    serve: dict = field(default_factory=dict)
    snapshot_reads: list[float] = field(default_factory=list)
    snapshot_fps: list[tuple] = field(default_factory=list)
    stored_bytes_per_event: float = 0.0
    retained_heap_mb: float = 0.0
    delivered: object = None  # the log rows the table received


def timed(fn, *a, **kw):
    t = time.perf_counter()
    out = fn(*a, **kw)
    return time.perf_counter() - t, out


def counting_retry() -> tuple[RetryPolicy, list[str]]:
    """The default retry policy, recording the failures it retries."""
    base = RetryPolicy().is_retriable
    retried: list[str] = []

    def is_retriable(exc):
        ok = base(exc)
        if ok:
            retried.append(f"{type(exc).__name__}: {str(exc)[:200]}")
        return ok

    return RetryPolicy(is_retriable=is_retriable), retried


def applier(tbl: TranscriptTable, d: str, phase: str, **kw):
    """An applier with its own lineage and quarantine directories, whose
    apply_batch calls are recorded (wall time, epoch, outcome; ``end``
    stays None while a call is in flight)."""
    retry, retried = counting_retry()
    app = ChangeApplier(tbl, lineage_dir=f"{d}/lineage-{phase}",
                        quarantine_dir=f"{d}/quarantine-{phase}", retry=retry,
                        **kw)
    calls: list[dict] = []

    def apply_batch(batch, epoch_id):
        rec = {"epoch": epoch_id, "start": time.time(), "end": None,
               "status": "failed"}
        calls.append(rec)
        try:
            stats = ChangeApplier.apply_batch(app, batch, epoch_id)
            rec["status"] = stats["status"]
            rec["degraded"] = "degraded_write_parallelism" in stats
            return stats
        finally:
            rec["end"] = time.time()

    app.apply_batch = apply_batch
    return app, {"calls": calls, "retried": retried,
                 "lineage": app.lineage_dir, "quarantine": app.quarantine_dir}


def committed(rec: dict) -> list[int]:
    return [c["epoch"] for c in rec["calls"] if c["status"] == "committed"]


# ---- input generation (set-up) ----------------------------------------------

def slice_of(lsn, lo: int, hi: int, n: int):
    """Index of the LSN slice each of ``lsn`` (a numpy array) falls in,
    cutting [lo, hi) into ``n`` near-equal slices (integer arithmetic, so
    slice_bounds agrees)."""
    return (lsn - lo) * n // (hi - lo)


def slice_bounds(lo: int, hi: int, n: int) -> list[tuple[int, int]]:
    """Inclusive LSN bounds of each slice of slice_of."""
    cut = [lo + -(-(i * (hi - lo)) // n) for i in range(n + 1)]
    return [(cut[i], cut[i + 1] - 1) for i in range(n)]


def warm_files(sz: dict) -> int:
    """Tail files released before the measured ones."""
    return 1 + round(WARM_TAIL_S / sz["interval_s"])


def make_log(ctx: Ctx, n_events: int, v2_from: float):
    kw = {"n_convs": CONVS, "max_turns": ctx.size["turns"],
          "schema_v2_from": v2_from, "seed": ctx.seed}
    if ctx.workload == "default":
        return generate_changelog(ctx.spark, n_events, **kw)
    base = generate_changelog(ctx.spark, n_events, hot_frac=0.5 / CONVS,
                              hot_share=0.3, dup_rate=0.0, **kw)
    copies = 1 + F.pmod(F.xxhash64(F.lit(ctx.seed + 97), F.col("lsn")), F.lit(5))
    return (base.withColumn("__copy", F.explode(F.sequence(F.lit(1), copies)))
            .drop("__copy"))


def setup(ctx: Ctx) -> dict:
    """Generate the log (one Spark job, collected as Arrow) and lay it out:
    the backfill part as one directory per LSN chunk, the tail part as one
    small parquet file per release.  Then warm the replay path up on a
    throwaway table."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sz, spark = ctx.size, ctx.spark
    scale = HOT_EVENTS_SHARE if ctx.workload == "hot_redelivery" else 1.0
    n_files = max(2, round(ctx.seconds * PHASES["tail"] / sz["interval_s"])) \
        + warm_files(sz)
    n_back = round(sz["chunks"] * sz["chunk_events"] * scale)
    n_tail = round(n_files * sz["file_events"] * scale)
    t0 = time.perf_counter()
    log = make_log(ctx, n_back + n_tail,
                   SCHEMA_FLIP * n_back / (n_back + n_tail)).toArrow()
    log = log.take(pc.sort_indices(log, [("lsn", "ascending")]))
    lsn = log["lsn"].to_numpy()
    lo, hi = int(lsn[0]), int(lsn[-1])
    # LSNs grow with the event index, so this splits off the last n_tail
    split = lo + (hi - lo + 1) * n_back // (n_back + n_tail)
    n_split = int(np.searchsorted(lsn, split))
    back = f"{ctx.work}/log"
    chunk = np.searchsorted(slice_of(lsn[:n_split], lo, split, sz["chunks"]),
                            np.arange(sz["chunks"] + 1))
    paths, chunk_rows = [], []
    for i in range(sz["chunks"]):
        paths.append(f"{back}/chunk={i}")
        os.makedirs(paths[-1])
        part = log.slice(chunk[i], chunk[i + 1] - chunk[i])
        chunk_rows.append(part.num_rows)
        step = -(-part.num_rows // CHUNK_FILES)
        for k in range(CHUNK_FILES):
            pq.write_table(part.slice(k * step, step),
                           f"{paths[-1]}/part-{k:02d}.parquet",
                           compression="zstd")
    bounds = slice_bounds(lo, split, sz["chunks"])

    tail = log.slice(n_split)
    cut = np.searchsorted(slice_of(lsn[n_split:], split, hi + 1, n_files),
                          np.arange(n_files + 1))
    os.makedirs(f"{ctx.work}/stage")
    valid = pc.and_(pc.is_valid(tail["conv_id"]), pc.is_valid(tail["turn_idx"]))
    files, file_rows, max_valid = [], [], []
    for i in range(n_files):
        part = tail.slice(cut[i], cut[i + 1] - cut[i])
        files.append(f"{ctx.work}/stage/file-{i:05d}.parquet")
        pq.write_table(part, files[-1])
        file_rows.append(part.num_rows)
        # the newest LSN this file makes visible (a file of only invalid
        # rows adds none)
        m = pc.max(part.filter(valid.slice(cut[i], cut[i + 1] - cut[i]))
                   ["lsn"]).as_py()
        max_valid.append(max(m or -1, max_valid[-1] if max_valid else -1))
    # every tail row in one file too, for the output check
    pq.write_table(tail, f"{ctx.work}/tail.parquet")
    t1 = time.perf_counter()

    src = spark.read.schema(schemas.CHANGE_EVENT_SCHEMA).parquet(*paths)
    wtbl = TranscriptTable(spark, f"{ctx.work}/warm/tbl", n_buckets=sz["buckets"])
    wapp, _ = applier(wtbl, f"{ctx.work}/warm", "backfill")
    a, b = bounds[0]
    replay_batch_range(wapp, src, [(a, (a + b) // 2)])  # half a chunk
    t2 = time.perf_counter()

    # lookup keys: every HOT_EVERY-th request asks for one hot key (a
    # bucket_of memo hit after the first), the rest for distinct keys (memo
    # misses), so the median request is a miss
    ids = [f"conv-{c:06d}" for c in range(CONVS)]
    random.Random(ctx.seed).shuffle(ids)
    keys = [ids[0] if i % HOT_EVERY == HOT_EVERY - 1 else ids[1 + i]
            for i in range(CONVS - 1)]
    return {"src": src, "bounds": bounds, "chunk_rows": chunk_rows,
            "tail_all": f"{ctx.work}/tail.parquet", "files": files,
            "file_rows": file_rows, "max_valid": max_valid, "keys": keys,
            "setup_parts_s": {"generate": t1 - t0, "warm": t2 - t1},
            "sizes": {"backfill_chunks": sz["chunks"],
                      "backfill_events": n_back, "backfill_rows": sum(chunk_rows),
                      "tail_files": n_files, "tail_warm_files": warm_files(sz),
                      "tail_events": n_tail,
                      "tail_rows": sum(file_rows), "convs": CONVS,
                      "release_interval_s": sz["interval_s"]}}


# ---- the measured life cycle --------------------------------------------------

def backfill_phase(ctx: Ctx, st: dict, tbl: TranscriptTable, d: str) -> dict:
    """One commit per chunk; each chunk's rows over its replay's wall time,
    so the median rate shrugs off a spell of host noise in one commit."""
    app, rec = applier(tbl, d, "backfill")
    failed = 0
    rates = []
    for i, (bound, rows) in enumerate(zip(st["bounds"], st["chunk_rows"])):
        c0 = time.perf_counter()
        try:
            replay_batch_range(app, st["src"], [bound], epoch_offset=i)
        except Exception:  # noqa: BLE001 — a failed commit is counted
            failed += 1
        rates.append(rows / (time.perf_counter() - c0))
    return {**rec, "rows": sum(st["chunk_rows"]), "rates": rates,
            "attempted": len(st["bounds"]), "failed": failed,
            "latencies": [c["end"] - c["start"] for c in rec["calls"]]}


def get_row(port: int, key: str) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", f"/row?key={key}")
        resp = conn.getresponse()
        body = resp.read()
        return resp.status, (json.loads(body) if resp.status == 200 else None)
    finally:
        conn.close()


def segments(n: int, lo: int, rounds: int) -> list[range]:
    """Indices lo..n-1 cut into ``rounds`` contiguous, near-equal runs."""
    cut = [lo + (n - lo) * r // rounds for r in range(rounds + 1)]
    return [range(cut[r], cut[r + 1]) for r in range(rounds)]


def live_phase(ctx: Ctx, st: dict, tbl: TranscriptTable,
               d: str) -> tuple[dict, dict, list]:
    """The tail and serve phases, in ROUNDS alternating rounds.

    One thread releases a segment of the tail's files on the fixed
    schedule, waits until the stream has made them visible, then runs the
    round's share of the closed-loop ``/row`` lookups while the stream
    idles; then the next round.  Spread over the whole phase, each metric
    samples the host for longer than one contiguous window would.  Returns
    the tail's record, the serve phase's and the lookup windows."""
    sz, spark = ctx.size, ctx.spark
    app, rec = applier(tbl, d, "tail", writer_id="stream")
    src = f"{d}/src"
    os.makedirs(src)
    files, keys = st["files"], st["keys"]
    warm = warm_files(sz)
    sched: list[float] = []
    released: list[float] = []
    drains: list[float] = []
    errors: list[BaseException] = []
    marks = {"warm_s": math.nan}
    # responses: per round, (newest LSN visible, {key: rows}) for the check
    serve = {"latencies": [], "requests": [], "responses": [],
             "attempted": 0, "failed": 0, "warm_s": []}
    windows: list[tuple[float, float]] = []
    stop = threading.Event()

    def publish(i: int) -> None:
        tmp = f"{src}/.chunk-{i:05d}.parquet"  # hidden from the file source
        shutil.copy(files[i], tmp)
        os.rename(tmp, f"{src}/chunk-{i:05d}.parquet")

    def settled(upto: int) -> bool:
        """File ``upto`` is visible and every started microbatch has
        finished, its progress report included."""
        if tbl.cursor_lsn() < st["max_valid"][upto]:
            return False
        if any(c["end"] is None for c in rec["calls"]):
            return False
        last = max((c["epoch"] for c in rec["calls"]), default=-1)
        return all((q.lastProgress or {}).get("batchId", -1) >= last
                   for q in spark.streams.active)

    def wait_settled(upto: int) -> None:
        deadline = time.time() + 120
        while not settled(upto) and time.time() < deadline:
            if stop.wait(0.02):
                return

    def lookups(port: int, seconds: float, upto_lsn: int) -> None:
        sampled: dict = {}
        serve["responses"].append((upto_lsn, sampled))
        t0 = time.time()
        while time.time() - t0 < seconds and serve["attempted"] < len(keys) - 1:
            key = keys[serve["attempted"]]
            s0 = time.time()
            status, body = get_row(port, key)
            s1 = time.time()
            serve["attempted"] += 1
            serve["latencies"].append(s1 - s0)
            serve["requests"].append((s0, s1))
            if status != 200:
                serve["failed"] += 1
            elif key not in sampled and sum(
                    len(x) for _, x in serve["responses"]) < sz["sample_keys"]:
                sampled[key] = body["rows"]
        windows.append((t0, time.time()))

    def on_schedule(idx) -> bool:
        """Release files ``idx``, one every interval; those past the
        warm-up are measured.  False if the phase is stopping."""
        t0 = time.time() + 0.1
        for j, i in enumerate(idx):
            due = t0 + j * sz["interval_s"]
            while (now := time.time()) < due:
                if stop.wait(due - now):
                    return False
            publish(i)
            if i >= warm:
                sched.append(due)
                released.append(time.time())
        return True

    def release(port: int) -> None:
        try:
            while not spark.streams.active and not stop.is_set():
                time.sleep(0.02)
            w0 = time.time()
            if not on_schedule(range(warm)):
                return
            for k in range(WARM_LOOKUPS):
                serve["warm_s"].append(timed(get_row, port, keys[-1 - k])[0])
            wait_settled(warm - 1)
            marks["warm_s"] = time.time() - w0
            for seg in segments(len(files), warm, ROUNDS):
                if not on_schedule(seg):
                    return
                wait_settled(seg[-1])
                drains.append(time.time() - released[-1])
                lookups(port, ctx.seconds * PHASES["serve"] / ROUNDS,
                        st["max_valid"][seg[-1]])
        except BaseException as exc:  # noqa: BLE001 — re-raised below
            errors.append(exc)
        finally:
            for q in spark.streams.active:
                q.stop()

    srv = ReportServer(spark, tbl, port=0)
    srv.start()
    th = threading.Thread(target=release, args=(srv.port,),
                          name="perfbench-release")
    th.start()
    failed = 0
    try:
        pipeline.run_stream(spark, src, app, f"{d}/ckpt",
                            max_files_per_trigger=MAX_FILES_PER_TRIGGER,
                            available_now=False,
                            metrics_path=f"{d}/metrics.jsonl")
    except Exception:  # noqa: BLE001 — the stream died: counted below
        failed = 1
    finally:
        stop.set()
        th.join(timeout=150)
        srv.shutdown()
    if errors:
        raise errors[0]
    hist = tbl.history()
    visible = []
    for m in st["max_valid"][warm:warm + len(released)]:
        at = [h["committed_at"] for h in hist if h["cursor_lsn"] >= m]
        visible.append(min(at) if at else math.inf)
    measured = len(files) - warm
    n_ok = sum(math.isfinite(v) for v in visible)
    tail = {**rec, "sched": sched, "released": released, "visible": visible,
            "fresh": [v - s for v, s in zip(visible, sched)
                      if math.isfinite(v)],
            "attempted": measured, "failed": max(failed, measured - n_ok),
            "rows": sum(st["file_rows"]), "drain_s": drains,
            "metrics": f"{d}/metrics.jsonl", **marks}
    return tail, serve, windows


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _s, files in os.walk(path) for f in files)


def retained_heap_mb(spark) -> float:
    """Heap the driver JVM still holds after a full collection."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def run_pass(ctx: Ctx, st: dict) -> Pass:
    d = f"{ctx.work}/pass"
    tbl = TranscriptTable(ctx.spark, f"{d}/tbl", n_buckets=ctx.size["buckets"])
    p = Pass(table=tbl)

    t = time.time()
    p.backfill = backfill_phase(ctx, st, tbl, d)
    p.phases["backfill"] = [(t, time.time())]
    p.stored_bytes_per_event = dir_bytes(f"{tbl.root}/data") / p.backfill["rows"]

    t = time.time()
    p.tail, p.serve, lookup_windows = live_phase(ctx, st, tbl, d)
    p.phases["tail"] = [(t, time.time())]

    t = time.time()
    out = [timed(lambda: fingerprint(tbl.snapshot(), STATE_COLS))
           for _ in range(SNAPSHOT_READS)]
    p.phases["serve"] = lookup_windows + [(t, time.time())]
    p.snapshot_reads = [s for s, _ in out]
    p.snapshot_fps = [fp for _, fp in out]
    p.retained_heap_mb = retained_heap_mb(ctx.spark)

    tail_src = ctx.spark.read.schema(schemas.CHANGE_EVENT_SCHEMA) \
        .parquet(st["tail_all"])
    p.delivered = st["src"].unionByName(tail_src)
    return p
