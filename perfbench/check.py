"""Output checks, run after the measured phase.

The expected state is computed here, independently of the package's own
dedup operators: a window ``row_number`` over each key, newest LSN first and
deletes ranked over updates over inserts at an equal LSN; winners that are
deletes are dropped.  States are compared by row count plus an
order-independent content hash (sum of per-row xxhash64 values, each folded
into 31 bits so the sum cannot overflow).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = ("conv_id", "turn_idx")
STATE_COLS = (("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
              ("text", "string"), ("tool", "string"), ("ts", "timestamp"),
              ("lsn", "bigint"))
EVENT_COLS = (("lsn", "bigint"), ("op", "string"), ("conv_id", "string"),
              ("turn_idx", "int"), ("role", "string"), ("text", "string"))


def is_valid():
    return F.col("conv_id").isNotNull() & F.col("turn_idx").isNotNull() \
        & F.col("op").isin("I", "U", "D")


def expected_state(log: DataFrame, by: tuple = ()) -> DataFrame:
    """Last-wins of a change log: max LSN per key, delete rank on ties;
    ``by`` names columns that split the log into independent logs."""
    rank = F.when(F.col("op") == "D", 3).when(F.col("op") == "U", 2).otherwise(1)
    w = Window.partitionBy(*by, *KEY).orderBy(F.col("lsn").desc(), rank.desc())
    return (log.where(is_valid())
            .withColumn("__rn", F.row_number().over(w))
            .where((F.col("__rn") == 1) & (F.col("op") != "D"))
            .select(*by, *[c for c, _ in STATE_COLS]))


def fingerprint(df: DataFrame, cols) -> tuple[int, int]:
    """(row count, order-independent content hash) over ``cols``."""
    typed = [F.col(c).cast(t) for c, t in cols]
    row = df.select(F.pmod(F.xxhash64(*typed), F.lit(2_147_483_647)).alias("h")) \
        .agg(F.count(F.lit(1)), F.sum("h")).first()
    return int(row[0]), int(row[1] or 0)


def check_state(snapshot_fps, exp: DataFrame, corrupt: bool = False) -> list[str]:
    """Every digest of the table's final snapshot equals that of the
    expected state ``exp``.  ``corrupt`` drops one expected row, to prove
    the check can fail."""
    if corrupt:
        exp = exp.orderBy("lsn").offset(1)
    want = fingerprint(exp, STATE_COLS)
    if not snapshot_fps:
        return ["no snapshot read"]
    return [f"snapshot (rows, hash) {got} != expected {want}"
            for got in set(snapshot_fps) if got != want]


def check_lineage(lineage_dir: str, committed_epochs) -> list[str]:
    """Exactly one lineage entry set (one file, distinct partitions) per
    committed epoch, and none for any other epoch."""
    problems = []
    found = {}
    for path in glob.glob(f"{lineage_dir}/epoch-*.json"):
        with open(path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        epochs = {r["epoch_id"] for r in rows}
        parts = [r["partition_id"] for r in rows]
        if len(epochs) != 1 or len(parts) != len(set(parts)):
            problems.append(f"{os.path.basename(path)}: malformed entry set")
            continue
        found[epochs.pop()] = len(rows)
    want = set(committed_epochs)
    if set(found) != want:
        problems.append(
            f"lineage epochs missing {sorted(want - set(found))[:5]} "
            f"extra {sorted(set(found) - want)[:5]}")
    return problems


def check_quarantine(spark, quarantine_dirs, log: DataFrame) -> list[str]:
    """The rows quarantined across ``quarantine_dirs`` equal the log's
    invalid rows (as a multiset)."""
    from go_data_publisher_spark.ioutil import has_parquet_data

    want = fingerprint(log.where(~is_valid()), EVENT_COLS)
    dirs = [d for d in quarantine_dirs if has_parquet_data(d)]
    got = fingerprint(spark.read.parquet(*dirs), EVENT_COLS) if dirs else (0, 0)
    if got != want:
        return [f"quarantine (rows, hash) {got} != invalid rows {want}"]
    return []


def check_rows(log: DataFrame, responses: list) -> list[str]:
    """Each sampled ``/row`` response equals the expected rows of its key
    in the state the table held then: the last-wins of the log's rows up
    to the newest LSN visible at the time, per (LSN, {key: rows}) round."""
    rounds = [(upto, sampled) for upto, sampled in responses if sampled]
    if not rounds:
        return ["no /row responses sampled"]
    # one job: each round's keys and log prefix, tagged with the round
    parts = [log.where((F.col("lsn") <= upto)
                       & F.col("conv_id").isin(list(sampled)))
             .withColumn("__round", F.lit(r))
             for r, (upto, sampled) in enumerate(rounds)]
    tagged = parts[0]
    for part in parts[1:]:
        tagged = tagged.unionByName(part)
    want: dict = {(r, k): set() for r, (_, sampled) in enumerate(rounds)
                  for k in sampled}
    for row in expected_state(tagged, by=("__round",)) \
            .select("__round", "conv_id", "turn_idx", "lsn", "text").collect():
        want[row["__round"], row["conv_id"]].add(
            (row["turn_idx"], row["lsn"], row["text"]))
    problems = []
    for r, (upto, sampled) in enumerate(rounds):
        for key, rows in sampled.items():
            got = {(x["turn_idx"], x["lsn"], x["text"]) for x in rows}
            if got != want[r, key]:
                problems.append(f"/row?key={key} at LSN {upto}: {len(got)} "
                                f"rows, expected {len(want[r, key])}")
    return problems
