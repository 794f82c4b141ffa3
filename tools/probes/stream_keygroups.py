#!/usr/bin/env python
"""Streaming throughput vs key-group cardinality and trigger size.

SCALE.md claims `applyInPandasWithState` throughput is governed by the
KEY-GROUP count per micro-batch (fixed per-group pandas overhead), not
by row volume, and that bigger micro-batches amortize it.  This probe
measures both dials on the rule engine (`alert_rules_stateful`, groups by
entity_id; each entity carries 3 event types as per-type sub-state):

- fixed volume (N_EVENTS synthetic events, same value/time distribution),
  entity cardinality swept over N_KEYS_SWEEP — more groups at constant rows
  should cost throughput if the per-group claim is true;
- fixed cardinality, batch size swept via the number of files the replay
  exposes per `processAllAvailable` drain (1 file per trigger vs all at
  once) — bigger batches should amortize the per-group cost.

Events are synthetic (hash-derived, deterministic) with the exact
entity_events schema; timestamps spread over an hour so trailing-window
state stays realistic.

Run: python tools/probes/stream_keygroups.py  (results → SCALE.md)
"""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

N_EVENTS = 200_000
N_KEYS_SWEEP = [750, 7_500, 75_000]
N_FILES = 8  # replay granularity; maxFilesPerTrigger sweeps batch size


def synth_events(spark, n_keys: int):
    from pyspark.sql import functions as F

    df = (
        spark.range(0, N_EVENTS, 1, N_FILES)
        .withColumn("entity_id", (F.abs(F.xxhash64("id")) % n_keys).cast("string"))
        .withColumn(
            "type",
            F.element_at(
                F.array(F.lit("LOGIN"), F.lit("TXN"), F.lit("BET")),
                (F.abs(F.xxhash64("id", F.lit("t"))) % 3 + 1).cast("int"),
            ),
        )
        .withColumn(
            "profile",
            F.when(F.col("id") % 2 == 0, F.lit("SASE")).otherwise(F.lit("IGAMING")),
        )
        .withColumn("ts_us", (F.lit(1_700_000_000_000_000) + F.col("id") * 18_000).cast("long"))
        .withColumn("ts", F.timestamp_micros("ts_us"))
        .withColumn("ts_ms", (F.col("ts_us") / 1000).cast("long"))
        .withColumn("value", (F.abs(F.xxhash64("id", F.lit("v"))) % 10_000).cast("double") / 100)
        .withColumn("event_id", F.col("id"))
    )
    return df.select(
        "event_id", "ts", "ts_us", "ts_ms", "entity_id", "profile", "type", "value"
    )


def run_case(n_keys: int, max_files: int | None) -> float:
    """One fresh-context measurement: warm-up pass, then 3 timed replays."""
    from pulseboard_spark.session import get_spark
    from pulseboard_spark.streaming.stateful import alert_rules_stateful

    spark = get_spark(f"pb-kg-{n_keys}-{max_files}")
    work = tempfile.mkdtemp(prefix="pb_keygroups_")
    try:
        src = f"{work}/events"
        ev = synth_events(spark, n_keys)
        ev.write.parquet(src)
        reader = spark.readStream.schema(ev.schema)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", str(max_files))
        q = (
            alert_rules_stateful(reader.parquet(src))
            .writeStream.format("noop")
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        )
        try:
            q.processAllAvailable()  # warm-up
            parts = sorted(glob.glob(f"{src}/part-*.parquet"))
            elapsed = 0.0
            replays = 3
            for rep in range(replays):
                staged = []
                for i, f in enumerate(parts):
                    tmp = f"{src}/.replay-{rep}-{i}.parquet"
                    shutil.copy(f, tmp)
                    staged.append((tmp, f"{src}/replay-{rep}-{i}.parquet"))
                t0 = time.monotonic()
                for tmp, final in staged:
                    os.rename(tmp, final)
                q.processAllAvailable()
                elapsed += time.monotonic() - t0
        finally:
            q.stop()
        return N_EVENTS * replays / elapsed
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def main() -> None:
    print(f"{N_EVENTS} events/pass, 3 timed passes per case, fresh context each\n")
    print("key-cardinality sweep (all files per trigger):")
    for k in N_KEYS_SWEEP:
        eps = run_case(k, None)
        print(f"  {k:6d} entities: {eps:8.0f} eps", flush=True)
    print("trigger-size sweep (7,500 entities):")
    for mf in [1, 2, N_FILES]:
        eps = run_case(7_500, mf)
        batch = N_EVENTS * mf // N_FILES
        print(f"  maxFilesPerTrigger={mf} (~{batch} events/batch): {eps:8.0f} eps", flush=True)


if __name__ == "__main__":
    main()
