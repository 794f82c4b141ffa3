"""``alerts_stream``: ``entity_alert_stream`` (admission, dedup, stateful
R1/R2/R4) over a parquet file source, fed by :mod:`stream_gen`.

Set-up starts the session and reads one warm-up file at another path in
batch.  The measured stream then runs three phases on one query with a
1 s trigger and a memory sink:

* lead-in: one file lands as the query starts; the time until it is
  drained is the stream's cold start;
* paced (open loop): a file lands every ``PACED_INTERVAL_S`` on a fixed
  schedule for ``PACED_SHARE`` of ``--seconds``.  Each alert's latency is
  the commit time of the micro-batch that emitted it minus the due time
  of the file carrying its triggering event.  The tail is taken per
  micro-batch (its longest alert latency) and reported as the median over
  the paced micro-batches: a p95 over all alerts is the single worst
  micro-batch of the phase, so one slow trigger on a shared host moves it
  by a whole batch duration;
* flood (closed loop): a block of ``FLOOD_BLOCK_FILES`` new files lands
  only after the previous block is drained, one block per
  ``FLOOD_BLOCK_S`` of the rest of ``--seconds``.

Files land by hard link from the input cache, so landing is one
directory entry.  Afterwards the streamed alerts are compared with
``rules.alerts`` over the deduplicated landed events (R3 excluded: the
stateful kernel leaves it out by design), and the dedup and late-drop
counters with the generator's own counts.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from collections import Counter, defaultdict
from itertools import accumulate
from pathlib import Path

from common import CACHE, code_tag, fresh_dir, percentile
import stream_gen

LEADIN_EVENTS = 2_000
PACED_FILE_EVENTS = 200
PACED_INTERVAL_S = 0.5
PACED_SHARE = 0.8
FLOOD_FILE_EVENTS = 8_000
FLOOD_BLOCK_FILES = 2
#: flood blocks per run: one per ``FLOOD_BLOCK_S`` of the flood's share of
#: ``--seconds`` (a block drains in about 4 s on 4 cores), at least two
FLOOD_BLOCK_S = 4
MIN_FLOOD_BLOCKS = 2
WARMUP_EVENTS = 500
TRIGGER = "1 second"
SINK = "pb_alerts"
NO_R3 = "rule != 'R3_GEO_DEVICE_MISMATCH'"


class Inputs:
    """The seeded file sequence, cached on disk per (seed, schedule)."""

    def __init__(self, seed: int, sizes: list[int]):
        self.seed, self.sizes = seed, sizes
        schedule = hashlib.sha256(repr(sizes).encode()).hexdigest()[:10]
        self.dir = CACHE / f"alerts-{code_tag(stream_gen)}-s{seed}-{schedule}"
        self.dir.mkdir(parents=True, exist_ok=True)
        self.spans = [stream_gen.span_us(n) for n in sizes]
        self.bases = list(accumulate(self.spans[:-1], initial=stream_gen.T0_US))

    def path(self, k: int) -> Path:
        """File ``k``, generated on first use."""
        p = self.dir / f"f{k:06d}.parquet"
        if not p.exists():
            table, dups = stream_gen.file_table(self.seed, k, self.sizes[k], self.bases[k], self.spans[k])
            tmp = self.dir / f".f{k:06d}.tmp"
            stream_gen.write_file(str(tmp), table)
            (self.dir / f"f{k:06d}.dups").write_text(str(dups))
            os.replace(tmp, p)
        return p

    def dups(self, k: int) -> int:
        self.path(k)
        return int((self.dir / f"f{k:06d}.dups").read_text())


def _schedule(seconds: int) -> tuple[int, int, list[int]]:
    """(paced files, flood blocks, events per file) for a run of ``seconds``."""
    n_paced = max(int(seconds * PACED_SHARE / PACED_INTERVAL_S), 1)
    n_blocks = max(MIN_FLOOD_BLOCKS, int(seconds * (1 - PACED_SHARE) / FLOOD_BLOCK_S))
    sizes = [LEADIN_EVENTS] + [PACED_FILE_EVENTS] * n_paced
    sizes += [FLOOD_FILE_EVENTS] * (FLOOD_BLOCK_FILES * n_blocks)
    return n_paced, n_blocks, sizes


def prepare(ctx) -> None:
    ctx.n_paced, ctx.n_blocks, sizes = _schedule(ctx.seconds)
    ctx.inputs = Inputs(ctx.seed, sizes)
    for k in range(len(sizes)):
        ctx.inputs.path(k)
    ctx.warmup_inputs = Inputs(0, [WARMUP_EVENTS])
    ctx.warmup_inputs.path(0)


def _start(spark, src: Path, ckpt: Path, name: str):
    from pulseboard_spark.streaming.pipeline import entity_alert_stream

    events = spark.readStream.schema(stream_gen.spark_schema()).parquet(str(src))
    return (
        entity_alert_stream(events)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(ckpt))
        .trigger(processingTime=TRIGGER)
        .start()
    )


def warm_up(ctx, spark) -> None:
    """A batch read of a warm-up file at another path.  The stream's own
    cold start (Python workers, state stores, first micro-batch) is left
    to the lead-in and measured there as ``cold_s``."""
    src = fresh_dir(ctx.run_dir / "warmup-src")
    os.link(ctx.warmup_inputs.path(0), src / "f000000.parquet")
    spark.read.schema(stream_gen.spark_schema()).parquet(str(src)).write.format("noop").mode("overwrite").save()


def measure(ctx, spark) -> dict:
    tr = ctx.tracer
    src = fresh_dir(ctx.run_dir / "src")
    ctx.src, ctx.ckpt = src, ctx.run_dir / "ckpt"
    landed: dict[int, tuple[float, float]] = {}  # file -> (due, landed)

    def land(k: int, due: float) -> None:
        os.link(ctx.inputs.path(k), src / f"f{k:06d}.parquet")
        landed[k] = (due, time.time())

    q = None
    with tr.span("stream", op="stream"):
        try:
            with tr.span("phase.leadin", op="leadin") as lead:
                q = _start(spark, src, ctx.ckpt, SINK)
                land(0, lead.start)
                q.processAllAvailable()
            blocks = _paced_and_flood(ctx, q, land)
            ctx.progress = [json.loads(p.json) for p in q.recentProgress]
            ctx.run_id = str(q.runId)
        finally:
            if q is not None:
                q.stop()
    ids = [p["batchId"] for p in ctx.progress]
    if ids != list(range(len(ids))):
        raise RuntimeError(f"progress does not cover every micro-batch: {ids}")
    states = [s for p in ctx.progress for s in p["stateOperators"]]
    ctx.dedup_dropped = sum(int(s["customMetrics"].get("numDroppedDuplicateRows", 0)) for s in states)
    ctx.late_dropped = sum(s["numRowsDroppedByWatermark"] for s in states)
    ctx.landed = landed
    ctx.file_batch, ctx.batch_commit = _checkpoint_times(ctx.ckpt)
    paced = set(range(1, ctx.n_paced + 1))
    ctx.lag_max_s = max(landed[i][1] - landed[i][0] for i in paced)
    commit = {f: ctx.batch_commit[b] for f, b in ctx.file_batch.items()}
    ctx.backlog_files_max = max(
        sum(1 for f, (_, t_f) in landed.items() if t_f <= t < commit[f])
        for _, t in (landed[i] for i in paced)
    )
    alert_ids = spark.table(SINK).select("event_id").toPandas()["event_id"]
    lat, batch_worst = [], defaultdict(float)
    for f in (alert_ids // stream_gen.EID_STRIDE).astype(int):
        if f in paced:
            b = ctx.file_batch[f]
            lat.append(ctx.batch_commit[b] - landed[f][0])
            batch_worst[b] = max(batch_worst[b], lat[-1])
    if len(lat) < 20:
        raise RuntimeError(f"only {len(lat)} paced alerts; the generator should fire R1/R2/R4 often")
    ctx.samples = f"{len(lat)} alerts in {len(batch_worst)} paced micro-batches"
    ctx.latency_p95_s = percentile(lat, 95)
    block_events = FLOOD_BLOCK_FILES * FLOOD_FILE_EVENTS
    ctx.flood_eps = block_events / statistics.median(blocks)
    return {
        "cold_s": ctx.batch_commit[ctx.file_batch[0]] - landed[0][0],
        "warm_s": statistics.median(blocks),
        "p50_s": percentile(lat, 50),
        "tail_s": statistics.median(batch_worst.values()),
    }


def _paced_and_flood(ctx, q, land) -> list[float]:
    """Run the paced and flood phases on the started query ``q``; returns
    the drain time of every flood block."""
    tr = ctx.tracer
    t0 = time.time()
    with tr.span("phase.paced", op="paced"):
        for i in range(1, ctx.n_paced + 1):
            due = t0 + (i - 1) * PACED_INTERVAL_S
            with tr.span("generator.wait"):
                time.sleep(max(due - time.time(), 0.0))
            with tr.span("generator.land"):
                land(i, due)
        with tr.span("streaming.drain"):
            q.processAllAvailable()
    blocks: list[float] = []
    with tr.span("phase.flood", op="flood"):
        for b in range(ctx.n_blocks):
            k = ctx.n_paced + 1 + b * FLOOD_BLOCK_FILES
            with tr.span("generator.land") as s:
                for f in range(k, k + FLOOD_BLOCK_FILES):
                    land(f, s.start)
            with tr.span("streaming.drain") as d:
                q.processAllAvailable()
            blocks.append(d.end - s.start)
    return blocks


def _checkpoint_times(ckpt: Path) -> tuple[dict[int, int], dict[int, float]]:
    """(file index -> micro-batch id, micro-batch id -> commit time).

    The file source's log numbers its own batches, which advance only when
    new files arrive; the offset log maps each micro-batch to the source
    batch it read up to."""
    source_batch: dict[int, int] = {}
    for entry in (ckpt / "sources" / "0").iterdir():
        if entry.name.startswith("."):
            continue
        for line in entry.read_text().splitlines()[1:]:
            rec = json.loads(line)
            name = rec["path"].rsplit("/", 1)[-1]
            source_batch[int(name[1:7])] = int(rec["batchId"])
    upto = {}
    for entry in (ckpt / "offsets").iterdir():
        if entry.name.isdigit():
            upto[int(entry.name)] = json.loads(entry.read_text().splitlines()[2])["logOffset"]
    file_batch = {
        f: min(b for b, off in upto.items() if off >= sb) for f, sb in source_batch.items()
    }
    commits = {
        int(p.name): p.stat().st_mtime
        for p in (ckpt / "commits").iterdir()
        if p.name.isdigit()
    }
    return file_batch, commits


def check(ctx, spark) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems): each landed file is one attempt; a
    file with an alert missing, extra or emitted twice failed, and wrong
    dedup or late-drop counters fail the run's last file."""
    from pulseboard_spark.operators import rules

    cols = ["rule", "entity_id", "ts_ms", "severity", "event_id"]
    with ctx.tracer.span("check", op="check"):
        events = spark.read.parquet(str(ctx.src))
        want = rules.alerts(events.dropDuplicates(["event_id"])).filter(NO_R3).select(cols).toPandas()
        got = spark.table(SINK).select(cols).toPandas()
        n_rows = events.count()
    want_rows = Counter(map(tuple, want.itertuples(index=False)))
    got_rows = Counter(map(tuple, got.itertuples(index=False)))
    wrong = (got_rows - want_rows) + (want_rows - got_rows)
    problems = [f"{sum(wrong.values())} alerts differ from rules.alerts"] if wrong else []
    bad_files = {row[4] // stream_gen.EID_STRIDE for row in wrong}
    injected = sum(ctx.inputs.dups(k) for k in ctx.landed)
    if ctx.dedup_dropped != injected:
        problems.append(f"dedup dropped {ctx.dedup_dropped} rows, generator injected {injected}")
    if ctx.late_dropped:
        problems.append(f"{ctx.late_dropped} rows dropped as late")
    if n_rows != sum(ctx.inputs.sizes[k] + ctx.inputs.dups(k) for k in ctx.landed):
        problems.append("landed row count differs from the generator's")
    if len(problems) > bool(wrong):
        bad_files.add(max(ctx.landed))
    ctx.mismatches = len(problems)
    return len(ctx.landed), len(bad_files), problems
