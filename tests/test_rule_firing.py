"""Positive-path coverage for the R1/R2/R4 rules.

The driver testdata never trips these rules — every alert at every SF is
R3_GEO_DEVICE_MISMATCH — so until round 6 every batch-vs-streaming alert
comparison and every `alerts` oracle row checked only the NEGATIVE path
(fired=false everywhere).  These tests run the engineered firing fixture
(sources/generator.py::rule_firing_events) through all three engines and
pin them to the same HAND-DERIVED 12-alert set:

- batch union (operators/rules.alerts),
- stateful streaming twin (streaming/stateful.alert_rules_stateful),
- DuckDB oracle (oracle/sql.py::rule_firing_alerts, generate_series-based).

The expected set below is derived by hand from the reference rule
constants (`core/Rules.kt:37-200`, severity :220-231), NOT from running
the code — see the arithmetic in sources/generator.py::_FIRING_SCENARIOS.
"""

from __future__ import annotations

import duckdb
import pytest

from pulseboard_spark.operators import rules
from pulseboard_spark.sources.generator import rule_firing_events
from pulseboard_spark.streaming.stateful import alert_rules_stateful

_BASE_MS = 1_704_067_200_000
_EID = 9_000_000_000_000  # collision-proof id base (see _FIRING_SCENARIOS)

#: (rule, entity_id, ts_ms, severity, event_id) — hand-derived.
EXPECTED_ALERTS = frozenset(
    # R1: rate_1m = i+1 events in 60 s vs threshold 3·avg_5m = 3.0; fires
    # once rate ≥ 20 → events i=19..24; ratio 6.7-8.3 → MEDIUM.
    {
        ("R1_VELOCITY_SPIKE", "fire-r1", _BASE_MS + 2_000 * i, "MEDIUM", _EID + 1000 + i)
        for i in range(19, 25)
    }
    # R2: EWMA (current included) ≈ 10.9 at the 100.0 spike → threshold
    # ≈ 43.6; only event i=9 fires; ratio ≈ 2.3 → LOW.
    | {("R2_VALUE_SPIKE", "fire-r2", _BASE_MS + 5_000 * 9, "LOW", _EID + 2009)}
    # R4: sum_30s = 200·(i+1) vs p95 = max(floor(200·10), 1000) = 2000;
    # fires once the trailing 30 s holds ≥ 11 events → i=10..14; HIGH.
    | {
        ("R4_EXFIL", "fire-r4", _BASE_MS + 2_000 * i, "HIGH", _EID + 3000 + i)
        for i in range(10, 15)
    }
)


def _alert_set(df) -> set[tuple]:
    return {
        (r.rule, r.entity_id, r.ts_ms, r.severity, r.event_id)
        for r in df.select("rule", "entity_id", "ts_ms", "severity", "event_id").collect()
    }


def test_batch_alerts_fire_hand_derived_set(spark):
    got = _alert_set(rules.alerts(rule_firing_events(spark)))
    assert got == EXPECTED_ALERTS
    assert {r for r, *_ in got} == {"R1_VELOCITY_SPIKE", "R2_VALUE_SPIKE", "R4_EXFIL"}


def test_duckdb_oracle_fires_same_set():
    from pulseboard_spark.oracle.sql import ORACLE_SQL

    sql = ORACLE_SQL["rule_firing_alerts"]
    # the ENT_CTE substitution must have taken: the oracle is self-contained
    assert "FROM events" not in sql and "generate_series" in sql
    df = duckdb.connect().execute(sql).fetchdf()
    got = {tuple(r) for r in df[["rule", "entity_id", "ts_ms", "severity", "event_id"]].itertuples(index=False)}
    assert got == EXPECTED_ALERTS


@pytest.fixture
def _small_state(spark):
    """The firing fixture has exactly 3 keyed entity groups; the
    session default of one state partition per core just multiplies
    Python state-task overhead per micro-batch (the sized_session dial,
    SCALE.md 'Tuned visibility latency').  Fresh checkpoints bind the
    partition count at first start, so a per-test override is safe."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_streaming_twin_fires_same_set(spark, tmp_path, _small_state):
    """The stateful engine must EMIT the 12 alerts when fed the fixture in
    time-ordered chunks — the first non-vacuous streaming-vs-batch alert
    equality in the repo (all prior comparisons were empty==empty)."""
    fx = rule_firing_events(spark).orderBy("ts_us", "event_id")
    rows = fx.collect()
    chunk = (len(rows) + 3) // 4
    out = str(tmp_path / "firing_stream")
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, fx.schema).coalesce(1).write.parquet(
                f"{out}/chunk={i}"
            )
    stream = (
        spark.readStream.schema(fx.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{out}/chunk=*")
    )
    q = (
        alert_rules_stateful(stream)
        .writeStream.format("memory")
        .queryName("firing_alerts")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = _alert_set(spark.sql("SELECT * FROM firing_alerts"))
    assert got == EXPECTED_ALERTS


def test_restart_recovers_rule_state_and_emits_once(spark, tmp_path, _small_state):
    """Kill-and-restart across the firing boundary: the query stops after
    the first two chunks (trailing buffers and the fire-r2 EWMA are
    state-only — nothing has fired yet), restarts from the checkpoint
    with all four chunks, and the file sink must hold EXACTLY the 12
    hand-derived alerts — the post-restart firings depend on pre-restart
    keyed state, so a lost buffer shows as missing alerts and a replayed
    batch as duplicates."""
    fx = rule_firing_events(spark).orderBy("ts_us", "event_id")
    rows = fx.collect()
    chunk = (len(rows) + 3) // 4
    out = str(tmp_path / "restart_stream")
    for i in range(4):
        part = rows[i * chunk : (i + 1) * chunk]
        if part:
            spark.createDataFrame(part, fx.schema).coalesce(1).write.parquet(
                f"{out}/chunk={i}"
            )
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")

    def start(glob):
        stream = (
            spark.readStream.schema(fx.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(glob)
        )
        return (
            alert_rules_stateful(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start(f"{out}/chunk={{0,1}}")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    q = start(f"{out}/chunk=*")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = _alert_set(spark.read.parquet(sink))
    assert got == EXPECTED_ALERTS


@pytest.mark.parity
def test_registry_parity_rule_firing(spark, sf_dir):
    from pulseboard_spark.parity import duck_connection, compare

    res = compare(spark, duck_connection(sf_dir), "rule_firing_alerts", sf_dir)
    assert res.ok, res.detail


def test_null_trait_never_overwrites(spark):
    """Reference LWW merges only traits PRESENT on the event
    (`cdp/store/ProfileStore.kt:82-118`): a later IDENTIFY with a null
    plan/country must not erase the earlier non-null value — in the batch
    builder, the segment snapshot, and the streaming kernel alike."""
    import pandas as pd

    from pulseboard_spark.operators.profiles import build_profiles
    from pulseboard_spark.operators.segments import segment_membership
    from pulseboard_spark.streaming.stateful import _apply_profiles

    from pyspark.sql import functions as F

    base = 1_704_067_200_000
    rows = [
        # event_id, ts_ms, ctype, plan, country
        ("e1", base, "IDENTIFY", "pro", "US"),
        ("e2", base + 1000, "IDENTIFY", None, None),  # later, traits absent
        ("e3", base + 2000, "TRACK", None, None),
    ]
    df = spark.createDataFrame(
        [(p, t, c, pl, co) for p, t, c, pl, co in rows],
        "event_id string, ts_ms long, ctype string, plan string, country string",
    ).select(
        F.lit("p0").alias("profile_id"),
        F.timestamp_millis(F.col("ts_ms")).alias("ts"),
        (F.col("ts_ms") * 1000).alias("ts_us"),
        "ts_ms", "event_id", "ctype",
        F.lit(None).cast("string").alias("name"),
        "plan", "country",
        # valid events carry >= 1 identifier (P1)
        F.lit("user:u0").alias("nuser"),
        F.lit(None).cast("string").alias("nanon"),
        F.lit(None).cast("string").alias("nemail"),
    )
    got = build_profiles(df).collect()[0]
    assert got.plan == "pro" and got.country == "US"

    seg = segment_membership(df, F.lit(base + 2000).cast("long")).collect()[0]
    assert seg.pro_plan is True

    class FakeState:
        def __init__(self): self._v = None
        @property
        def exists(self): return self._v is not None
        @property
        def get(self): return self._v
        def update(self, v): self._v = v

    pdf = df.toPandas()
    out = list(_apply_profiles(("p0",), iter([pdf]), FakeState()))
    snap = out[-1].iloc[0]
    assert snap["plan"] == "pro" and snap["country"] == "US"
