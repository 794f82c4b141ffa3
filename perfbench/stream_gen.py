"""Seeded entity-event files for the ``alerts_stream`` workload.

Each file is one parquet table in the engine's entity-view layout
(``event_id`` long, ``ts`` TIMESTAMP(MICROS, UTC), ``ts_us``, ``ts_ms``,
``entity_id``, ``profile``, ``type``, ``value``, ``geo``, ``device``).
File ``k`` covers its own event-time span ``[base, base + span)``, the
spans of consecutive files touch, so files are in event-time order.
Inside a file rows are ordered by timestamp plus a jitter below
``DISORDER_S``: events are out of order only within a file and always
within the stream's 120 s grace.

A file is a pure function of ``(seed, k, n_events, base, span)``:

* background events over ``N_ENTITIES`` entities drawn Zipf-skewed, with
  the reference simulator's per-profile type mix and value ranges, at
  ``EVENT_RATE`` events per second of event time;
* ``BURSTS_PER_FILE`` bursts on fresh burst entities, cycling through the
  three stateful rules, each shaped to fire its rule (R1: 25 logins 1 s
  apart; R2: nine small deposits then a spike; R4: 15 large transfers
  1 s apart);
* about ``DUP_SHARE`` exact duplicate rows copied from events of the same
  file, so every duplicate falls inside the dedup state's lifetime.

Values are whole numbers and no two distinct events of one entity share a
timestamp, so the batch rules and the streaming kernel compute
bit-identical window sums (see ``with_trailing_aggs`` in
``pulseboard_spark/operators/windows.py``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
T0_US = 1_704_067_200 * US  # 2024-01-01T00:00:00Z
EVENT_RATE = 5.0  # background events per second of event time
MIN_SPAN_S = 40  # every burst fits inside one file
DISORDER_S = 60
N_ENTITIES = 1000
ZIPF_S = 1.1
DUP_SHARE = 0.05
BURSTS_PER_FILE = 3
EID_STRIDE = 10_000_000  # event ids of file k are k*EID_STRIDE + j

GEOS = ["US", "UK", "DE", "FR", "CA"]
DEVICES = ["desktop", "mobile", "tablet"]
#: profile -> (types, type shares, value ranges [lo, hi))
MIX = {
    "SASE": (["CONN_OPEN", "CONN_BYTES", "LOGIN"], [0.5, 0.3, 0.2], [(1, 100), (100, 50_000), (0, 2)]),
    "IGAMING": (["BET_PLACED", "CASHIN", "LOGIN"], [0.6, 0.2, 0.2], [(1, 500), (10, 5_000), (0, 2)]),
}
#: burst kind -> (profile, type, spacing s, values)
BURSTS = {
    "R1": ("IGAMING", "LOGIN", 1, [1.0] * 25),
    "R2": ("IGAMING", "CASHIN", 2, [10.0] * 9 + [1000.0]),
    "R4": ("SASE", "CONN_BYTES", 1, [200.0] * 15),
}
SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("ts_us", pa.int64()),
        ("ts_ms", pa.int64()),
        ("entity_id", pa.string()),
        ("profile", pa.string()),
        ("type", pa.string()),
        ("value", pa.float64()),
        ("geo", pa.string()),
        ("device", pa.string()),
    ]
)


def spark_schema():
    from pyspark.sql import types as T

    return T.StructType.fromDDL(
        "event_id long, ts timestamp, ts_us long, ts_ms long, entity_id string, "
        "profile string, type string, value double, geo string, device string"
    )


def span_us(n_events: int) -> int:
    """Event-time span of a file holding ``n_events`` events."""
    return int(max(n_events / EVENT_RATE, MIN_SPAN_S) * US)


def burst_kinds(k: int) -> list[str]:
    kinds = list(BURSTS)
    return [kinds[(k * BURSTS_PER_FILE + b) % len(kinds)] for b in range(BURSTS_PER_FILE)]


def file_table(seed: int, k: int, n_events: int, base_us: int, span: int) -> tuple[pa.Table, int]:
    """File ``k`` of the stream for ``seed``: (table, injected duplicates)."""
    rng = np.random.default_rng([seed, k])
    kinds = burst_kinds(k)
    n_bg = max(n_events - sum(len(BURSTS[kind][3]) for kind in kinds), 0)

    # background: evenly spread slots with jitter inside each slot, so
    # timestamps are distinct
    slot = span // max(n_bg, 1)
    ts = [base_us + np.arange(n_bg, dtype=np.int64) * slot + rng.integers(0, slot, n_bg)]
    w = 1.0 / np.arange(1, N_ENTITIES + 1) ** ZIPF_S
    ent = rng.choice(N_ENTITIES, size=n_bg, p=w / w.sum())
    profile = np.where(ent % 2 == 0, "SASE", "IGAMING").astype(object)
    types = np.empty(n_bg, dtype=object)
    values = np.empty(n_bg)
    u = rng.random(n_bg)
    for prof, (names, shares, ranges) in MIX.items():
        sel = profile == prof
        pick = np.minimum(np.searchsorted(np.cumsum(shares), u[sel], side="right"), len(names) - 1)
        types[sel] = np.asarray(names, dtype=object)[pick]
        lo, hi = np.asarray(ranges).T
        values[sel] = np.floor(lo[pick] + rng.random(int(sel.sum())) * (hi[pick] - lo[pick]))
    entity = [np.char.add("e", ent.astype(str)).astype(object)]
    profiles, type_cols, value_cols = [profile], [types], [values]
    geo = [np.asarray(GEOS, dtype=object)[ent % len(GEOS)]]
    device = [np.asarray(DEVICES, dtype=object)[ent % len(DEVICES)]]

    for b, kind in enumerate(kinds):
        prof, etype, spacing, vals = BURSTS[kind]
        n = len(vals)
        start = base_us + int(rng.integers(0, span - n * spacing * US))
        ts.append(start + np.arange(n, dtype=np.int64) * spacing * US)
        entity.append(np.full(n, f"burst-{k}-{b}", dtype=object))
        profiles.append(np.full(n, prof, dtype=object))
        type_cols.append(np.full(n, etype, dtype=object))
        value_cols.append(np.asarray(vals))
        geo.append(np.full(n, "US", dtype=object))
        device.append(np.full(n, "desktop", dtype=object))

    cols = {
        "ts_us": np.concatenate(ts),
        "entity_id": np.concatenate(entity),
        "profile": np.concatenate(profiles),
        "type": np.concatenate(type_cols),
        "value": np.concatenate(value_cols),
        "geo": np.concatenate(geo),
        "device": np.concatenate(device),
    }
    n_rows = len(cols["ts_us"])
    cols["event_id"] = k * EID_STRIDE + np.arange(n_rows, dtype=np.int64)
    n_dup = int(round(n_rows * DUP_SHARE))
    rows = np.concatenate([np.arange(n_rows), rng.choice(n_rows, size=n_dup)])
    ts_all = cols["ts_us"][rows]
    rows = rows[np.argsort(ts_all + rng.integers(0, DISORDER_S * US, len(rows)), kind="stable")]
    out = {c: v[rows] for c, v in cols.items()}
    table = pa.table(
        {
            "event_id": out["event_id"],
            "ts": pa.array(out["ts_us"], type=pa.timestamp("us", tz="UTC")),
            "ts_us": out["ts_us"],
            "ts_ms": out["ts_us"] // 1000,
            "entity_id": out["entity_id"],
            "profile": out["profile"],
            "type": out["type"],
            "value": out["value"],
            "geo": out["geo"],
            "device": out["device"],
        },
        schema=SCHEMA,
    )
    return table, n_dup


def write_file(path: str, table: pa.Table) -> None:
    """Parquet with microsecond timestamps: the engine's session reads
    nanosecond timestamps as longs, so pyarrow's nanosecond default would
    not load as ``ts``."""
    pq.write_table(table, path, coerce_timestamps="us")
