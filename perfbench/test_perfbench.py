"""The benchmark's own tests: seeded inputs, metric names, rule firing.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import corpus  # noqa: E402
import layers  # noqa: E402
import stream_gen  # noqa: E402
from common import ROOT  # noqa: E402
from metrics import END_TO_END, PER_LAYER  # noqa: E402


def _stream_file(tmp_path: Path, seed: int, k: int = 3, n: int = 400) -> bytes:
    table, _ = stream_gen.file_table(seed, k, n, stream_gen.T0_US, stream_gen.span_us(n))
    path = tmp_path / f"s{seed}-k{k}.parquet"
    stream_gen.write_file(str(path), table)
    return path.read_bytes()


def _corpus_bytes(tmp_path: Path, seed: int) -> dict[str, bytes]:
    path = tmp_path / f"corpus-{seed}"
    corpus.build(str(path), 0.001, seed)
    return {p.name: p.read_bytes() for p in sorted(path.glob("*.parquet"))}


def test_same_seed_gives_identical_inputs(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    assert _stream_file(a, 5) == _stream_file(b, 5)
    assert _corpus_bytes(a, 5) == _corpus_bytes(b, 5)


def test_different_seed_gives_different_inputs(tmp_path):
    assert _stream_file(tmp_path, 5) != _stream_file(tmp_path, 6)
    a, b = _corpus_bytes(tmp_path, 5), _corpus_bytes(tmp_path, 6)
    assert a.keys() == b.keys() and a != b


def test_stream_files_keep_the_workload_contract():
    n = 400
    table, dups = stream_gen.file_table(9, 4, n, stream_gen.T0_US, stream_gen.span_us(n))
    df = table.to_pandas()
    assert table.schema == stream_gen.SCHEMA
    assert len(df) == n + dups and 0.03 < dups / n < 0.07
    assert df["event_id"].duplicated().sum() == dups
    assert (df["event_id"] // stream_gen.EID_STRIDE == 4).all()
    span = stream_gen.span_us(n)
    assert df["ts_us"].between(stream_gen.T0_US, stream_gen.T0_US + span - 1).all()
    # out of order only by less than the grace, and never across files
    disorder = (df["ts_us"].cummax() - df["ts_us"]).max()
    assert 0 < disorder < stream_gen.DISORDER_S * 1_000_000
    distinct = df.drop_duplicates("event_id")
    assert not distinct.duplicated(["entity_id", "type", "ts_us"]).any()


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == ["analyst_sf0.1", "alerts_stream"]


def test_per_layer_report_emits_every_name():
    class Ctx:
        inputs_s, mismatches, peak_rss_mb = 0.5, 0, 1.0

    from common import Tracer

    tr = Tracer()
    for name in ("session.start", "session.warmup"):
        with tr.span(name):
            pass
    Ctx.tracer = tr
    assert set(layers.base(Ctx, {"warm_s": 1.0}, {})) == set(PER_LAYER)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    sys.path.insert(0, str(ROOT))
    from pulseboard_spark.session import get_spark

    from run import _stop_jvm

    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()
    _stop_jvm()


def test_generator_fires_r1_r2_r4(spark, tmp_path):
    from pulseboard_spark.operators import rules

    for k in range(3):
        n = 400
        table, _ = stream_gen.file_table(1, k, n, stream_gen.T0_US + k * stream_gen.span_us(n), stream_gen.span_us(n))
        stream_gen.write_file(str(tmp_path / f"f{k}.parquet"), table)
    events = spark.read.parquet(str(tmp_path)).dropDuplicates(["event_id"])
    fired = {r["rule"] for r in rules.alerts(events).select("rule").distinct().collect()}
    assert {"R1_VELOCITY_SPIKE", "R2_VALUE_SPIKE", "R4_EXFIL"} <= fired
