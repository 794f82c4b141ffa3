"""``analyst_sf0.1``: registry queries over the seeded corpus, one client,
closed loop.

Set-up starts the session and runs one warm-up query on a small corpus at
another path.  The measured part is one cold pass over a fresh copy of
the sf0.1 corpus (a path the session has never seen, so plan
construction, silver-cache builds and execution all run), then warm
passes over the same path, one per ``WARM_PASS_S`` of ``--seconds``.  The seed
shuffles the query order of every pass.  Each query is timed as its build
(``QUERIES[name](spark, dir)``) plus a write of the result to the no-op
sink, which computes every output column and collects nothing.  After
the measured part every query's result is checked against its DuckDB
oracle.
"""

from __future__ import annotations

import random
import shutil
import statistics
import sys

from common import CACHE, Tracer, code_tag, percentile
import corpus
import oracle

#: Query slice, each picked for the layer it leans on: a fact-fact join
#: with shuffles (``tpch_q3``), RANGE-frame windows over the event silver
#: (``win_trailing_aggs``, ``gap_fill_hours``), the Arrow/pandas scan
#: (``ewma``), document hashing (``dedup_exact``) and Python text kernels
#: (``text_quality``).
SLICE = [
    "tpch_q3_shipping_priority",
    "win_trailing_aggs",
    "gap_fill_hours",
    "ewma",
    "dedup_exact",
    "text_quality",
]
#: queries whose executed plans must contain a Window operator: proof that
#: the timed no-op write computes every output column (``count()`` lets the
#: optimiser drop their window columns)
WINDOW_QUERIES = ("win_trailing_aggs", "gap_fill_hours")
WARMUP_QUERY = "tpch_q1_pricing_summary"
CORPUS = (0.1, 42)  # (scale factor, corpus seed)
WARMUP_CORPUS = (0.01, 43)
#: warm passes per run: one per ``WARM_PASS_S`` of ``--seconds`` (a warm
#: pass takes about 4-6 s on 4 cores), so every run does the same work
WARM_PASS_S = 6
MIN_WARM_PASSES = 2


def _corpus(sf: float, seed: int):
    path = CACHE / f"corpus-{code_tag(corpus)}-sf{sf}-s{seed}"
    corpus.build(str(path), sf, seed)
    return path


def prepare(ctx) -> None:
    """Inputs: both corpora, fresh copies of them for this run, and the
    DuckDB oracle images of the slice."""
    base = _corpus(*CORPUS)
    ctx.duck = oracle.duck_images(base, SLICE, base.with_name(base.name + "-duck.json"))
    ctx.warmup_dir = ctx.run_dir / "warmup-corpus"
    shutil.copytree(_corpus(*WARMUP_CORPUS), ctx.warmup_dir)
    ctx.corpus_dir = ctx.run_dir / "corpus"
    shutil.copytree(base, ctx.corpus_dir)


def warm_up(ctx, spark) -> None:
    from pulseboard_spark.registry import QUERIES

    QUERIES[WARMUP_QUERY](spark, str(ctx.warmup_dir)).write.format("noop").mode("overwrite").save()


def measure(ctx, spark) -> dict:
    from pulseboard_spark.registry import QUERIES

    tr: Tracer = ctx.tracer
    rng = random.Random(ctx.seed)
    path = str(ctx.corpus_dir)
    passes: list[dict] = []
    last_df: dict = {}
    memo_hits = builds_after_first = 0
    n_passes = 1 + max(MIN_WARM_PASSES, ctx.seconds // WARM_PASS_S)
    while len(passes) < n_passes:
        p = len(passes)
        order = SLICE[:]
        rng.shuffle(order)
        record = {"kind": "cold" if p == 0 else "warm", "queries": {}, "errors": []}
        with tr.span(f"pass.{record['kind']}", op=f"pass{p}") as ps:
            for name in order:
                with tr.span("query", op=f"pass{p}:{name}") as qs:
                    try:
                        with tr.span("registry.build", job_group=True):
                            df = QUERIES[name](spark, path)
                        with tr.span("operators.exec", job_group=True):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception as exc:  # counted as a failed operation
                        record["errors"].append(f"{name}: {type(exc).__name__}: {exc}")
                        continue
                if p:
                    builds_after_first += 1
                    memo_hits += df is last_df.get(name)
                last_df[name] = df
                record["queries"][name] = qs.end - qs.start
        record["wall"] = ps.end - ps.start
        times = " ".join(f"{n}={t:.2f}" for n, t in record["queries"].items())
        print(f"# pass {p} {record['kind']} {record['wall']:.2f}s: {times}", file=sys.stderr)
        record["span"] = ps.id
        passes.append(record)
    ctx.passes = passes
    ctx.memo_hit_ratio = memo_hits / max(builds_after_first, 1)
    warm = [r for r in passes if r["kind"] == "warm"]
    per_query = [t for r in warm for t in r["queries"].values()]
    ctx.samples = len(per_query)
    return {
        "cold_s": passes[0]["wall"],
        "warm_s": statistics.median(r["wall"] for r in warm),
        "p50_s": percentile(per_query, 50),
        "tail_s": percentile(per_query, 90),
    }


def check(ctx, spark) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems): every timed execution is an attempt;
    one that raised, or whose query's result differs from the oracle,
    failed."""
    from pulseboard_spark.registry import QUERIES

    runs = {n: sum(n in r["queries"] for r in ctx.passes) for n in SLICE}
    errors = [e for r in ctx.passes for e in r["errors"]]
    attempted = sum(runs.values()) + len(errors)
    failed, problems = len(errors), list(errors)
    with ctx.tracer.span("check", op="check"):
        for name in SLICE:
            try:
                got = oracle.image(QUERIES[name](spark, str(ctx.corpus_dir)).toPandas())
                diff = oracle.mismatch(got, ctx.duck[name])
            except Exception as exc:
                diff = f"{type(exc).__name__}: {exc}"
            if diff:
                failed += runs[name]
                problems.append(f"{name}: {diff}")
    ctx.mismatches = sum(1 for p in problems if p not in errors)
    return attempted, failed, problems
