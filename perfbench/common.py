"""Shared pieces of the benchmark: the work directory, the process
environment, spans, the resident-memory sampler and percentiles."""

from __future__ import annotations

import hashlib
import os
import shlex
import shutil
import tempfile
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
#: Everything the benchmark writes lives here (ignored by git).
WORK = ROOT / ".perfbench"
CACHE = WORK / "cache"


def code_tag(module) -> str:
    """Short digest of a generator module's source: part of every input
    cache key, so editing a generator never reuses stale inputs."""
    return hashlib.sha256(Path(module.__file__).read_bytes()).hexdigest()[:10]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_start_epoch() -> float:
    """Wall-clock start of this process, from ``/proc``."""
    ticks = os.sysconf("SC_CLK_TCK")
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / ticks


def prepare_env(run_dir: Path, event_log: Path | None) -> None:
    """Point every scratch location of Python, the JVM and Spark inside
    ``run_dir``; with ``event_log`` set, enable Spark's event log there.
    Must run before the first SparkSession is built."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    # no hsperfdata: the launcher and driver JVMs would otherwise write it
    # under the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    args = [f"--driver-java-options {java_opts}"]
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{event_log}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def fresh_dir(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    return float(np.percentile(values, q))


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    id: int


@dataclass
class Tracer:
    """Spans kept in memory and written when the run ends.

    A span records the layer it times, its wall-clock start and end, the
    span that caused it and the operation it belongs to (run, pass or
    query).  With ``jobs`` set, every span opened with ``job_group=True``
    also tags the Spark jobs started inside it with a job group named
    after the span, so the event log can be joined back to the span."""

    sc: object = None
    jobs: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: str = "", job_group: bool = False):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if not op and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.time(), 0.0, parent, op, sid)
        self.spans.append(s)
        self._stack.append(sid)
        if job_group and self.jobs and self.sc is not None:
            self.sc.setJobGroup(group_id(s), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if job_group and self.jobs and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def self_time(self, s: Span) -> float:
        """Duration minus the part of it covered by child spans."""
        covered, last = 0.0, s.start
        for c in sorted(self.children(s.id), key=lambda c: c.start):
            lo, hi = max(c.start, last), min(c.end, s.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return (s.end - s.start) - covered


def group_id(s: Span) -> str:
    return f"pb{s.id}:{s.name}"


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the JVM, its Python worker daemon and workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)
