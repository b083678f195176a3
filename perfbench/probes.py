"""Measurement tools of the benchmark: spans, process-tree RSS, Spark's own
stage metrics, driver-side kernel timing and the single-thread control.

Nothing here reaches inside the engine: spans are recorded around calls
the benchmark makes into public functions, and Spark numbers come from the
application status store that Spark keeps for every job.
"""
from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections.abc import Iterator
from dataclasses import dataclass, field


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


@dataclass
class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        sp = Span(len(self.spans), name,
                  self._stack[-1] if self._stack else None,
                  time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    @contextlib.contextmanager
    def wrapped(self, owner: object, attr: str, name: str) -> Iterator[None]:
        """Record a span around every call of ``owner.attr`` while open."""
        if not self.enabled:
            yield
            return
        fn = getattr(owner, attr)

        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, timed)
        try:
            yield
        finally:
            setattr(owner, attr, fn)

    def self_times(self, root: Span) -> dict[str, float]:
        """Self time per layer under ``root`` (a span's duration minus the
        part its children cover); the root's own self time is returned
        under ``"remainder"``."""
        children: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}

        def walk(sp: Span) -> None:
            kids = children.get(sp.sid, [])
            own = (sp.end - sp.start) - sum(k.end - k.start for k in kids)
            key = "remainder" if sp is root else sp.layer
            out[key] = out.get(key, 0.0) + own
            for k in kids:
                walk(k)

        walk(root)
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([{"id": s.sid, "name": s.name, "parent": s.parent,
                        "start_s": s.start - t0, "end_s": s.end - t0}
                       for s in self.spans], f, indent=0)


# ---------------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, RSS bytes) for every process in /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we looked
        fields = stat[stat.rindex(")") + 2:].split()
        table[int(name)] = (int(fields[1]), int(fields[21]) * page)
    return table


def descendants(root_pid: int,
                table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    out = []
    for pid in table:
        p = pid
        while p and p != root_pid:
            p = table.get(p, (0, 0))[0]
        if p == root_pid and pid != root_pid:
            out.append(pid)
    return out


def alive(pid: int) -> bool:
    """Running (a zombie waiting to be reaped by its parent has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _tree_rss_bytes(root_pid: int) -> int:
    table = _proc_table()
    return table.get(root_pid, (0, 0))[1] + sum(
        table[pid][1] for pid in descendants(root_pid, table))


class RssSampler:
    """Peak RSS of this process and all its descendants (the JVM and the
    Python workers it forks), sampled from /proc on a background thread."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# ---------------------------------------------------------------------------
# Spark's own stage metrics
# ---------------------------------------------------------------------------

class StageMetrics:
    """Sums the status store's stage metrics over the jobs of one job
    group — the Spark-side view of one benchmark job."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextlib.contextmanager
    def group(self) -> Iterator[dict]:
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        totals: dict = {}
        try:
            yield totals
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        totals.update(self._collect(gid))

    def _collect(self, gid: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 0)
        tracker = self.sc.statusTracker()
        out = {"tasks": 0, "failed_tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
               "deserialize_s": 0.0, "gc_s": 0.0}
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, None, False, quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["deserialize_s"] += st.executorDeserializeTime() / 1e3
                out["gc_s"] += st.jvmGcTime() / 1e3
        return out


# ---------------------------------------------------------------------------
# driver-side kernels and the machine control
# ---------------------------------------------------------------------------

KERNEL_KINDS = ("html", "csv", "ipynb", "text", "docx", "xlsx", "pptx",
                "epub", "pdf")


def kernel_sample(docs: list[tuple[str, list[dict]]]) -> dict[str, float]:
    """Single-thread ``convert_document`` over ``docs`` with every
    ``REGISTRY`` kernel timed: per-kind µs per call and call count, plus
    the dispatch cost (``convert_document`` time minus kernel time)."""
    from marky_spark.convert import convert_document
    from marky_spark.kernels import REGISTRY

    for doc_id, spans in docs[:50]:  # warm regex caches and zip templates
        convert_document(doc_id, spans)
    spent: dict[str, float] = {}
    calls: dict[str, int] = {}
    original = dict(REGISTRY)

    def timed(kind, fn):
        def run(text):
            t0 = time.perf_counter()
            try:
                return fn(text)
            finally:
                spent[kind] = spent.get(kind, 0.0) + time.perf_counter() - t0
                calls[kind] = calls.get(kind, 0) + 1
        return run

    REGISTRY.update({k: timed(k, fn) for k, fn in original.items()})
    try:
        t0 = time.perf_counter()
        for doc_id, spans in docs:
            convert_document(doc_id, spans)
        total = time.perf_counter() - t0
    finally:
        REGISTRY.update(original)
    out: dict[str, float] = {}
    for kind in KERNEL_KINDS:
        n = calls.get(kind, 0)
        out[f"kernels.{kind}.docs"] = n
        out[f"kernels.{kind}.us_per_doc"] = spent[kind] / n * 1e6 if n else 0.0
    out["convert.dispatch_us_per_doc"] = (
        (total - sum(spent.values())) / len(docs) * 1e6)
    return out


_CONTROL_DOCS = 600


def control_docs_per_s(rounds: int = 3) -> float:
    """Machine control: single-thread ``convert_document`` docs/sec over a
    fixed, seed-independent slice of the synthetic corpus (median of
    ``rounds`` passes). Same code on every commit that leaves the kernels
    alone, so drift here is drift of the machine."""
    from marky_spark.convert import convert_document
    from marky_spark.corpus import make_synth_doc

    docs = [make_synth_doc(i) for i in range(_CONTROL_DOCS)]
    for d in docs[:50]:
        convert_document(d["doc_id"], d["spans"])
    rates = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        for d in docs:
            convert_document(d["doc_id"], d["spans"])
        rates.append(len(docs) / (time.perf_counter() - t0))
    return median(rates)


def package_loc(root: str) -> int:
    """Lines of the shipped package (every .py under ``marky_spark/``)."""
    n = 0
    for dirpath, _, files in os.walk(os.path.join(root, "marky_spark")):
        for name in files:
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    n += sum(1 for _ in f)
    return n
