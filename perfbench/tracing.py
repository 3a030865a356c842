"""Outside-in spans around calls into the program's layers.

Nothing here edits the program. :class:`Tracer` rebinds, for the duration
of a ``with tracer.installed(...)`` block, the names that
``scrapy_spark.plans.crawl`` looks up at call time (the operator functions
it imported, and the ``SnapshotCatalog`` methods) to wrappers that

- record a :class:`Span` (name, start, end, parent, thread) in memory, and
- set a Spark job group naming that span inside the calling thread, so the
  Spark event log can attribute every job, including those submitted from
  the crawl's rollup thread pool, to the span that caused it.

The pure functions below (:func:`union_seconds`, :func:`self_seconds`,
:func:`parse_event_log`) turn spans and the event log into the per-layer
table; they are covered by ``perfbench/test_perfbench.py``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"

# The six frontier operators plans/crawl.py calls, plus fetch and extract.
CRAWL_FUNCTIONS = {
    "canonicalize_candidates": "operators.frontier",
    "apply_robots": "operators.frontier",
    "apply_learned_filters": "operators.frontier",
    "dedup_within_generation": "operators.frontier",
    "anti_join_seen": "operators.frontier",
    "select_frontier": "operators.frontier",
    "fetch_frontier": "operators.fetch",
    "extract_candidates": "operators.extract",
}
# SnapshotCatalog methods; stage and read get the table name in the span.
CATALOG_METHODS = (
    "stage",
    "read",
    "read_files",
    "stage_pandas",
    "staged_rows",
    "staged_column_sum",
    "commit",
)
ROLLUP_TABLES = ("url_seen", "lineage", "candidates", "section_stats", "pattern_stats")


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_seconds(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover
    (children clipped to the span, overlaps counted once)."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in children
        if c.end > span.start and c.start < span.end
    ]
    return span.seconds - union_seconds(clipped)


class Tracer:
    """Collects spans; wraps program entry points while installed."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # spans opened with root=True parent every span of threads that
        # have no open span of their own (the crawl's rollup pool)
        self._root: int | None = None

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._root
        sp = Span(next(self._ids), name, time.perf_counter(), parent=parent,
                  thread=threading.get_ident(), attrs=dict(attrs))
        if root:
            self._root = sp.span_id
        stack.append(sp.span_id)
        prev_group = self._set_group(f"{name}#{sp.span_id}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if root:
                self._root = parent
            self._restore_group(prev_group)
            with self._lock:
                self.spans.append(sp)

    def _set_group(self, label: str):
        if self.spark is None:
            return None
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(GROUP_KEY)
        sc.setJobGroup(label, label)
        return prev

    def _restore_group(self, prev) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if prev is None:
            # what setJobGroup set, unset (a None value removes the property)
            sc.setLocalProperty(GROUP_KEY, None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev)

    def wrap(self, name: str, fn, name_arg: int | None = None, on_call=None):
        """``fn`` wrapped in a span. ``name_arg`` is the index of a
        positional argument to append to the span name; ``on_call(span,
        args)`` may add attributes before the call runs."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            label = name
            if name_arg is not None and len(args) > name_arg:
                label = f"{name}.{args[name_arg]}"
            with self.span(label) as sp:
                if on_call is not None:
                    on_call(sp, args)
                return fn(*args, **kwargs)

        return wrapper

    # -- installation --------------------------------------------------
    @contextlib.contextmanager
    def installed(self, crawl_module=None, catalog_cls=None):
        """Rebind the crawl module's operator names and the catalog's
        methods to span wrappers; restore the originals on exit."""
        saved: list[tuple[object, str, object]] = []

        def patch(owner, attr, new):
            saved.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, new)

        try:
            if crawl_module is not None:
                for fname, layer in CRAWL_FUNCTIONS.items():
                    patch(crawl_module, fname,
                          self.wrap(f"{layer}.{fname}", getattr(crawl_module, fname)))
            if catalog_cls is not None:
                for meth in CATALOG_METHODS:
                    # stage(self, df, table, ...) / read(self, spark, table)
                    idx = 2 if meth in ("stage", "read") else None
                    hook = _count_read_files if meth == "read" else None
                    patch(catalog_cls, meth,
                          self.wrap(f"sources.catalog.{meth}",
                                    getattr(catalog_cls, meth), idx, hook))
            yield self
        finally:
            for owner, attr, old in reversed(saved):
                setattr(owner, attr, old)


def _count_read_files(sp: Span, args) -> None:
    """Attributes of a ``SnapshotCatalog.read(spark, table)`` call: the
    files the read lists (every committed file of the table) and those of
    the latest committed generation, the only ones a per-generation caller
    such as the candidates read keeps."""
    catalog, table = args[0], args[2]
    m = catalog._load()
    files = m["tables"].get(table, [])
    prefix = f"g{m['committed_generation']:05d}-"
    sp.attrs["files"] = len(files)
    sp.attrs["latest_files"] = sum(
        os.path.basename(f).startswith(prefix) for f in files
    )


def read_amplification(spans: list[Span], table: str = "candidates") -> float:
    """Files listed by ``read(table)`` over the files of the generation the
    caller keeps, summed over all such reads (1.0 = no wasted listing)."""
    reads = [s for s in spans if s.name == f"sources.catalog.read.{table}"]
    listed = sum(s.attrs.get("files", 0) for s in reads)
    kept = sum(s.attrs.get("latest_files", 0) for s in reads)
    return listed / kept if kept else 0.0


# -- event log -----------------------------------------------------------

TASK_FIELDS = (
    "task_s", "task_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "py_worker_s",
    "py_bytes_in", "py_bytes_out",
)
PY_ACCUMS = {
    "time to run Python workers": ("py_worker_s", 1e-3),  # milliseconds
    "data sent to Python workers": ("py_bytes_in", 1.0),
    "data returned from Python workers": ("py_bytes_out", 1.0),
}


def task_metrics(event: dict) -> dict[str, float]:
    """One ``SparkListenerTaskEnd`` -> the per-layer task fields."""
    m = event.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    out = dict.fromkeys(TASK_FIELDS, 0.0)
    out["task_s"] = m.get("Executor Run Time", 0) / 1e3
    out["task_cpu_s"] = m.get("Executor CPU Time", 0) / 1e9
    out["gc_s"] = m.get("JVM GC Time", 0) / 1e3
    out["shuffle_read_bytes"] = float(
        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    )
    out["shuffle_write_bytes"] = float(sw.get("Shuffle Bytes Written", 0))
    out["spill_bytes"] = float(
        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    )
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        hit = PY_ACCUMS.get(acc.get("Name"))
        if hit is not None:
            key, scale = hit
            out[key] += float(acc.get("Update", 0)) * scale
    return out


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    metrics: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    # task time of the stages whose RDD scopes include MapInPandas (fetch)
    udf_task_s: float = 0.0


def parse_event_log(lines) -> dict[str | None, GroupStats]:
    """Aggregate task metrics of an uncompressed Spark event log by job
    group. Jobs started without a group land under ``None``."""
    stage_group: dict[int, str | None] = {}
    stage_udf: dict[int, bool] = {}
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        if not line.strip():
            continue
        try:
            e = json.loads(line)
        except json.JSONDecodeError:
            continue  # the unflushed tail of a log still being written

        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(GROUP_KEY)
            groups[g].jobs += 1
            for info in e.get("Stage Infos", []):
                sid = info["Stage ID"]
                stage_group[sid] = g
                scopes = " ".join(r.get("Scope") or "" for r in info.get("RDD Info", []))
                stage_udf[sid] = "MapInPandas" in scopes
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif ev == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            groups[stage_group.get(sid)].stages += 1
        elif ev == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            gs = groups[stage_group.get(sid)]
            gs.tasks += 1
            tm = task_metrics(e)
            for k, v in tm.items():
                gs.metrics[k] += v
            if stage_udf.get(sid):
                gs.udf_task_s += tm["task_s"]
    return dict(groups)


def read_event_log(log_dir: str) -> dict[str | None, GroupStats]:
    """Parse every event log file in ``log_dir`` (one per application)."""
    out: dict[str | None, GroupStats] = {}
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for g, gs in parse_event_log(f).items():
                out[g] = gs  # one application per run: no key overlaps
    return out


def span_of_group(group: str | None) -> int | None:
    """``"name#17"`` -> 17, the span that set the job group."""
    if not group or "#" not in group:
        return None
    tail = group.rsplit("#", 1)[1]
    return int(tail) if tail.isdigit() else None
