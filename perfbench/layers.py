"""The traced repetition and the per-layer metrics built from it.

A traced run turns on Spark's event log for the whole session, runs the
untraced timed window as usual, then one more repetition with the
:class:`perfbench.tracing.Tracer` wrappers installed. Spans give driver
time per layer; the event log, grouped by the job group each span set,
gives task time, CPU, GC, shuffle, spill and Python-worker time per layer;
``/proc`` gives CPU per process kind. Metric names and what each should
move are listed in perfbench/README.md.
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench import procstat
from perfbench.tracing import (
    ROLLUP_TABLES,
    GroupStats,
    Span,
    Tracer,
    read_amplification,
    read_event_log,
    self_seconds,
    span_of_group,
    union_seconds,
)
from perfbench.workloads import QUERY_MIX, Rep, timed_rep

CRAWL_ROOT = "plans.crawl.run"
QUERIES_ROOT = "entry_queries.pass"


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class TracedRep:
    rep: Rep
    spans: list[Span]
    peak_rss_mb: float = 0.0
    committed_bytes: int = 0
    # the untraced repetitions run directly before and after this one
    neighbours: list[Rep] = field(default_factory=list)
    groups: dict = field(default_factory=dict)

    def overhead(self) -> tuple[float, float]:
        """Traced minus the mean of the two neighbouring untraced
        repetitions, in wall seconds and in CPU-seconds. Taking the rep
        before and the rep after cancels a steady drift of the process
        (the JVM still warming up) over the three."""
        n = self.neighbours
        if not n:
            return 0.0, 0.0
        wall = self.rep.wall_s - statistics.mean(r.wall_s for r in n)
        cpu = self.rep.cpu["total"] - statistics.mean(r.cpu["total"] for r in n)
        return wall, cpu


def traced_rep(wl, spark) -> TracedRep:
    """One more repetition of ``wl`` with every layer wrapped in spans."""
    tracer = Tracer(spark)
    if wl.name == "crawl":
        from scrapy_spark.plans import crawl as crawl_mod
        from scrapy_spark.sources.catalog import SnapshotCatalog

        with tracer.installed(crawl_mod, SnapshotCatalog):
            with tracer.span(CRAWL_ROOT, root=True):
                rep = timed_rep(wl)
    else:
        wl.query_span = tracer.span
        try:
            with tracer.span(QUERIES_ROOT, root=True):
                rep = timed_rep(wl)
        finally:
            wl.query_span = None
    return TracedRep(rep, list(tracer.spans), procstat.py_worker_peak_rss_mb())


def _sum_spans(spans, prefix: str) -> float:
    return sum(s.seconds for s in spans if s.name.startswith(prefix))


def _groups_by_span(groups: dict, spans: list[Span]) -> dict[int, GroupStats]:
    ids = {s.span_id for s in spans}
    out = {}
    for g, gs in groups.items():
        sid = span_of_group(g)
        if sid in ids:
            out[sid] = gs
    return out


def _total(stats: list[GroupStats], key: str) -> float:
    return sum(gs.metrics[key] for gs in stats)


def per_layer(workload: str, tr: TracedRep, log_dir: str, wall: dict[str, float]) -> dict:
    """Every per-layer metric of BENCHMARK.json; layers the workload does
    not reach read 0. ``wall`` holds the untraced reps' wall-time figures."""
    tr.groups = read_event_log(log_dir)
    spans = tr.spans
    by_span = _groups_by_span(tr.groups, spans)
    names = {s.span_id: s.name for s in spans}
    all_stats = list(by_span.values())
    n_gens = max(1, len(tr.rep.ops)) if workload == "crawl" else 1
    root_name = CRAWL_ROOT if workload == "crawl" else QUERIES_ROOT
    root = next(s for s in spans if s.name == root_name)
    children = [s for s in spans if s is not root]

    def named(prefix):
        return [by_span[i] for i in by_span if names[i].startswith(prefix)]

    m: dict[str, tuple[float, str]] = {
        "run.wall_s": (wall["wall_s"], "s"),
        "run.items_per_s": (wall["items_per_s"], "1/s"),
        "run.op_p50_s": (wall["op_p50_s"], "s"),
    }
    overhead_s, overhead_cpu_s = tr.overhead()
    m["trace.wall_s"] = (tr.rep.wall_s, "s")
    m["trace.overhead_s"] = (overhead_s, "s")
    m["trace.overhead_cpu_s"] = (overhead_cpu_s, "CPU-s")

    crawl = workload == "crawl"
    m["plans.crawl.self_s"] = (self_seconds(root, children) if crawl else 0.0, "s")
    m["plans.crawl.jobs_per_gen"] = (
        sum(gs.jobs for gs in all_stats) / n_gens if crawl else 0.0, "count")
    m["operators.frontier.plan_s"] = (_sum_spans(spans, "operators.frontier."), "s")
    m["operators.extract.plan_s"] = (_sum_spans(spans, "operators.extract."), "s")
    m["operators.fetch.plan_s"] = (_sum_spans(spans, "operators.fetch."), "s")
    m["sources.catalog.stage.fetch_results_s"] = (
        _sum_spans(spans, "sources.catalog.stage.fetch_results"), "s")
    fetch_jobs = named("sources.catalog.stage.fetch_results")
    m["operators.fetch.py_worker_s"] = (_total(fetch_jobs, "py_worker_s"), "s")
    m["operators.fetch.py_bytes_in"] = (_total(fetch_jobs, "py_bytes_in"), "B")
    m["operators.fetch.py_bytes_out"] = (_total(fetch_jobs, "py_bytes_out"), "B")
    udf = sum(gs.udf_task_s for gs in fetch_jobs)
    m["operators.fetch.task_s"] = (udf, "s")
    m["operators.frontier.task_s"] = (_total(fetch_jobs, "task_s") - udf, "s")
    rollups = [s for s in spans
               if s.name in {f"sources.catalog.stage.{t}" for t in ROLLUP_TABLES}]
    m["sources.catalog.rollup_wall_s"] = (
        union_seconds((s.start, s.end) for s in rollups), "s")
    m["sources.catalog.rollup_busy_s"] = (sum(s.seconds for s in rollups), "s")
    m["sources.catalog.read_s"] = (_sum_spans(spans, "sources.catalog.read"), "s")
    m["sources.catalog.files_scanned"] = (
        sum(s.attrs.get("files", 0) for s in spans), "count")
    m["sources.catalog.read_amplification"] = (read_amplification(spans), "ratio")
    m["sources.catalog.commit_s"] = (_sum_spans(spans, "sources.catalog.commit"), "s")
    m["sources.catalog.bytes_per_url"] = (
        tr.committed_bytes / tr.rep.items if crawl and tr.rep.items else 0.0, "B/URL")

    m["spark.task_s"] = (_total(all_stats, "task_s"), "s")
    m["spark.task_cpu_s"] = (_total(all_stats, "task_cpu_s"), "s")
    m["spark.gc_s"] = (_total(all_stats, "gc_s"), "s")
    m["spark.shuffle_read_bytes"] = (_total(all_stats, "shuffle_read_bytes"), "B")
    m["spark.shuffle_write_bytes"] = (_total(all_stats, "shuffle_write_bytes"), "B")
    m["spark.spill_bytes"] = (_total(all_stats, "spill_bytes"), "B")
    m["cpu.driver_s"] = (tr.rep.cpu.get("driver", 0.0), "CPU-s")
    m["cpu.jvm_s"] = (tr.rep.cpu.get("jvm", 0.0), "CPU-s")
    m["cpu.py_workers_s"] = (tr.rep.cpu.get("py_workers", 0.0), "CPU-s")
    m["operators.fetch.py_worker_peak_rss_mb"] = (tr.peak_rss_mb if crawl else 0.0, "MB")

    for q in QUERY_MIX:
        qs = [s for s in spans if s.name == f"entry_queries.{q}"]
        st = [by_span[s.span_id] for s in qs if s.span_id in by_span]
        m[f"entry_queries.{q}.s"] = (sum(s.seconds for s in qs), "s")
        m[f"entry_queries.{q}.jobs"] = (sum(gs.jobs for gs in st), "count")
        m[f"entry_queries.{q}.task_s"] = (_total(st, "task_s"), "s")
        m[f"entry_queries.{q}.shuffle_bytes"] = (
            _total(st, "shuffle_read_bytes") + _total(st, "shuffle_write_bytes"), "B")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def print_table(tr: TracedRep, log_dir: str) -> None:
    """One row per span name: calls, wall, self time, and the Spark work
    its jobs did."""
    spans = tr.spans
    groups = tr.groups or read_event_log(log_dir)
    by_span = _groups_by_span(groups, spans)
    kids: dict[int | None, list[Span]] = defaultdict(list)
    for s in spans:
        kids[s.parent].append(s)
    rows: dict[str, list[float]] = defaultdict(lambda: [0.0] * 8)
    for s in spans:
        r = rows[s.name]
        gs = by_span.get(s.span_id)
        r[0] += 1
        r[1] += s.seconds
        r[2] += self_seconds(s, kids[s.span_id])
        if gs is not None:
            r[3] += gs.jobs
            r[4] += gs.tasks
            r[5] += gs.metrics["task_s"]
            r[6] += gs.metrics["shuffle_read_bytes"] + gs.metrics["shuffle_write_bytes"]
            r[7] += gs.metrics["py_worker_s"]
    head = f"{'span':<46} {'calls':>5} {'wall_s':>8} {'self_s':>8} {'jobs':>5} {'tasks':>6} {'task_s':>8} {'shuffle_MB':>10} {'py_s':>7}"
    print(head)
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1][1]):
        print(f"{name:<46} {int(r[0]):>5} {r[1]:>8.3f} {r[2]:>8.3f} {int(r[3]):>5} "
              f"{int(r[4]):>6} {r[5]:>8.3f} {r[6] / 1e6:>10.2f} {r[7]:>7.3f}")
    unlabelled = groups.get(None)
    if unlabelled is not None:
        print(f"(jobs outside any span, incl. set-up and untraced reps: {unlabelled.jobs})")
    wall, cpu = tr.overhead()
    print(f"tracing overhead: {wall:+.3f} s wall, {cpu:+.2f} CPU-s (traced rep "
          f"{tr.rep.wall_s:.3f} s, {tr.rep.cpu['total']:.2f} CPU-s; untraced reps before "
          f"and after: " + ", ".join(f"{r.wall_s:.3f} s, {r.cpu['total']:.2f} CPU-s"
                                      for r in tr.neighbours) + ")")


