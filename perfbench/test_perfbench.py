"""Self-tests for the benchmark's own arithmetic.

    python -m pytest perfbench -q

The first group is pure: span union and self time, the ``/proc``
process-tree CPU sum (on a fake ``/proc``), event-log grouping by job group,
and read amplification. The last two tests start Spark and run the traced
path end to end on tiny inputs: a 2-generation crawl and the query mix at
sf0.001, both checked against the program's oracles.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import procstat  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Span,
    Tracer,
    _count_read_files,
    parse_event_log,
    read_amplification,
    self_seconds,
    span_of_group,
    union_seconds,
)

# -- spans -------------------------------------------------------------------


def test_union_merges_overlaps_and_keeps_gaps():
    assert union_seconds([]) == 0.0
    assert union_seconds([(0, 1)]) == 1.0
    assert union_seconds([(0, 2), (1, 3)]) == 3.0  # overlap counted once
    assert union_seconds([(0, 1), (2, 3)]) == 2.0  # gap not counted
    assert union_seconds([(2, 3), (0, 4), (5, 6)]) == 5.0  # nested, unsorted


def test_self_time_subtracts_union_of_clipped_children():
    root = Span(1, "root", 0.0, 10.0)
    kids = [
        Span(2, "a", 1.0, 4.0),   # 3 s
        Span(3, "b", 3.0, 5.0),   # overlaps a by 1 s (another thread)
        Span(4, "c", 9.0, 12.0),  # only 1 s inside root
    ]
    assert self_seconds(root, kids) == pytest.approx(10 - (4 + 1))
    assert self_seconds(root, []) == 10.0


def test_tracer_parents_pool_spans_to_the_root_and_restores_wrapped_names():
    import threading
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)
    tr = Tracer()
    with tr.span("root", root=True) as root:
        wrapped = tr.wrap("layer.f", mod.f)
        assert wrapped(1) == 2
        t = threading.Thread(target=lambda: wrapped(5))
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    kids = [s for s in tr.spans if s.name == "layer.f"]
    assert len(kids) == 2 and all(s.parent == root.span_id for s in kids)

    class Cat:
        def read(self, spark, table):
            return table

    class CrawlMod:
        pass

    crawl_mod = CrawlMod()
    for name in ("canonicalize_candidates", "apply_robots", "apply_learned_filters",
                 "dedup_within_generation", "anti_join_seen", "select_frontier",
                 "fetch_frontier", "extract_candidates"):
        setattr(crawl_mod, name, lambda *a: "orig")
    for meth in ("stage", "read_files", "stage_pandas", "staged_rows",
                 "staged_column_sum", "commit"):
        setattr(Cat, meth, lambda self, *a: None)
    before = Cat.read
    with tr.installed(crawl_mod, Cat):
        assert Cat.read is not before
    assert Cat.read is before and crawl_mod.select_frontier() == "orig"


def test_span_of_group():
    assert span_of_group("sources.catalog.stage.url_seen#17") == 17
    assert span_of_group(None) is None
    assert span_of_group("no-span") is None


# -- /proc -------------------------------------------------------------------


def _stat_line(pid, comm, ppid, utime, stime, cutime=0, cstime=0):
    # fields 3.. : state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime ...
    rest = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime] + [0] * 30
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest)


def _fake_proc(tmp_path, procs, cpu_lines=("cpu 0 0 0 0 0 0 0 0 0 0",), loadavg="1.5 1 1 1/1 1"):
    root = tmp_path / "proc"
    root.mkdir()
    for pid, comm, ppid, ut, st, cut, cst, cmd in procs:
        d = root / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat_line(pid, comm, ppid, ut, st, cut, cst))
        (d / "cmdline").write_text(cmd.replace(" ", "\0"))
        (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{pid * 1024} kB\n")
    (root / "stat").write_text("\n".join(cpu_lines) + "\n")
    (root / "loadavg").write_text(loadavg + "\n")
    (root / "self").mkdir()
    return str(root)


def test_tree_cpu_sums_the_tree_split_by_process_kind(tmp_path):
    t = procstat.CLK_TCK
    proc = _fake_proc(tmp_path, [
        # pid, comm, ppid, utime, stime, cutime, cstime, cmdline
        (100, "python3", 1, 2 * t, 1 * t, 0, 0, "python3 run.py"),
        (200, "java", 100, 10 * t, 2 * t, 0, 0, "java -cp x"),
        (300, "python3", 200, 1 * t, 0, 3 * t, 1 * t, "python3 -m pyspark.daemon"),
        (301, "python3", 300, 4 * t, 0, 0, 0, "python3 -m pyspark.daemon"),
        (400, "bash", 1, 50 * t, 0, 0, 0, "bash"),  # not in the tree
        (500, "sh", 100, 1 * t, 0, 0, 0, "sh -c x"),  # a helper of the root process
    ])
    cpu = procstat.tree_cpu(100, proc)
    assert cpu["driver"] == pytest.approx(3.0)
    assert cpu["jvm"] == pytest.approx(12.0 + 1.0)
    # the daemon's reaped children (cutime+cstime) count
    assert cpu["py_workers"] == pytest.approx(1 + 3 + 1 + 4)
    assert cpu["total"] == pytest.approx(3 + 13 + 9)
    assert procstat.py_worker_peak_rss_mb(100, proc) == pytest.approx(301.0)


def test_parse_stat_handles_spaces_and_parens_in_comm():
    pid, comm, ppid, cpu = procstat.parse_stat(_stat_line(7, "a (b) c", 3, procstat.CLK_TCK, 0))
    assert (pid, comm, ppid, cpu) == (7, "a (b) c", 3, pytest.approx(1.0))


def test_host_noise_shares_of_steal_and_iowait(tmp_path):
    proc = _fake_proc(tmp_path, [])
    noise = procstat.HostNoise(proc)
    noise.start()
    # user nice system idle iowait irq softirq steal: +100 ticks, 10 iowait, 5 steal
    (tmp_path / "proc" / "stat").write_text("cpu 50 0 20 15 10 0 0 5 0 0\n")
    noise.stop()
    assert noise.iowait_pct == pytest.approx(10.0)
    assert noise.steal_pct == pytest.approx(5.0)
    assert noise.load1 == 1.5


# -- event log ---------------------------------------------------------------


def _job(job_id, group, stages, scopes=None):
    scopes = scopes or {}
    return {
        "Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
        "Stage Infos": [
            {"Stage ID": s, "RDD Info": [{"Scope": json.dumps({"id": "1", "name": n})}
                                         for n in scopes.get(s, ["WholeStageCodegen (1)"])]}
            for s in stages
        ],
        "Properties": {"spark.jobGroup.id": group} if group else {},
    }


def _task(stage, run_ms, cpu_ns=0, gc_ms=0, sr=0, sw=0, spill=0, py_ms=0, py_in=0):
    acc = []
    if py_ms:
        acc.append({"Name": "time to run Python workers", "Update": str(py_ms)})
    if py_in:
        acc.append({"Name": "data sent to Python workers", "Update": str(py_in)})
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
        },
    }


def test_event_log_groups_task_metrics_by_job_group():
    events = [
        _job(0, "sources.catalog.stage.fetch_results#5", [0, 1], {0: ["MapInPandas"]}),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        _task(0, 1000, cpu_ns=5e8, py_ms=200, py_in=300),
        _task(0, 500, gc_ms=100, py_ms=100),
        _task(1, 250, sr=4096, sw=1024, spill=7),
        _job(1, None, [2]),
        _task(2, 40),
        _job(2, "sources.catalog.stage.fetch_results#5", [3]),
        _task(3, 10),
    ]
    # a blank line and a cut-off last line (a log still being written) are skipped
    lines = [json.dumps(e) for e in events] + ["", '{"Event": "SparkListenerTaskEnd", "Sta']
    g = parse_event_log(lines)
    fr = g["sources.catalog.stage.fetch_results#5"]
    assert (fr.jobs, fr.stages, fr.tasks) == (2, 2, 4)
    assert fr.metrics["task_s"] == pytest.approx(1.76)
    assert fr.metrics["task_cpu_s"] == pytest.approx(0.5)
    assert fr.metrics["gc_s"] == pytest.approx(0.1)
    assert fr.metrics["py_worker_s"] == pytest.approx(0.3)
    assert fr.metrics["py_bytes_in"] == 300
    assert fr.metrics["shuffle_read_bytes"] == 4096
    assert fr.metrics["shuffle_write_bytes"] == 1024
    assert fr.metrics["spill_bytes"] == 7
    assert fr.udf_task_s == pytest.approx(1.5)  # only the MapInPandas stage
    assert g[None].jobs == 1 and g[None].metrics["task_s"] == pytest.approx(0.04)


# -- query output check ----------------------------------------------------------


def test_canon_type_collapses_widths_but_not_kinds():
    import pyarrow as pa

    from perfbench.workloads import canon_type

    assert canon_type(pa.int32()) == canon_type(pa.int64()) == "int"
    assert canon_type(pa.large_string()) == canon_type(pa.string()) == "string"
    assert canon_type(pa.timestamp("us", "UTC")) == canon_type(pa.timestamp("us")) == "timestamp"
    assert canon_type(pa.list_(pa.int16())) == "list<int>"
    assert canon_type(pa.float64()) != canon_type(pa.int64())
    assert canon_type(pa.decimal128(38, 0)) != canon_type(pa.int64())  # HUGEINT vs BIGINT


def test_output_mismatch_names_the_first_difference():
    from perfbench.workloads import output_mismatch

    want = {"cols": ["a", "n"], "types": {"a": "string", "n": "int"}, "rows": [["x", "5"]]}
    assert output_mismatch(dict(want), want) is None
    assert output_mismatch(None, want) == "no output"
    assert output_mismatch({**want, "cols": ["a"]}, want).startswith("columns")
    assert output_mismatch({**want, "types": {"a": "string", "n": "double"}}, want) == (
        "column types (Spark, DuckDB) {'n': ['double', 'int']}")
    assert output_mismatch({**want, "rows": []}, want) == "values (0 vs 1 rows)"


# -- catalog read amplification ------------------------------------------------


def test_read_amplification_counts_listed_over_kept_files(tmp_path):
    class FakeCatalog:
        def __init__(self, manifest):
            self.m = manifest

        def _load(self):
            return self.m

    spans = []
    for gen, files in [(0, ["candidates/g00000-a.parquet", "candidates/g00000-b.parquet"]),
                       (1, ["candidates/g00000-a.parquet", "candidates/g00000-b.parquet",
                            "candidates/g00001-c.parquet"])]:
        cat = FakeCatalog({"tables": {"candidates": files}, "committed_generation": gen})
        sp = Span(gen, "sources.catalog.read.candidates", 0.0, 1.0)
        _count_read_files(sp, (cat, None, "candidates"))
        spans.append(sp)
    # listed 2 + 3 = 5 files; the caller keeps 2 (gen 0) + 1 (gen 1)
    assert read_amplification(spans) == pytest.approx(5 / 3)
    assert read_amplification([]) == 0.0


# -- end to end on tiny inputs (starts Spark) ----------------------------------


@pytest.fixture(scope="module")
def traced_spark(tmp_path_factory):
    from perfbench.layers import event_log_conf
    from scrapy_spark.session import get_spark

    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    # the Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2,
                      extra_conf=event_log_conf(log_dir))
    yield spark, log_dir
    spark.stop()


def test_traced_two_generation_crawl_matches_oracle(traced_spark, tmp_path, monkeypatch):
    from perfbench import layers, workloads

    spark, log_dir = traced_spark
    monkeypatch.setattr(workloads, "CRAWL_WEB", dict(
        n_hosts=6, n_pages=400, n_images=100, links_per_page=6, images_per_page=1, n_seeds=30))
    monkeypatch.setattr(workloads, "CRAWL_PARAMS", dict(max_generations=2, per_host_budget=15,
                                                        gen_cap=None))
    wl = workloads.CrawlWorkload(spark, 5, str(tmp_path / "work"), str(tmp_path / "cache"))
    tr = layers.traced_rep(wl, spark)
    assert tr.rep.error is None and len(tr.rep.ops) == 2
    assert wl.check(tr.rep) == []
    tr.committed_bytes = wl.committed_bytes(tr.rep)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    names = {s.name for s in tr.spans}
    assert {"operators.fetch.fetch_frontier", "sources.catalog.stage.fetch_results",
            "sources.catalog.stage.url_seen", "sources.catalog.commit"} <= names
    # the application is still running: the parser reads its in-progress log
    wall = {"wall_s": tr.rep.wall_s, "items_per_s": 1.0, "op_p50_s": 1.0}
    tr.neighbours = [tr.rep, tr.rep]
    m = layers.per_layer("crawl", tr, log_dir, wall)
    assert m["trace.overhead_s"]["value"] == 0.0 and m["trace.overhead_cpu_s"]["value"] == 0.0
    assert m["plans.crawl.jobs_per_gen"]["value"] > 0
    assert m["operators.fetch.py_worker_s"]["value"] > 0
    assert m["sources.catalog.bytes_per_url"]["value"] > 0
    assert m["sources.catalog.read_amplification"]["value"] >= 1.0
    assert 0 <= m["plans.crawl.self_s"]["value"] <= tr.rep.wall_s + 1
    # the crawl itself is untouched by tracing: wrappers are gone again
    from scrapy_spark.plans import crawl as crawl_mod
    from scrapy_spark.operators.fetch import fetch_frontier

    assert crawl_mod.fetch_frontier is fetch_frontier


def test_query_mix_matches_duckdb_at_sf0001(traced_spark, tmp_path, monkeypatch):
    from perfbench import workloads

    spark, _ = traced_spark
    monkeypatch.setattr(workloads, "QUERY_SF", 0.001)
    wl = workloads.QueriesWorkload(spark, 3, str(tmp_path / "work"), str(tmp_path / "cache"))
    rep = wl.rep()
    assert rep.error is None
    assert wl.check(rep) == []
    # a wrong output is caught per query, not for the whole pass
    rep.output["q1_pricing_summary"]["rows"] = rep.output["q1_pricing_summary"]["rows"][1:]
    # equal values of another type fail too: BIGINT turned DOUBLE reads "5" either way
    rep.output["bm25_topk"]["types"]["doc_id"] = "double"
    assert wl.check(rep) == [
        "q1_pricing_summary: values (5 vs 6 rows)",
        "bm25_topk: column types (Spark, DuckDB) {'doc_id': ['double', 'int']}",
    ]
