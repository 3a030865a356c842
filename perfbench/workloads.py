"""The benchmark's workloads: what one repetition runs and how its output
is checked.

``crawl``   one ``CrawlJob.run()`` on a synthetic web made from the seed;
            an operation is one frontier generation, checked against
            ``plans/oracle.run_oracle`` for the same config.
``queries`` one sequential pass of an eight-query mix over tables made from
            the seed; an operation is one query, checked against its DuckDB
            ``oracle_sql()`` twin, column types included.

A workload object is used in this order: ``warm_up()`` (untimed, same
shape, other inputs), then ``rep()`` as often as the timed window allows,
then ``check()`` for every repetition, outside the timed window.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import shutil
import time
from dataclasses import asdict, dataclass, field

# Warm-up inputs come from a seed the timed repetitions never use.
WARM_SEED_OFFSET = 100_003


@dataclass
class Rep:
    """One timed repetition."""

    wall_s: float
    ops: list[str]  # operation names, in order
    op_seconds: list[float]
    # work items done: URLs scheduled and fetched (crawl), input table rows
    # read by the mix (queries)
    items: int = 0
    cpu: dict = field(default_factory=dict)
    error: str | None = None
    output: object = None  # what check() compares against the oracle


def source_digest(path: str) -> str:
    """Hash of the Python sources under ``path`` (a file or a package), so
    cached oracle results and inputs are remade when the code changes."""
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".py")
    )
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, path).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _cache_path(cache_dir: str, kind: str, key: dict) -> str:
    digest = hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]
    return os.path.join(cache_dir, f"{kind}-{digest}.json")


def _cached(cache_dir: str, kind: str, key: dict, compute):
    """JSON result of ``compute()``, stored once per key in ``cache_dir``."""
    path = _cache_path(cache_dir, kind, key)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def timed_rep(wl) -> Rep:
    """``wl.rep()`` with the process tree's CPU over it; an exception
    becomes a failed repetition instead of ending the run."""
    from perfbench import procstat

    c0 = procstat.tree_cpu()
    t0 = time.perf_counter()
    try:
        rep = wl.rep()
    except Exception as e:
        rep = Rep(wall_s=time.perf_counter() - t0, ops=[], op_seconds=[],
                  error=f"{type(e).__name__}: {e}"[:300])
    c1 = procstat.tree_cpu()
    rep.cpu = {k: c1[k] - c0[k] for k in c0}
    return rep


# -- crawl -----------------------------------------------------------------

CRAWL_WEB = dict(
    n_hosts=24, n_pages=12000, n_images=3000,
    links_per_page=8, images_per_page=2, n_seeds=1500,
)
CRAWL_PARAMS = dict(max_generations=2, per_host_budget=100, gen_cap=None)
WARM_WEB = dict(
    n_hosts=8, n_pages=1500, n_images=300,
    links_per_page=8, images_per_page=2, n_seeds=60,
)
SALT_BUCKETS = 8


def committed_rows(workdir: str, table: str, columns: list[str]) -> list[dict]:
    """Rows of a committed catalog table, read from the manifest's files
    with pyarrow (no Spark)."""
    import pyarrow.parquet as pq

    with open(os.path.join(workdir, "_manifest.json")) as f:
        files = json.load(f)["tables"].get(table, [])
    rows: list[dict] = []
    for rel in files:
        rows.extend(pq.read_table(os.path.join(workdir, rel), columns=columns).to_pylist())
    return rows


def committed_bytes(workdir: str) -> int:
    with open(os.path.join(workdir, "_manifest.json")) as f:
        tables = json.load(f)["tables"]
    return sum(os.path.getsize(os.path.join(workdir, rel)) for files in tables.values() for rel in files)


def crawl_expected(cfg, params) -> dict:
    """The oracle's per-generation schedule and seen set, JSON-shaped."""
    from scrapy_spark.plans.oracle import run_oracle

    res = run_oracle(cfg, params)
    sched: dict[str, list] = {}
    for r in res.scheduled:
        sched.setdefault(str(r["generation"]), []).append([r["host"], r["rank_in_host"], r["url"]])
    seen: dict[str, list] = {}
    for url, g in res.seen.items():
        seen.setdefault(str(g), []).append(url)
    return {"sched": sched, "seen": seen}


def crawl_mismatches(workdir: str, expected: dict, n_gens: int) -> list[int]:
    """Generations whose committed schedule or seen-set delta differs from
    the oracle's."""
    got_sched: dict[str, set] = {}
    for r in committed_rows(workdir, "fetch_results", ["generation", "host", "rank_in_host", "url"]):
        got_sched.setdefault(str(r["generation"]), set()).add((r["host"], r["rank_in_host"], r["url"]))
    got_seen: dict[str, set] = {}
    for r in committed_rows(workdir, "url_seen", ["generation", "url"]):
        got_seen.setdefault(str(r["generation"]), set()).add(r["url"])
    bad = []
    for g in range(n_gens):
        k = str(g)
        want_sched = {tuple(x) for x in expected["sched"].get(k, [])}
        want_seen = set(expected["seen"].get(k, []))
        if got_sched.get(k, set()) != want_sched or got_seen.get(k, set()) != want_seen:
            bad.append(g)
    return bad


class CrawlWorkload:
    name = "crawl"
    # one crawl already spans the timed window
    min_reps = 1

    def __init__(self, spark, seed: int, work_dir: str, cache_dir: str):
        from scrapy_spark.plans.oracle import CrawlParams
        from scrapy_spark.sources.synth import SynthConfig

        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.cfg = SynthConfig(seed=seed, **CRAWL_WEB)
        self.params = CrawlParams(**CRAWL_PARAMS)
        self.warm_cfg = SynthConfig(seed=seed + WARM_SEED_OFFSET, **WARM_WEB)
        self._n = 0

    def _crawl(self, cfg):
        from scrapy_spark.plans.crawl import CrawlJob

        self._n += 1
        wd = os.path.join(self.work_dir, f"crawl-{self._n}")
        t0 = time.perf_counter()
        stats = CrawlJob(self.spark, cfg, self.params, wd, salt_buckets=SALT_BUCKETS).run()
        return wd, time.perf_counter() - t0, stats

    def warm_up(self) -> None:
        wd, _, _ = self._crawl(self.warm_cfg)
        shutil.rmtree(wd, ignore_errors=True)

    def rep(self) -> Rep:
        wd, wall, stats = self._crawl(self.cfg)
        return Rep(
            wall_s=wall,
            ops=[f"generation {s.generation}" for s in stats],
            op_seconds=[s.seconds for s in stats],
            items=sum(s.scheduled for s in stats),
            output=wd,
        )

    def expected(self) -> dict:
        import scrapy_spark

        key = {"cfg": asdict(self.cfg), "params": asdict(self.params),
               "program": source_digest(os.path.dirname(scrapy_spark.__file__))}
        return _cached(self.cache_dir, "crawl-oracle", key,
                       lambda: crawl_expected(self.cfg, self.params))

    def check(self, rep: Rep) -> list[str]:
        """Names of the repetition's failed operations."""
        expected = self.expected()
        # a generation the oracle has and the run lacks (or the reverse) fails
        n = max(len(rep.ops), len(expected["sched"]))
        bad = crawl_mismatches(rep.output, expected, n)
        return [f"generation {g}" for g in bad]

    def committed_bytes(self, rep: Rep) -> int:
        return committed_bytes(rep.output)

    def discard(self, rep: Rep) -> None:
        if rep.output is not None:
            shutil.rmtree(rep.output, ignore_errors=True)


# -- queries ---------------------------------------------------------------

QUERY_MIX = (
    "q1_pricing_summary",
    "w1_frontier_rank_topk",
    "j1_seen_anti_join",
    "dedup_ngram_jaccard",
    "dedup_simhash_pairs",
    "hits_copurchase",
    "ann_pq_topk",
    "bm25_topk",
)
# the tables each query reads, for the mix's rows-read throughput
QUERY_TABLES = {
    "q1_pricing_summary": ("lineitem",),
    "w1_frontier_rank_topk": ("events",),
    "j1_seen_anti_join": ("events",),
    "dedup_ngram_jaccard": ("documents",),
    "dedup_simhash_pairs": ("documents",),
    "hits_copurchase": ("lineitem", "orders"),
    "ann_pq_topk": ("embeddings",),
    "bm25_topk": ("documents",),
}
QUERY_SF = 0.01
WARM_SF = 0.001


def _norm_cell(v) -> str:
    """The cell normalisation of tests/test_entry_oracle.py, plus naive
    UTC for timestamps."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return str(v)


def normalize(rows, colnames) -> list[list[str]]:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted([_norm_cell(r[i]) for i in order] for r in rows)


def canon_type(t) -> str:
    """The Arrow type canonicalisation of tests/test_entry_oracle.py:
    string and binary widths, timestamp time zones and integer widths
    collapse; any other difference (BIGINT vs DOUBLE, DECIMAL) stays."""
    import pyarrow as pa

    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{canon_type(t.value_type)}>"
    return str(t)


def spark_types(df) -> dict[str, str]:
    """Canonical Arrow type per column of ``df``, as ``df.toArrow()`` would
    type it, from the schema alone (no second execution)."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return {f.name: canon_type(f.type) for f in to_arrow_schema(df.schema)}


def output_mismatch(got: dict | None, want: dict) -> str | None:
    """Why a query's output differs from its oracle's, or None."""
    if got is None:
        return "no output"
    if got["cols"] != want["cols"]:
        return f"columns {got['cols']} vs {want['cols']}"
    if got["types"] != want["types"]:
        diff = {c: [got["types"][c], t] for c, t in want["types"].items() if got["types"][c] != t}
        return f"column types (Spark, DuckDB) {diff}"
    if got["rows"] != want["rows"]:
        return f"values ({len(got['rows'])} vs {len(want['rows'])} rows)"
    return None


def duckdb_expected(data_dir: str) -> dict[str, dict]:
    import duckdb

    from scrapy_spark.entry_queries import QUERIES
    from perfbench.querydata import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in QUERY_MIX:
            sql = QUERIES[name][1]
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = normalize(res.fetchall(), cols)
            types = {f.name: canon_type(f.type) for f in con.execute(sql).arrow().schema}
            out[name] = {"cols": sorted(cols), "types": types, "rows": rows}
        return out
    finally:
        con.close()


class QueriesWorkload:
    name = "queries"
    # one pass is short and sensitive to bursts of host CPU steal; the
    # median of two halves their weight (measured: IQR 26% -> see README)
    min_reps = 2

    def __init__(self, spark, seed: int, work_dir: str, cache_dir: str):
        self.spark = spark
        self.seed = seed
        self.cache_dir = cache_dir
        self.data_dir, self.warm_dir = self.prepare(seed, cache_dir)
        self.rows_read = self._rows_read(self.data_dir)
        # set by the traced repetition: a Tracer.span to put around each query
        self.query_span = None

    @staticmethod
    def prepare(seed: int, cache_dir: str) -> tuple[str, str]:
        """Write (once) the timed and the warm-up tables for ``seed``."""
        from perfbench import querydata

        gen = source_digest(querydata.__file__)[:8]
        warm_seed = seed + WARM_SEED_OFFSET
        return (
            querydata.write_tables(
                os.path.join(cache_dir, f"tables-{seed}-{QUERY_SF}-{gen}"), seed, QUERY_SF),
            querydata.write_tables(
                os.path.join(cache_dir, f"tables-{warm_seed}-{WARM_SF}-{gen}"), warm_seed, WARM_SF),
        )

    @staticmethod
    def _rows_read(data_dir: str) -> int:
        import pyarrow.parquet as pq

        rows = {}
        for tables in QUERY_TABLES.values():
            for t in tables:
                if t not in rows:
                    rows[t] = pq.ParquetFile(f"{data_dir}/{t}.parquet").metadata.num_rows
        return sum(rows[t] for tables in QUERY_TABLES.values() for t in tables)

    def _pass(self, data_dir: str, keep: bool) -> Rep:
        from scrapy_spark.entry_queries import QUERIES

        outputs, secs, errors = {}, [], []
        t0 = time.perf_counter()
        for name in QUERY_MIX:
            tq = time.perf_counter()
            try:
                if self.query_span is not None:
                    with self.query_span(f"entry_queries.{name}"):
                        df = QUERIES[name][0](self.spark, data_dir)
                        rows = df.collect()
                else:
                    df = QUERIES[name][0](self.spark, data_dir)
                    rows = df.collect()
                if keep:
                    outputs[name] = {"cols": sorted(df.columns), "types": spark_types(df),
                                     "rows": normalize(rows, df.columns)}
            except Exception as e:  # one failed query must not stop the pass
                errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
                outputs[name] = None
            secs.append(time.perf_counter() - tq)
        return Rep(
            wall_s=time.perf_counter() - t0,
            ops=list(QUERY_MIX),
            op_seconds=secs,
            items=self.rows_read,
            output=outputs,
            error="; ".join(errors) or None,
        )

    def warm_up(self) -> None:
        self._pass(self.warm_dir, keep=False)

    def rep(self) -> Rep:
        return self._pass(self.data_dir, keep=True)

    def expected(self) -> dict:
        from scrapy_spark.entry_queries import QUERIES

        # the oracle depends only on the SQL texts and the tables
        key = {"tables": self.data_dir, "sql": [QUERIES[n][1] for n in QUERY_MIX]}
        return _cached(self.cache_dir, "queries-oracle-typed", key,
                       lambda: duckdb_expected(self.data_dir))

    def check(self, rep: Rep) -> list[str]:
        """Failed queries of the repetition, each with the reason."""
        expected = self.expected()
        bad = []
        for name in QUERY_MIX:
            why = output_mismatch(rep.output.get(name), expected[name])
            if why is not None:
                bad.append(f"{name}: {why}")
        return bad

    def committed_bytes(self, rep: Rep) -> int:
        return 0

    def discard(self, rep: Rep) -> None:
        rep.output = None


WORKLOADS = {"crawl": CrawlWorkload, "queries": QueriesWorkload}
