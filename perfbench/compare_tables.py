"""Compare the generated query tables with the driver's test tables.

    python3 perfbench/compare_tables.py --real <dir with the driver's sf0.01 tables> --seeds 1,2,3

The ``queries`` workload cannot read the driver's tables (TESTDATA.md), so
``perfbench/querydata.py`` makes tables of the same shape from a seed. This
script shows how close they are: for the driver's tables and for the
tables of each seed, at the same scale factor, it prints

- the Arrow schema of each table (must be equal),
- shape figures of the tables the queries depend on: lines per order,
  distinct co-purchase edges, near-duplicate documents, words per
  document, and the mean cosine of embeddings that share a label,
- per query of the mix: output rows, Spark jobs, tasks and shuffle bytes
  (from the event log, one job group per query), after one untimed pass
  over each table set so that compiled code and caches are warm.

It starts Spark at ``local[4]`` and writes only under ``.perfbench/`` in
the checkout.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def table_shape(data_dir: str) -> dict[str, float]:
    """Figures of the table content that set the queries' work."""
    import numpy as np
    import pyarrow.parquet as pq

    def read(t):
        return pq.read_table(os.path.join(data_dir, f"{t}.parquet")).to_pandas()

    li, orders, docs, emb = read("lineitem"), read("orders"), read("documents"), read("embeddings")
    per_order = li.groupby("l_orderkey").size()
    edges = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")[
        ["o_custkey", "l_partkey"]].drop_duplicates()
    words = docs["text"].str.split().str.len()
    x = np.stack(emb["embedding"].to_numpy())
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    lab = emb["label"].to_numpy()
    same = lab[:, None] == lab[None, :]
    np.fill_diagonal(same, False)
    return {
        "lines per order, mean": float(per_order.mean()),
        "lines per order, max": float(per_order.max()),
        "orders with lines": float(len(per_order)),
        "co-purchase edges": float(len(edges)),
        "near-dup documents": float(docs["text"].str.endswith(" dup").sum()),
        "words per document, mean": float(words.mean()),
        "embedding cosine, same label": float((x @ x.T)[same].mean()),
    }


def schemas(data_dir: str) -> dict[str, str]:
    import pyarrow.parquet as pq

    from perfbench.querydata import TABLES

    return {t: str(pq.read_schema(os.path.join(data_dir, f"{t}.parquet")).remove_metadata())
            for t in TABLES}


def query_work(spark, tracer, label: str, data_dir: str) -> dict[str, int]:
    """Output rows per query; the spans name the job groups."""
    from scrapy_spark.entry_queries import QUERIES

    from perfbench.workloads import QUERY_MIX

    rows = {}
    for name in QUERY_MIX:
        with tracer.span(f"{label}/{name}"):
            rows[name] = len(QUERIES[name][0](spark, data_dir).collect())
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--real", required=True, help="directory of the driver's tables")
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args(argv)

    from perfbench import querydata
    from perfbench.layers import event_log_conf
    from perfbench.run import CPUS, _prepare_env, _stop_spark
    from perfbench.tracing import Tracer, read_event_log, span_of_group
    from perfbench.workloads import QUERY_MIX

    run_dir = os.path.join(ROOT, ".perfbench", f"compare-{os.getpid()}")
    _prepare_env(run_dir)
    sets = {"driver": os.path.abspath(args.real)}
    for s in (int(x) for x in args.seeds.split(",")):
        sets[f"seed {s}"] = querydata.write_tables(os.path.join(run_dir, f"t{s}"), s, args.sf)

    spark = None
    try:
        from scrapy_spark.session import get_spark

        log_dir = os.path.join(run_dir, "eventlog")
        spark = get_spark("perfbench-compare", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
                          extra_conf=event_log_conf(log_dir))
        tracer = Tracer(spark)
        out_rows = {}
        for label, d in sets.items():
            query_work(spark, Tracer(None), label, d)  # untimed warm pass
            out_rows[label] = query_work(spark, tracer, label, d)
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        groups = read_event_log(log_dir)
        by_span = {span_of_group(g): gs for g, gs in groups.items() if g}
        work = {s.name: by_span.get(s.span_id) for s in tracer.spans}

        labels = list(sets)
        print("schemas equal to the driver's:",
              {label: schemas(d) == schemas(sets["driver"]) for label, d in sets.items()})
        shapes = {label: table_shape(d) for label, d in sets.items()}
        print(f"{'table figure':<34}" + "".join(f"{x:>12}" for x in labels))
        for k in shapes["driver"]:
            print(f"{k:<34}" + "".join(f"{shapes[x][k]:>12.4g}" for x in labels))
        print(f"{'query: rows / jobs / tasks / shuffle KB':<34}" + "".join(f"{x:>22}" for x in labels))
        for q in QUERY_MIX:
            cells = []
            for x in labels:
                gs = work.get(f"{x}/{q}")
                kb = (gs.metrics["shuffle_read_bytes"] + gs.metrics["shuffle_write_bytes"]) / 1e3 if gs else 0
                jobs, tasks = (gs.jobs, gs.tasks) if gs else (0, 0)
                cells.append(f"{out_rows[x][q]}/{jobs}/{tasks}/{kb:.0f}")
            print(f"{q:<34}" + "".join(f"{c:>22}" for c in cells))
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
