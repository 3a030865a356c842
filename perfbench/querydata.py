"""Seeded tables for the ``queries`` workload.

The queries read five tables of the repo's TPC-H-like test schema:
``lineitem`` and ``orders`` (q1, and the co-purchase graph of hits),
``events`` (w1, j1), ``documents`` (the dedup family, bm25) and
``embeddings`` (ann_pq_topk). A run may read only its checkout, so it
cannot use the driver's test tables (TESTDATA.md); this module writes the
same five tables from a seed instead, one parquet file each.

Every column follows what the driver's tables show at sf0.001, sf0.01 and
sf0.1 (table sizes, key ranges, independent uniform columns, 5% of
documents copied from another document plus a ``" dup"`` token, embeddings
that are random unit vectors with no cluster structure). ``python3
perfbench/compare_tables.py`` compares the tables and the queries' work on
them with the driver's; its figures are in perfbench/README.md.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("lineitem", "orders", "events", "documents", "embeddings")

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line data table agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
DIM = 64
N_LABELS = 10
NEAR_DUP_SHARE = 0.05


def _days(start: str, n_days: int, rng, n: int) -> np.ndarray:
    """Midnights drawn uniformly from ``start`` to ``start + n_days``."""
    off = rng.integers(0, n_days + 1, n).astype("timedelta64[D]")
    return (np.datetime64(start, "D") + off).astype("datetime64[us]")


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_orders = int(1_500_000 * sf)
    n_lines = 4 * n_orders
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
            "o_orderdate": _days("1995-01-01", 2404, rng, n_orders),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
            ),
        }
    )

    # every lineitem column is drawn on its own: the order a line belongs
    # to (so lines per order are binomial, mean 4), its line number, and
    # its price, which does not follow the quantity
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_lines),
            "l_partkey": rng.integers(0, n_part, n_lines),
            "l_suppkey": rng.integers(0, n_supp, n_lines),
            "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_lines), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, n_lines), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, n_lines), 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
            "l_linestatus": rng.choice(["F", "O"], n_lines),
            "l_shipdate": _days("1995-01-02", 2498, rng, n_lines),
        }
    )

    window_us = 30 * 86_400_000_000
    events = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, window_us, n_events)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )

    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 100, n_docs)]
    # near-duplicates: a document becomes a copy of another one (which may
    # itself be a copy already) plus a " dup" token
    for i in rng.choice(n_docs, int(round(NEAR_DUP_SHARE * n_docs)), replace=False):
        j = int(rng.integers(0, n_docs - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    vecs = rng.normal(0, 1, (n_vecs, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs.astype(np.float32)),
            "label": rng.integers(0, N_LABELS, n_vecs).astype(np.int32),
        }
    )
    return {
        "lineitem": lineitem,
        "orders": orders,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write the tables under ``out_dir`` once per (seed, sf); reuse after."""
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(seed, sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(df["embedding"].tolist(), pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(f"{seed} {sf}\n")
    return out_dir
