"""The declared-suite workload's inputs, query set and DuckDB check.

Tables are generated from the seed with the testdata schemas (TPC-H-ish
star schema, events, documents, embeddings) at about sf0.01 row counts.
Each declared query's result is compared to its DuckDB twin with the
declared-query contract's order-insensitive hash (columns sorted by name,
floats rounded to 4 decimals, rows sorted).
"""

from __future__ import annotations

import hashlib
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from fifteenmc_spark.io import TABLES

# One pass of these queries is the workload's request mix: one per family.
# v13_ivfpq_topk and x3_minhash_lsh_pairs were tried and dropped: over ten
# seeds their latency spread was 0.38 and 0.23 of the median, because their
# work depends on the seed's data.
QUERY_SET = (
    "d6_groupby_agg",
    "g3_bounded_reach",
    "m2_feature_extract",
    "p5_chunk_dedup",
    "t12_winnowing_fingerprint",
    "v19_tivf_topk",
    "x9_span_dedup",
)

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector line table "
    "data agg value key stream window a spark part group big sort query fast the"
).split()
_LANGS = ("en", "fr", "es", "zh", "de")


def family(query: str) -> str:
    return query.split("_", 1)[0].rstrip("0123456789")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def make_tables(seed: int, out_dir: str, scale: float = 1.0) -> None:
    """Write every table of ``fifteenmc_spark.io.TABLES`` under ``out_dir``;
    ``scale`` 1.0 is about sf0.01 (documents and embeddings never go below
    testdata's 500 rows)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_li, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    # the vector queries' seed pools name vec_ids below 500, as in testdata
    n_doc, n_emb = max(500, int(500 * scale)), max(500, int(500 * scale))
    ts0 = np.datetime64("1995-01-01", "us")
    day = np.timedelta64(86_400_000_000, "us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": rng.choice(["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"], n_cust).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    adj = ["cold", "small", "large", "big", "fast", "red", "blue", "green"]
    noun = ["widget", "bolt", "gear", "nut", "spring", "valve", "pipe", "panel"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"], n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(ts0 + rng.integers(0, 2404, n_ord) * day, pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord).tolist(),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": rng.choice(["N", "R", "A"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": pa.array(ts0 + rng.integers(1, 2500, n_li) * day, pa.timestamp("us")),
    })
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev).astype(np.int64)),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_ev).tolist(),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=[0.38, 0.16, 0.16, 0.15, 0.15]).tolist(),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    x = rng.standard_normal((n_emb, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })


# ---------------------------------------------------------------------------
# DuckDB oracle check
# ---------------------------------------------------------------------------
def _norm(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{round(v, 4):.4f}"
    return str(v)


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


class Oracle:
    """DuckDB views over the generated tables; ``check`` compares one
    Spark result to the query's SQL twin."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    def check(self, sql: str, cols: list[str], rows: list[tuple]) -> bool:
        res = self.con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        return (
            sorted(cols) == sorted(ocols)
            and len(rows) == len(orows)
            and result_hash(cols, rows) == result_hash(ocols, orows)
        )

    def close(self) -> None:
        self.con.close()
