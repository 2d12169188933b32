"""Seeded input generator for the benchmark.

Writes the ten fixture-shaped tables (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as parquet with
the same physical schema as the repository's test fixtures: one row
group each, written by pyarrow. Every column is drawn from a numpy
generator seeded by `--seed`, so the same seed gives byte-identical
inputs.

`write_tables` follows the fixtures' sizing: scale 0.01 gives 2,000
parts, 15,000 orders and 60,000 line items. `write_part` writes `part`
alone with a given row count: the ETL workloads' input.
"""
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["row", "the", "query", "stream", "fast", "spark", "line", "small",
         "customer", "group", "value", "hash", "batch", "sort", "data",
         "big", "filter", "dup", "key", "agg", "scan", "slow", "table",
         "part", "a", "merge", "window", "order", "column", "join",
         "vector"]
LANGS = ["de", "en", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000


def _ts(days_from_1995):
    base = np.datetime64("1995-01-01T00:00:00", "us")
    return base + (np.asarray(days_from_1995, dtype=np.int64) * DAY_US
                   ).astype("timedelta64[us]")


def _write(df, path, types):
    table = pa.Table.from_pandas(df, preserve_index=False)
    table = table.cast(pa.schema([(c, types[c]) for c in df.columns]))
    pq.write_table(table, path)


def part_frame(rng, n):
    pk = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [P_TYPES[t] for t in rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })


PART_TYPES = {"p_partkey": pa.int64(), "p_name": pa.string(),
              "p_brand": pa.string(), "p_type": pa.string(),
              "p_size": pa.int32(), "p_retailprice": pa.float64()}


def write_part(out_dir, seed, n):
    """Only the `part` table: the ETL workloads' input."""
    rng = np.random.default_rng([seed, 1])
    _write(part_frame(rng, n), f"{out_dir}/part.parquet", PART_TYPES)


def write_tables(out_dir, seed, scale):
    """All ten tables at fixture scale `scale` (0.001, 0.01, ...)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_events = max(1000, int(1_000_000 * scale))
    n_docs = 500
    n_emb = 500

    _write(pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                         "r_name": REGIONS}),
           f"{out_dir}/region.parquet",
           {"r_regionkey": pa.int32(), "r_name": pa.string()})
    nk = np.arange(25, dtype=np.int32)
    _write(pd.DataFrame({"n_nationkey": nk,
                         "n_name": [f"NATION_{i}" for i in nk],
                         "n_regionkey": (nk % 5).astype(np.int32)}),
           f"{out_dir}/nation.parquet",
           {"n_nationkey": pa.int32(), "n_name": pa.string(),
            "n_regionkey": pa.int32()})

    ck = np.arange(n_cust, dtype=np.int64)
    _write(pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet",
        {"c_custkey": pa.int64(), "c_name": pa.string(),
         "c_nationkey": pa.int32(), "c_acctbal": pa.float64(),
         "c_mktsegment": pa.string()})

    sk = np.arange(n_supp, dtype=np.int64)
    _write(pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out_dir}/supplier.parquet",
        {"s_suppkey": pa.int64(), "s_name": pa.string(),
         "s_nationkey": pa.int32(), "s_acctbal": pa.float64()})

    _write(part_frame(rng, n_part), f"{out_dir}/part.parquet", PART_TYPES)

    ok = np.arange(n_ord, dtype=np.int64)
    _write(pd.DataFrame({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i]
                          for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(rng.integers(0, 2400, n_ord)),
        "o_orderpriority": [PRIORITIES[i]
                            for i in rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet",
        {"o_orderkey": pa.int64(), "o_custkey": pa.int64(),
         "o_orderstatus": pa.string(), "o_totalprice": pa.float64(),
         "o_orderdate": pa.timestamp("us"),
         "o_orderpriority": pa.string()})

    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(
            qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i]
                         for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(1, 2500, n_line)),
    }), f"{out_dir}/lineitem.parquet",
        {"l_orderkey": pa.int64(), "l_partkey": pa.int64(),
         "l_suppkey": pa.int64(), "l_linenumber": pa.int32(),
         "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
         "l_discount": pa.float64(), "l_tax": pa.float64(),
         "l_returnflag": pa.string(), "l_linestatus": pa.string(),
         "l_shipdate": pa.timestamp("us")})

    # events: ascending timestamps over 30 days, as the fixture has them
    span_us = 30 * DAY_US
    offs = np.sort(rng.integers(0, span_us, n_events))
    _write(pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 150, n_events).astype(np.int64),
        "event_type": [EVENT_TYPES[i]
                       for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), f"{out_dir}/events.parquet",
        {"event_id": pa.int64(), "ts": pa.timestamp("us"),
         "user_id": pa.int64(), "event_type": pa.string(),
         "value": pa.float64(), "props": pa.string()})

    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
             for k in rng.integers(10, 100, n_docs)]
    _write(pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet",
        {"doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(),
         "source": pa.string(), "n_chars": pa.int64()})

    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            ).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }), f"{out_dir}/embeddings.parquet",
        {"vec_id": pa.int64(), "embedding": pa.list_(pa.float32()),
         "label": pa.int32()})
