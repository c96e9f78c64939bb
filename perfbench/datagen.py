"""Deterministic generator for the benchmark's input tables.

The benchmark reads only inside its checkout, so it builds its own copy
of the ten sf0.1 tables that `hive_clone_spark.catalog.TABLES` names. The
generator replays the sf0.1 test data's draws from one NumPy stream
(`default_rng(42)`), so each table holds the same rows, values and types
as the test data; `tables.json` records each test table's schema, row
count and content digest, and the benchmark's tests check the generated
tables against it. The workload seed only permutes entry order.
"""

from __future__ import annotations

import hashlib
import os
from pathlib import Path

DATA_SEED = 42
NAME = "sf0.1"
N_CUST, N_SUPP, N_PART = 15_000, 1_000, 20_000
N_ORD, N_LINE, N_EVT, N_DOC, N_EMB = 150_000, 600_000, 100_000, 5_000, 2_000

_WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
_ADJ = "red blue small large hot cold old new".split()
_NOUN = "anvil widget gizmo bolt gear plate rod ring".split()


def _days(start: str, offsets):
    import numpy as np

    return np.datetime64(start, "s") + offsets.astype("timedelta64[D]")


def tables() -> dict:
    """The ten tables as pandas DataFrames, in generation order."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(DATA_SEED)
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(N_CUST, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": rng.integers(0, 25, N_CUST).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUST), 2),
        "c_mktsegment": rng.choice(
            ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], N_CUST),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(N_SUPP, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": rng.integers(0, 25, N_SUPP).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPP), 2),
    })
    pk = np.arange(N_PART, dtype=np.int64)
    adj, noun = rng.choice(_ADJ, N_PART), rng.choice(_NOUN, N_PART)
    part = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {n}" for a, n in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
    })
    orders = pd.DataFrame({
        "o_orderkey": np.arange(N_ORD, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUST, N_ORD),
        "o_orderstatus": rng.choice(["O", "F", "P"], N_ORD),
        "o_totalprice": np.round(rng.uniform(1000, 500000, N_ORD), 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, N_ORD)),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORD),
    })
    lineitem = pd.DataFrame({
        "l_orderkey": rng.integers(0, N_ORD, N_LINE),
        "l_partkey": rng.integers(0, N_PART, N_LINE),
        "l_suppkey": rng.integers(0, N_SUPP, N_LINE),
        "l_linenumber": rng.integers(1, 8, N_LINE).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINE).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, N_LINE), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, N_LINE), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, N_LINE), 2),
        "l_returnflag": rng.choice(["R", "A", "N"], N_LINE),
        "l_linestatus": rng.choice(["O", "F"], N_LINE),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, N_LINE)),
    })
    secs = np.sort(rng.uniform(0, 30 * 86400, N_EVT))  # 30 days of arrivals
    events = pd.DataFrame({
        "event_id": np.arange(N_EVT, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "ns") + (secs * 1e9).astype("timedelta64[ns]"),
        "user_id": rng.integers(0, 1_500, N_EVT),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], N_EVT),
        "value": np.round(rng.exponential(50.0, N_EVT), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVT)],
    })
    texts = []
    for _ in range(N_DOC):
        n = int(rng.integers(10, 100))
        texts.append(" ".join(rng.choice(_WORDS, n)))
    # 5% near-duplicates: a copy of another document (possibly itself a
    # copy), marked with a trailing word
    dups = rng.choice(N_DOC, N_DOC // 20, replace=False)
    for i, src in zip(dups, rng.integers(0, N_DOC, len(dups))):
        texts[i] = texts[src] + " dup"
    documents = pd.DataFrame({
        "doc_id": np.arange(N_DOC, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "fr", "es", "zh"], N_DOC),
        "source": [f"src{i % 20}" for i in range(N_DOC)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(N_EMB, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, N_EMB).astype(np.int32),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def summary(table) -> dict:
    """Schema, row count and content digest of a pyarrow table. The digest
    is a sha256 of the Arrow IPC stream of the data with its schema
    metadata dropped, so it depends on values and types only."""
    import pyarrow as pa

    table = table.replace_schema_metadata(None).combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return {
        "rows": table.num_rows,
        "schema": {f.name: str(f.type) for f in table.schema},
        "sha256": hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest(),
    }


def ensure(root: Path) -> Path:
    """Write the tables under ``root/<NAME>`` once; rewrite them only when
    this file changes. Returns the table directory."""
    out = root / NAME
    stamp = out / ".generator"
    digest = hashlib.sha256(Path(__file__).read_bytes()).hexdigest()
    if stamp.is_file() and stamp.read_text() == digest:
        return out
    out.mkdir(parents=True, exist_ok=True)
    for name, df in tables().items():
        tmp = out / f".{name}.parquet.tmp"
        # timestamps are stored in microseconds, as in the test data
        df.to_parquet(tmp, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
        os.replace(tmp, out / f"{name}.parquet")
    stamp.write_text(digest)
    return out
