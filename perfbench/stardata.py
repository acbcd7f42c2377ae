"""Star-schema input for the query workloads, and the expected outputs.

The tables follow the layout and value ranges of the engine's sf0.1 star
schema (``region nation customer supplier part orders lineitem events
documents embeddings``; 600k lineitem rows, 17 MB of parquet). They are
generated from a fixed data seed, not from ``--seed``: the benchmark's seed
only orders the queries, so every run reads the same tables.

The expected result of each benchmarked query is the DuckDB oracle
registered next to it (``plans/registry.py``), run on the same parquet
files. Each is stored as a row count, the column names and an MD5 digest of
the order-insensitive value form used by the oracle-parity tests: columns
sorted by name, every cell stringified, rows sorted. A digest is made the
first time a run in a checkout checks that query, and kept beside the
tables in ``perfbench/.data`` (ignored by git).

``run.py`` calls this module as a separate process before it starts the
engine, so that the generator's and DuckDB's memory never counts in the
engine's resident size:

    python3 perfbench/stardata.py perfbench/.data QUERY [QUERY ...]

writes the tables and the digests of the named queries, if missing.

The layout, row counts and distinct counts follow sf0.1 (the one-off
comparison is in CHANGES.md). ``events.ts`` is INT64 TIMESTAMP(MICROS),
without UTC adjustment, as in the sf0.001, sf0.01 and sf0.1 tables the
engine's tests read.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20200901
GENERATOR_VERSION = 1

ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EMBED_DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(n["region"]), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(n["nation"]), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n["nation"])],
        "n_regionkey": pa.array([i % 5 for i in range(n["nation"])], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, c),
        "c_mktsegment": _choice(rng, _SEGMENTS, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = np.char.add(
        np.char.add(np.asarray(_ADJ)[rng.integers(0, 8, p)], " "),
        np.asarray(_NOUN)[rng.integers(0, 8, p)],
    )
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array(names.tolist()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _choice(rng, _PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _choice(rng, _STATUS, o),
        "o_totalprice": _cents(rng, 1000, 500000, o),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2403, o),
        "o_orderpriority": _choice(rng, _PRIORITY, o),
    })
    li = n["lineitem"]
    flags = rng.integers(0, 6, li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pa.array(np.asarray(["A", "N", "R"])[flags // 2].tolist()),
        "l_linestatus": pa.array(np.asarray(["F", "O"])[flags % 2].tolist()),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, li),
    })
    e = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, e))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, e), pa.int64()),
        "event_type": _choice(rng, _EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    d = n["documents"]
    words = np.asarray(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, d)]
    for i in range(11, d, 20):  # near-duplicates for the dedup family
        texts[i] = texts[i - 11] + " dup"
    for i in range(8):  # exact duplicates
        texts[d - 1 - i] = texts[i * 7]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": _choice(rng, _LANGS, d, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 1.2, (m, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def canonical_digest(df) -> dict:
    """Row count, column names and MD5 of the order-insensitive value form
    of a pandas frame (the rule of the oracle-parity tests)."""
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        df[col] = df[col].astype(str)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    md5 = hashlib.md5(df.to_csv(index=False).encode()).hexdigest()
    return {"rows": len(df), "columns": list(df.columns), "md5": md5}


def _oracle_digests(data_dir: str, queries: list[str]) -> dict[str, dict]:
    """Run each query's registered DuckDB oracle on the parquet tables."""
    import duckdb

    from etl_pipeline_spark.plans.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    con = duckdb.connect()
    try:
        for name in ROWS:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{data_dir}/{name}.parquet')"
            )
        return {q: canonical_digest(con.execute(REGISTRY[q].oracle).fetchdf()) for q in queries}
    finally:
        con.close()


def write_tables(root: str) -> str:
    """Write the tables under ``root/star`` unless this checkout already
    holds them from the same generator; returns the table directory."""
    data_dir = os.path.join(root, "star")
    stamp = os.path.join(data_dir, "GENERATED")
    want = json.dumps({"generator": GENERATOR_VERSION, "seed": DATA_SEED})
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == want:
                return data_dir
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(data_dir)
    for name, table in _tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(table, os.path.join(data_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(want)
    return data_dir


def expected_digests(root: str, queries: list[str]) -> dict[str, dict]:
    """Oracle digests of ``queries`` on the tables of ``write_tables(root)``,
    computed on first use and kept in ``root/expected.json``."""
    path = os.path.join(root, "expected.json")
    known: dict[str, dict] = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    missing = [q for q in queries if q not in known]
    if missing:
        known.update(_oracle_digests(os.path.join(root, "star"), missing))
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(known, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {q: known[q] for q in queries}


def main(argv: list[str]) -> int:
    root, queries = argv[0], argv[1:]
    write_tables(root)
    expected_digests(root, queries)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    sys.exit(main(sys.argv[1:]))
