"""Seeded benchmark inputs: a TPC-H-ish star schema plus events, documents
and embeddings, written as parquet under the checkout's ``.data/``.

Table content comes from a fixed generator seed, so every benchmark seed
runs the same rows and the same query results; ``seed`` only fixes the row
order of every file. Two scale points:

* ``sf0.1``: the base tables, one parquet row group per file (600k
  lineitem rows, about 17 MB), the shape of the small-input tests.
* ``sf1``: the base replicated ten times with the key-domain strides of
  ``scripts/make_sf1.py`` (join fan-outs and group sizes are preserved, and
  replicas share no document shingles and no embedding directions),
  written by DuckDB in 122,880-row row groups so scans split natively.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
REPS = {"sf0.1": 1, "sf0.5": 5, "sf1": 10}

WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")


def _days(start: str, n: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + n.astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng: np.random.Generator, values: tuple, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables() -> dict[str, pa.Table]:
    """The sf0.1 content, identical on every call."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp, n_part, n_ord, n_line = 15_000, 1_000, 20_000, 150_000, 600_000
    n_evt, n_doc, n_vec = 100_000, 5_000, 2_000
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_line)),
        }
    )
    span_us = 30 * 86_400 * 1_000_000
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_evt, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us")
            + np.sort(rng.integers(0, span_us, n_evt)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, n_evt, dtype=np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    # 5% of documents are an earlier original plus a trailing " dup": the
    # near-duplicate pairs the dedup queries must find
    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 50))]) for _ in range(n_doc)
    ]
    is_dup = rng.random(n_doc) < 0.05
    for i in np.flatnonzero(is_dup):
        if i > 0:
            j = int(rng.integers(0, i))
            while is_dup[j] and j > 0:
                j -= 1
            texts[i] = texts[j] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": pa.array(
                np.asarray(LANGS, dtype=object)[
                    rng.choice(5, n_doc, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
                ]
            ),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.asarray([len(s) for s in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_vec, dtype=np.int32),
        }
    )
    return t


def _shuffled(tables: dict[str, pa.Table], seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    return {name: t.take(rng.permutation(t.num_rows)) for name, t in tables.items()}


def _write_replicated(
    dst: str, base: dict[str, pa.Table], tables: tuple[str, ...], reps: int
) -> None:
    """Write ``tables`` replicated ``reps`` times with per-replica key
    strides taken from the full ``base``."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for name, table in base.items():
            con.register(f"src_{name}", table)
        con.execute(f"CREATE TABLE r AS SELECT unnest(range({reps})) AS i")

        def stride(table: str, key: str) -> int:
            return con.execute(f"SELECT max({key}) + 1 FROM src_{table}").fetchone()[0]

        strides = {
            "c": ("customer", "c_custkey"),
            "o": ("orders", "o_orderkey"),
            "p": ("part", "p_partkey"),
            "s": ("supplier", "s_suppkey"),
            "e": ("events", "event_id"),
            "u": ("events", "user_id"),
            "d": ("documents", "doc_id"),
            "v": ("embeddings", "vec_id"),
        }
        k = {a: stride(*tk) for a, tk in strides.items()}
        prefixed = r"regexp_replace(text, '(\S+)', 'r' || i || '_\1', 'g')"
        select = {
            "region": "SELECT * FROM src_region",
            "nation": "SELECT * FROM src_nation",
            "customer": (
                f"SELECT c_custkey + i*{k['c']} AS c_custkey, * EXCLUDE (c_custkey) "
                "FROM src_customer CROSS JOIN r"
            ),
            "supplier": (
                f"SELECT s_suppkey + i*{k['s']} AS s_suppkey, * EXCLUDE (s_suppkey) "
                "FROM src_supplier CROSS JOIN r"
            ),
            "part": (
                f"SELECT p_partkey + i*{k['p']} AS p_partkey, * EXCLUDE (p_partkey) "
                "FROM src_part CROSS JOIN r"
            ),
            "orders": (
                f"SELECT o_orderkey + i*{k['o']} AS o_orderkey, "
                f"o_custkey + i*{k['c']} AS o_custkey, "
                "* EXCLUDE (o_orderkey, o_custkey) FROM src_orders CROSS JOIN r"
            ),
            "lineitem": (
                f"SELECT l_orderkey + i*{k['o']} AS l_orderkey, "
                f"l_partkey + i*{k['p']} AS l_partkey, "
                f"l_suppkey + i*{k['s']} AS l_suppkey, "
                "* EXCLUDE (l_orderkey, l_partkey, l_suppkey) FROM src_lineitem CROSS JOIN r"
            ),
            "events": (
                f"SELECT event_id + i*{k['e']} AS event_id, "
                f"user_id + i*{k['u']} AS user_id, "
                "* EXCLUDE (event_id, user_id) FROM src_events CROSS JOIN r"
            ),
            "documents": (
                f"SELECT doc_id + i*{k['d']} AS doc_id, "
                f"CASE WHEN i = 0 THEN text ELSE {prefixed} END AS text, lang, source, "
                f"CASE WHEN i = 0 THEN n_chars ELSE length({prefixed}) END AS n_chars "
                "FROM src_documents CROSS JOIN r"
            ),
            # replica i rotates each vector by i positions: same norm, new direction
            "embeddings": (
                f"SELECT vec_id + i*{k['v']} AS vec_id, "
                "CASE WHEN i = 0 THEN embedding "
                "ELSE (embedding[i+1:] || embedding[1:i])::FLOAT[] END AS embedding, label "
                "FROM src_embeddings CROSS JOIN r"
            ),
        }
        for name in tables:
            out = os.path.join(dst, f"{name}.parquet")
            con.execute(f"COPY ({select[name]}) TO '{out}' (FORMAT PARQUET)")
    finally:
        con.close()


def materialize(root: str, name: str, scale: str, seed: int, tables: tuple[str, ...]) -> str:
    """Write ``tables`` at ``scale`` for ``seed`` into ``root/name-seedN``
    and return that directory. A complete earlier write for the same seed
    is reused; the directories of ``name``'s other seeds are removed first,
    so one copy per workload sits on disk."""
    dst = os.path.join(root, f"{name}-seed{seed}")
    done = os.path.join(dst, "_COMPLETE")
    if os.path.exists(done):
        return dst
    if os.path.isdir(root):
        for old in os.listdir(root):
            if old.startswith(f"{name}-seed"):
                shutil.rmtree(os.path.join(root, old))
    os.makedirs(dst)
    base = _shuffled(base_tables(), seed)
    if REPS[scale] == 1:
        for table in tables:
            out = os.path.join(dst, f"{table}.parquet")
            pq.write_table(base[table], out, row_group_size=1 << 30)
    else:
        _write_replicated(dst, base, tables, REPS[scale])
    with open(done, "w") as f:
        f.write(datetime.now().isoformat() + "\n")
    return dst
