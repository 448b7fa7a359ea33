"""Fixed sf0.1-shaped harness tables for the ``registry_sf0.1`` workload.

The engine's queries read ten parquet tables (``tables.TABLE_NAMES``).
This module writes them from a fixed seed with the same schemas, row
counts and value domains as the harness's sf0.1 fixture: uniform keys,
TPC-H-style dimension domains, 30 days of time-ordered events, a
30-word document vocabulary with 5% near-duplicate texts, and unit
64-dimensional embeddings. Each file is written as one row group, like
the fixture.

The tables never depend on the workload seed: ``registry_sf0.1`` is a
fixed input, and the seed only permutes the op order.

    python3 perfbench/gen_tables.py OUT_DIR
"""

from __future__ import annotations

import os
import random
import sys

TABLES_SEED = 42
SCALE = 0.1

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "red", "small", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "anvil", "gizmo", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")

# Near-duplicate documents: this share of texts is another document's
# text plus a trailing " dup" token (the fixture's 250 of 5000).
NEAR_DUP_SHARE = 0.05


def document_texts(seed: int, n: int) -> tuple[list[str], list[str], list[str]]:
    """(texts, langs, sources) of the ``documents`` table; shared with
    the JSONL dump generator, which derives its corpus from it."""
    rng = random.Random(seed)
    texts = [
        " ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(10, 100)))
        for _ in range(n)
    ]
    for i in rng.sample(range(n), int(n * NEAR_DUP_SHARE)):
        texts[i] = texts[rng.randrange(n)] + " dup"
    langs = [rng.choice(DOC_LANGS) for _ in range(n)]
    sources = [f"src{i % 20}" for i in range(n)]
    return texts, langs, sources


def build_tables(scale: float = SCALE, seed: int = TABLES_SEED) -> dict:
    """name -> pyarrow Table. numpy and pyarrow load here, not at module
    import: the JSONL generator imports this module inside timed runs."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)

    def _money(lo: float, hi: float, n: int):
        return np.round(rng.uniform(lo, hi, n), 2)

    def _days(start: str, span: int, n: int):
        return np.datetime64(start, "us") + rng.integers(0, span, n).astype("timedelta64[D]")

    def _ids(n: int):
        return np.arange(n, dtype=np.int64)

    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_evt = int(1_000_000 * scale)
    n_doc = int(50_000 * scale)
    n_emb = int(20_000 * scale)
    i32 = pa.int32()

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": _ids(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": _ids(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(-999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": _ids(n_part),
            "p_name": rng.choice(names, n_part).tolist(),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": _ids(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(("F", "O", "P"), n_ord).tolist(),
            "o_totalprice": _money(1000.0, 500000.0, n_ord),
            "o_orderdate": _days("1995-01-01", 2404, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(("A", "N", "R"), n_line).tolist(),
            "l_linestatus": rng.choice(("F", "O"), n_line).tolist(),
            "l_shipdate": _days("1995-01-02", 2499, n_line),
        }
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt))
    out["events"] = pa.table(
        {
            "event_id": _ids(n_evt),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, int(15_000 * scale), n_evt),
            "event_type": rng.choice(EVENT_TYPES, n_evt).tolist(),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    texts, langs, sources = document_texts(seed, n_doc)
    out["documents"] = pa.table(
        {
            "doc_id": _ids(n_doc),
            "text": texts,
            "lang": langs,
            "source": sources,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": _ids(n_emb),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return out


def write_tables(out_dir: str, scale: float = SCALE, seed: int = TABLES_SEED) -> None:
    """Write every table as ``OUT_DIR/<name>.parquet``, one row group each."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(scale, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=table.num_rows or 1)


if __name__ == "__main__":
    write_tables(sys.argv[1])
