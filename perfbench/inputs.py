"""Seeded input generation: every byte the benchmark feeds the library is
made here from ``--seed``, so two runs with the same seed see identical
tables.

Tables mirror the repository's TPC-H-ish test data (column names, types and
value ranges of ``region nation customer supplier part orders lineitem
events documents embeddings``), so the registry gates and their DuckDB
oracles run unchanged on them. Documents carry the same planted
near-duplicate structure (5 % of them are a copy of another document
with `` dup`` appended), so the similarity lanes have candidates to find.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"], dtype=object)
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"], dtype=object)
SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object
)
PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object
)
COLORS = "red blue green black white small large steel".split()
NOUNS = "ring widget bolt plate gear spring valve hinge".split()
P_TYPES = np.array(
    ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"], dtype=object
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _documents(rng, n: int) -> pd.DataFrame:
    # lengths 10..100 tokens in a seeded order: the same total token volume
    # for every seed, so the similarity lanes' work varies less by seed
    lens = rng.permutation(np.resize(np.arange(10, 101), n))
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # 5 % near-duplicates: a copy of another (original) document plus " dup"
    order = rng.permutation(n)
    k = max(1, n // 20)
    for i, j in zip(order[:k], rng.choice(order[k:], size=k)):
        texts[i] = texts[j] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": np.array([f"src{i % 20}" for i in range(n)], dtype=object),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables at scale factor ``sf`` (sf0.01 = 60k lineitem)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = np.int32
    frames = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(i32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{COLORS[a]} {NOUNS[b]}"
                    for a, b in rng.integers(0, 8, (n_part, 2))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(P_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord),
                "o_orderstatus": rng.choice(np.array(list("FOP"), dtype=object), n_ord),
                "o_totalprice": _money(rng, n_ord, 1000, 500_000),
                "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_li),
                "l_partkey": rng.integers(0, n_part, n_li),
                "l_suppkey": rng.integers(0, n_supp, n_li),
                "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
                "l_quantity": rng.integers(1, 51, n_li).astype(float),
                "l_extendedprice": _money(rng, n_li, 900, 105_000),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": rng.choice(np.array(list("ANR"), dtype=object), n_li),
                "l_linestatus": rng.choice(np.array(list("OF"), dtype=object), n_li),
                "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04"),
            }
        ),
        "events": pd.DataFrame(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": event_times(rng, n_ev),
                "user_id": rng.integers(0, n_users, n_ev),
                "event_type": rng.choice(EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, n_docs),
    }
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    frames["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, n_emb).astype(i32),
        }
    )
    for name, df in frames.items():
        _write(df, f"{out_dir}/{name}.parquet")


def event_times(rng, n: int, start: str = "2024-01-01", days: int = 30):
    """Sorted, distinct microsecond timestamps spread over ``days``."""
    span = days * 86_400_000_000
    us = np.sort(rng.choice(span, size=n, replace=False))
    return np.datetime64(start, "us") + us.astype("timedelta64[us]")


def digest(path: str) -> str:
    """sha256 over a file, or over every file under a directory (relative
    names and bytes, in sorted order)."""
    h = hashlib.sha256()
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(
            os.path.join(root, f) for root, _, names in os.walk(path) for f in names
        )
    for p in files:
        h.update(os.path.relpath(p, path).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()
