"""Seeded inputs for the benchmark workloads.

``write_tables`` writes the ten parquet tables the analytic queries
read, with the schemas and value distributions
of the engine's test data. ``tail_records`` builds the redo records of
the live-tail generator. Both depend only on the seed and the size, so
the same seed gives the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the key agg row scan slow fast table value part hash batch merge "
    "spark line sort window join small big order data column customer "
    "query stream group filter vector"
).split()
_PART_ADJ = ("small", "large", "red", "blue", "hot", "old", "new", "cold")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "plate", "rod", "pipe", "nut")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENTS = ("view", "click", "purchase", "signup", "error")
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the tables under ``out_dir`` and return their row counts."""
    rng = np.random.default_rng(seed)
    n = table_sizes(sf)
    os.makedirs(out_dir, exist_ok=True)
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(_SEGMENTS, nc),
    }
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }
    npart = n["part"]
    t["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart),
                            rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(_TYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    }
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000, 500_000, no),
        "o_orderdate": _days(rng, "1995-01-01", 2404, no),
        "o_orderpriority": rng.choice(_PRIORITIES, no),
    }
    nl = 4 * no
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": _days(rng, "1995-01-02", 2498, nl),
    }
    ne = n["events"]
    users = max(50, ne // 60)
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)).astype(
            "timedelta64[us]"
        ),
        "user_id": rng.integers(0, users, ne).astype(np.int64),
        "event_type": rng.choice(_EVENTS, ne),
        "value": _money(rng, 0.01, 500, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    texts = [
        " ".join(rng.choice(_WORDS, k))
        for k in rng.integers(10, 100, nd)
    ]
    t["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(
            list(vecs.astype(np.float32)), type=pa.list_(pa.float32())
        ),
        "label": labels.astype(np.int32),
    }
    for name, cols in t.items():
        pq.write_table(
            pa.table(cols), os.path.join(out_dir, f"{name}.parquet")
        )
    return {name: len(next(iter(cols.values()))) for name, cols in t.items()}


def tail_records(
    n_txns: int, open_window: int, seed: int
) -> tuple[list[dict], dict[str, int]]:
    """Redo records of the live-tail generator, in SCN order.

    Transaction ``i`` begins at SCN ``10 * i``, inserts 1 to 4 rows
    (seeded) and commits ``open_window`` transactions later, so about
    ``open_window`` transactions are open at any SCN and most of them
    straddle segment boundaries. Returns the records and, per xid, its
    commit SCN."""
    rng = np.random.default_rng(seed)
    n_ops = rng.integers(1, 5, n_txns)
    last = 10 * (n_txns - 1) + 9
    records: list[dict] = []
    commits: dict[str, int] = {}

    def rec(scn, xid, opcode, bdba=None, slot=None, cols=None):
        # offset = the transaction number keeps every record key
        # (scn, subscn, block, offset) unique where commits share an SCN
        return {
            "scn": scn, "subscn": 0, "block": 0, "offset": int(xid),
            "seq": 1,
            "xid": xid, "opcode": opcode, "obj": 9 if cols else 0,
            "bdba": bdba, "slot": slot, "fb": 0, "cols": cols,
            "rows": None,
        }

    for i in range(n_txns):
        xid = str(i)
        records.append(rec(10 * i, xid, "begin"))
        for k in range(int(n_ops[i])):
            val = int(rng.integers(0, 1_000_000))
            records.append(rec(
                10 * i + 1 + k, xid, "insert", bdba=i, slot=k,
                cols={"ID": str(i), "N": str(k), "V": str(val)},
            ))
        commits[xid] = min(10 * (i + open_window) + 9, last)
        records.append(rec(commits[xid], xid, "commit"))
    records.sort(key=lambda r: (r["scn"], r["xid"]))
    return records, commits
