"""Seeded generator of the catalog's input tables.

Writes one parquet file per table (`<dir>/<table>.parquet`), with the
schemas and value domains of the fixture contract in FIXTURES.md: a
TPC-H-shaped star schema, an `events` stream table, a `documents` corpus
(word-salad text with 5% near-duplicates) and unit-norm 64-dim
`embeddings`. Row counts scale with `sf` the way the contract's tiers do
(lineitem = 6M x sf). The same (seed, sf) always gives the same bytes of
data, so a benchmark run is reproducible from its `--seed` alone.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("blue", "green", "hot", "large", "red", "small", "tan", "white")
NOUNS = ("bolt", "gear", "nut", "pipe", "ring", "screw", "spring", "valve")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "es", "fr", "de", "zh")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
EMB_DIM = 64


def _ts(rng: np.random.Generator, n: int, lo: str, hi: str, unit: str = "D") -> np.ndarray:
    lo_i = np.datetime64(lo, unit).astype(np.int64)
    hi_i = np.datetime64(hi, unit).astype(np.int64)
    return rng.integers(lo_i, hi_i + 1, n).astype(f"datetime64[{unit}]").astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.fromiter((len(t) for t in texts), np.int64, n),
    }


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    m = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    vecs = pa.FixedSizeListArray.from_arrays(pa.array(m.ravel()), EMB_DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": vecs,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def tables(seed: int, sf: float, corpus_sf: float | None = None) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables. `corpus_sf` sizes documents and
    embeddings separately (defaults to `sf`)."""
    rng = np.random.default_rng(seed)
    csf = sf if corpus_sf is None else corpus_sf
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{COLORS[c]} {NOUNS[k]}"
                for c, k in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    ts = np.sort(_ts(rng, n_ev, "2024-01-01T00:00:00", "2024-01-30T23:59:59", "s"))
    ts = ts + rng.integers(0, 1_000_000, n_ev).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(ts),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    out["documents"] = pa.table(_documents(rng, int(50_000 * csf)))
    out["embeddings"] = _embeddings(rng, int(50_000 * csf))
    return out


def write(out_dir: str, seed: int, sf: float, corpus_sf: float | None = None) -> dict[str, int]:
    """Write every table under `out_dir`; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(seed, sf, corpus_sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
