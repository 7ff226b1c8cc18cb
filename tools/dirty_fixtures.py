"""Dirty-fixture generators for the engine-parity sweeps (VERDICT r11 #4).

r11 swept a null/empty-TEXT documents clone through the full catalog and
fixed three DuckDB empty-string artifacts; this extends the same
discipline to the other two fixture axes:

    python tools/dirty_fixtures.py events /tmp/sf_dirty_events
    python tools/dirty_fixtures.py embeddings /tmp/sf_dirty_embeddings
    python tools/selfcheck.py /tmp/sf_dirty_events ...

* **events** — every 11th ts NULL, every 13th user_id NULL, every 7th
  value NULL, every 17th event_type NULL, one value out-of-range huge
  (9e9 — large enough that milli quantization approaches the int64
  headroom guards both engines mirror). Negative values are NOT planted:
  events.value is contractually non-negative (the interpolate_linear
  rounding identity depends on it, tests/test_interp_identity.py pins
  it loudly).
* **embeddings** — every 5th embedding NULL (excluded by io.load's
  ingestion contract), every 7th all-zero (kept — the cosine family's
  documented exclusion handles it per-operator), every 11th SHORT
  (wrong dimension; excluded by the ingestion contract — a fixed-dim
  index cannot score it and ANSI element_at would throw).
* **orders** (the r12 fourth axis, run together with lineitem) — every
  13th o_orderstatus NULL, 17th o_orderpriority NULL, 19th o_totalprice
  NULL; **lineitem** — every 11th l_shipdate NULL, 13th l_discount
  NULL, 7th l_quantity NULL, 23rd l_returnflag NULL. First sweep read
  305/306 — the relational surface's SQL-null semantics already agreed
  everywhere except histogram_equidepth's depth ranking (fixed with the
  complete-case price filter, both engines).

Base is the sf0.001 fixture; all other tables copy through unchanged.
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_flink_example_spark.io import TABLES  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_BASE_SF", "/root/testdata/sf0.001")


def make_dirty_events(src_dir: str, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        table = pq.read_table(f"{src_dir}/{t}.parquet")
        if t == "events":
            pdf = table.to_pandas()
            pdf.loc[pdf.index % 11 == 0, "ts"] = None
            pdf.loc[pdf.index % 13 == 0, "user_id"] = None
            pdf.loc[pdf.index % 7 == 0, "value"] = None
            pdf.loc[pdf.index % 17 == 0, "event_type"] = None
            pdf.loc[pdf.index[3], "value"] = 9e9  # out-of-range magnitude
            table = pa.Table.from_pandas(
                pdf, preserve_index=False, schema=table.schema
            )
        pq.write_table(table, f"{out_dir}/{t}.parquet")


def make_dirty_embeddings(src_dir: str, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        table = pq.read_table(f"{src_dir}/{t}.parquet")
        if t == "embeddings":
            pdf = table.to_pandas()
            dim = len(pdf["embedding"].iloc[0])
            for i in pdf.index:
                if i % 5 == 0:
                    pdf.at[i, "embedding"] = None
                elif i % 7 == 0:
                    pdf.at[i, "embedding"] = [0.0] * dim
                elif i % 11 == 0:
                    pdf.at[i, "embedding"] = list(pdf.at[i, "embedding"][: dim // 2])
            table = pa.Table.from_pandas(
                pdf, preserve_index=False, schema=table.schema
            )
        pq.write_table(table, f"{out_dir}/{t}.parquet")


def make_dirty_orders(src_dir: str, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        table = pq.read_table(f"{src_dir}/{t}.parquet")
        if t == "orders":
            pdf = table.to_pandas()
            pdf.loc[pdf.index % 13 == 0, "o_orderstatus"] = None
            pdf.loc[pdf.index % 17 == 0, "o_orderpriority"] = None
            pdf.loc[pdf.index % 19 == 0, "o_totalprice"] = None
            table = pa.Table.from_pandas(
                pdf, preserve_index=False, schema=table.schema
            )
        if t == "lineitem":
            pdf = table.to_pandas()
            pdf.loc[pdf.index % 11 == 0, "l_shipdate"] = None
            pdf.loc[pdf.index % 13 == 0, "l_discount"] = None
            pdf.loc[pdf.index % 7 == 0, "l_quantity"] = None
            pdf.loc[pdf.index % 23 == 0, "l_returnflag"] = None
            table = pa.Table.from_pandas(
                pdf, preserve_index=False, schema=table.schema
            )
        pq.write_table(table, f"{out_dir}/{t}.parquet")


if __name__ == "__main__":
    kind, out = sys.argv[1], sys.argv[2]
    {
        "events": make_dirty_events,
        "embeddings": make_dirty_embeddings,
        "orders": make_dirty_orders,
    }[kind](SRC, out)
    print(f"wrote dirty {kind} fixture to {out} (base {SRC})")
