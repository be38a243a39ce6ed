"""Seeded generator for the benchmark's inputs.

The same seed always gives the same tables. The star schema mirrors the
shape of the TPC-H-like corpus the query registry is written against
(region, nation, supplier, customer, part, orders, lineitem, events,
documents, embeddings; one parquet file each), so every registry query
and its DuckDB oracle run unchanged on it.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "red", "blue", "green", "large", "steel", "tiny", "metal"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "spring", "valve", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE", "MEDIUM"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query big "
    "stream order group filter vector"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


@dataclass(frozen=True)
class StarSizes:
    """Rows per table; the defaults are the corpus's sf0.01 sizes."""

    customer: int = 1500
    supplier: int = 100
    part: int = 2000
    orders: int = 15000
    lineitem: int = 60000
    events: int = 10000
    documents: int = 500
    embeddings: int = 500


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_EPOCH_1995 + days.astype("int64") * _DAY_US, pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def lineitem(
    rng: np.random.Generator, n: int, n_orders: int, n_parts: int, n_supps: int
) -> pa.Table:
    """Line items with uniformly random order keys and ship dates spread
    over ~7 years (1995-01-02 .. 2001-11)."""
    qty = rng.integers(1, 51, n).astype("float64")
    price = 900.0 + rng.integers(0, 200_000, n) / 100.0
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supps, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_cents(qty * price)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": _ts(rng.integers(1, 2500, n)),
        }
    )


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n_words)])


def star_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    s = StarSizes()
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(s.supplier), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s.supplier)],
            "s_nationkey": pa.array(rng.integers(0, 25, s.supplier), pa.int32()),
            "s_acctbal": pa.array(_cents(rng.uniform(-999, 9999, s.supplier))),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(s.customer), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(s.customer)],
            "c_nationkey": pa.array(rng.integers(0, 25, s.customer), pa.int32()),
            "c_acctbal": pa.array(_cents(rng.uniform(-999, 9999, s.customer))),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, s.customer)],
        }
    )
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), s.part)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), s.part)]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(range(s.part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, s.part).astype(str)),
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, s.part)],
            "p_size": pa.array(rng.integers(1, 51, s.part), pa.int32()),
            "p_retailprice": pa.array(_cents(900.0 + np.arange(s.part) * 0.1)),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(s.orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, s.customer, s.orders), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, s.orders)],
            "o_totalprice": pa.array(_cents(rng.uniform(1000, 500000, s.orders))),
            "o_orderdate": _ts(rng.integers(0, 2404, s.orders)),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, s.orders)],
        }
    )
    tables["lineitem"] = lineitem(rng, s.lineitem, s.orders, s.part, s.supplier)
    n_users = max(s.events // 60, 10)
    ts_us = np.sort(rng.integers(0, 30 * _DAY_US, s.events))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(range(s.events), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ts_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, s.events), pa.int64()),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, s.events)],
            "value": pa.array(_cents(rng.uniform(0.01, 490.0, s.events))),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, s.events)],
        }
    )
    texts = [_text(rng, int(k)) for k in rng.integers(8, 90, s.documents)]
    # near-duplicates: every 25th document repeats an earlier one with its
    # first word dropped, so the dedup queries have real pairs to find
    for i in range(25, s.documents, 25):
        words = texts[i - 7].split(" ")
        if len(words) > 20:
            texts[i] = " ".join(words[1:])
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(range(s.documents), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), s.documents)],
            "source": np.char.add("src", rng.integers(0, 20, s.documents).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.normal(0.0, 0.1, (s.embeddings, 64)).astype("float32")
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(s.embeddings), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, s.embeddings), pa.int32()),
        }
    )
    return tables


def write_star(out_dir: str, seed: int) -> dict[str, int]:
    """Write the star schema as ``<out_dir>/<table>.parquet``; returns
    rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, t in star_tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), compression="zstd")
        rows[name] = t.num_rows
    return rows


def lake_lineitem(seed: int, n_rows: int) -> pa.Table:
    """The lineitem table the lake workloads manage, with a unique
    ``row_id`` (the merge key: ``(l_orderkey, l_linenumber)`` repeats)."""
    rng = np.random.default_rng(seed)
    t = lineitem(rng, n_rows, n_rows // 4, 20000, 1000)
    return t.append_column("row_id", pa.array(np.arange(n_rows), pa.int64()))


def shipdate(day: int) -> dt.datetime:
    """Ship-date value of day number ``day`` (the generator's encoding)."""
    return dt.datetime(1995, 1, 1) + dt.timedelta(days=int(day))
