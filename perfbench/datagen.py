"""Synthetic sf0.1 tables for the benchmark, generated from a seed.

Same schemas, key ranges and value vocabularies as the repository's
TPC-H-ish test tables (``sources.loaders.TABLES`` minus
``embeddings``): one parquet file per table, one row group each,
timestamps as ``timestamp[us]``.  Row counts at sf0.1: lineitem
600,000, orders 150,000, events 100,000, documents 5,000.

Generation is pure numpy + pyarrow and deterministic per seed, so two
checkouts produce byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents"
).split()

DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(days_or_us: np.ndarray, unit: str) -> pa.Array:
    us = days_or_us.astype("int64") * (86_400_000_000 if unit == "D" else 1)
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _day(iso: str) -> int:
    return int(np.datetime64(iso, "D").astype("int64"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def make_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array("blue old small new large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    pk = np.arange(n_part, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })

    d0, d1 = _day("1995-01-01"), _day("2001-08-01")
    odate = rng.integers(d0, d1 + 1, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate, "D"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })

    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 96, n_line), "D"),
    })

    t0 = int((np.datetime64("2024-01-01T00:00:00", "us") - _EPOCH)
             .astype("int64"))
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    value = np.round(rng.gamma(2.0, 25.0, n_ev), 2)
    spikes = rng.random(n_ev) < 0.01
    value[spikes] = np.round(value[spikes] * rng.uniform(4.0, 8.0, spikes.sum()), 2)
    value = np.minimum(value, 560.0)  # the oracle's DECIMAL(18) squares
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ts, "us"),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    words = np.array(DOC_WORDS)
    n_words = rng.integers(8, 101, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in n_words]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[i - 1] + " dup"  # near-duplicate of the previous doc
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": pa.array(LANGS[rng.choice(5, n_doc, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(
            tbl, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, tbl.num_rows), compression="snappy",
        )
