"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the schema, row counts and value distributions of the
repository's scale-factor test data: uniform keys, day-granular TPC-H
dates, a 30-day µs-resolution event stream with exponential values, a
31-word document vocabulary with 5 % near-duplicates and a few exact
duplicates, and unit-norm 64-d float32 embeddings.

The tables depend only on the scale factor and ``DATA_SEED``, never on the
run's ``--seed`` (that one orders the requests), so every run of a
workload reads byte-identical inputs. Output is cached under the
checkout's ``.perfbench/`` directory and re-made when ``VERSION`` changes.

Usage: ``python3 perfbench/datagen.py OUT_DIR [SF]``
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = 1

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
_NOUN = ["ring", "gear", "bolt", "plate", "rod", "anvil", "widget", "gizmo"]
_DAY_US = 86_400 * 1_000_000


def _day_ts(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(
            rng,
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust,
        ),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _choice(rng, names, n_part),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
        ),
        "p_type": _choice(
            rng,
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
            n_part,
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _day_ts(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _choice(
            rng,
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord,
        ),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _day_ts(rng, "1995-01-02", "2001-11-04", n_li),
    })

    # events: strictly increasing µs timestamps over 30 days of 2024-01
    t0 = int(np.datetime64("2024-01-01", "us").astype("int64"))
    span = 30 * _DAY_US
    ts = np.sort(rng.choice(span, n_ev, replace=False)) + t0
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": _choice(
            rng, ["click", "error", "purchase", "signup", "view"], n_ev
        ),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
        ),
    })

    # documents: random word strings; 5 % near-duplicates (a copy of an
    # earlier document, one word swapped, " dup" appended) and a few exact
    # copies, so the similarity and dedup families find real pairs
    texts: list[str] = []
    n_dup = n_doc // 20
    dup_ids = set(rng.choice(np.arange(1, n_doc), n_dup, replace=False).tolist())
    exact_ids = set(
        rng.choice(
            np.array(sorted(set(range(1, n_doc)) - dup_ids)),
            max(1, n_doc // 600),
            replace=False,
        ).tolist()
    )
    for i in range(n_doc):
        if i in dup_ids:
            src = texts[int(rng.integers(0, i))].split(" ")
            if rng.random() < 0.5:
                src[int(rng.integers(0, len(src)))] = _WORDS[int(rng.integers(0, 30))]
            texts.append(" ".join(src) + " dup")
        elif i in exact_ids:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, 30, n)))
    langs = np.asarray(["de", "en", "es", "fr", "zh"], dtype=object)
    lang_idx = rng.choice(5, n_doc, p=[0.14, 0.42, 0.148, 0.146, 0.146])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pa.array(langs[lang_idx]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    emb = rng.standard_normal((n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def ensure(out_dir: str, sf: float) -> str:
    """Make the sf-scaled tables under ``out_dir`` unless an up-to-date
    copy is there already; returns ``out_dir``. Writes to a sibling
    temporary directory and renames, so a killed run never leaves a
    half-written table set behind."""
    marker = os.path.join(out_dir, "_perfbench.json")
    want = {"version": VERSION, "seed": DATA_SEED, "sf": sf}
    try:
        with open(marker) as f:
            if json.load(f) == want:
                return out_dir
    except (OSError, ValueError):
        pass
    tmp = out_dir.rstrip("/") + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_perfbench.json"), "w") as f:
        json.dump(want, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    ensure(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1)
