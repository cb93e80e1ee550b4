"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the workload
seed: the same seed gives the same inputs.

- ``make_tables``: the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings``, with the column names, types and
  row counts of the smallest fixture set the query registry is tested
  on (``__spark_entry__.queries()``, ``tests/test_oracle_parity.py``).
- ``universities_feed``: the synthetic per-country API feed for the
  universities pipeline, with the dirty-row mix the F1/F2 filters must
  handle (null/empty/whitespace names and countries, ``''`` vs ``'  '``
  alpha codes, missing or empty ``domains``/``web_pages``).
- ``replay_transform``: a pure-Python F1 → P1..P6 → F2 over that feed,
  the reference the staged output is checked against.
- ``basket_order``: the per-pass query order of the analytics basket.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64

#: table row counts (those of the smallest fixture set)
TABLE_ROWS = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "lineitem": 6000, "events": 1000, "documents": 500,
}

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _days(rng, n: int, span_days: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, span_days, n) * _DAY_US


def _doc_texts(rng, n: int) -> list[str]:
    """Random-word documents; about one in twenty is an earlier
    document with ``dup`` appended (the near-duplicates the dedup
    operators exist for)."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{WORDS[a]} {WORDS[b]}" for a, b in rng.integers(0, len(WORDS), (npart, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [("ECONOMY", "STANDARD POLISHED", "PROMO BRUSHED TIN")[i] for i in rng.integers(0, 3, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(npart) * 0.1, 2),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(_days(rng, no, 2400), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_days(rng, nl, 2500), pa.timestamp("us")),
    })
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * _DAY_US, ne)) + _EPOCH_2024
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(ne // 60, 15), ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = _doc_texts(rng, nd)
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    # one embedding per document (vec_id == doc_id, as the ingest lane
    # joins them): ten label clusters plus planted near-copies
    labels = rng.integers(0, 10, nd)
    centers = rng.normal(0, 1, (10, EMB_DIM))
    vecs = centers[labels] + rng.normal(0, 0.8, (nd, EMB_DIM))
    dup = np.arange(25, nd, 25)
    vecs[dup] = vecs[dup - 1] + rng.normal(0, 0.01, (len(dup), EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nd), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_tables(tables: dict[str, pa.Table], dst: str) -> str:
    os.makedirs(dst, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
    return dst


# ---------------------------------------------------------------- universities


def _raw_university(rng: random.Random, i: int, country: str) -> dict:
    """One raw API record. About one row in ten is dirty in a way F1 or
    F2 drops; others carry edge cases that survive normalized."""
    slug = f"u{i}.{country[-2:]}.edu"
    row = {
        "name": f"  University {i} of {country} ",
        "country": country,
        "state-province": rng.choice([None, f" State {i % 7} "]),
        "alpha_two_code": country[-2:],
        "domains": [f" {slug}", f"alt.{slug}"],
        "web_pages": [f"http://{slug}/ "],
    }
    r = rng.random()
    if r < 0.02:
        row["name"] = None  # F1 drop
    elif r < 0.04:
        row["name"] = ""  # F1 drop
    elif r < 0.06:
        row["name"] = "   "  # survives F1, trimmed to '' by P1, F2 drop
    elif r < 0.08:
        row["web_pages"] = []  # F1 drop
    elif r < 0.10:
        del row["web_pages"]  # F1 drop (missing)
    elif r < 0.13:
        del row["domains"]  # survives: domains [], primary_domain null
    elif r < 0.16:
        row["alpha_two_code"] = ""  # survives: null
    elif r < 0.19:
        row["alpha_two_code"] = "  "  # survives: ''
    elif r < 0.20:
        row["country"] = ""  # F1 drop
    elif r < 0.21:
        row["country"] = "  "  # survives F1, trimmed to '' by P1, F2 drop
    elif r < 0.23:
        row["domains"] = []  # survives: primary_domain null
    elif r < 0.24:
        row["domains"] = None  # survives: domains [], primary_domain null
    return row


#: feed shape: countries queried per refresh × records per country
N_COUNTRIES, PER_COUNTRY = 20, 250


def universities_feed(seed: int) -> dict[str, list[dict]]:
    """Raw records per country. Non-array ``domains``/``web_pages``
    values (such as a bare string) are left out: the driver-side fetch
    rejects them against the raw schema and fails the whole refresh."""
    rng = random.Random(seed)
    feed = {}
    for c in range(N_COUNTRIES):
        country = f"Country {c:02d}"
        feed[country] = [
            _raw_university(rng, c * PER_COUNTRY + i, country) for i in range(PER_COUNTRY)
        ]
    return feed


def _trim_or_null(v):
    return v.strip() if v else None


def replay_transform(feed: dict[str, list[dict]]) -> list[dict]:
    """Pure-Python F1 → P1..P6 → F2 over the raw feed (no Spark), rows in
    feed order, without the run-time ``last_updated`` stamp."""
    out = []
    for rows in feed.values():
        for r in rows:
            name, ctry, pages = r.get("name"), r.get("country"), r.get("web_pages")
            if not (name and ctry and isinstance(pages, list) and pages):  # F1
                continue
            doms = r.get("domains")
            doms = [d.strip() for d in doms] if isinstance(doms, list) else []
            pages = [p.strip() for p in pages]
            row = {
                "name": name.strip(), "country": ctry.strip(),
                "state_province": _trim_or_null(r.get("state-province")),
                "alpha_two_code": _trim_or_null(r.get("alpha_two_code")),
                "domains": doms, "web_pages": pages,
                "primary_domain": doms[0] if doms else None,
                "primary_website": pages[0],
            }
            if row["name"] and row["country"]:  # F2
                out.append(row)
    return out


# ---------------------------------------------------------------- basket


def basket_order(seed: int, basket: list[str], passes: int) -> list[list[str]]:
    rng = random.Random(seed)
    orders = []
    for _ in range(passes):
        b = list(basket)
        rng.shuffle(b)
        orders.append(b)
    return orders
