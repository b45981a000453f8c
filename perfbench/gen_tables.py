"""Seeded generator for the sf0.1-shaped star schema + events + documents.

The benchmark may read nothing outside its own checkout, so instead of a
fixed on-disk dataset it writes the ten parquet tables the registered
queries read, with the schemas, row counts and value distributions of the
repository's sf0.1 test tables (TESTDATA.md / FIXTURES.md):

- TPC-H-ish dimensions and facts with uniform keys and categories,
  money as DOUBLE with two decimals, dates as midnight TIMESTAMP[us];
- ``events``: 30 days of timestamps over 1,500 users, exponential
  ``value``, JSON ``props``;
- ``documents``: 10-100 words from a 30-word vocabulary, 5 % near
  duplicates (an earlier document plus a ``dup`` token) and a few exact
  duplicates, five languages, twenty sources;
- ``embeddings``: unit vectors clustered by ten labels.

``doc_scale`` sizes ``documents`` apart from the rest, for a workload
that reads only it. One parquet file per table, one row group, snappy —
the layout the readers layer sees in the real test data. Same seed, same
bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = "blue red hot cold new old large small green dark black white shiny".split()
_P_NOUN = "anvil bolt ring rod plate gear widget".split()
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "D")
    days = base + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def make_tables(seed: int, scale: float = 0.1, doc_scale: float | None = None) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (0.1 = the sf0.1 row counts), ``documents``
    at ``doc_scale`` if given."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_users = int(1_000_000 * scale), max(15, int(15_000 * scale))
    n_docs, n_vec = int(50_000 * (doc_scale or scale)), int(20_000 * scale)

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
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    p_name = np.char.add(
        np.char.add(np.array(_P_ADJ)[rng.integers(0, len(_P_ADJ), n_part)], " "),
        np.array(_P_NOUN)[rng.integers(0, len(_P_NOUN), n_part)],
    )
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": p_name.astype(object),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).astype(object),
        "p_type": np.array(_P_TYPES, dtype=object)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, n_ord),
        "o_orderpriority": np.array(_PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 21, n_line) // 2 / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 17, n_line) // 2 / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, n_line),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(_EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}").astype(object),
    })
    out["documents"] = _documents(rng, n_docs)
    labels = rng.integers(0, 10, n_vec).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 1.5, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": labels,
    })
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(DOC_VOCAB, dtype=object)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # 5 % near duplicates (an earlier doc + one marker token), and a few
    # exact duplicates, so dedup stages have something to remove
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.002):
        if i:
            texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)).astype(object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int, scale: float = 0.1,
                 doc_scale: float | None = None) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns name -> bytes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, table in make_tables(seed, scale, doc_scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        sizes[name] = os.path.getsize(path)
    return sizes
