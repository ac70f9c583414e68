"""Synthetic input tables for the benchmark, generated from a seed.

Writes the ten tables the contract queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one
single-row-group parquet file each, with the schema, key ranges and value
distributions of the reference testdata (``TESTDATA.md``) at the same scale factor:

* the TPC-H-ish star (keys dense from 0, foreign keys uniform over their
  dimension, dates uniform over the same calendar windows);
* ``events`` as a time-ordered stream with exponential inter-arrival gaps;
* ``documents`` over a 30-word vocabulary, the last 5% being near-duplicates
  (an earlier document plus a ``dup`` token) for the dedup operators;
* ``embeddings`` as 64-dimensional unit vectors with ten labels.

Row counts scale linearly with ``sf`` (``lineitem`` is ``6_000_000 * sf``).
Larger factors are not generated here: the scale workload's data comes from
the repository's own ``scripts/gen_testdata.py`` applied to this output.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, n: int, values: list[str]) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n), pa.int32()), pa.array(values)
    ).cast(pa.string())


def _tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_vec = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(
            rng, n_cust, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        ),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, n_part, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, n_ord, ["F", "O", "P"]),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(
            rng, n_ord, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        ),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, n_line, ["A", "N", "R"]),
        "l_linestatus": _pick(rng, n_line, ["F", "O"]),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    gaps_us = np.maximum(rng.exponential(26e6, n_ev).astype(np.int64), 1)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": _pick(rng, n_ev, ["click", "error", "purchase", "signup", "view"]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_dup = n_doc // 20
    texts = [
        " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), k))
        for k in rng.integers(10, 101, n_doc - n_dup)
    ]
    texts += [texts[j] + " dup" for j in rng.integers(0, len(texts), n_dup)]
    lang = np.array(["en", "de", "es", "fr", "zh"])[
        rng.choice(5, n_doc, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])
    ]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_vec + 1, 64, dtype=np.int32)),
            pa.array(vecs.reshape(-1)),
        ),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    })
    return out


def write(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns the row count per table."""
    counts = {}
    for name, tbl in _tables(sf, seed).items():
        pq.write_table(tbl, f"{out_dir}/{name}.parquet", row_group_size=1 << 30)
        counts[name] = tbl.num_rows
    return counts
