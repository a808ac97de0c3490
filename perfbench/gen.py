"""Seeded input generation for the benchmark.

Everything the engine reads is made here from `--seed`: the TPC-H-ish
star schema (single-row-group parquet, the layout `sources.catalog`
expects) and the letter-keyed landing JSON batches of the ingest
workload.  The same seed gives byte-identical files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)

_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green",
        "fast", "slow", "dark", "light", "soft", "hard", "bright", "deep"]
_NOUN = ["ring", "bolt", "plate", "gear", "valve", "pipe", "screw", "nut",
         "spring", "wheel", "chain", "frame", "lever", "pump", "seal"]
_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM"]
_SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _pick(rng: np.random.Generator, words: list[str], n: int) -> np.ndarray:
    return np.array(words, dtype=object)[rng.integers(0, len(words), n)]


def write_star(rng: np.random.Generator, out: str, sf: float) -> None:
    """region, nation, customer, supplier, part, orders, lineitem at
    TPC-H row ratios (lineitem = 6M x sf)."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, _ADJ, n_part) + " " + _pick(rng, _NOUN, n_part),
        "p_brand": np.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["P", "O", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1_000, 500_000, n_ord), 2),
        "o_orderdate": pa.array(
            _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US, pa.timestamp("us")
        ),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    }), f"{out}/orders.parquet")
    okey = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    first = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    starts = np.repeat(first, np.diff(np.r_[first, n_line]))
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": (np.arange(n_line) - starts + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": pa.array(
            _EPOCH_1995 + rng.integers(1, 2499, n_line) * _DAY_US, pa.timestamp("us")
        ),
    }), f"{out}/lineitem.parquet")


@dataclass
class LandingModel:
    """The generator's own model of what the ingest tables must hold.

    `delta` and `iceberg` map medication name -> price for the rows
    each table keeps: both take every valid-price upsert; Delta also
    applies the range deletes."""

    delta: dict[str, int] = field(default_factory=dict)
    iceberg: dict[str, int] = field(default_factory=dict)

    def upsert(self, valid: dict[str, int]) -> None:
        self.delta.update(valid)
        self.iceberg.update(valid)

    def delete_range(self, lo: int, hi: int) -> None:
        self.delta = {k: p for k, p in self.delta.items() if not lo <= p <= hi}


@dataclass
class Batch:
    path: str
    n_bytes: int
    total: int
    null_price: int
    zero_price: int
    valid: dict[str, int]
    delete_lo: int
    delete_hi: int


_LETTERS = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_FORMS = ["tablet", "capsule", "syrup", "injection", "cream", "drops", "powder"]


def landing_batch(
    rng: np.random.Generator, path: str, rows: int, key_space: int
) -> Batch:
    """One letter-keyed landing document of `rows` distinct medications
    drawn from a `key_space`-name universe (later batches update
    earlier names).  Prices: ~6% NULL (missing or 'N/A'), ~4% '0 DA',
    the rest 1..1450 DA, some with trailing text."""
    ids = rng.choice(key_space, rows, replace=False)
    price = rng.integers(1, 1451, rows)
    kind = rng.random(rows)
    doc: dict[str, list] = {c: [] for c in _LETTERS}
    valid: dict[str, int] = {}
    n_null = n_zero = 0
    for i, k in enumerate(ids):
        letter = _LETTERS[k % 26]
        name = f"{letter}{_ADJ[k % 16]}-{k:07d}"
        if kind[i] < 0.03:
            rate = None
            n_null += 1
        elif kind[i] < 0.06:
            rate = "N/A"
            n_null += 1
        elif kind[i] < 0.10:
            rate = "0 DA"
            n_zero += 1
        else:
            p = int(price[i])
            rate = f"{p} DA" if kind[i] < 0.9 else f"{p},00 DA (boite de 30)"
            valid[name] = p
        doc[letter].append({
            "name": name,
            "lab": {"name": f"Lab {k % 97}", "address": f"addr-{k % 100}",
                    "tel": f"021-{k % 1000}", "web": None if k % 5 == 0 else f"www.lab{k % 97}.dz"},
            "class": {"therapeutic": f"class {k % 31}" if k % 20 != 3 else None,
                      "pharmacological": f"pharm-{k % 53}"},
            "form": _FORMS[k % 7] if k % 17 != 2 else None,
            "generic": "" if k % 13 == 0 else f"generic {k % 211}",
            "reference_rate": rate,
            "refundable": None if k % 7 == 0 else bool(k % 5),
        })
    with open(path, "w") as f:
        json.dump({c: v for c, v in doc.items() if v}, f)
    lo = int(rng.integers(1, 1300))
    return Batch(path, os.path.getsize(path), rows, n_null, n_zero, valid, lo, lo + 60)
