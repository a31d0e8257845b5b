"""Seeded input generators for the benchmark.

Every input the program sees is made here from ``--seed``: the
TPC-H-shaped star schema plus ``events``/``documents``/``embeddings``
that the query catalog reads (same column names, Arrow types and value
domains as the catalog's testdata contract in ``sources/schemas.py``),
and a raw flights table in ``FLIGHTS_RAW_SCHEMA`` for the reference
DAG. The same seed gives byte-identical parquet; generation is numpy +
pyarrow only, so it never touches Spark and is never timed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # whole cents, so decimal-exact sums agree across engines
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"), pa.timestamp("us"))


def testdata_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (sf0.01 → 60k
    lineitem rows), every value a function of ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 15)
    n_docs, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -1000, 10000, n_supp),
    })
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    offsets = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(_EPOCH_2024 + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), rng.integers(10, 100))])
        for _ in range(n_docs)
    ]
    # 5% near-duplicates: another document's text plus one token, the
    # shape the dedup and MinHash families exist to find
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[(i + 1 + rng.integers(0, n_docs - 1)) % n_docs] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


@dataclass(frozen=True)
class Flights:
    table: pa.Table
    cancelled: int        # rows with Cancelled = true (null times)
    null_airtime: int     # non-cancelled rows whose only null is AirTime

    @property
    def clean_rows(self) -> int:
        """Rows ``clean_and_engineer`` must keep."""
        return self.table.num_rows - self.cancelled - self.null_airtime


_CARRIERS = [f"Carrier{c}" for c in "ABCDEFGHIJKLMNOPQRST"]
_STATES = ["CA", "TX", "NY", "FL", "IL", "GA", "WA", "MA", "CO", "AZ"]


def flights_raw(seed: int, n_rows: int) -> Flights:
    """Raw flights in ``FLIGHTS_RAW_SCHEMA`` column order: about 2% of
    rows cancelled with null times and delays, and about 1% more with a
    null ``AirTime``; years 2018-2022 so the DAG can hold out 2022."""
    rng = np.random.default_rng([seed, 2])
    n = n_rows
    airports = [f"A{i:02d}" for i in range(40)]
    cities = {a: (f"City{i}, {_STATES[i % len(_STATES)]}", _STATES[i % len(_STATES)])
              for i, a in enumerate(airports)}
    origin = np.asarray(airports, dtype=object)[rng.integers(0, 40, n)]
    dest = np.asarray(airports, dtype=object)[rng.integers(0, 40, n)]
    cancelled = rng.random(n) < 0.02
    null_air = ~cancelled & (rng.random(n) < 0.01)
    days = rng.integers(
        np.datetime64("2018-01-01", "D").astype("int64"),
        np.datetime64("2022-12-31", "D").astype("int64") + 1, n,
    ).astype("datetime64[D]")
    year = days.astype("datetime64[Y]").astype(int) + 1970
    month = days.astype("datetime64[M]").astype(int) % 12 + 1
    dom = (days - days.astype("datetime64[M]")).astype(int) + 1
    dow = (days.astype("int64") + 3) % 7 + 1          # 1970-01-01 was a Thursday
    dep_hhmm = (rng.integers(5, 24, n) * 100 + rng.integers(0, 60, n)).astype("float64")
    arr_hhmm = ((dep_hhmm // 100 + rng.integers(1, 6, n)) % 24 * 100
                + rng.integers(0, 60, n)).astype("float64")
    dist = np.round(rng.uniform(80, 3000, n), 0)
    airtime = np.round(dist / 8.0 + rng.normal(20, 8, n), 0)
    # delays correlate with the hour and the carrier so selection and the
    # fits have signal to find
    carrier = rng.integers(0, len(_CARRIERS), n)
    base = (dep_hhmm // 100 - 12) * 1.5 + carrier * 0.8 - 8
    dep_delay = np.round(base + rng.normal(0, 25, n), 0)
    arr_delay = np.round(dep_delay + rng.normal(0, 10, n), 0)

    def nullable(values: np.ndarray, mask: np.ndarray) -> pa.Array:
        return pa.array(values, pa.float64(), mask=mask)

    cols = {
        "Airline": pa.array(np.asarray(_CARRIERS, dtype=object)[carrier]),
        "Origin": pa.array(origin),
        "Dest": pa.array(dest),
        "Cancelled": pa.array(cancelled),
        "Diverted": pa.array(~cancelled & (rng.random(n) < 0.002)),
        "DepTime": nullable(dep_hhmm, cancelled),
        "DepDelay": nullable(dep_delay, cancelled),
        "ArrTime": nullable(arr_hhmm, cancelled),
        "ArrDelay": nullable(arr_delay, cancelled),
        "AirTime": nullable(airtime, cancelled | null_air),
        "Distance": pa.array(dist),
        "Year": pa.array(year, pa.int32()),
        "Quarter": pa.array((month - 1) // 3 + 1, pa.int32()),
        "Month": pa.array(month, pa.int32()),
        "DayofMonth": pa.array(dom, pa.int32()),
        "DayOfWeek": pa.array(dow, pa.int32()),
        "OriginCityName": pa.array([cities[a][0] for a in origin]),
        "OriginState": pa.array([cities[a][1] for a in origin]),
        "DestCityName": pa.array([cities[a][0] for a in dest]),
        "DestState": pa.array([cities[a][1] for a in dest]),
        "DivAirportLandings": pa.array(np.zeros(n)),
    }
    return Flights(pa.table(cols), int(cancelled.sum()), int(null_air.sum()))


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table; written to a temporary
    name first so an interrupted run never leaves a half file behind."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path + ".part")
        os.replace(path + ".part", path)
