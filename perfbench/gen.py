"""Seeded benchmark inputs: the fixture tables and the daily weather payloads.

Everything here is a pure function of ``seed`` (and, for payloads, the day
index), so two runs with the same seed feed the program byte-identical
inputs and a different seed changes them.

- ``write_tables`` writes the ten fixture tables the registry queries read
  (the TPC-H-like star, ``documents``, ``embeddings``, ``events``) with the
  same column names and parquet types as the sf0.01 fixture set, one file
  and one row group per table.
- ``cities`` / ``day_payloads`` build the weatherstack-shaped JSON the
  daily pipeline's injected fetcher serves: one payload per city per day,
  a fixed share of them API error envelopes, some temperatures outside the
  range the staging filter keeps, and city names in mixed case and padding
  so staging's normalisation has work to do.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts at the sf0.01 fixture size (lineitem is ~4 lines per order).
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "documents": 500,
    "embeddings": 500,
    "events": 10_000,
    "users": 150,
}

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "pipe", "valve"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_TS = pa.timestamp("us")


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            # planted near-duplicate (one doc in 20, a fixed count so the
            # similarity operators' work does not swing with the seed): an
            # earlier doc's prefix plus a marker
            src = texts[int(rng.integers(0, i))]
            words = src.split()[: max(10, int(len(src.split()) * 0.8))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[j] for j in rng.integers(0, len(_LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict[str, pa.Array]:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten fixture tables for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = SIZES

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["customer"])),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n["customer"])),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n["supplier"])),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
        "p_name": pa.array([
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
        "p_type": pa.array(rng.choice(_TYPES, n["part"])),
        "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 1)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n["orders"])),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n["orders"])),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n["orders"]), type=_TS),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n["orders"])),
    })

    lines_per_order = rng.integers(1, 8, n["orders"])
    n_lines = int(lines_per_order.sum())
    orderkey = np.repeat(np.arange(n["orders"], dtype=np.int64), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(orderkey),
        "l_partkey": pa.array(rng.integers(0, n["part"], n_lines).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n_lines).astype(np.int64)),
        "l_linenumber": pa.array((np.arange(n_lines) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(quantity),
        "l_extendedprice": pa.array(np.round(quantity * rng.uniform(900.0, 2100.0, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines)),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_lines), type=_TS),
    })

    _write(out_dir, "documents", _documents(rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))

    gaps = rng.exponential(259.0, n["events"])  # mean gap ~4.3 min over ~30 days
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n["events"], dtype=np.int64)),
        "ts": pa.array(ts, type=_TS),
        "user_id": pa.array(rng.integers(0, n["users"], n["events"]).astype(np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n["events"])),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n["events"]), 2), 0.01)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n["events"])]),
    })


# --- daily weather payloads -------------------------------------------------

#: Share of each day's payloads that are API error envelopes.
ERROR_SHARE = 0.1
_SYLLABLES = ["var", "en", "holm", "ka", "ri", "to", "mar", "lin", "os", "bel",
              "dun", "ya", "sor", "ve", "quin", "pa", "zu", "thal", "mo", "ra"]
_COUNTRIES = [f"Land{c}" for c in "ABCDEFGHIJ"]
_DESCRIPTIONS = ["Sunny", "Light rain", "Partly cloudy", "Overcast", "Heavy rain shower",
                 "Clear", "Mist", "Cloudy"]
_WIND_DIRS = ["N", "NE", "E", "SE", "S", "SW", "W", "NW"]

#: The scheduler's first "now": ticks advance one day from here.
FIRST_DAY = dt.datetime(2024, 3, 1)


def cities(seed: int, n: int = 50) -> list[tuple[str, str]]:
    """``n`` distinct (city, country) pairs for ``seed``."""
    rng = random.Random(f"cities:{seed}")
    out: dict[str, str] = {}
    while len(out) < n:
        name = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3))).title()
        out.setdefault(name, rng.choice(_COUNTRIES))
    return list(out.items())


def day_payloads(seed: int, city_list: list[tuple[str, str]], day: int) -> dict[str, str]:
    """Day ``day``'s response body per queried city name, as JSON text."""
    rng = random.Random(f"day:{seed}:{day}")
    n_err = round(ERROR_SHARE * len(city_list))
    errors = set(rng.sample(range(len(city_list)), n_err))
    out = {}
    for i, (city, country) in enumerate(city_list):
        if i in errors:
            body = {"success": False,
                    "error": {"code": 615, "type": "request_failed",
                              "info": f"no result for {city}"}}
        else:
            shown = rng.choice([city, city.upper(), f" {city.lower()} "])
            body = {
                "location": {"name": shown, "country": country},
                "current": {
                    "temperature": rng.randint(-55, 65),
                    "weather_descriptions": [rng.choice(_DESCRIPTIONS)],
                    "humidity": rng.randint(0, 100),
                    "wind_speed": rng.randint(0, 60),
                    "wind_dir": rng.choice(_WIND_DIRS),
                    "pressure": rng.randint(960, 1050),
                    "visibility": rng.randint(0, 10),
                    "uv_index": rng.randint(0, 11),
                    "observation_time": f"{rng.randint(0, 11):02d}:{rng.randint(0, 59):02d} PM",
                },
            }
        out[city] = json.dumps(body, sort_keys=True)
    return out


def temperature_category(t: int) -> str:
    """stg_weather.sql's inclusive temperature buckets, for the output check."""
    if t < 0:
        return "Freezing"
    if t <= 10:
        return "Cold"
    if t <= 20:
        return "Mild"
    if t <= 30:
        return "Warm"
    return "Hot"


def expected_observations(payloads: dict[str, str]) -> dict[str, str]:
    """Normalised city → temperature_category for every payload the staging
    model must keep (no error envelope, temperature within [-50, 60])."""
    out = {}
    for body in map(json.loads, payloads.values()):
        if "error" in body:
            continue
        t = body["current"]["temperature"]
        if -50 <= t <= 60:
            out[body["location"]["name"].strip().upper()] = temperature_category(t)
    return out
