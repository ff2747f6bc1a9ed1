"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
byte-identical pages and parquet files, a different seed gives different
ones. Nothing in this module imports Spark.
"""

from __future__ import annotations

import datetime as dt
import random
import uuid
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PER_PAGE = 200
NBSP = "\u00a0"

_COUNTRIES = {
    "United States": ["California", "Colorado", "Oregon", "Texas", "New York", "Michigan"],
    "Ireland": ["Dublin", "Cork", "Galway"],
    "England": ["Greater London", "Yorkshire", "Kent"],
    "Germany": ["Bayern", "Berlin", "Sachsen"],
    "Poland": ["Mazowieckie", "Małopolskie"],
    "South Korea": ["Seoul", "Gyeonggi-do"],
}
_TYPES = ["micro", "nano", "regional", "brewpub", "large", "planning", "bar", "contract", "proprietor", "closed"]
_WORDS = ["Hop", "Barrel", "Anchor", "Stone", "River", "Oak", "Copper", "Wild", "North", "Iron", "Golden", "Fox"]
_SUFFIX = ["Brewing Co", "Brewery", "Beer Works", "Ales", "Brauerei", "Craft House"]
_CITIES = ["Springfield", "Riverside", "Fairview", "Franklin", "Clinton", "Salem", "Kraków", "Zötler"]

# Shares of each dirty class in generated brewery records (FIXTURES.md §1).
# Every class is exercised by each day of input.
DIRTY = {
    "name_padded": 0.10,     # leading/trailing spaces -> TRIM
    "name_blank": 0.01,      # "" or "   " -> NULL -> dropped
    "type_blank": 0.03,      # blank brewery_type -> NULL, kept
    "country_blank": 0.01,   # -> dropped
    "state_fallback": 0.05,  # state NULL/blank, state_province set -> fallback
    "state_both_blank": 0.01,  # -> dropped
    "city_blank": 0.03,      # -> NULL, kept
    "coord_garbage": 0.02,   # "abc" -> NULL via TRY_CAST, kept
    "coord_out_of_range": 0.02,  # -> dropped
    "id_blank": 0.005,       # NULL or blank id -> dropped
    "duplicate": 0.04,       # extra copy of an earlier record, identical payload
}


def _coord(rng: random.Random, limit: float) -> object:
    v = round(rng.uniform(-limit, limit), 6)
    r = rng.random()
    if r < 0.6:
        return str(v)
    if r < 0.9:
        return v
    return None


def brewery_record(rng: random.Random, nbsp_share: float = 0.0) -> dict:
    """One Open Brewery DB shaped record with the dirty classes mixed in."""
    country = rng.choice(list(_COUNTRIES))
    state = rng.choice(_COUNTRIES[country])
    rec: dict = {
        "id": str(uuid.UUID(int=rng.getrandbits(128))),
        "name": f"{rng.choice(_WORDS)} {rng.choice(_WORDS)} {rng.choice(_SUFFIX)}",
        "brewery_type": rng.choice(_TYPES),
        "address_1": f"{rng.randint(1, 9999)} Main St",
        "address_2": None,
        "address_3": None,
        "city": rng.choice(_CITIES),
        "state": state,
        "postal_code": f"{rng.randint(10000, 99999)}",
        "country": country,
        "longitude": _coord(rng, 180.0),
        "latitude": _coord(rng, 90.0),
        "phone": f"{rng.randint(10**9, 10**10 - 1)}",
        "website_url": None,
        "street": f"{rng.randint(1, 9999)} Main St",
    }
    if rng.random() < 0.5:  # schema drift: the key is sometimes absent
        rec["state_province"] = state
    r = rng.random
    if r() < DIRTY["name_padded"]:
        rec["name"] = f"  {rec['name']} "
    if r() < DIRTY["name_blank"]:
        rec["name"] = rng.choice(["", "   "])
    if r() < DIRTY["type_blank"]:
        rec["brewery_type"] = rng.choice(["", " ", None])
    if r() < DIRTY["country_blank"]:
        rec["country"] = rng.choice(["", "  "])
    if r() < DIRTY["state_fallback"]:
        rec["state"] = rng.choice([None, "", "  "])
        rec["state_province"] = f" {state}"
    if r() < DIRTY["state_both_blank"]:
        rec["state"] = None
        rec["state_province"] = " "
    if r() < DIRTY["city_blank"]:
        rec["city"] = rng.choice(["", "  "])
        rec["postal_code"] = ""
    if r() < DIRTY["coord_garbage"]:
        rec["latitude"] = "abc"
    if r() < DIRTY["coord_out_of_range"]:
        rec["longitude"] = rng.choice([195.5, "-181.25", 360])
    if r() < DIRTY["id_blank"]:
        rec["id"] = rng.choice([None, "", "   "])
    if nbsp_share and r() < nbsp_share:
        rec["name"] = f"{rec['name']}{NBSP}" if rec["name"] else rec["name"]
        rec["city"] = f"{NBSP}{rec['city']}"
    return rec


def brewery_pages(seed: int, day: int, n_records: int, nbsp_share: float = 0.0) -> list[list[dict]]:
    """``n_records`` records for one ingestion day, split into pages of
    ``PER_PAGE``. Duplicates are copies of records already generated that
    day, so every duplicate id carries an identical payload."""
    rng = random.Random(f"breweries:{seed}:{day}")
    records: list[dict] = []
    for _ in range(n_records):
        if records and rng.random() < DIRTY["duplicate"]:
            records.append(dict(rng.choice(records)))
        else:
            records.append(brewery_record(rng, nbsp_share))
    rng.shuffle(records)
    return [records[i : i + PER_PAGE] for i in range(0, len(records), PER_PAGE)]


def page_fetcher(pages: list[list[dict]]):
    """A ``sources.rest.Fetcher`` serving ``pages`` in the no-Link regime:
    the client stops at the first short or empty page."""

    def fetch(page: int):
        return (pages[page - 1] if page <= len(pages) else []), None

    return fetch


# --------------------------------------------------------------------------
# TPC-H-shaped tables with the columns and types of the repo's testdata
# --------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
_PNOUN = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "nut"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "view", "purchase", "signup", "error"]
_LANGS = np.array(["en", "fr", "es", "zh", "de"])
_VOCAB = np.array(
    "a the data table row column key value part order line customer query scan join "
    "agg group sort window hash merge batch stream spark filter big small fast slow".split()
)


def _ts(offsets: np.ndarray, base: str, unit: str = "us") -> pa.Array:
    """``offsets`` in ``unit`` after ``base``, stored as TIMESTAMP(unit)."""
    start = np.datetime64(base, unit)
    return pa.array(start + offsets.astype(f"timedelta64[{unit}]"), pa.timestamp(unit))


def _i32(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int32))


def _i64(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int64))


def _f64(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.float64))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(8, 96, n)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_VOCAB, int(lengths[i]))))
    p = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    return pa.table(
        {
            "doc_id": _i64(np.arange(n)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n, p=p)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": _i64([len(t) for t in texts]),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.6, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": _i64(np.arange(n)),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)), flat),
            "label": _i32(labels),
        }
    )


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables the registry queries read, at scale factor ``sf``
    (sf 1 = 6M lineitem rows), with the testdata's column names and types."""
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = max(int(50_000 * sf), 50), max(int(20_000 * sf), 50), max(int(15_000 * sf), 50)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": _i32(range(5)), "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": _i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": _i32([i % 5 for i in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": _i64(np.arange(n_cust)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": _i32(rng.integers(0, 25, n_cust)),
            "c_acctbal": _f64(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": _i64(np.arange(n_supp)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": _i32(rng.integers(0, 25, n_supp)),
            "s_acctbal": _f64(_money(rng, n_supp, -999.99, 9999.99)),
        }
    )
    names = np.char.add(np.char.add(rng.choice(_PADJ, n_part), " "), rng.choice(_PNOUN, n_part))
    t["part"] = pa.table(
        {
            "p_partkey": _i64(np.arange(n_part)),
            "p_name": pa.array(names),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(_PTYPES, n_part)),
            "p_size": _i32(rng.integers(1, 51, n_part)),
            "p_retailprice": _f64(900.0 + np.round((np.arange(n_part) % 1000) / 10.0, 1)),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": _i64(np.arange(n_ord)),
            "o_custkey": _i64(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": _f64(_money(rng, n_ord, 1000.0, 500000.0)),
            "o_orderdate": _ts(rng.integers(0, 2404, n_ord) * 86_400_000_000, "1995-01-01"),
            "o_orderpriority": pa.array(rng.choice(_PRIO, n_ord)),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": _i64(rng.integers(0, n_ord, n_line)),
            "l_partkey": _i64(rng.integers(0, n_part, n_line)),
            "l_suppkey": _i64(rng.integers(0, n_supp, n_line)),
            "l_linenumber": _i32(rng.integers(1, 8, n_line)),
            "l_quantity": _f64(qty),
            "l_extendedprice": _f64(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
            "l_discount": _f64(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": _f64(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": _ts(rng.integers(1, 2499, n_line) * 86_400_000_000, "1995-01-01"),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": _i64(np.arange(n_ev)),
            # nanosecond-typed in storage, as README.md describes the event data
            "ts": _ts(np.sort(rng.integers(0, 30 * 86_400_000_000_000, n_ev)), "2024-01-01", "ns"),
            "user_id": _i64(rng.integers(0, n_user, n_ev)),
            "event_type": pa.array(rng.choice(_EVENTS, n_ev)),
            "value": _f64(np.round(rng.exponential(40.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: Path) -> None:
    """One single-row-group parquet file per table, as in the testdata."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet", row_group_size=max(table.num_rows, 1))


def run_dates(seed: int) -> tuple[str, str]:
    """Two consecutive ingestion dates derived from the seed."""
    d1 = dt.date(2024, 1, 1) + dt.timedelta(days=seed % 300)
    return d1.isoformat(), (d1 + dt.timedelta(days=1)).isoformat()
