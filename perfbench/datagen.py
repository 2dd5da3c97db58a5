"""Seeded input generators for the listings benchmark.

Everything here is plain numpy/pyarrow, so inputs exist before the
Spark session starts and the same seed always gives the same bytes.

Star schema (the search-index sources): the same tables and columns
as the harness TPC-H-shaped fixtures, with two differences that the
index-maintenance workload needs: ``(l_orderkey, l_linenumber)`` is
unique (it is the lineitem CDC key), and ``events.ts`` is written in
microseconds.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

STAR_TABLES = ("orders", "lineitem", "events", "customer", "nation", "region", "part")

_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_STATUSES = np.array(["F", "O", "P"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = np.array(["view", "click", "cart", "buy", "error"])
_DATE_LO = np.datetime64("1995-01-01", "us")
_DATE_DAYS = 2404  # through 2001-08-01, the fixtures' span


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(_DATE_LO + days.astype("timedelta64[D]"), type=pa.timestamp("us"))


def star_schema(n_orders: int, seed: int) -> dict[str, pa.Table]:
    """Orders/lineitem/events plus the four dims, sized like the
    fixtures per order: 4 lineitems, 2/3 event, 1/10 customer."""
    rng = np.random.default_rng(seed)
    n_cust = max(n_orders // 10, 10)
    n_part = max(n_orders * 2 // 15, 10)
    n_users = max(n_cust // 10, 5)

    okeys = np.arange(n_orders, dtype=np.int64)
    orders = pa.table({
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": _STATUSES[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(rng.integers(0, _DATE_DAYS, n_orders)),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_orders)],
    })

    lines = rng.integers(1, 8, n_orders)  # 1..7 lines per order, mean 4
    l_orderkey = np.repeat(okeys, lines)
    starts = np.cumsum(lines) - lines
    l_linenumber = (np.arange(len(l_orderkey)) - np.repeat(starts, lines) + 1).astype(np.int32)
    n_li = len(l_orderkey)
    lineitem = pa.table({
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, max(n_part // 20, 1), n_li),
        "l_linenumber": l_linenumber,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(0, _DATE_DAYS, n_li)),
    })

    return {
        "orders": orders,
        "lineitem": lineitem,
        "events": events(0, n_orders * 2 // 3, n_users, rng),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.0, 9999.0, n_cust), 2),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[rng.integers(0, 5, n_cust)],
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": _REGIONS,
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{i % 25}" for i in range(n_part)],
            "p_type": np.array(["LARGE", "SMALL", "ECONOMY", "STANDARD"])[
                rng.integers(0, 4, n_part)
            ],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2),
        }),
    }


def events(first_id: int, n: int, n_users: int, rng: np.random.Generator) -> pa.Table:
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us")
            + rng.integers(0, 30 * 86400 * 10**6, n).astype("timedelta64[us]"),
            type=pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, n_users, n),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.0, 500.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def write_star(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """``<sf_dir>/<name>.parquet`` — the layout ``catalog.read_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))


@dataclass
class ChangeSet:
    """One tick's worth of source mutations: the changed source tables
    as whole new snapshots, and the fact keys the change touches."""

    tables: dict[str, pa.Table]  # orders, lineitem, events after the change
    affected_keys: int  # distinct o_orderkey the tick must recompute


def _replace(t: pa.Table, col: str, rows: np.ndarray, values: np.ndarray) -> pa.Table:
    v = t.column(col).to_numpy(zero_copy_only=False).copy()
    v[rows] = values
    return t.set_column(t.schema.get_field_index(col), col, pa.array(v, type=t.schema.field(col).type))


def change_set(
    tables: dict[str, pa.Table],
    rng: np.random.Generator,
    order_frac: float = 0.01,
    line_frac: float = 0.0025,
    n_events: int = 50,
) -> ChangeSet:
    """Update ~1% of orders (price, and status for a third of them),
    a sliver of lineitems (price), and insert a few events. The
    affected-key count follows the indexer's contract: changed orders,
    the orders of changed lineitems, and every order of a user with a
    new event."""
    orders, li, ev = tables["orders"], tables["lineitem"], tables["events"]
    oi = np.sort(rng.choice(orders.num_rows, max(int(orders.num_rows * order_frac), 1), replace=False))
    orders = _replace(orders, "o_totalprice", oi, np.round(rng.uniform(1000.0, 500000.0, len(oi)), 2))
    flip = oi[rng.random(len(oi)) < 1 / 3]
    orders = _replace(orders, "o_orderstatus", flip, _STATUSES[rng.integers(0, 3, len(flip))])

    li_i = np.sort(rng.choice(li.num_rows, max(int(li.num_rows * line_frac), 1), replace=False))
    li = _replace(li, "l_extendedprice", li_i, np.round(rng.uniform(900.0, 100000.0, len(li_i)), 2))

    n_users = int(pa.compute.max(ev.column("user_id")).as_py()) + 1
    new_ev = events(ev.num_rows, n_events, n_users, rng)

    users = np.unique(new_ev.column("user_id").to_numpy())
    keys = np.union1d(
        np.union1d(oi, li.column("l_orderkey").to_numpy()[li_i]),  # o_orderkey == row position
        np.flatnonzero(np.isin(orders.column("o_custkey").to_numpy(), users)),
    )
    return ChangeSet(
        {"orders": orders, "lineitem": li, "events": pa.concat_tables([ev, new_ev])},
        int(len(keys)),
    )


# ---- listing ingest ----------------------------------------------------------

MRESTATE_DATA_SCHEMA = """
pageProps: struct<data: struct<
  breadcrumb: array<struct<name:string>>,
  data: struct<city:string, neighbourhood:string, date_publish:string,
    is_owner:boolean, creator_properties: struct<real_estate:string, consultant:string>,
    more_description:string, title:string, price_rent:bigint, price_sell:bigint,
    price_mortgage:bigint, area:double, num_bedrooms:int, year_constructed:int,
    latitude:double, longitude:double,
    more_details: struct<floor:int, balcony:boolean, elevator:boolean,
      storeHouse:boolean, parking:int, security:boolean, pool:boolean,
      jacuzzi:boolean, sauna:boolean>,
    list_image: array<struct<url:string>>>>>
"""

SITE = "mrestate"
URL_PREFIX = "https://mrestate.example/p/"
_CITIES = ["Tehran", "Karaj", "Shiraz", "Isfahan", "Tabriz", "Mashhad"]
_HOODS = ["Saadat Abad", "Vanak", "Pasdaran", "Niavaran", "Tajrish", "Punak", "Ekbatan"]
_PUBLISHED = ["۳ روز پیش", "۱ هفته پیش", "دیروز", "۲ روز پیش", "لحظاتی پیش"]


def listing_url(i: int) -> str:
    return f"{URL_PREFIX}{i:09d}"


def is_corrupt(url: str) -> bool:
    """About 1 payload in 100 comes back unparseable."""
    return zlib.crc32(url.encode()) % 100 == 0


def is_fetch_error(url: str) -> bool:
    """About 1 GET in 100 fails outright (never a corrupt URL too)."""
    return zlib.crc32(url.encode()) % 100 == 1


def fetch_payload(url: str) -> str:
    """Deterministic offline stand-in for the mrestate detail GET: the
    payload shape of the transformer's golden test, with every value
    derived from the URL."""
    if is_fetch_error(url):
        raise ConnectionError(f"offline fetch refused {url}")
    if is_corrupt(url):
        return '{"pageProps": {"data": {{{ truncated'
    h = zlib.crc32(url.encode())
    sell = h % 3 != 0
    return json.dumps({
        "pageProps": {"data": {
            "breadcrumb": [{"name": "خانه"}, {"name": _CITIES[h % 6]}, {"name": "آپارتمان"}],
            "data": {
                "city": _CITIES[h % 6],
                "neighbourhood": _HOODS[(h >> 3) % 7],
                "date_publish": _PUBLISHED[(h >> 6) % 5],
                "is_owner": bool(h & 1),
                "creator_properties": {"real_estate": None, "consultant": None},
                "more_description": f"listing {h % 100000} description",
                "title": f"apartment {(h >> 4) % 200 + 40} m",
                "price_rent": 0 if sell else (h % 50 + 1) * 1_000_000,
                "price_sell": (h % 90 + 10) * 100_000_000 if sell else 0,
                "price_mortgage": 0 if sell else (h % 40 + 1) * 10_000_000,
                "area": float((h >> 4) % 200 + 40),
                "num_bedrooms": (h >> 8) % 5 + 1,
                "year_constructed": 1370 + (h >> 10) % 33,
                "latitude": 35.6 + ((h >> 12) % 1000) / 5000.0,
                "longitude": 51.2 + ((h >> 14) % 1000) / 5000.0,
                "more_details": {
                    "floor": (h >> 16) % 12, "balcony": bool(h & 2),
                    "elevator": bool(h & 4), "storeHouse": bool(h & 8),
                    "parking": (h >> 18) % 3, "security": bool(h & 16),
                    "pool": bool(h & 32), "jacuzzi": bool(h & 64), "sauna": bool(h & 128),
                },
                "list_image": [{"url": f"/media/{h % 9973}.jpg"}, {"url": "https://cdn/b.jpg"}],
            },
        }}
    })


@dataclass
class IngestInputs:
    base_ids: np.ndarray  # listing ids already crawled (seen, queued, listed)
    page: list[str]  # one crawl page of candidate URLs
    expect_new: int
    expect_quarantined: int
    expect_fetch_errors: int

    @property
    def expect_inserted(self) -> int:
        """A failed GET leaves no body: the row is neither listed nor
        quarantined."""
        return self.expect_new - self.expect_quarantined - self.expect_fetch_errors


def ingest_inputs(n_base: int, page_size: int, seen_share: float, seed: int) -> IngestInputs:
    """A listings base of ``n_base`` ids and one page of ``page_size``
    candidate URLs, ``seen_share`` of them already seen."""
    rng = np.random.default_rng(seed)
    ids = rng.permutation(np.arange(n_base * 4, dtype=np.int64))
    base = np.sort(ids[:n_base])
    n_seen = int(page_size * seen_share)
    fresh = ids[n_base: n_base + page_size - n_seen]
    page_ids = np.concatenate([rng.choice(base, n_seen, replace=False), fresh])
    page = [listing_url(int(i)) for i in rng.permutation(page_ids)]
    new_urls = [listing_url(int(i)) for i in fresh]
    return IngestInputs(
        base_ids=base,
        page=page,
        expect_new=len(new_urls),
        expect_quarantined=sum(map(is_corrupt, new_urls)),
        expect_fetch_errors=sum(map(is_fetch_error, new_urls)),
    )
