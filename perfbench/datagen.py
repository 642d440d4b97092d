"""Seeded input generators for the benchmark.

Everything a workload reads is made here from ``--seed``: the same
seed gives byte-identical parquet files, a different seed gives
different rows with the same row counts and value domains.

- :func:`testdata_tables` mimics the repo testdata (TESTDATA.md): a
  TPC-H-ish star plus the ``events``, ``documents`` and ``embeddings``
  tables, with the column types of ``schemas.TESTDATA`` and the same
  uniform value domains (nation/region spine, 1995-2001 order dates,
  a 31-word document vocabulary with near-duplicate documents, unit
  64-d embeddings clustered by 10 labels).
- :func:`vc_staging_tables` writes a VC staging zone with the
  ``schemas.STAGING`` column types, following the FIXTURES.md §2 value
  domains (prefixed object ids, dirty addresses and codes, orphan
  foreign keys, out-of-span dates, varchar relationship dates), with
  ``created_at`` spread over one year so daily slices are non-trivial.

Only numpy and pyarrow are used, so inputs exist before Spark starts.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_US = 1_000_000
_DAY_US = 86_400 * _US


def _ts(days_since_epoch: np.ndarray, jitter_us: np.ndarray | None = None) -> pa.Array:
    us = days_since_epoch.astype(np.int64) * _DAY_US
    if jitter_us is not None:
        us = us + jitter_us
    return pa.array(us, type=pa.timestamp("us", tz="UTC"))


def _epoch_day(y: int, m: int, d: int) -> int:
    return (dt.date(y, m, d) - dt.date(1970, 1, 1)).days


def _decimal(cents: np.ndarray, precision: int, scale: int, valid: np.ndarray | None = None) -> pa.Array:
    """Unscaled int64 values → decimal128 without per-row Python objects
    (little-endian 128-bit two's complement: low word, sign word)."""
    words = np.empty((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    words[:, 1] = np.where(cents < 0, -1, 0)
    bitmap = None
    if valid is not None:
        bitmap = pa.py_buffer(np.packbits(valid.astype(np.uint8), bitorder="little"))
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale), len(cents),
        [bitmap, pa.py_buffer(words.tobytes())],
        null_count=-1 if valid is not None else 0,
    )


def _with_nulls(values: list, rng: np.random.Generator, frac: float) -> list:
    mask = rng.random(len(values)) < frac
    return [None if m else v for v, m in zip(values, mask)]


def _pick(rng: np.random.Generator, choices: list, n: int) -> list:
    return [choices[i] for i in rng.integers(0, len(choices), n)]


def write_tables(tables: dict[str, pa.Table], root: str, as_dirs: bool) -> None:
    """One parquet file per table: ``{root}/{name}.parquet`` (testdata
    layout) or ``{root}/{name}/part-00000.parquet`` (staging layout).
    Statistics and dictionary encoding are left at pyarrow defaults;
    no timestamps or host data enter the files, so equal tables give
    equal bytes."""
    os.makedirs(root, exist_ok=True)
    for name, table in tables.items():
        if as_dirs:
            os.makedirs(f"{root}/{name}", exist_ok=True)
            path = f"{root}/{name}/part-00000.parquet"
        else:
            path = f"{root}/{name}.parquet"
        pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------------------
# repo-testdata lookalike
# --------------------------------------------------------------------------

_WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data dup part column order scan a slow agg key "
    "window table merge vector join"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
_PNOUN = ["bolt", "gear", "plate", "ring", "nut", "pipe", "valve", "screw"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]


def testdata_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The TESTDATA.md table shapes at scale ``sf`` (0.1 ≈ 600k lineitem)."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _PADJ, n_part), _pick(rng, _PNOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    d0, d1 = _epoch_day(1995, 1, 1), _epoch_day(2001, 8, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(
            rng.integers(d0, d1 + 1, n_ord).astype(np.int64) * _DAY_US,
            pa.timestamp("us"),
        ),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(
            rng.integers(d0 + 1, _epoch_day(2001, 11, 4) + 1, n_li).astype(np.int64) * _DAY_US,
            pa.timestamp("us"),
        ),
    })
    ev0 = _epoch_day(2024, 1, 1) * _DAY_US
    ts = np.sort(rng.integers(ev0, ev0 + 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev, dtype=np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(40.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.2:
            # near-duplicate of an earlier document: ~10% of words replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in np.nonzero(rng.random(len(words)) < 0.1)[0]:
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = _pick(rng, _WORDS, int(rng.integers(8, 90)))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(labels, pa.int32()),
    })
    return t


# --------------------------------------------------------------------------
# VC staging zone (schemas.STAGING, FIXTURES.md §2)
# --------------------------------------------------------------------------

# row counts near the Crunchbase-2013 snapshot the reference loads
VC_FULL_ROWS = {
    "company": 200_000, "funds": 1_600, "funding_rounds": 52_000,
    "investments": 80_000, "ipos": 1_300, "acquisition": 9_500,
    "people": 226_000, "relationships": 400_000,
}
# created_at spans one calendar year; the replay window is its tail
VC_YEAR = (_epoch_day(2013, 1, 1), _epoch_day(2013, 12, 31))
_CURRENCIES = ["USD", "CAD", "EUR", "SEK", "AUD", "JPY", "GBP", "NIS", "IDR"]
_CITIES = ["San Francisco", " new york ", "LONDON", "berlin", "", "Palo Alto ", "austin"]
_REGIONS = ["SF Bay", " new york", "London ", "", "Berlin", "Texas"]
_COUNTRIES = ["us", " us ", "USA", "gb", "De", "", "fr ", "CA"]
_ADDRESSES = [
    "1 Main St", "#22 Market Street", ".5th Avenue 10", "??", "----", ".323",
    "a", " b ", "", "Suite 400", "100 Pine St",
]
_ROUND_TYPES = ["angel", "seed", "series-a", "series-b", "venture"]
_TERMS = ["cash", "stock", "cash_and_stock", ""]
_SYMBOLS = ["NYSE:ABC", "goog ", "NASDAQ:VC", "123", "--", "tsx:maple"]
_TITLES = ["CEO", "CTO", "Founder", "Board Member", "VP Sales", "Advisor"]
_FIRST = ["Ada", "Grace", "Alan", "Edsger", "Barbara", "Ken", "Linus", "Margaret"]
_LAST = ["Lovelace", "Hopper", "Turing", "Dijkstra", "Liskov", "Thompson", "Hamilton"]


def vc_staging_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """A VC staging zone at ``scale`` × the Crunchbase-2013 row counts.

    Object ids: ``c:<n>`` companies (70%), ``f:<n>`` fund entities
    (20%), ``p:<n>`` other (10%). Every fact's ``created_at`` is on or
    after the ``created_at`` of the company it references, so a daily
    replay never sees a fact before its dim row.
    """
    rng = np.random.default_rng([seed, 2])
    n = {k: max(20, int(v * scale)) for k, v in VC_FULL_ROWS.items()}
    y0, y1 = VC_YEAR
    t: dict[str, pa.Table] = {}

    def created(count: int, not_before: np.ndarray | None = None) -> np.ndarray:
        day = rng.integers(y0, y1 + 1, count)
        if not_before is not None:
            day = np.maximum(day, not_before)
        return day

    # --- company -----------------------------------------------------------
    nc = n["company"]
    kind = rng.random(nc)
    prefix = np.where(kind < 0.7, "c", np.where(kind < 0.9, "f", "p"))
    obj = np.array([f"{p}:{i}" for p, i in zip(prefix, range(nc))])
    comp_day = created(nc)
    co_ts = _ts(comp_day, rng.integers(0, _DAY_US, nc))
    lat = rng.integers(-90_000_000, 90_000_000, nc)
    lon = rng.integers(-180_000_000, 180_000_000, nc)
    t["company"] = pa.table({
        "office_id": pa.array(np.arange(1, nc + 1), pa.int32()),
        "object_id": obj,
        "description": _with_nulls(
            [f"company {i}\nbuilds things" if i % 7 == 0 else f"company {i}" for i in range(nc)],
            rng, 0.1,
        ),
        "region": _with_nulls(_pick(rng, _REGIONS, nc), rng, 0.1),
        "address1": _with_nulls(_pick(rng, _ADDRESSES, nc), rng, 0.1),
        "address2": _with_nulls(_pick(rng, _ADDRESSES, nc), rng, 0.5),
        "city": _with_nulls(_pick(rng, _CITIES, nc), rng, 0.1),
        "zip_code": _with_nulls([f"{z:05d}" for z in rng.integers(0, 99999, nc)], rng, 0.15),
        "state_code": _with_nulls(_pick(rng, ["CA", "NY", "TX", "WA"], nc), rng, 0.3),
        "country_code": _with_nulls(_pick(rng, _COUNTRIES, nc), rng, 0.1),
        "latitude": _decimal(lat, 9, 6, rng.random(nc) > 0.1),
        "longitude": _decimal(lon, 9, 6, rng.random(nc) > 0.1),
        "created_at": co_ts,
        "updated_at": co_ts,
    })
    companies = np.nonzero(prefix == "c")[0]
    fund_entities = np.nonzero(prefix == "f")[0]

    def amounts(count: int, hi_cents: int, neg_frac: float = 0.0) -> pa.Array:
        cents = rng.integers(0, hi_cents, count)
        cents = np.where(rng.random(count) < neg_frac, -cents, cents)
        return _decimal(cents, 15, 2, rng.random(count) > 0.1)

    def funded_dates(count: int, outside_frac: float = 0.02) -> pa.Array:
        day = rng.integers(_epoch_day(1990, 1, 1), _epoch_day(2013, 12, 31), count)
        day = np.where(rng.random(count) < outside_frac, _epoch_day(2035, 6, 1), day)
        return pa.array(day.astype(np.int32), pa.date32())

    # --- funds: one per fund entity, at most ``n["funds"]`` ----------------
    nf = min(n["funds"], len(fund_entities))
    fidx = rng.choice(fund_entities, nf, replace=False)
    fund_day = created(nf, comp_day[fidx])
    f_ts = _ts(fund_day, rng.integers(0, _DAY_US, nf))
    t["funds"] = pa.table({
        "fund_id": [str(i) for i in range(1, nf + 1)],
        "object_id": obj[fidx],
        "name": [f"  Fund {i} Capital " if i % 3 else f"FUND {i}" for i in range(nf)],
        "funded_at": funded_dates(nf),
        "raised_amount": amounts(nf, 100_000_000_000, neg_frac=0.02),
        "raised_currency_code": _with_nulls(_pick(rng, _CURRENCIES, nf), rng, 0.1),
        "source_url": _with_nulls([f"https://news.example/{i}" for i in range(nf)], rng, 0.2),
        "source_description": _pick(rng, ["Press Release", "", "   ", "SEC filing"], nf),
        "created_at": f_ts,
        "updated_at": f_ts,
    })

    # --- funding_rounds -----------------------------------------------------
    nr = n["funding_rounds"]
    r_comp = rng.choice(companies, nr)
    r_day = created(nr, comp_day[r_comp])
    r_ts = _ts(r_day, rng.integers(0, _DAY_US, nr))
    cur = _pick(rng, _CURRENCIES, nr)
    t["funding_rounds"] = pa.table({
        "funding_round_id": pa.array(np.arange(1, nr + 1), pa.int32()),
        "object_id": obj[r_comp],
        "funded_at": funded_dates(nr),
        "funding_round_type": _with_nulls(_pick(rng, _ROUND_TYPES, nr), rng, 0.1),
        "funding_round_code": _with_nulls(_pick(rng, ["a", "b", "c", "seed"], nr), rng, 0.2),
        "raised_amount_usd": amounts(nr, 100_000_000_000),
        "raised_amount": amounts(nr, 100_000_000_000),
        "raised_currency_code": cur,
        "pre_money_valuation_usd": amounts(nr, 100_000_000_000),
        "pre_money_valuation": amounts(nr, 100_000_000_000),
        "pre_money_currency_code": cur,
        "post_money_valuation_usd": amounts(nr, 100_000_000_000),
        "post_money_valuation": amounts(nr, 100_000_000_000),
        "post_money_currency_code": cur,
        "participants": [str(p) for p in rng.integers(1, 11, nr)],
        "is_first_round": rng.random(nr) < 0.3,
        "is_last_round": rng.random(nr) < 0.3,
        "created_by": _with_nulls(_pick(rng, _FIRST, nr), rng, 0.3),
        "created_at": r_ts,
        "updated_at": r_ts,
    })

    # --- investments: ~10% orphan companies, ~10% non-fund investors -------
    ni = n["investments"]
    i_round = rng.integers(0, nr, ni)
    i_comp = r_comp[i_round]
    i_fund = rng.integers(0, nf, ni)
    i_day = created(ni, np.maximum(r_day[i_round], fund_day[i_fund]))
    funded_obj = obj[i_comp].astype(object)
    funded_obj[rng.random(ni) < 0.1] = "c:orphan"
    investor = obj[fidx][i_fund].astype(object)
    non_fund = rng.random(ni) < 0.1
    investor[non_fund] = obj[rng.choice(companies, int(non_fund.sum()))]
    round_id = (i_round + 1).astype(np.int64)
    round_id[rng.random(ni) < 0.05] = nr + 1_000_000  # no funding_rounds match
    i_ts = _ts(i_day, rng.integers(0, _DAY_US, ni))
    t["investments"] = pa.table({
        "investment_id": pa.array(np.arange(1, ni + 1), pa.int32()),
        "funding_round_id": pa.array(round_id, pa.int32()),
        "funded_object_id": pa.array(list(funded_obj), pa.string()),
        "investor_object_id": pa.array(list(investor), pa.string()),
        "created_at": i_ts,
        "updated_at": i_ts,
    })

    # --- ipos ---------------------------------------------------------------
    np_ = n["ipos"]
    p_comp = rng.choice(companies, np_)
    p_day = created(np_, comp_day[p_comp])
    p_obj = obj[p_comp].astype(object)
    p_obj[rng.random(np_) < 0.05] = "c:orphan"
    p_ts = _ts(p_day, rng.integers(0, _DAY_US, np_))
    public = rng.integers(_epoch_day(1980, 1, 1), _epoch_day(2013, 12, 31), np_)
    public = np.where(rng.random(np_) < 0.03, _epoch_day(1930, 1, 1), public)
    t["ipos"] = pa.table({
        "ipo_id": [str(i) for i in range(1, np_ + 1)],
        "object_id": pa.array(list(p_obj), pa.string()),
        "valuation_amount": amounts(np_, 10_000_000_000_000),
        "valuation_currency_code": _pick(rng, _CURRENCIES, np_),
        "raised_amount": amounts(np_, 10_000_000_000_000),
        "raised_currency_code": _pick(rng, _CURRENCIES, np_),
        "public_at": _ts(public),
        "stock_symbol": _with_nulls(_pick(rng, _SYMBOLS, np_), rng, 0.1),
        "source_url": _with_nulls([f"https://ipo.example/{i}" for i in range(np_)], rng, 0.2),
        "source_description": _with_nulls(_pick(rng, ["IPO Filing", "", "listing"], np_), rng, 0.1),
        "created_at": p_ts,
        "updated_at": p_ts,
    })

    # --- acquisition: dual-role companies, some orphans --------------------
    na = n["acquisition"]
    a_from = rng.choice(companies, na)
    a_to = rng.choice(companies, na)
    a_day = created(na, np.maximum(comp_day[a_from], comp_day[a_to]))
    a_to_obj = obj[a_to].astype(object)
    a_to_obj[rng.random(na) < 0.05] = "c:orphan"
    a_ts = _ts(a_day, rng.integers(0, _DAY_US, na))
    acquired = rng.integers(_epoch_day(1990, 1, 1), _epoch_day(2013, 12, 31), na)
    t["acquisition"] = pa.table({
        "acquisition_id": pa.array(np.arange(1, na + 1), pa.int32()),
        "acquiring_object_id": obj[a_from],
        "acquired_object_id": pa.array(list(a_to_obj), pa.string()),
        "term_code": _with_nulls(_pick(rng, _TERMS, na), rng, 0.1),
        "price_amount": amounts(na, 1_000_000_000_000),
        "price_currency_code": _pick(rng, _CURRENCIES, na),
        "acquired_at": _ts(acquired),
        "source_url": _with_nulls([f"https://deal.example/{i}" for i in range(na)], rng, 0.2),
        "source_description": _with_nulls(_pick(rng, ["Acquired", "", "merger"], na), rng, 0.1),
        "created_at": a_ts,
        "updated_at": a_ts,
    })

    # --- people + relationships (no typed created_at: always full) ---------
    npp = n["people"]
    t["people"] = pa.table({
        "people_id": [str(i) for i in range(1, npp + 1)],
        "object_id": [f"p:{i}" for i in range(npp)],
        "first_name": _with_nulls(_pick(rng, _FIRST, npp), rng, 0.1),
        "last_name": _with_nulls(_pick(rng, _LAST, npp), rng, 0.1),
        "birthplace": _with_nulls(_pick(rng, ["Berlin", "Paris", "Austin"], npp), rng, 0.5),
        "affiliation_name": _with_nulls(_pick(rng, ["Acme", "Initech", "Hooli"], npp), rng, 0.3),
    })
    nrel = n["relationships"]

    def varchar_dates(count: int) -> list:
        days = rng.integers(_epoch_day(1995, 1, 1), _epoch_day(2013, 12, 31), count)
        out = [(dt.date(1970, 1, 1) + dt.timedelta(days=int(d))).isoformat() for d in days]
        junk = rng.random(count)
        return [None if j < 0.1 else "unknown" if j < 0.15 else "" if j < 0.2 else s
                for s, j in zip(out, junk)]

    rel_ts = [f"{s} 12:00:00" if s and s != "unknown" else s for s in varchar_dates(nrel)]
    t["relationships"] = pa.table({
        "relationship_id": [str(i) for i in range(1, nrel + 1)],
        "person_object_id": [f"p:{i}" for i in rng.integers(0, npp, nrel)],
        "relationship_object_id": obj[rng.choice(companies, nrel)],
        "start_at": varchar_dates(nrel),
        "end_at": varchar_dates(nrel),
        "is_past": _pick(rng, ["true", "false", ""], nrel),
        "sequence": [str(s) for s in rng.integers(1, 20, nrel)],
        "title": _with_nulls(_pick(rng, _TITLES, nrel), rng, 0.1),
        "created_at": rel_ts,
        "updated_at": rel_ts,
    })
    return t


def cut_before(tables: dict[str, pa.Table], day: int) -> dict[str, pa.Table]:
    """The staging zone as it stood before ``day`` (days since epoch):
    rows with a typed ``created_at`` on or after ``day`` are removed;
    people and relationships carry no typed ``created_at`` and are kept
    whole, as the pipeline loads them in full every day."""
    import pyarrow.compute as pc

    limit = pa.scalar(day * _DAY_US, pa.timestamp("us", tz="UTC"))
    out = {}
    for name, table in tables.items():
        col = table.schema.field("created_at").type if "created_at" in table.schema.names else None
        if col is not None and pa.types.is_timestamp(col):
            table = table.filter(pc.less(table["created_at"], limit))
        out[name] = table
    return out
