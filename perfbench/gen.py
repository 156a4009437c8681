"""Seeded input generators for the four benchmark workloads.

Everything here is single-process NumPy + PyArrow: the same seed gives
byte-identical files, another seed gives different ones. Column names
and types follow ``big_data_tools_spark/io/schemas.py`` (the TPC-H-shaped
tables and the Yelp family). Each generator returns the planted ground truth
the workload's output checks need.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload (see README.md for why these and not larger).
WAREHOUSE_LINEITEMS = 60_000
CORPUS_DOCS = 1_000
YELP_BUSINESSES = 2_000
EVENTS_ROUNDS = 48
EVENTS_PER_ROUND = 4_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a table never
    shifts another table's values."""
    tag = int.from_bytes(stream.encode(), "little") % (1 << 63)
    return np.random.default_rng(np.random.SeedSequence([seed, tag]))


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", write_statistics=True)


def _ts_us(start: str, offsets_s: np.ndarray) -> pa.Array:
    base = int(datetime.fromisoformat(start).replace(tzinfo=timezone.utc).timestamp()) * 1_000_000
    return pa.array(base + offsets_s.astype(np.int64) * 1_000_000, pa.timestamp("us"))


# ------------------------------------------------------------ warehouse
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "green"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "valve"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def gen_warehouse(seed: int, out_dir: str, n_lineitem: int = WAREHOUSE_LINEITEMS) -> dict:
    """TPC-H-shaped star schema (region/nation/customer/supplier/part/
    orders/lineitem), distributions shaped like the sf-scale parquet
    testdata described in TESTDATA.md."""
    os.makedirs(out_dir, exist_ok=True)
    n_orders = n_lineitem // 4
    n_cust, n_supp, n_part = n_orders // 10, max(n_lineitem // 600, 10), n_lineitem // 30
    r = _rng(seed, "warehouse")

    def money(lo, hi, n):
        return np.round(r.uniform(lo, hi, n), 2)

    _write_parquet(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }), f"{out_dir}/region.parquet")
    _write_parquet(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write_parquet(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999, 9999, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    _write_parquet(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999, 9999, n_supp),
    }), f"{out_dir}/supplier.parquet")
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    _write_parquet(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.array(names)[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    }), f"{out_dir}/part.parquet")
    day_span = (datetime(2001, 8, 1) - datetime(1995, 1, 1)).days
    order_day = r.integers(0, day_span + 1, n_orders)
    _write_parquet(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)],
        "o_totalprice": money(1000, 500000, n_orders),
        "o_orderdate": _ts_us("1995-01-01", order_day * 86400),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_orders)],
    }), f"{out_dir}/orders.parquet")
    okey = np.sort(r.integers(0, n_orders, n_lineitem))
    # line numbers restart per order: position within the sorted run
    first = np.searchsorted(okey, okey, side="left")
    qty = r.integers(1, 51, n_lineitem).astype(np.float64)
    _write_parquet(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_lineitem), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_lineitem), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_lineitem) - first + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": money(900, 105000, n_lineitem),
        "l_discount": r.integers(0, 11, n_lineitem) / 100.0,
        "l_tax": r.integers(0, 9, n_lineitem) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_lineitem)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_lineitem)],
        "l_shipdate": _ts_us(
            "1995-01-01", (order_day[okey] + r.integers(1, 122, n_lineitem)) * 86400
        ),
    }), f"{out_dir}/lineitem.parquet")
    return {"n_lineitem": n_lineitem, "n_orders": n_orders}


# --------------------------------------------------------------- corpus
_EN_WORDS = (
    "data table spark stream query column batch value group filter order "
    "window merge scan index shard token model train corpus record field "
    "engine cluster memory disk network latency result report market price "
    "city river garden music story school travel kitchen winter summer"
).split()
_EN_STOP = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
_DE = "der die und das ist ein nicht mit von zu".split()
_BOILERPLATE = (
    "this page is part of the shared site footer and the terms of use and "
    "the privacy notice apply to it in all regions of the service"
).split()


def _sentence(r: np.random.Generator, n_tok: int, stop_p: float = 0.3) -> list[str]:
    stop = r.random(n_tok) < stop_p
    words = np.where(
        stop,
        np.array(_EN_STOP)[r.integers(0, len(_EN_STOP), n_tok)],
        np.array(_EN_WORDS)[r.integers(0, len(_EN_WORDS), n_tok)],
    )
    return list(words)


def _unique_doc(r: np.random.Generator, doc_no: int, n_tok: int) -> list[str]:
    # a per-document rare token every ~8 words keeps unplanted documents
    # far below any near-duplicate threshold
    toks = _sentence(r, n_tok)
    for j in range(0, n_tok, 8):
        toks[j] = f"w{doc_no}x{j}"
    return toks


def gen_corpus(seed: int, out_dir: str, n_docs: int = CORPUS_DOCS) -> dict:
    """Documents with planted exact duplicates (case/whitespace
    variants), near-duplicate pairs (2 token edits in ~80 tokens,
    3-shingle Jaccard ~0.85), one boilerplate hot band, off-language
    and low-quality documents, and PII to scrub."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "corpus")
    texts: list[str] = []
    langs: list[str] = []
    exact_groups: list[list[int]] = []
    near_pairs: list[tuple[int, int]] = []
    boiler: list[int] = []
    while len(texts) < n_docs:
        i = len(texts)
        kind = r.random()
        toks = _unique_doc(r, i, int(r.integers(60, 110)))
        if r.random() < 0.05:
            toks.insert(int(r.integers(0, len(toks))), f"user{i}@example.com")
        if kind < 0.08 and i + 3 <= n_docs:  # exact-dup group of 2-3
            k = int(r.integers(2, 4))
            base = " ".join(toks)
            variants = [base, base.upper(), base.replace(" ", "  ")][:k]
            exact_groups.append(list(range(i, i + k)))
            texts.extend(variants)
        elif kind < 0.16 and i + 2 <= n_docs:  # near-dup pair
            other = list(toks)
            for pos in r.choice(np.arange(5, len(other) - 5), 2, replace=False):
                other[pos] = f"edit{i}x{pos}"
            near_pairs.append((i, i + 1))
            texts.extend([" ".join(toks), " ".join(other)])
        elif kind < 0.20:  # boilerplate hot band: shared footer + own body
            boiler.append(i)
            texts.append(" ".join(toks[:40] + _BOILERPLATE))
        elif kind < 0.25:  # off-language -> dropped by lang-ID
            langs.append("de")
            texts.append(" ".join(np.array(_DE)[r.integers(0, len(_DE), 60)]))
        elif kind < 0.28:  # too short / stopword-free -> dropped by quality
            texts.append(" ".join(np.array(_EN_WORDS)[r.integers(0, len(_EN_WORDS), 6)]))
        else:
            texts.append(" ".join(toks))
        langs.extend(["en"] * (len(texts) - len(langs)))
    texts, langs = texts[:n_docs], langs[:n_docs]
    n = len(texts)
    _write_parquet(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in r.integers(0, 4, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")
    return {
        "exact_groups": [g for g in exact_groups if g[-1] < n],
        "near_pairs": [p for p in near_pairs if p[1] < n],
        "boilerplate_ids": boiler,
    }


# ----------------------------------------------------------------- yelp
_CITIES = [("Springfield", "IL"), ("Shelbyville", "IN"), ("Capital City", "IL"),
           ("Ogdenville", "OH"), ("North Haverbrook", "OH")]
_FOOD_CATS = ["Coffee, Restaurants", "Food, Breakfast", "Cafes", "Bars, Nightlife",
              "Restaurants, Pizza", "Food, Bakeries"]
_OTHER_CATS = ["Automotive, Repair", "Shopping, Books", "Health, Dentists"]
_NAMES = [f"{a} {b}" for a in ("Cafe", "Diner", "Grill", "Stand", "Bar", "Bistro")
          for b in ("One", "Two", "Three", "Four", "Five")]
_ALCOHOL = ["'full_bar'", "u'full_bar'", "'beer_and_wine'", "u'beer_and_wine'",
            "'none'", "u'none'", None]
_WIFI = ["'free'", "u'free'", "'paid'", "u'paid'", "'no'", "u'no'", None]
_ATTR_FIELDS = ["Alcohol", "Ambience", "BikeParking", "BusinessAcceptsBitcoin",
                "BusinessAcceptsCreditCards", "BusinessParking", "Caters",
                "DietaryRestrictions", "DriveThru", "GoodForMeal", "Open24Hours",
                "OutdoorSeating", "RestaurantsDelivery", "RestaurantsPriceRange2",
                "RestaurantsTakeOut", "WiFi"]
_WEEKDAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"]
# planted label: TRUE when this logit (delivery/takeout flags are the
# 'True' attribute strings, review rate is centred at its log-mean) > 0
LABEL_LOGIT = {"intercept": -1.6, "delivery": 2.4, "takeout": 1.2,
               "log_review_rate": 0.3, "noise_sd": 0.6}


def _bool_str(r: np.random.Generator, p_true: float, p_null: float = 0.2):
    u = r.random()
    return None if u < p_null else ("True" if r.random() < p_true else "False")


def _dict_literal(r: np.random.Generator, keys: list[str]):
    if r.random() < 0.3:
        return None
    return "{" + ", ".join(f"'{k}': {bool(r.random() < 0.4)}" for k in keys) + "}"


def _hours(r: np.random.Generator):
    out = {}
    for d in _WEEKDAYS:
        u = r.random()
        if u < 0.25:
            out[d] = None
        elif u < 0.35:  # past-midnight close (close <= open -> +24h)
            out[d] = f"{int(r.integers(18, 23))}:0-{int(r.integers(0, 3))}:0"
        elif u < 0.38:  # close == open
            out[d] = "18:0-18:0"
        else:
            out[d] = f"{int(r.integers(6, 11))}:0-{int(r.integers(14, 23))}:0"
    return out


def _jsonl(path: str, rows) -> None:
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row, separators=(",", ":")))
            f.write("\n")


def gen_yelp(seed: int, out_dir: str, n_business: int = YELP_BUSINESSES) -> dict:
    """Six Yelp-shaped JSON-lines tables with every quirk of
    ``pipeline/fixtures.py`` (quote-variant enums, dict-literal maps,
    single-digit review dates, leading-space checkin dates, past-
    midnight hours, duplicate covid rows, all-null attribute rows,
    businesses missing from fact tables) and a planted label: the
    delivery/takeout flag follows RestaurantsDelivery, RestaurantsTakeOut
    and review volume through a logistic link."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, "yelp")
    n_user = n_business * 2
    businesses, covid = [], []
    review_rate = np.exp(r.normal(1.8, 0.7, n_business))
    for b in range(n_business):
        food = r.random() < 0.85
        city, state = _CITIES[int(r.integers(0, len(_CITIES)))]
        if r.random() < 0.05:  # all-null attribute row
            attrs = {k: None for k in _ATTR_FIELDS}
        else:
            attrs = {
                "Alcohol": _ALCOHOL[int(r.integers(0, len(_ALCOHOL)))],
                "Ambience": _dict_literal(r, ["romantic", "casual", "trendy"]),
                "BikeParking": _bool_str(r, 0.5),
                "BusinessAcceptsBitcoin": _bool_str(r, 0.05, 0.6),
                "BusinessAcceptsCreditCards": _bool_str(r, 0.9),
                "BusinessParking": _dict_literal(r, ["garage", "street", "lot"]),
                "Caters": _bool_str(r, 0.4),
                "DietaryRestrictions": _dict_literal(r, ["vegan", "halal"]),
                "DriveThru": _bool_str(r, 0.1),
                "GoodForMeal": _dict_literal(r, ["lunch", "dinner"]),
                "Open24Hours": _bool_str(r, 0.03, 0.7),
                "OutdoorSeating": _bool_str(r, 0.4),
                "RestaurantsDelivery": _bool_str(r, 0.45),
                "RestaurantsPriceRange2": str(int(r.integers(1, 5))),
                "RestaurantsTakeOut": _bool_str(r, 0.6),
                "WiFi": _WIFI[int(r.integers(0, len(_WIFI)))],
            }
        cats = _FOOD_CATS if food else _OTHER_CATS
        businesses.append({
            "business_id": f"b{b}",
            "name": _NAMES[int(r.integers(0, len(_NAMES)))],
            "categories": cats[int(r.integers(0, len(cats)))],
            "attributes": attrs,
            "hours": _hours(r),
            "city": city,
            "state": state,
            "is_open": int(r.random() < 0.8),
            "review_count": int(review_rate[b] * 3),
            "stars": float(r.integers(2, 11)) / 2,
        })
        if r.random() < 0.9:  # ~10% of businesses have no label row
            c = LABEL_LOGIT
            z = (c["intercept"] + c["delivery"] * (attrs["RestaurantsDelivery"] == "True")
                 + c["takeout"] * (attrs["RestaurantsTakeOut"] == "True")
                 + c["log_review_rate"] * (np.log(review_rate[b]) - 1.8)
                 + r.normal(0, c["noise_sd"]))
            label = "TRUE" if z > 0 else "FALSE"
            covid.append({"business_id": f"b{b}", "delivery or takeout": label})
            if r.random() < 0.05:  # exact duplicate row
                covid.append({"business_id": f"b{b}", "delivery or takeout": label})
    _jsonl(f"{out_dir}/business.json", businesses)
    _jsonl(f"{out_dir}/covid.json", covid)

    # reviews: Poisson per business (some get none), single-digit M/d
    n_rev = r.poisson(review_rate)
    n_rev[r.random(n_business) < 0.04] = 0
    reviews, tips, checkins = [], [], []
    k = 0
    for b in range(n_business):
        for _ in range(int(n_rev[b])):
            d = datetime(2017, 1, 1) + timedelta(seconds=int(r.integers(0, 3 * 365 * 86400)))
            reviews.append({
                "review_id": f"r{k}", "user_id": f"u{int(r.integers(0, n_user))}",
                "business_ID": f"b{b}", "stars": float(r.integers(1, 6)),
                "useful": int(r.poisson(1.0)),
                "date": f"{d.year}-{d.month}-{d.day} {d.hour}:{d.minute:02d}:{d.second:02d}",
                "text": "good food" if r.random() < 0.6 else "slow service",
            })
            k += 1
        for _ in range(int(r.poisson(1.5))):
            d = datetime(2016, 1, 1) + timedelta(seconds=int(r.integers(0, 4 * 365 * 86400)))
            checkins.append({
                "business_ID": f"b{b}",
                "date": f" {d.year}-{d.month}-{d.day:02d} {d.hour:02d}:{d.minute:02d}:00",
            })
        for _ in range(int(r.poisson(0.8))):
            tips.append({"business_id": f"b{b}", "user_id": f"u{int(r.integers(0, n_user))}",
                         "text": "try the special", "date": "2020-01-01"})
    _jsonl(f"{out_dir}/review.json", reviews)
    _jsonl(f"{out_dir}/checkin.json", checkins)
    _jsonl(f"{out_dir}/tip.json", tips)
    _jsonl(f"{out_dir}/user.json", [
        {"user_id": f"u{u}", "fans": int(f)}
        for u, f in enumerate(r.poisson(3.0, n_user))
    ])
    return {"n_business": n_business, "n_covid_rows": len(covid), "n_reviews": len(reviews),
            "label_logit": LABEL_LOGIT}


# --------------------------------------------------------------- events
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def gen_events(seed: int, out_dir: str, rounds: int = EVENTS_ROUNDS,
               per_round: int = EVENTS_PER_ROUND) -> dict:
    """One parquet file per landing round under ``out_dir/staged``.
    Round k covers event hour k; 5% of its rows are late (up to one
    hour behind, inside the sink's two-hour watermark) and 3% are exact
    re-deliveries of earlier rows (same event_id and payload, still
    inside the watermark), so the deduplicated streamed rollup must
    equal the batch rollup over every landed file."""
    stage = os.path.join(out_dir, "staged")
    os.makedirs(stage, exist_ok=True)
    r = _rng(seed, "events")
    files, dup_ids, late_ids = [], [], []
    prev = None
    next_id = 0
    for k in range(rounds):
        n_new = per_round
        ids = np.arange(next_id, next_id + n_new)
        next_id += n_new
        offs = k * 3600 + r.integers(0, 3600, n_new)
        late = r.random(n_new) < 0.05
        offs[late] -= r.integers(1, 3600, int(late.sum()))
        offs = np.maximum(offs, 0)
        late_ids.extend(ids[late].tolist())
        cols = {
            "event_id": ids,
            "ts_s": offs,
            "user_id": r.integers(0, 5000, n_new),
            "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_new)],
            "value": np.round(r.uniform(0, 500, n_new), 2),
            "props": np.array([f'{{"k": {v}}}' for v in r.integers(0, 100, n_new)]),
        }
        src = cols if prev is None else {c: np.concatenate([prev[c], cols[c]]) for c in cols}
        n_dup = int(n_new * 0.03)
        pick = r.choice(len(src["event_id"]), n_dup, replace=False)
        # re-deliveries keep the payload of the original; a re-delivered
        # row from the previous round stays within the watermark
        rows = {c: np.concatenate([cols[c], src[c][pick]]) for c in cols}
        dup_ids.extend(src["event_id"][pick].tolist())
        order = r.permutation(len(rows["event_id"]))
        rows = {c: v[order] for c, v in rows.items()}
        path = os.path.join(stage, f"events-{k:04d}.parquet")
        _write_parquet(pa.table({
            "event_id": pa.array(rows["event_id"], pa.int64()),
            "ts": pa.array(
                (int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) + rows["ts_s"])
                * 1_000_000,
                pa.timestamp("us", tz="UTC"),
            ),
            "user_id": pa.array(rows["user_id"], pa.int64()),
            "event_type": rows["event_type"],
            "value": rows["value"],
            "props": rows["props"],
        }), path)
        files.append(path)
        prev = cols
    return {"files": files, "dup_ids": dup_ids, "late_ids": late_ids}


GENERATORS = {
    "warehouse_stream": gen_warehouse,
    "corpus_curation": gen_corpus,
    "yelp_basetable_ml": gen_yelp,
    "events_ingest": gen_events,
}
