"""Seeded input generators for the benchmark.

Every generator is a pure function of (seed, size): the same arguments
write the same bytes. The program under test only ever sees the files
written here.

* `tables`   - the harness tables the query library reads (`region`,
               `nation`, `customer`, `supplier`, `part`, `orders`,
               `lineitem`, `events`, `documents`, `embeddings`), one
               parquet file each, shaped like the TPC-H-ish testdata
               the oracle suite was written against. Every document
               and every embedding is drawn fresh, so a larger scale
               is a real scale-up, not key-shifted copies of one
               small corpus (which would turn each document into an
               exact duplicate of itself once per replica).
* `yelp`     - the five Yelp-shaped NDJSON inputs of the medallion
               job (`user`, `business`, `review`, `checkin`, `tip`).
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
NOUNS = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMBED_DIM = 64
DUP_SHARE = 0.05


def table_sizes(sf):
    """Row counts per table at scale factor `sf` (sf0.001 = 6,000 lineitems)."""
    n = lambda base: max(1, int(round(base * sf)))
    return {
        "customer": n(150_000), "supplier": n(10_000), "part": n(200_000),
        "orders": n(1_500_000), "lineitem": n(6_000_000), "events": n(1_000_000),
        "users": n(15_000),
        "documents": max(500, n(50_000)), "embeddings": max(500, n(20_000)),
    }


def _write(out_dir, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _midnights(rng, start, days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _texts(rng, n, min_words, max_words):
    lengths = rng.integers(min_words, max_words + 1, n)
    idx = rng.integers(0, len(WORDS), int(lengths.sum()))
    out, at = [], 0
    for k in lengths:
        out.append(" ".join(WORDS[i] for i in idx[at:at + k]))
        at += k
    return out


def tables(out_dir, seed, sf):
    """Write the ten harness tables for scale factor `sf`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    size = table_sizes(sf)
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    nc = size["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), f64),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})

    ns = size["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), f64)})

    np_ = size["part"]
    adj, noun = rng.integers(0, 8, np_), rng.integers(0, 8, np_)
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_), i64),
        "p_name": [f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 1000) * 0.1, 2), f64)})

    no = size["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, no)],
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, no), f64),
        "o_orderdate": pa.array(_midnights(rng, "1995-01-01", 2405, no), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, no)]})

    nl = size["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(_midnights(rng, "1995-01-02", 2497, nl), pa.timestamp("us"))})

    ne = size["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, month_us, ne)).astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, size["users"], ne), i64),
        "event_type": [EVENT_TYPES[t] for t in rng.integers(0, 5, ne)],
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = size["documents"]
    texts = _texts(rng, nd, 10, 99)
    # A share of documents are near-duplicates: another document's text
    # with a marker word appended, as crawled corpora carry.
    for i in np.flatnonzero(rng.random(nd) < DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": [LANGS[l] for l in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = size["embeddings"]
    vec = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})
    return size


# ---------------------------------------------------------------- yelp

CITIES = [("Springfield", "IL"), ("Shelbyville", "IL"), ("Ogdenville", "OR"),
          ("Capital City", "WA"), ("North Haverbrook", "NV")]
CATEGORIES = ["Cafes", "Coffee & Tea", "Bars", "Diners", "Pizza", "Sushi",
              "Bakeries", "Nightlife", "Burgers", "Vegan"]
DAYS = ["Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday"]
ATTRIBUTE_VALUES = {
    "WiFi": ["u'free'", "u'no'", "'paid'", "None"],
    "BikeParking": ["True", "False", "None"],
    "RestaurantsPriceRange2": ["1", "2", "3", "4", "None"],
    "Ambience": ["{'romantic': False, u'casual': True, 'touristy': None}",
                 "{'romantic': None}", "{'casual': True}"],
}
CHECKIN_TIMES = 3


def yelp_sizes(reviews):
    """Entity row counts for a medallion input of `reviews` reviews."""
    return {"review": reviews, "user": reviews // 5, "business": reviews // 25,
            "checkin": reviews // 25, "tip": reviews // 5}


def _day_strings(rng, n, start, days):
    base = dt.date.fromisoformat(start)
    return [(base + dt.timedelta(days=int(d))).isoformat() for d in rng.integers(0, days, n)]


def _write_ndjson(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":")))
            f.write("\n")


def yelp(out_dir, seed, reviews):
    """Write `<entity>.ndjson` for the five Yelp entities.

    Returns the row count per entity and the NDJSON byte total. Checkin
    times are full `yyyy-MM-dd HH:mm:ss` stamps, the format `clean`
    parses; every date parses, so every dated fact has a `date_year`.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    size = yelp_sizes(reviews)
    nu, nb = size["user"], size["business"]
    uid = lambda i: f"u{i:07d}"
    bid = lambda i: f"b{i:06d}"

    since = _day_strings(rng, nu, "2005-01-01", 6000)
    users = []
    for i in range(nu):
        friends = rng.integers(0, nu, int(rng.integers(0, 4)))
        elite = sorted(set(int(y) for y in rng.integers(2008, 2022, int(rng.integers(0, 3)))))
        users.append({
            "user_id": uid(i), "name": f"user{i}",
            "review_count": int(rng.integers(0, 500)), "yelping_since": since[i],
            "useful": int(rng.integers(0, 200)), "funny": int(rng.integers(0, 100)),
            "cool": int(rng.integers(0, 100)), "fans": int(rng.integers(0, 50)),
            "average_stars": round(float(rng.uniform(1, 5)), 2),
            "friends": ", ".join(uid(f) for f in friends),
            "elite": ",".join(str(y) for y in elite)})
    _write_ndjson(os.path.join(out_dir, "user.ndjson"), users)

    business = []
    for i in range(nb):
        city, state = CITIES[int(rng.integers(0, len(CITIES)))]
        cats = rng.choice(len(CATEGORIES), int(rng.integers(1, 4)), replace=False)
        attrs = {k: v[int(rng.integers(0, len(v)))] for k, v in ATTRIBUTE_VALUES.items()
                 if rng.random() < 0.8}
        hours = {d: f"{int(rng.integers(6, 12))}:{int(rng.choice([0, 30]))}-"
                    f"{int(rng.integers(17, 24))}:0"
                 for d in DAYS if rng.random() < 0.7}
        business.append({
            "business_id": bid(i), "name": f"Business {i}", "city": city, "state": state,
            "stars": float(rng.integers(2, 11)) / 2, "review_count": int(rng.integers(0, 1000)),
            "is_open": int(rng.integers(0, 2)),
            "categories": ", ".join(CATEGORIES[c] for c in cats),
            "attributes": attrs or None, "hours": hours or None})
    _write_ndjson(os.path.join(out_dir, "business.ndjson"), business)

    def facts(n, extra):
        users_ = rng.integers(0, nu, n)
        biz = rng.integers(0, nb, n)
        dates = _day_strings(rng, n, "2008-01-01", 5000)
        texts = _texts(rng, n, 3, 30)
        return [dict({"user_id": uid(u), "business_id": bid(b), "text": t, "date": d},
                     **extra(k)) for k, (u, b, t, d) in enumerate(zip(users_, biz, texts, dates))]

    reviews_ = facts(size["review"], lambda k: {
        "review_id": f"r{k:08d}", "stars": float(rng.integers(1, 6)),
        "useful": int(rng.integers(0, 20)), "funny": int(rng.integers(0, 10)),
        "cool": int(rng.integers(0, 10))})
    _write_ndjson(os.path.join(out_dir, "review.ndjson"), reviews_)

    tips = facts(size["tip"], lambda k: {"compliment_count": int(rng.integers(0, 5))})
    _write_ndjson(os.path.join(out_dir, "tip.ndjson"), tips)

    base = dt.datetime(2010, 1, 1)
    secs = rng.integers(0, 12 * 365 * 86_400, (size["checkin"], CHECKIN_TIMES))
    checkins = [{"business_id": bid(i), "date": ", ".join(
        (base + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S") for s in row)}
        for i, row in enumerate(secs)]
    _write_ndjson(os.path.join(out_dir, "checkin.ndjson"), checkins)

    in_bytes = sum(os.path.getsize(os.path.join(out_dir, f"{e}.ndjson")) for e in size)
    return size, in_bytes
