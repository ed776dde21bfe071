"""Seeded input generator for the benchmark.

Writes the ten tables the library reads (`Tables.*`) as one parquet file
each, with the schemas and value distributions of the TPC-H-shaped
e-commerce testdata: `region nation customer supplier part orders lineitem
events documents embeddings`. The same seed and sizes give byte-identical
tables. Sizes are given as row counts, so a workload picks its own scale.

Also stages the arrival-ordered backlog of the streaming workload
(`stream/`): time- and id-shifted events, with
arrival order shuffled inside the watermark slack (per-user order kept, as
a log partitioned by user keeps it) and a small share of events from
dedicated late users arriving hours behind the event-time frontier.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

US = 1_000_000
DAY_US = 86400 * US
EPOCH_2024 = 1704067200 * US  # 2024-01-01T00:00:00Z
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "cold", "hot", "new", "old", "large"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "rod", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data join small order group column query "
         "customer stream filter big vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DIM = 64

# stream backlog: late events get user ids from here; sentinel events are
# timestamped from 2100-01-01 on
LATE_USER_BASE = 1 << 40
SENTINEL_US = 4102444800 * US
SENTINEL_FILES = 3


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start, end, n):
    """Midnight timestamps (micros) uniform over [start, end] days."""
    s = np.datetime64(start, "D").astype("int64")
    e = np.datetime64(end, "D").astype("int64")
    return rng.integers(s, e + 1, n) * DAY_US


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def events_arrays(rng, n, users, start_us, id_base=0, days=30):
    """Events sorted by time, ids ascending with time, over `days` days."""
    ts = np.sort(start_us + rng.integers(0, days * DAY_US, n))
    etype = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.exponential(50.0, n), 2)
    k = rng.integers(0, 100, n)
    return {
        "event_id": np.arange(id_base, id_base + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": etype,
        "value": value,
        "props": np.array([f'{{"k": {x}}}' for x in k]),
    }


def _events_table(ev):
    return {
        "event_id": ev["event_id"], "ts": _ts(ev["ts"]), "user_id": ev["user_id"],
        "event_type": ev["event_type"], "value": ev["value"], "props": ev["props"],
    }


def write_relational(d, rng, customers, suppliers, parts, orders, lineitems, events):
    _write(f"{d}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{d}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{d}/customer.parquet", {
        "c_custkey": np.arange(customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, customers),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, customers)]})
    _write(f"{d}/supplier.parquet", {
        "s_suppkey": np.arange(suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, suppliers)})
    names = [f"{a} {n}" for a in PART_ADJ for n in PART_NOUN]
    _write(f"{d}/part.parquet", {
        "p_partkey": np.arange(parts, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), parts)],
        "p_brand": [f"Brand#{x}" for x in rng.integers(1, 26, parts)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, parts)],
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) * 0.1, 1)})
    _write(f"{d}/orders.parquet", {
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, orders),
        "o_orderdate": _ts(_dates(rng, "1995-01-01", "2001-08-01", orders)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, orders)]})
    _write(f"{d}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, orders, lineitems).astype(np.int64),
        "l_partkey": rng.integers(0, parts, lineitems).astype(np.int64),
        "l_suppkey": rng.integers(0, suppliers, lineitems).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, lineitems), pa.int32()),
        "l_quantity": rng.integers(1, 51, lineitems).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, lineitems),
        "l_discount": rng.integers(0, 11, lineitems) / 100.0,
        "l_tax": rng.integers(0, 9, lineitems) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, lineitems)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, lineitems)],
        "l_shipdate": _ts(_dates(rng, "1995-01-02", "2001-11-04", lineitems))})
    users = max(10, customers // 10)
    _write(f"{d}/events.parquet",
           _events_table(events_arrays(rng, events, users, EPOCH_2024)))


def write_documents(d, rng, docs, vecs):
    """Word-salad documents over a 30-word vocabulary, with ~1% exact and
    ~2% near duplicates so the dedup operators have real groups; unit
    embeddings drawn around ten label centres."""
    texts = []
    for i in range(docs):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.03:
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    _write(f"{d}/documents.parquet", {
        "doc_id": np.arange(docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centres = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, vecs)
    v = centres[labels] * 0.6 + rng.normal(0.0, 1.0, (vecs, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (vecs + 1) * DIM, DIM), pa.int32()),
        pa.array(v.reshape(-1), pa.float32()))
    _write(f"{d}/embeddings.parquet", {
        "vec_id": np.arange(vecs, dtype=np.int64),
        "embedding": emb,
        "label": pa.array(labels, pa.int32())})


def write_stream(d, rng, seed, n, users, late_share, per_file, days):
    """Stage the arrival-ordered stream backlog as `d/stream/part-*.parquet`,
    `per_file` events per file (the source reads one file per trigger),
    then SENTINEL_FILES files of far-future sentinel events that move the
    watermark past every window. Returns the number of late events.

    Time shift: the backlog starts `seed mod 360` days after 2024-01-01.
    Id shift: event ids start at `seed * 10^7`. Arrival order: each event's
    arrival key is its time plus a uniform jitter inside the 1-minute
    watermark slack, made monotone per user so a user's events arrive in
    time order. Late events belong to dedicated users (ids from 2^40) so
    that no on-time user's order is disturbed; each arrives three files'
    worth of event time (plus two hours) behind its own time, so even the
    previous batch's watermark, which Spark applies to late rows, has
    passed every window that holds it.
    """
    start = EPOCH_2024 + (seed % 360) * DAY_US
    ev = events_arrays(rng, n, users, start, id_base=seed * 10_000_000, days=days)
    arrive = ev["ts"] + rng.integers(0, 60 * US, n)
    order = np.lexsort((ev["event_id"], ev["user_id"]))
    # running max within each user's run keeps per-user arrival monotone
    arrive[order] = pd.Series(arrive[order]).groupby(ev["user_id"][order]).cummax().to_numpy()
    # late events arrive inside the backlog: pick them among events early
    # enough that their delayed arrival still precedes the last file
    lag = 3 * days * DAY_US * per_file // n + 2 * 3600 * US
    span = days * DAY_US * per_file // n
    eligible = np.flatnonzero(ev["ts"] < start + days * DAY_US - lag - span)
    late = min(int(n * late_share), len(eligible))
    idx = rng.choice(eligible, late, replace=False)
    ev["user_id"][idx] = LATE_USER_BASE + np.arange(late)
    arrive[idx] = ev["ts"][idx] + lag
    perm = np.lexsort((ev["event_id"], arrive))
    cols = {k: v[perm] for k, v in ev.items()}
    cols["late"] = np.isin(np.arange(n), idx)[perm]
    sd = os.path.join(d, "stream")
    os.makedirs(sd, exist_ok=True)
    files = []
    for i, lo in enumerate(range(0, n, per_file)):
        part = {k: v[lo:lo + per_file] for k, v in cols.items()}
        t = _events_table(part)
        t["late"] = part["late"]
        files.append((t, i))
    for j in range(SENTINEL_FILES):
        k = len(EVENT_TYPES)
        files.append(({
            "event_id": -(np.arange(k, dtype=np.int64) + 1 + k * j),
            "ts": _ts(np.full(k, SENTINEL_US + j * 3600 * US)),
            "user_id": -(np.arange(k, dtype=np.int64) + 1),
            "event_type": np.array(EVENT_TYPES),
            "value": np.zeros(k),
            "props": np.array(['{"k": 1}'] * k),
            "late": np.zeros(k, dtype=bool),
        }, len(files)))
    # the file source takes files in modification-time order
    for t, i in files:
        p = os.path.join(sd, f"part-{i:05d}.parquet")
        _write(p, t)
        os.utime(p, (1_000_000_000 + i, 1_000_000_000 + i))
    return late


def generate(d, seed, sizes):
    """Write every table for one input directory; returns rows per table."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    write_relational(d, rng, sizes["customers"], sizes["suppliers"], sizes["parts"],
                     sizes["orders"], sizes["lineitems"], sizes["events"])
    write_documents(d, np.random.default_rng([seed, 1]), sizes["documents"],
                    sizes["embeddings"])
    rows = {t: sizes[k] for t, k in [("customer", "customers"), ("supplier", "suppliers"),
            ("part", "parts"), ("orders", "orders"), ("lineitem", "lineitems"),
            ("events", "events"), ("documents", "documents"), ("embeddings", "embeddings")]}
    rows.update(region=5, nation=25)
    if sizes.get("stream_events"):
        late = write_stream(d, np.random.default_rng([seed, 2]), seed, sizes["stream_events"],
                            sizes["stream_users"], sizes["late_share"], sizes["per_file"],
                            sizes["stream_days"])
        rows.update(stream=sizes["stream_events"], stream_late=late)
    return rows
