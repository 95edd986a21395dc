"""Seeded input generator for the benchmark.

Writes parquet tables with the schema and value domains of graft's
fixture tables (region, nation, customer, supplier, part, orders,
lineitem, events, documents, embeddings). Every column is drawn from a
numpy PCG64 stream keyed by (seed, table), so the same seed and scale
give byte-identical inputs, and one table's size never shifts another
table's values.

Row counts follow the fixture scale factors: at sf=0.1 there are
600,000 lineitem rows, 100,000 events over 1,500 users and 30 days,
5,000 documents and 2,000 embeddings.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "hot", "large", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.43, 0.14, 0.15, 0.13, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
TABLE_IDS = {n: i for i, n in enumerate(
    ["region", "nation", "customer", "supplier", "part", "orders",
     "lineitem", "events", "documents", "embeddings"])}
EPOCH_2024 = dt.datetime(2024, 1, 1)


def rng(seed, table, salt=0):
    return np.random.Generator(np.random.PCG64([seed, TABLE_IDS[table], salt]))


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def days_us(r, start, end, n):
    """Midnight timestamps (microseconds) uniform over [start, end]."""
    span = (end - start).days
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    return base + r.integers(0, span + 1, n) * 86_400 * 10**6


def ts_array(us):
    return pa.array(us, type=pa.timestamp("us"))


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="snappy")
    os.replace(tmp, path)


def region(seed, sf):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS})


def nation(seed, sf):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)],
                                             pa.int32())})


def customer(seed, sf):
    n = max(1, round(150_000 * sf))
    r = rng(seed, "customer")
    return pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": money(r, -1000, 10000, n),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n)]})


def supplier(seed, sf):
    n = max(1, round(10_000 * sf))
    r = rng(seed, "supplier")
    return pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": r.integers(0, 25, n).astype(np.int32),
        "s_acctbal": money(r, -1000, 10000, n)})


def part(seed, sf):
    n = max(1, round(200_000 * sf))
    r = rng(seed, "part")
    keys = np.arange(n, dtype=np.int64)
    names = np.char.add(np.char.add(
        np.array(PART_ADJ)[r.integers(0, 8, n)], " "),
        np.array(PART_NOUN)[r.integers(0, 8, n)])
    return pa.table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, n)],
        "p_size": r.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 1)})


def orders(seed, sf):
    n = max(1, round(1_500_000 * sf))
    customers = max(1, round(150_000 * sf))
    r = rng(seed, "orders")
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, customers, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n)],
        "o_totalprice": money(r, 1000, 500_000, n),
        "o_orderdate": ts_array(days_us(r, dt.datetime(1995, 1, 1),
                                        dt.datetime(2001, 8, 1), n)),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n)]})


def lineitem(seed, sf):
    n = max(1, round(6_000_000 * sf))
    r = rng(seed, "lineitem")
    return pa.table({
        "l_orderkey": r.integers(0, max(1, round(1_500_000 * sf)), n),
        "l_partkey": r.integers(0, max(1, round(200_000 * sf)), n),
        "l_suppkey": r.integers(0, max(1, round(10_000 * sf)), n),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(r, 900, 105_000, n),
        # rounded uniforms: the end values get half the mass, as in the
        # fixtures
        "l_discount": np.round(r.uniform(0, 0.1, n), 2),
        "l_tax": np.round(r.uniform(0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": ts_array(days_us(r, dt.datetime(1995, 1, 2),
                                       dt.datetime(2001, 11, 4), n))})


def events(seed, sf, days=30, users=None, n=None):
    """`n` events over `days` days from 2024-01-01, ids in time order. At
    the fixture density a user has ~2.2 events a day."""
    n = n or max(1, round(1_000_000 * sf))
    users = users or max(1, round(15_000 * sf))
    r = rng(seed, "events")
    base = int((EPOCH_2024 - dt.datetime(1970, 1, 1)).total_seconds()) * 10**6
    ts = np.sort(base + r.integers(0, days * 86_400 * 10**6, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts_array(ts),
        "user_id": r.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, n)
                                         .astype(str)), "}")})


def documents(seed, sf, n=None, first_id=0, salt=0):
    """Word-salad documents of 10-100 words over a 30-word vocabulary. As
    in the fixtures, one in twenty is a near-duplicate: another
    document's text with " dup" appended (two near-duplicates of the same
    document are exact copies of each other)."""
    n = n or max(1, round(50_000 * sf))
    r = rng(seed, "documents", salt)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[r.integers(0, len(vocab), r.integers(10, 101))])
             for _ in range(n)]
    near = r.random(n) < 0.05
    originals = np.flatnonzero(~near)
    for i in np.flatnonzero(near):
        if len(originals):
            texts[i] = texts[originals[r.integers(0, len(originals))]] + " dup"
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def embeddings(seed, sf):
    n = max(500, round(20_000 * sf))
    r = rng(seed, "embeddings")
    centroids = r.normal(0, 1, (10, 64))
    labels = r.integers(0, 10, n)
    vecs = centroids[labels] + r.normal(0, 1.5, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


TABLES = {"region": region, "nation": nation, "customer": customer,
          "supplier": supplier, "part": part, "orders": orders,
          "lineitem": lineitem, "events": events, "documents": documents,
          "embeddings": embeddings}


def fixture_dir(seed, sf, out):
    """All ten tables at scale `sf` under `out`."""
    for name, fn in TABLES.items():
        write(fn(seed, sf), os.path.join(out, f"{name}.parquet"))


def ingest_feed(seed, batches, per_batch, out):
    """The streaming ingest feed: `batches` drop files of `per_batch`
    documents each under `drop/`, composed by a seeded shuffle. The
    files get strictly increasing modification times, so the file stream
    takes them in the same order, one per trigger, on every run.
    `eval.parquet` (the decontamination set) holds ten corpus documents
    and ten fresh ones."""
    docs = documents(seed, 0, n=batches * per_batch)
    order = rng(seed, "documents", 1).permutation(docs.num_rows)
    fresh = documents(seed, 0, n=10, first_id=docs.num_rows, salt=2)
    write(pa.concat_tables([docs.take(order[:10]), fresh]),
          os.path.join(out, "eval.parquet"))
    base = 1_700_000_000
    for b in range(batches):
        path = os.path.join(out, "drop", f"part_{b:03d}.parquet")
        write(docs.take(np.sort(order[b * per_batch:(b + 1) * per_batch])),
              path)
        os.utime(path, (base + 10 * b, base + 10 * b))


def etl_feed(seed, users, days, run_days, out):
    """The daily ETL feed: `days` days of events for `users` users at the
    fixture density, split into `backfill/` (every day before the last
    `run_days`), one `days/day_NN/` per remaining day, and `all/`."""
    ev = events(seed, 0, days=days, users=users,
                n=round(2.2 * users * days))
    day = (ev.column("ts").cast(pa.int64()).to_numpy()
           - int((EPOCH_2024 - dt.datetime(1970, 1, 1)).total_seconds())
           * 10**6) // (86_400 * 10**6)
    cut = days - run_days
    write(ev, os.path.join(out, "all", "events.parquet"))
    write(ev.filter(pa.array(day < cut)),
          os.path.join(out, "backfill", "events.parquet"))
    for d in range(cut, days):
        write(ev.filter(pa.array(day == d)),
              os.path.join(out, "days", f"day_{d:02d}", "events.parquet"))
