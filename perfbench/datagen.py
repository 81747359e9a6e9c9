"""Seeded synthetic inputs for the benchmark.

The tables follow the shape of the engine's star-schema test data
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings): the same column names and parquet types, the
same key ranges per scale factor, and the same value domains. The same
(sf, seed) always gives byte-identical tables.

Stream files are slices of the events table with fresh event ids: the
seed picks which rows each file carries.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# event ids of stream files start here, above any table's event_id
STREAM_ID_BASE = 100_000_000
STREAM_FILE_EVENTS = 10_000


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def make_tables(sf, seed, only=TABLES):
    """The tables named in `only` at scale factor `sf`, as pyarrow Tables.
    Each table draws from its own random stream, so a subset holds the
    same rows as the full set."""
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    t = {}

    if "region" in only or "nation" in only:
        t["region"] = pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
        t["nation"] = pa.table({
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})

    if "customer" in only:
        r = _rng(seed, 1)
        k = np.arange(n_cust, dtype=np.int64)
        t["customer"] = pa.table({
            "c_custkey": k,
            "c_name": _names("Customer", k),
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)])})

    if "supplier" in only:
        r = _rng(seed, 2)
        k = np.arange(n_supp, dtype=np.int64)
        t["supplier"] = pa.table({
            "s_suppkey": k,
            "s_name": _names("Supplier", k),
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})

    if "part" in only:
        r = _rng(seed, 3)
        k = np.arange(n_part, dtype=np.int64)
        names = np.char.add(np.char.add(np.array(ADJECTIVES)[r.integers(0, 8, n_part)], " "),
                            np.array(NOUNS)[r.integers(0, 8, n_part)])
        t["part"] = pa.table({
            "p_partkey": k,
            "p_name": pa.array(names),
            "p_brand": pa.array(np.char.add("Brand#", r.integers(1, 26, n_part).astype(str))),
            "p_type": pa.array(np.array(PART_TYPES)[r.integers(0, 6, n_part)]),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 2)})

    if "orders" in only:
        r = _rng(seed, 4)
        t["orders"] = pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(EPOCH_1995 + r.integers(0, 2405, n_ord) * DAY_US),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_ord)])})

    if "lineitem" in only:
        r = _rng(seed, 5)
        t["lineitem"] = pa.table({
            "l_orderkey": r.integers(0, n_ord, n_line),
            "l_partkey": r.integers(0, n_part, n_line),
            "l_suppkey": r.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_line)]),
            "l_shipdate": _ts(EPOCH_1995 + (1 + r.integers(0, 2499, n_line)) * DAY_US)})

    if "events" in only:
        r = _rng(seed, 6)
        t["events"] = pa.table({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(EPOCH_2024 + np.sort(r.integers(0, 30 * DAY_US, n_ev))),
            "user_id": r.integers(0, n_users, n_ev),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)]),
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, n_ev).tolist()])})

    if "documents" in only:
        r = _rng(seed, 7)
        words = np.array(WORDS)
        texts = [" ".join(words[r.integers(0, len(WORDS), n)])
                 for n in r.integers(10, 101, n_docs).tolist()]
        # one document in twenty is a near-duplicate: another document's
        # text with a trailing marker token
        for i in np.flatnonzero(r.random(n_docs) < 0.05).tolist():
            texts[i] = texts[int(r.integers(0, n_docs))].removesuffix(" dup") + " dup"
        doc_id = np.arange(n_docs, dtype=np.int64)
        t["documents"] = pa.table({
            "doc_id": doc_id,
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)]),
            "source": pa.array(np.char.add("src", (doc_id % 20).astype(str))),
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    if "embeddings" in only:
        r = _rng(seed, 8)
        v = r.standard_normal((n_vecs, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        t["embeddings"] = pa.table({
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_vecs), pa.int32())})
    return t


def write_tables(out_dir, sf, seed, names=TABLES):
    os.makedirs(out_dir, exist_ok=True)
    tables = make_tables(sf, seed, names)
    for name in names:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return tables


def write_stream_files(out_dir, events, n_files, seed):
    """`n_files` parquet files of STREAM_FILE_EVENTS events each, rows
    drawn from `events` by the seed, event ids fresh per file. The
    timestamp is written UTC-adjusted, the type the stream source's
    schema declares. Returns the file paths in drop order."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 9)
    ts = events.column("ts").cast(pa.timestamp("us", tz="UTC"))
    events = events.set_column(events.schema.get_field_index("ts"), "ts", ts)
    paths = []
    for f in range(n_files):
        rows = events.take(pa.array(r.integers(0, events.num_rows, STREAM_FILE_EVENTS)))
        ids = STREAM_ID_BASE + f * STREAM_FILE_EVENTS + np.arange(STREAM_FILE_EVENTS, dtype=np.int64)
        rows = rows.set_column(0, "event_id", pa.array(ids))
        path = os.path.join(out_dir, f"events-{f:05d}.parquet")
        pq.write_table(rows, path)
        paths.append(path)
    return paths
