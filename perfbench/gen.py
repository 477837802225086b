"""Seeded input generator for the benchmark.

Writes the engine's ten fixture tables (one parquet file each, the same
schemas and value shapes as the repository's TESTDATA fixtures) and the
`ingest` workload's delivery schedule. Everything is a pure function of
(seed, scale): the same seed gives byte-identical files.

Row counts follow the fixtures' sf0.1 shape scaled by `scale / 0.1`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

US_PER_DAY = 86_400_000_000
EVENTS_T0_US = 1_704_067_200_000_000          # 2024-01-01T00:00:00Z
EVENT_DAYS = 30
ORDER_D0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404                              # through 2001-08-01
SHIP_D0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2498


def sizes(scale):
    f = scale / 0.1
    n = lambda base: max(5, int(round(base * f)))
    return {
        "customer": n(15000), "supplier": n(1000), "part": n(20000),
        "orders": n(150000), "lineitem": n(600000), "events": n(100000),
        "users": n(1500), "documents": max(500, n(5000)),
        "embeddings": max(500, n(2000)),
    }


def write(path, table):
    pq.write_table(table, path, compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(d0, idx):
    return (d0 + idx.astype("timedelta64[D]")).astype("datetime64[us]")


def tables(seed, scale):
    """The ten fixture tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng(seed)
    s = sizes(scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = s["part"]
    adj = rng.integers(0, 8, npart)
    noun = rng.integers(0, 8, npart)
    out["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)})
    no = s["orders"]
    odate_idx = rng.integers(0, ORDER_DAYS, no)
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days(ORDER_D0, odate_idx),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = s["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            _days(SHIP_D0, rng.integers(0, SHIP_DAYS, nl)),
            pa.timestamp("us"))})
    ne = s["events"]
    ts = np.sort(EVENTS_T0_US + rng.integers(0, EVENT_DAYS * US_PER_DAY, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, s["users"], ne, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = s["documents"]
    lens = rng.integers(10, 101, nd)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # one document in twenty is a near-duplicate: an earlier text + " dup"
    for i in np.sort(rng.choice(np.arange(1, nd), nd // 20, replace=False)):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = s["embeddings"]
    x = rng.standard_normal((nv, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32))})
    return out


def write_tables(seed, scale, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, scale).items():
        write(os.path.join(out_dir, f"{name}.parquet"), t)


def deliveries(seed, scale, count, events_per, lateness_us, jitter_frac=0.5):
    """The `ingest` delivery schedule: `count` slices of the events and
    lineitem tables, each ts-ordered up to a jitter inside the lateness
    slack. Delivery i carries the events of the i-th window of
    `events_per` rows (timestamps shifted back by up to
    `jitter_frac * lateness_us`, so rows arrive late but never beyond
    the slack) and the lineitem rows whose order falls in the i-th
    order-date window. Returns (all tables, the jittered events table,
    the per-delivery events row indices, the per-delivery lineitem row
    indices)."""
    t = tables(seed, scale)
    rng = np.random.default_rng([seed, 7])
    ev = t["events"]
    n = min(ev.num_rows, count * events_per)
    ev = ev.slice(0, n)
    ts = ev.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    late = rng.integers(0, int(lateness_us * jitter_frac) + 1, n)
    start = ts[0]
    ts = np.maximum(ts - late, start)
    ev = ev.set_column(1, "ts", pa.array(ts.astype("datetime64[us]"),
                                         pa.timestamp("us")))
    ev_slices = [np.arange(i * events_per, min(n, (i + 1) * events_per))
                 for i in range(count)]
    odate = (t["orders"].column("o_orderdate").to_numpy()
             .astype("datetime64[D]") - ORDER_D0).astype(np.int64)
    li_odate = odate[t["lineitem"].column("l_orderkey").to_numpy()]
    step = ORDER_DAYS // count
    order_idx = np.argsort(li_odate, kind="stable")
    li_slices = []
    for i in range(count):
        lo, hi = i * step, (i + 1) * step if i < count - 1 else ORDER_DAYS
        sel = order_idx[(li_odate[order_idx] >= lo) & (li_odate[order_idx] < hi)]
        li_slices.append(sel)
    return t, ev, ev_slices, li_slices


def write_delivery(path, table, idx):
    write(path, table.take(pa.array(idx, pa.int64())))


def digest(paths):
    """sha256 over the bytes of the given files, in order."""
    import hashlib
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()
