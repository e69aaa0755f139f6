"""Seeded input generator for the benchmark.

Two kinds of input:

* ``write_tables`` writes the star schema plus the events, documents and
  embeddings tables that the batch queries read, one parquet file per
  table, in the layout ``graft.Tables`` loads (``<dir>/<name>.parquet``).
  The shapes follow the engine's test corpus: a TPC-H-like star with
  25 nations and 5 regions, uniform foreign keys, a month of behaviour
  events, word-salad documents of which 5 % are planted near-duplicates,
  and clustered unit-norm 64-d embeddings.
* ``StreamPlan`` is the open-loop stream generator for ``dw_stream``: a
  seeded sequence of event, order and lineitem files. Event time follows
  a wall-clock schedule, user keys are Zipf-skewed, and a seeded share of
  events arrives out of order.

The same seed gives byte-identical files: every random draw comes from
one ``numpy.random.Generator`` per table, and parquet is written with a
fixed writer configuration and no creation timestamps.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["small", "new", "large", "hot", "cold", "red", "blue", "old"]
NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

SCALE = 0.01                        # 1.0 = TPC-H sf1 order of magnitude
EVENT_USERS = 1500                  # distinct users of the batch events table
EMB_DIM, EMB_LABELS = 64, 10        # embedding width and cluster count
# stream generator: key ranges, Zipf exponent, out-of-order events
STREAM_USERS, STREAM_CUSTOMERS, STREAM_PARTS = 5000, 1500, 2000
ZIPF_S = 0.8
LATE_SHARE = 0.1
MAX_LATE_US = 120_000_000

DAY_US = 86_400_000_000
EPOCH_1995 = 9131 * DAY_US          # 1995-01-01
EPOCH_2024 = 19723 * DAY_US         # 2024-01-01


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _write(path, cols):
    table = pa.table(cols)
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def table_sizes():
    """Row counts at ``SCALE``."""
    return {
        "customer": int(150_000 * SCALE), "supplier": max(int(10_000 * SCALE), 50),
        "part": int(200_000 * SCALE), "orders": int(1_500_000 * SCALE),
        "lineitem": int(6_000_000 * SCALE), "events": int(1_000_000 * SCALE),
        "documents": max(int(50_000 * SCALE), 200),
        "embeddings": max(int(20_000 * SCALE), 200),
    }


def write_tables(out_dir, seed, only=None):
    """Write the batch tables for ``seed`` into ``out_dir``.

    ``only`` limits the output to the named tables (the dimension tables
    are always small and always written)."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_sizes()
    want = (lambda t: True) if only is None else (lambda t: t in only)

    def p(name):
        return os.path.join(out_dir, name + ".parquet")

    _write(p("region"), {"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": REGIONS})
    _write(p("nation"), {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = _rng(seed, 1)
    nc = n["customer"]
    _write(p("customer"), {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)].tolist()})
    r = _rng(seed, 2)
    ns = n["supplier"]
    _write(p("supplier"), {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, ns)})
    r = _rng(seed, 3)
    np_ = n["part"]
    keys = np.arange(np_)
    names = np.char.add(np.char.add(np.array(ADJ)[r.integers(0, 8, np_)], " "),
                        np.array(NOUN)[r.integers(0, 8, np_)])
    _write(p("part"), {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names.tolist(),
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, np_)],
        "p_type": np.array(PTYPES)[r.integers(0, 6, np_)].tolist(),
        "p_size": pa.array(r.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) / 10.0, 2)})
    no = n["orders"]
    if want("orders") or want("lineitem"):
        r = _rng(seed, 4)
        odate = EPOCH_1995 + r.integers(0, 2404, no) * DAY_US
        _write(p("orders"), {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)].tolist(),
            "o_totalprice": _money(r, 1000, 500_000, no),
            "o_orderdate": _ts(odate),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)].tolist()})
    if want("lineitem"):
        r = _rng(seed, 5)
        nl = n["lineitem"]
        okey = r.integers(0, no, nl)
        odate = EPOCH_1995 + _rng(seed, 4).integers(0, 2404, no) * DAY_US
        _write(p("lineitem"), {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(r.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
            "l_quantity": r.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(r, 900, 105_000, nl),
            "l_discount": r.integers(0, 11, nl) / 100.0,
            "l_tax": r.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)].tolist(),
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)].tolist(),
            "l_shipdate": _ts(odate[okey] + r.integers(-60, 120, nl) * DAY_US)})
    if want("events"):
        write_events(p("events"), seed, n["events"])
    if want("documents"):
        write_documents(p("documents"), seed, n["documents"])
    if want("embeddings"):
        write_embeddings(p("embeddings"), seed, n["embeddings"])
    return n


def write_events(path, seed, ne):
    r = _rng(seed, 6)
    ts = np.sort(EPOCH_2024 + r.integers(0, 30 * DAY_US, ne))
    _write(path, {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, EVENT_USERS, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)].tolist(),
        "value": np.round(r.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)]})


def _doc_text(r):
    return " ".join(np.array(WORDS)[r.integers(0, len(WORDS), r.integers(10, 101))])


def write_documents(path, seed, nd):
    """5 % of the documents are a copy of an earlier one plus a ' dup'
    suffix, the near-duplicate pairs the dedup queries look for."""
    r = _rng(seed, 7)
    texts = []
    for i in range(nd):
        if i >= 20 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(_doc_text(r))
    _write(path, {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, nd, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_embeddings(path, seed, nv):
    r = _rng(seed, 8)
    centres = r.normal(0, 1, (EMB_LABELS, EMB_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = r.integers(0, EMB_LABELS, nv)
    raw = 0.065 * centres[label] + r.normal(0, 1 / np.sqrt(EMB_DIM), (nv, EMB_DIM))
    vec = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    _write(path, {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


# --------------------------------------------------------------------------
# Stream generator (dw_stream)
# --------------------------------------------------------------------------

class StreamPlan:
    """Seeded content of the ``dw_stream`` input files.

    ``files(kind, idx, n_rows, event_time_us)`` returns the JSON-lines
    body of one input file. Event time is supplied by the caller (it
    follows the wall-clock schedule), so the same seed, index and
    schedule give the same bytes. A ``LATE_SHARE`` of events carries a
    timestamp up to ``MAX_LATE_US`` behind the file's event time (out of
    order, but inside every stream's watermark delay, so no stateful
    operator drops them and the stream result equals the batch result).
    """

    def __init__(self, seed):
        self.seed = seed
        self._p = {}

    def _zipf(self, r, n, hi):
        """Keys 0..hi-1 with P(k) proportional to 1 / (k + 1) ** ZIPF_S."""
        if hi not in self._p:
            w = 1.0 / np.arange(1, hi + 1) ** ZIPF_S
            self._p[hi] = w / w.sum()
        return r.choice(hi, n, p=self._p[hi])

    def body(self, kind, idx, n_rows, event_time_us):
        r = np.random.default_rng([self.seed, 100, idx, KINDS.index(kind)])
        late = r.random(n_rows) < LATE_SHARE
        jitter = r.integers(0, 1_000_000, n_rows)
        ts = event_time_us + jitter - late * r.integers(0, MAX_LATE_US, n_rows)
        base = idx * 1_000_000
        lines = []
        if kind == "events":
            users = self._zipf(r, n_rows, STREAM_USERS)
            etype = r.integers(0, 5, n_rows)
            value = np.round(r.exponential(50.0, n_rows), 2)
            k = r.integers(0, 100, n_rows)
            for i in range(n_rows):
                lines.append(json.dumps({
                    "event_id": base + i, "ts": _iso(ts[i]), "user_id": int(users[i]),
                    "event_type": EVENT_TYPES[etype[i]], "value": float(value[i]),
                    "props": f'{{"k": {int(k[i])}}}'}))
        elif kind == "orders":
            cust = self._zipf(r, n_rows, STREAM_CUSTOMERS)
            rev = np.round(r.uniform(10, 5000, n_rows), 2)
            for i in range(n_rows):
                lines.append(json.dumps({
                    "o_orderkey": base + i, "o_custkey": int(cust[i]),
                    "rev": float(rev[i]), "ts": _iso(ts[i])}))
        else:
            part = self._zipf(r, n_rows, STREAM_PARTS)
            qty = r.integers(1, 51, n_rows)
            price = np.round(r.uniform(900, 105_000, n_rows), 2)
            for i in range(n_rows):
                lines.append(json.dumps({
                    "l_orderkey": base + i, "l_partkey": int(part[i]),
                    "l_quantity": float(qty[i]), "l_extendedprice": float(price[i]),
                    "ts": _iso(ts[i])}))
        return ("\n".join(lines) + "\n").encode()


KINDS = ["events", "orders", "lineitem"]


def _iso(us):
    us = int(us)
    return np.datetime_as_string(np.datetime64(us, "us"), unit="us")
