"""Seeded inputs for the graft benchmark.

`tables(seed, out)` writes a TPC-H-shaped sf0.02 star schema plus the
`documents` and `embeddings` corpora as multi-file parquet (one
directory per table, fixed file names, 4 to 8 files per large table), so
a scan of a large table spreads over every core.  `schedule(workload,
seed)` builds the closed-loop client's operation list: order of
operations, lookup keys, query texts, query vectors and upsert deltas.
Both depend only on the seed: the same seed gives byte-identical files
and an identical schedule.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.02
N_ORDERS = int(1_500_000 * SF)
N_DOCS = int(50_000 * SF)
DIMS = 64

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table value vector window index model token").split()
LANGS = ["en", "zh", "de", "fr", "es"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["bolt", "gear", "nut", "plate", "ring", "screw", "spring", "valve"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EPOCH = np.datetime64("1995-01-01", "us")


def _write(table, out, name, files):
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    n = table.num_rows
    step = -(-n // files)
    for i in range(files):
        part = table.slice(i * step, step)
        pq.write_table(part, os.path.join(d, f"part-{i:05d}.parquet"), compression="snappy")


def _days(rng, n, lo, hi):
    return EPOCH + (rng.integers(lo, hi, n) * 86_400_000_000).astype("timedelta64[us]")


def _text(rng, n_words):
    p = 1.0 / np.arange(1, len(VOCAB) + 1)
    idx = rng.choice(len(VOCAB), size=n_words, p=p / p.sum())
    return " ".join(VOCAB[i] for i in idx)


def tables(seed, out, sf=SF):
    """Write every table at scale factor `sf` under `out`; return {table: rows}."""
    rng = np.random.default_rng([seed, 0])
    N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS, N_LINEITEM, N_DOCS, N_EMB = (
        int(n * sf) for n in (150_000, 10_000, 200_000, 1_500_000, 6_000_000, 50_000, 20_000))
    ts = pa.timestamp("us")
    rows = {}

    def emit(name, cols, files=1):
        t = pa.table(cols)
        rows[name] = t.num_rows
        _write(t, out, name, files)

    emit("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                    "r_name": pa.array(REGIONS)})
    emit("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                    "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                    "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    emit("customer", {
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER, dtype=np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)]),
    }, files=4)

    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    emit("supplier", {
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER, dtype=np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    })

    pk = np.arange(N_PART, dtype=np.int64)
    price = np.round(900.0 + (pk % 20_000) / 10.0 + rng.integers(0, 100, N_PART), 2)
    emit("part", {
        "p_partkey": pk,
        "p_name": pa.array([f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
        "p_type": pa.array([P_TYPES[i] for i in rng.integers(0, 6, N_PART)]),
        "p_size": pa.array(rng.integers(1, 51, N_PART, dtype=np.int32)),
        "p_retailprice": price,
    }, files=4)

    ok = np.arange(N_ORDERS, dtype=np.int64)
    odate = _days(rng, N_ORDERS, 0, 2_400)
    emit("orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)]),
        "o_totalprice": np.round(rng.uniform(1_000.0, 450_000.0, N_ORDERS), 2),
        "o_orderdate": pa.array(odate, type=ts),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)]),
    }, files=8)

    # TPC-H shape: 1..7 lines per order, line numbers 1..k, so
    # (l_orderkey, l_linenumber) is a key and every running order is total
    lines = rng.integers(1, 8, N_ORDERS)
    diff = N_LINEITEM - int(lines.sum())
    room = np.flatnonzero(lines < 7) if diff > 0 else np.flatnonzero(lines > 1)
    lines[rng.choice(room, abs(diff), replace=False)] += np.sign(diff)
    lk = np.repeat(ok, lines)
    starts = np.cumsum(lines) - lines
    ln = (np.arange(lk.size) - np.repeat(starts, lines) + 1).astype(np.int32)
    n = lk.size
    lpart = rng.integers(0, N_PART, n, dtype=np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    ship = np.repeat(odate, lines) + (rng.integers(1, 122, n) * 86_400_000_000).astype("timedelta64[us]")
    emit("lineitem", {
        "l_orderkey": lk,
        "l_partkey": lpart,
        "l_suppkey": rng.integers(0, N_SUPPLIER, n, dtype=np.int64),
        "l_linenumber": pa.array(ln),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart], 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, type=ts),
    }, files=8)

    texts = [_text(rng, int(w)) for w in rng.integers(8, 100, N_DOCS)]
    # exact re-crawls and one-word edits: near-duplicate documents
    for i in rng.choice(np.arange(N_DOCS // 50, N_DOCS), N_DOCS // 125, replace=False):
        src = texts[int(rng.integers(0, i))]
        if i % 2:
            texts[i] = src
        else:
            w = src.split(" ")
            w[int(rng.integers(0, len(w)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(w)
    emit("documents", {
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, N_DOCS, p=[.4, .15, .15, .15, .15])]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, files=4)

    centers = rng.normal(size=(10, DIMS))
    label = rng.integers(0, 10, N_EMB)
    v = centers[label] + 0.6 * rng.normal(size=(N_EMB, DIMS))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emit("embeddings", {
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }, files=4)
    return rows


# ---------------------------------------------------------------- schedule

ANALYTICS = ["q1_pricing", "q3_topk", "q4_window", "q5_region_revenue",
             "d_mutate_grouped", "d_ranks", "d_join_inner", "d_topk",
             "d_cum_u", "b_rank_u"]
SERVE_READS = ["bm25_indexed", "ivfpq_indexed", "filebloom_lookup", "keyed_read"]
WORKLOADS = ("analytics", "serve_mixed")


def input_rows(rows):
    """Logical input rows per operation type: the rows of every table
    the operation reads, fixed by the workload, never read from a plan."""
    li, o, c, p = rows["lineitem"], rows["orders"], rows["customer"], rows["part"]
    d, e = rows["documents"], rows["embeddings"]
    return {
        "q1_pricing": li, "q3_topk": o + c + li, "q4_window": li,
        "q5_region_revenue": c + o + li + 25 + 5, "d_mutate_grouped": li,
        "d_ranks": o, "d_join_inner": c + 25, "d_topk": li, "d_cum_u": li,
        "b_rank_u": p,
        "bm25_indexed": d, "ivfpq_indexed": e, "filebloom_lookup": o,
        "keyed_read": d, "upsert": None,
    }


def _queries(rng, tag):
    return [{"q_id": f"{tag}_q{j}",
             "qtext": " ".join(VOCAB[int(i)] for i in rng.choice(len(VOCAB), int(rng.integers(2, 5)), replace=False))}
            for j in range(2)]


def _vectors(rng, tag):
    out = []
    for j in range(2):
        v = rng.normal(size=DIMS)
        out.append({"q_id": 10_000_000 + tag * 4 + j,
                    "vec": [float(x) for x in (v / np.linalg.norm(v)).astype(np.float32)]})
    return out


class _Table:
    """The served table's key space, advanced as the schedule writes."""

    def __init__(self):
        self.live = set(range(N_DOCS))
        self.next_key = 1_000_000

    def delta(self, rng, batch):
        live = np.fromiter(sorted(self.live), dtype=np.int64)
        picked = rng.choice(live, 12, replace=False)
        ups, dels = picked[:9], picked[9:]
        rows = [{"doc_id": int(k), "lang": LANGS[int(rng.integers(0, 5))],
                 "source": f"cdc{batch}", "n_chars": int(rng.integers(10, 5_000)), "op": "upsert"}
                for k in ups]
        rows += [{"doc_id": int(k), "lang": None, "source": None, "n_chars": None, "op": "delete"}
                 for k in dels]
        for _ in range(3):
            rows.append({"doc_id": self.next_key, "lang": LANGS[int(rng.integers(0, 5))],
                         "source": f"cdc{batch}", "n_chars": int(rng.integers(10, 5_000)), "op": "upsert"})
            self.live.add(self.next_key)
            self.next_key += 1
        self.live.difference_update(int(k) for k in dels)
        return rows

    def keys(self, rng):
        live = np.fromiter(sorted(self.live), dtype=np.int64)
        ks = [int(k) for k in rng.choice(live, 6, replace=False)]
        return ks + [int(rng.integers(0, self.next_key + 10))]


def _serve_op(rng, kind, i, table, batch):
    if kind == "bm25_indexed":
        return {"op": kind, "queries": _queries(rng, f"o{i}")}
    if kind == "ivfpq_indexed":
        return {"op": kind, "vectors": _vectors(rng, i)}
    if kind == "filebloom_lookup":
        keys = [int(k) for k in rng.integers(0, N_ORDERS, 4)]
        return {"op": kind, "keys": keys + [N_ORDERS + int(rng.integers(0, 10**6))]}
    if kind == "keyed_read":
        return {"op": kind, "keys": table.keys(rng)}
    return {"op": "upsert", "batch": batch, "rows": table.delta(rng, batch)}


def schedule(workload, seed, n_rounds=50):
    """Warm-up operations (one per type) and the timed rounds.

    Every round holds the same multiset of operations in a seeded order,
    so a run that stops after whole rounds has the same mix under every
    seed. A serve_mixed round is one write, then two seeded orders of
    the four read types, then a third keyed read: nine reads to one
    write. A read runs slower when it is the first of its type in a
    while; with the write's place and the spacing of each type's two
    reads fixed, that slowdown falls on the same reads under every seed
    instead of moving with the order."""
    rng = np.random.default_rng([seed, {"analytics": 1, "serve_mixed": 3}[workload]])
    if workload == "analytics":
        return ([{"op": q} for q in ANALYTICS],
                [[{"op": ANALYTICS[i]} for i in rng.permutation(len(ANALYTICS))]
                 for _ in range(n_rounds)])
    table = _Table()
    warm = [_serve_op(rng, kind, i, table, 1) for i, kind in enumerate(SERVE_READS + ["upsert"])]
    rounds, i, batch = [], len(warm), 1
    for _ in range(n_rounds):
        kinds = (["upsert"] + [SERVE_READS[k] for k in rng.permutation(4)]
                 + [SERVE_READS[k] for k in rng.permutation(4)] + ["keyed_read"])
        rnd = []
        for kind in kinds:
            batch += kind == "upsert"
            rnd.append(_serve_op(rng, kind, i, table, batch))
            i += 1
        rounds.append(rnd)
    return warm, rounds
