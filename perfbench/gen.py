"""Seeded input generator for the three benchmark workloads.

Everything the engine sees is written here, from `--seed` alone: the
base tables (same schemas and value domains as the warehouse's parquet
fixtures), the ingest micro-batches, the index corpus and its deltas,
and each workload's op plan. Sizes are fixed; only values depend on the
seed, so runs with different seeds do the same amount of work.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

# Star-schema row counts (the sf0.01 shape of the warehouse fixtures).
SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)
DIM = 64

# Dashboard report pool: read-only star-schema, graph, event, window and
# sketch QueryDefs that carry a DuckDB oracle.
DASHBOARD_QUERIES = [
    "q1_agg", "q_graph_also_bought", "q_events_funnel", "q_rolling_revenue_7d",
    "q_sketch_kmv_distinct",
]
# The traffic mix below is assumed, not measured: the reference ships
# no request log or consumer config to take it from. README.md lists
# each ratio with the metric it moves.
API_SEARCHES_PER_ROUND = 1
API_HITS_PER_ROUND = 5  # customerLookup keys in the summary store
API_FALLBACKS_PER_ROUND = 3  # keys that fall back to the per-key aggregate
DASHBOARD_ROUNDS = 40

INGEST_BATCHES = 80
INGEST_BATCH_EVENTS = 2000
INGEST_USERS = 2000
REPLAY_SHARE = 0.10
LATE_SHARE = 0.05
INGEST_COMPACT_EVERY = 2
INGEST_READS_PER_BATCH = 3  # freshness reads, each for another user of the batch

INDEX_BASE_DOCS = 600
INDEX_DELTAS = 24
INDEX_DELTA_DOCS = 40
INDEX_BASE_VECS = 400
INDEX_ANN_APPENDS = 24
INDEX_ANN_APPEND_VECS = 20
INDEX_QUERY_BATCH = 12

LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.13, 0.15, 0.14, 0.14]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def rng_for(seed, stream):
    """Independent generator per input stream, so adding a stream never
    shifts the values of another."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _zipf_index(rng, n, size, s=1.1):
    """Zipf-skewed indices into range(n): rank r drawn with weight 1/r^s."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def _texts(rng, n, vocab, lo, hi):
    lens = rng.integers(lo, hi + 1, n)
    return [" ".join(vocab[i] for i in rng.integers(0, len(vocab), k)) for k in lens]


def star_schema(seed, out):
    """The ten warehouse tables, value domains as in the fixtures."""
    r = rng_for(seed, 1)
    n = SIZES
    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(r, c, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, c)]})
    s = n["supplier"]
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(r, s, -999.99, 9999.99)})
    p = n["part"]
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(r.integers(0, 8, p), r.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, p)],
        "p_type": [PTYPES[i] for i in r.integers(0, 6, p)],
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(_zipf_index(r, c, o, 0.6), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in r.integers(0, 3, o)],
        "o_totalprice": _money(r, o, 1000.0, 500000.0),
        "o_orderdate": _days(r, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, o)]})
    li = n["lineitem"]
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(r.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": r.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(r, li, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, li) / 100.0,
        "l_tax": r.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, li)],
        "l_linestatus": [("O", "F")[i] for i in r.integers(0, 2, li)],
        "l_shipdate": _days(r, li, "1995-01-02", "2001-11-04")})
    e = n["events"]
    _write(f"{out}/events.parquet", _events(r, np.arange(e), 150,
                                            EPOCH_2024_US, 30 * DAY_US))
    d = n["documents"]
    texts = _texts(r, d, WORDS, 8, 90)
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(range(d), pa.int64()), "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = n["embeddings"]
    vecs, labels = _clustered_vectors(r, v, 10)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(range(v), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def event_bytes(t):
    """Bytes of user data in an event table: fixed-width fields plus the
    UTF-8 length of the strings."""
    strlen = sum(pa.compute.sum(pa.compute.binary_length(t.column(c))).as_py() or 0
                 for c in ("event_type", "props"))
    return 32 * t.num_rows + strlen


def shingles(text, n=3):
    """Distinct word n-grams in first-seen order (the engine's shingling
    of whitespace tokens)."""
    toks = text.split()
    return list(dict.fromkeys(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)))


def _events(r, ids, users, start_us, span_us, user_idx=None):
    n = len(ids)
    uid = user_idx if user_idx is not None else r.integers(0, users, n)
    ts = np.sort(r.integers(start_us, start_us + span_us, n))
    return {
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(uid, pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(r.lognormal(3.5, 1.0, n).clip(0.01, 490.0), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]}


def _clustered_vectors(r, n, k):
    centers = r.normal(0, 1, (k, DIM))
    labels = r.integers(0, k, n)
    v = centers[labels] + r.normal(0, 1.2, (n, DIM))
    return v / np.linalg.norm(v, axis=1, keepdims=True), labels


def dashboard(seed, out):
    """Closed-loop request rounds: each round is a seeded permutation of
    every pool query plus a fixed number of API calls, so every seed
    sends the same request mix in a different order with different API
    parameters."""
    star_schema(seed, out)
    r = rng_for(seed, 2)
    c = SIZES["customer"]
    requests = []
    for _ in range(DASHBOARD_ROUNDS):
        rnd = [{"kind": "query", "name": q} for q in DASHBOARD_QUERIES]
        for _ in range(API_SEARCHES_PER_ROUND):
            req = {"kind": "search", "page": int(1 + _zipf_index(r, 5, 1)[0]),
                   "sort": ["IdAsc", "CharsDesc", "CharsAsc"][int(r.integers(0, 3))]}
            # Filter selectivity is seeded: each optional predicate is
            # present or absent, with thresholds from narrow to wide.
            if r.random() < 0.5:
                req["text"] = WORDS[int(r.integers(0, len(WORDS)))]
            if r.random() < 0.5:
                req["lang"] = LANGS[int(r.choice(5, p=LANG_P))]
            if r.random() < 0.3:
                req["source"] = f"src{int(r.integers(0, 20))}"
            if r.random() < 0.5:
                req["min_chars"] = int(r.integers(50, 500))
            rnd.append(req)
        for j in range(API_HITS_PER_ROUND + API_FALLBACKS_PER_ROUND):
            # Even custkeys are in the summary store; odd ones fall back.
            # A fixed hit/fallback mix per round keeps every seed's mix
            # equal; the two are timed as separate op kinds.
            hit = j >= API_FALLBACKS_PER_ROUND
            k = int(_zipf_index(r, c // 2, 1)[0]) * 2 + (0 if hit else 1)
            rnd.append({"kind": "lookup" if hit else "fallback", "custkey": k})
        requests.extend(rnd[i] for i in r.permutation(len(rnd)))
    return {"workload": "dashboard", "queries": DASHBOARD_QUERIES,
            "round_len": len(DASHBOARD_QUERIES) + API_SEARCHES_PER_ROUND
            + API_HITS_PER_ROUND + API_FALLBACKS_PER_ROUND, "requests": requests}


def ingest(seed, out):
    """Micro-batches with Zipf-skewed users, replayed event ids and late
    timestamps. Batch b covers the hour after b hours past 2024-01-01;
    a late event lands one to three days earlier."""
    r = rng_for(seed, 3)
    os.makedirs(f"{out}/batches", exist_ok=True)
    next_id, seen, batches = 0, [], []
    for b in range(INGEST_BATCHES):
        n_replay = int(INGEST_BATCH_EVENTS * REPLAY_SHARE) if seen else 0
        n_new = INGEST_BATCH_EVENTS - n_replay
        start = EPOCH_2024_US + b * 3600 * 1_000_000
        cols = _events(r, np.arange(next_id, next_id + n_new), INGEST_USERS,
                       start, 3600 * 1_000_000,
                       user_idx=_zipf_index(r, INGEST_USERS, n_new))
        late = r.random(n_new) < LATE_SHARE
        ts = cols["ts"].to_numpy().astype(np.int64)
        ts[late] -= r.integers(1, 4, int(late.sum())) * DAY_US
        cols["ts"] = pa.array(ts.astype("datetime64[us]"), pa.timestamp("us"))
        t = pa.table(cols)
        next_id += n_new
        if n_replay:
            # Replays are exact re-deliveries of earlier events.
            prev = pa.concat_tables(seen)
            t = pa.concat_tables([t, prev.take(r.integers(0, prev.num_rows, n_replay))])
        seen.append(t.slice(0, n_new))
        if len(seen) > 4:
            seen.pop(0)
        path = f"batches/b{b:05d}.parquet"
        pq.write_table(t, f"{out}/{path}")
        hot = t.column("user_id").to_numpy()
        batches.append({"file": path,
                        "lookup_users": [int(hot[int(i)]) for i in
                                         r.integers(0, len(hot), INGEST_READS_PER_BATCH)],
                        "from_us": int(start), "to_us": int(start + 3600 * 1_000_000 - 1),
                        "new_events": n_new, "user_bytes": event_bytes(t.slice(0, n_new))})
    return {"workload": "ingest", "batches": batches,
            "compact_every": INGEST_COMPACT_EVERY}


def _mutate(r, words, vocab, k):
    w = list(words)
    for i in r.choice(len(w), size=min(k, len(w)), replace=False):
        w[i] = vocab[int(r.integers(0, len(vocab)))]
    return w


def index(seed, out):
    """Dedup corpus plus deltas, ANN vectors plus append sets and query
    batches, and the op plan that interleaves them. About 30% of the
    docs are near-duplicate mutations of an earlier doc; the rest draw
    words from a vocabulary of about 1,500, so shingles are rare and the
    near-duplicate signal comes from shared rare shingles."""
    r = rng_for(seed, 4)
    syl = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da", "fe"]
    vocab = sorted({"".join(syl[j] for j in r.integers(0, len(syl), 3)) for _ in range(4000)})
    docs = []  # (doc_id, text, slot): slot -1 = base, k = delta k

    def doc_words():
        return [vocab[i] for i in r.integers(0, len(vocab), int(r.integers(30, 60)))]

    base = []
    for i in range(INDEX_BASE_DOCS):
        if i < 20 or r.random() > 0.3:
            base.append(doc_words())
        else:
            base.append(_mutate(r, base[int(r.integers(0, len(base)))], vocab,
                                int(r.integers(1, 5))))
    held = [i for i in range(INDEX_BASE_DOCS) if i % 5 == 0]
    for i, w in enumerate(base):
        docs.append((i, " ".join(w), -1 if i % 5 else held.index(i) % INDEX_DELTAS))
    dup_share = 0.3 + 0.2 * r.random()
    next_id = INDEX_BASE_DOCS
    fresh_per_delta = INDEX_DELTA_DOCS - len(held) // INDEX_DELTAS
    for k in range(INDEX_DELTAS):
        for _ in range(fresh_per_delta):
            w = (_mutate(r, base[int(r.integers(0, len(base)))], vocab, int(r.integers(1, 5)))
                 if r.random() < dup_share else doc_words())
            docs.append((next_id, " ".join(w), k))
            next_id += 1
    _write(f"{out}/docs.parquet", {
        "doc_id": pa.array([d[0] for d in docs], pa.int64()),
        "text": [d[1] for d in docs],
        "shs": pa.array([shingles(d[1]) for d in docs], pa.list_(pa.string())),
        "slot": pa.array([d[2] for d in docs], pa.int32())})
    doc_bytes = {}
    for d in docs:
        doc_bytes[d[2]] = doc_bytes.get(d[2], 0) + 8 + len(d[1].encode())

    n_vec = INDEX_BASE_VECS + INDEX_ANN_APPENDS * INDEX_ANN_APPEND_VECS
    vecs, _ = _clustered_vectors(r, n_vec, 12)
    slot = np.full(n_vec, -1)
    slot[INDEX_BASE_VECS:] = np.arange(n_vec - INDEX_BASE_VECS) // INDEX_ANN_APPEND_VECS
    _write(f"{out}/vecs.parquet", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "e": pa.array(list(vecs), pa.list_(pa.float64())),
        "slot": pa.array(slot, pa.int32())})

    # Query batches: perturbed copies of vectors (ids are query ids).
    n_q = INDEX_DELTAS * INDEX_QUERY_BATCH
    src = r.integers(0, n_vec, n_q)
    qv = vecs[src] + r.normal(0, 0.05, (n_q, DIM))
    _write(f"{out}/queries.parquet", {
        "vec_id": pa.array(range(n_q), pa.int64()),
        "e": pa.array(list(qv / np.linalg.norm(qv, axis=1, keepdims=True)), pa.list_(pa.float64())),
        "batch": pa.array(np.arange(n_q) // INDEX_QUERY_BATCH, pa.int32())})

    # Op plan. Warm-up is the first dedup append and ANN search. The
    # run's single erase window, groups compaction and ANN delete follow,
    # at the end of set-up, so every run has them and every timed append
    # lands on an erased and compacted index. Each timed round appends
    # two dedup deltas around one ANN append and one search.
    erase_ids = sorted(int(i) for i in r.choice(
        [i for i in range(INDEX_BASE_DOCS) if i % 5], 6, replace=False))
    ann_deletes = sorted(int(i) for i in r.choice(INDEX_BASE_VECS, 5, replace=False))
    vec_bytes = 8 + 8 * DIM

    def dedup(k):
        return {"op": "dedup_append", "delta": k, "user_bytes": doc_bytes[k],
                "docs": sum(1 for d in docs if d[2] == k)}

    def ann(k):
        return {"op": "ann_append", "set": k, "vecs": INDEX_ANN_APPEND_VECS,
                "user_bytes": INDEX_ANN_APPEND_VECS * vec_bytes}
    ops = [dedup(0), {"op": "ann_search", "batch": 0},
           {"op": "dedup_erase", "ids": erase_ids}, {"op": "dedup_compact"},
           {"op": "ann_delete", "ids": ann_deletes}]
    for k in range(1, INDEX_DELTAS - 1, 2):
        ops += [dedup(k), ann(k), {"op": "ann_search", "batch": k}, dedup(k + 1)]
    return {"workload": "index", "ops": ops, "cap": 128, "warmup_ops": 2, "setup_ops": 3, "cycle": 4,
            "sizes": {"base_user_bytes": doc_bytes[-1] + INDEX_BASE_VECS * vec_bytes},
            "pq": {"m": 8, "dsub": DIM // 8, "ksub": 8, "iters": 1,
                   "coarse_k": 8, "coarse_iters": 2, "nprobe": 3,
                   "shortlist": 40, "top_k": 10}}


WORKLOADS = {"dashboard": dashboard, "ingest": ingest, "index": index}


def generate(workload, seed, out):
    """Write every input of `workload` for `seed` under `out` and return
    the op plan (also written as `plan.json`)."""
    os.makedirs(out, exist_ok=True)
    plan = WORKLOADS[workload](seed, out)
    plan["seed"] = seed
    with open(f"{out}/plan.json", "w") as f:
        json.dump(plan, f)
    return plan
