"""Output checks against references computed outside the engine.

Each check returns (failed_ops, answer_recall, notes): the number of
ops whose output was wrong, the share of the exact reference answer the
ops returned, and human-readable lines for the report.
"""
import glob
import json
import os
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _normalize(df):
    # Column order and row order do not matter; values compare exactly
    # (floats bitwise), as the warehouse's oracle gate does.
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True,
                            key=lambda s: s.astype(str))
    return df.reset_index(drop=True)


def frames_equal(spark_df, duck_df):
    s, d = _normalize(spark_df), _normalize(duck_df)
    if list(s.columns) != list(d.columns) or len(s) != len(d):
        return False
    for c in s.columns:
        if s[c].dtype.kind == "f" or d[c].dtype.kind == "f":
            if not np.array_equal(s[c].astype(np.float64).values,
                                  d[c].astype(np.float64).values, equal_nan=True):
                return False
        elif not s[c].astype(str).equals(d[c].astype(str)):
            return False
    return True


def _duck(input_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{input_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def dashboard(ops, input_dir, out_dir):
    con = _duck(input_dir)
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failed, got, want, notes = 0, 0, 0, []
    bad_queries = set()
    for name in sorted(os.listdir(f"{out_dir}/results")):
        files = sorted(glob.glob(f"{out_dir}/results/{name}/*.parquet"))
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        if name not in oracle:
            bad_queries.add(name)
            notes.append(f"FAIL {name}: no oracle")
            continue
        duck_df = con.execute(oracle[name]).df()
        want += len(duck_df)
        if frames_equal(spark_df, duck_df):
            got += len(duck_df)
        else:
            bad_queries.add(name)
            notes.append(f"FAIL {name}: differs from oracle (spark={len(spark_df)} duck={len(duck_df)} rows)")
    sort_sql = {"IdAsc": "doc_id ASC", "CharsDesc": "n_chars DESC, doc_id ASC",
                "CharsAsc": "n_chars ASC, doc_id ASC"}
    for o in ops:
        if not o["ok"]:
            failed += 1
            continue
        if o["kind"] == "query" and o["name"] in bad_queries:
            failed += 1
        elif o["kind"] == "search":
            r = o["extra"]["request"]
            preds, args = ["TRUE"], []
            if "text" in r:
                preds.append("contains(lower(text), lower(?))"); args.append(r["text"])
            if "lang" in r:
                preds.append("lang = ?"); args.append(r["lang"])
            if "source" in r:
                preds.append("source = ?"); args.append(r["source"])
            if "min_chars" in r:
                preds.append("n_chars >= ?"); args.append(r["min_chars"])
            where = " AND ".join(preds)
            total = con.execute(f"SELECT count(*) FROM documents WHERE {where}", args).fetchone()[0]
            items = [x[0] for x in con.execute(
                f"SELECT doc_id FROM documents WHERE {where} ORDER BY {sort_sql[r['sort']]} "
                f"LIMIT 10 OFFSET {(r['page'] - 1) * 10}", args).fetchall()]
            want += len(items) + 1
            if total == o["extra"]["total"] and items == o["extra"]["items"]:
                got += len(items) + 1
            else:
                failed += 1
                notes.append(f"FAIL search {r}: total {o['extra']['total']} vs {total}")
        elif o["kind"] in ("lookup", "fallback"):
            k = o["extra"]["request"]["custkey"]
            row = con.execute(
                "SELECT c_custkey, c_name, count(o_orderkey), "
                "coalesce(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) "
                "FROM customer LEFT JOIN orders ON o_custkey = c_custkey "
                "WHERE c_custkey = ? GROUP BY c_custkey, c_name", [k]).fetchone()
            want += 1
            if row is not None and o["extra"]["row"] == list(row):
                got += 1
            else:
                failed += 1
                notes.append(f"FAIL lookup {k}: {o['extra']['row']} vs {row}")
    return failed, (got / want if want else 1.0), notes


def _cents(v):
    return Decimal(repr(float(v))).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)


def ingest(ops, input_dir, out_dir, plan, batches_applied):
    frames = []
    for b in range(batches_applied):
        t = pq.read_table(f"{input_dir}/{plan['batches'][b]['file']}").to_pandas()
        t["batch"] = b
        frames.append(t)
    ev = pd.concat(frames, ignore_index=True).drop_duplicates("event_id", keep="first")
    ev["ts_us"] = ev["ts"].astype("datetime64[us]").astype(np.int64)
    failed, notes, fresh, reads = 0, [], 0, 0
    facts = pd.read_parquet(f"{out_dir}/facts")
    if sorted(facts["event_id"].tolist()) != sorted(ev["event_id"].tolist()):
        failed += 1
        notes.append(f"FAIL facts: {len(facts)} stored vs {len(ev)} distinct events")
    summary = pd.read_parquet(f"{out_dir}/summary").sort_values("user_id")
    exp = ev.groupby("user_id").agg(event_cnt=("event_id", "size"),
                                    total_value=("value", lambda s: sum(map(_cents, s))),
                                    last_ts=("ts_us", "max")).reset_index()
    same = (len(summary) == len(exp)
            and summary["user_id"].tolist() == exp["user_id"].tolist()
            and summary["event_cnt"].tolist() == exp["event_cnt"].tolist()
            and [Decimal(x) for x in summary["total_value"]] == exp["total_value"].tolist()
            and summary["last_ts"].tolist() == exp["last_ts"].tolist())
    if not same:
        failed += 1
        notes.append("FAIL summary_user differs from the from-scratch aggregate")
    for o in ops:
        if not o["ok"]:
            failed += 1
            continue
        if o["kind"] != "read":
            continue
        reads += 1
        b = o["extra"]["batch"]
        m = plan["batches"][b]
        upto = ev[ev["batch"] <= b]
        user = o["extra"]["user"]
        mine = upto[upto["user_id"] == user]
        row = [user, len(mine), str(sum(map(_cents, mine["value"]))),
               int(mine["ts_us"].max())]
        n = int(((upto["ts_us"] >= m["from_us"]) & (upto["ts_us"] <= m["to_us"])).sum())
        r = o["extra"]["row"]
        if r is not None and [r[0], r[1], str(Decimal(r[2])), r[3]] == row and o["extra"]["range_count"] == n:
            fresh += 1
        else:
            failed += 1
            notes.append(f"FAIL read after batch {b}: {r} / {o['extra']['range_count']} vs {row} / {n}")
    return failed, (fresh / reads if reads else 1.0), notes


def _round6(x):
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP))


def dedup_reference(shs, cap):
    """From-scratch near-duplicate pairs and clusters of a corpus
    {doc_id: shingles}: pairs (a < b) sharing a shingle held by at most
    `cap` docs whose Jaccard, rounded to 6 places, is at least 0.5, and
    the connected components of those pairs."""
    post = {}
    for d, ss in shs.items():
        for s in set(ss):
            post.setdefault(s, []).append(d)
    cands = set()
    for ids in post.values():
        if 2 <= len(ids) <= cap:
            ids = sorted(ids)
            cands.update((a, b) for i, a in enumerate(ids) for b in ids[i + 1:])
    pairs = {}
    for a, b in cands:
        sa, sb = set(shs[a]), set(shs[b])
        c = len(sa & sb)
        j = _round6(c / (len(sa) + len(sb) - c))
        if j >= 0.5:
            pairs[(a, b)] = j
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return pairs, {d: find(d) for d in parent}


def _partition(labels):
    """Clusters of more than one member, as frozensets."""
    groups = {}
    for d, l in labels.items():
        groups.setdefault(l, set()).add(d)
    return {frozenset(g) for g in groups.values() if len(g) > 1}


def index(ops, input_dir, out_dir, plan):
    failed, notes = 0, []
    docs = pq.read_table(f"{input_dir}/docs.parquet").to_pandas()
    applied = {-1} | {plan["ops"][o["extra"]["op_index"]]["delta"]
                      for o in ops if o["kind"] == "dedup_append" and o["ok"]}
    erased = {i for o in ops if o["kind"] == "dedup_erase" and o["ok"]
              for i in plan["ops"][o["extra"]["op_index"]]["ids"]}
    live = docs[docs["slot"].isin(applied) & ~docs["doc_id"].isin(erased)]
    want_pairs, want_labels = dedup_reference(
        dict(zip(live["doc_id"].tolist(), live["shs"].tolist())), plan["cap"])
    got = pd.read_parquet(f"{out_dir}/pairs")
    got_pairs = {(a, b): j for a, b, j in zip(got["a"], got["b"], got["jaccard"])}
    if got_pairs != want_pairs:
        failed += 1
        notes.append(f"FAIL dedup pairs: {len(set(got_pairs) - set(want_pairs))} extra, "
                     f"{len(set(want_pairs) - set(got_pairs))} missing or differing")
    comps = pd.read_parquet(f"{out_dir}/components")
    # Labels are opaque; compare the clusters they induce.
    if _partition(dict(zip(comps["doc_id"], comps["component"]))) != _partition(want_labels):
        failed += 1
        notes.append("FAIL dedup components differ from the from-scratch clusters")

    vecs = pq.read_table(f"{input_dir}/vecs.parquet").to_pandas()
    queries = pq.read_table(f"{input_dir}/queries.parquet").to_pandas()
    V = np.stack(vecs["e"].to_numpy())
    ids = vecs["vec_id"].to_numpy()
    live_v = set(ids[vecs["slot"].to_numpy() == -1].tolist())
    recalls = []
    for o in ops:
        if not o["ok"]:
            failed += 1
            continue
        if "op_index" not in o["extra"]:
            continue
        p = plan["ops"][o["extra"]["op_index"]]
        if o["kind"] == "ann_append":
            live_v |= set(ids[vecs["slot"].to_numpy() == p["set"]].tolist())
        elif o["kind"] == "ann_delete":
            live_v -= set(p["ids"])
        elif o["kind"] == "ann_search":
            q = queries[queries["batch"] == p["batch"]]
            hits = {}
            for qid, cand in o["extra"]["hits"]:
                hits.setdefault(qid, []).append(cand)
            mask = np.array([i in live_v for i in ids])
            L, Lid = V[mask], ids[mask]
            for qid, e in zip(q["vec_id"], q["e"]):
                cos = L @ np.asarray(e)
                top = Lid[np.lexsort((Lid, -np.round(cos, 6)))[:plan["pq"]["top_k"]]]
                recalls.append(len(set(top.tolist()) & set(hits.get(qid, []))) / len(top))
            if not all(c in live_v for cs in hits.values() for c in cs):
                failed += 1
                notes.append(f"FAIL search op {o['extra']['op_index']}: returned an id not in the index")
    return failed, (float(np.mean(recalls)) if recalls else 0.0), notes
