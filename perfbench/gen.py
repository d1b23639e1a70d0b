#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>
    python3 perfbench/gen.py --selftest

Everything that varies between runs (request streams, corpora, deltas,
stream files) comes from --seed. The TPC-H-shaped base tables behind
view_requests come from the fixed BASE_SEED, so every seed queries the same
base data; so do the traffic profiles that set an op's cost: view request
shapes, and each store op's sizes, predicate kind and version draws. The engine-side driver receives only the files written here,
never the seed. Each call writes <out>/manifest.json with the measured
properties of what it generated.
"""
import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SPLITS = 32
VF_CACHE_ENTRIES = 64  # Snapshots.vfCache capacity


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def text_of(rng, n_tokens):
    idx = rng.integers(0, len(VOCAB), size=n_tokens)
    return " ".join(VOCAB[i] for i in idx)


def documents(rng, ids, dup_share=0.0, near_share=0.0):
    """A documents-shaped corpus (doc_id, text, lang, source, n_chars), like
    the engine's documents fixture: 8-99 tokens from a 30-word vocabulary.

    dup_share of docs copy an earlier doc's text exactly, near_share copy it
    with one token changed."""
    n = len(ids)
    texts = [text_of(rng, int(k)) for k in rng.integers(8, 100, size=n)]
    kind = rng.random(n)
    src = rng.integers(0, n, size=n)
    counts = {"dup": 0, "near": 0}
    for i in range(n):
        if i == 0:
            continue
        j = int(src[i]) % i
        if kind[i] < dup_share:
            texts[i] = texts[j]
            counts["dup"] += 1
        elif kind[i] < dup_share + near_share:
            toks = texts[j].split(" ")
            toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(toks)
            counts["near"] += 1
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, size=n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return table, {k: v / n for k, v in counts.items()}


def split_name(k):
    return f"s{int(k):02d}"


def store_rows(rng, ids, splits, **shares):
    """Store rows: (doc_id, split, lang, source, n_chars, text), and the
    measured duplicate shares."""
    docs, got = documents(rng, list(ids), **shares)
    return pa.table({
        "doc_id": docs["doc_id"], "split": pa.array(splits, pa.string()),
        "lang": docs["lang"], "source": docs["source"],
        "n_chars": docs["n_chars"], "text": docs["text"]}), got


# ---------------------------------------------------------------- view

# base table sizes (sf0.001 row counts: the view workload's scans stay small,
# so request latency is the declaration surface's, not a scan's)
N_ORD, N_CUST = 1500, 150


def gen_base(out):
    """TPC-H-shaped lineitem/orders/customer/nation tables."""
    rng = np.random.default_rng(BASE_SEED)
    n_nat, n_cust, n_ord = 25, N_CUST, N_ORD
    write(pa.table({
        "n_nationkey": pa.array(np.arange(n_nat, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i:02d}" for i in range(n_nat)]),
        "n_regionkey": pa.array((np.arange(n_nat) % 5).astype(np.int32)),
    }), f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, n_nat, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)]),
    }), f"{out}/customer.parquet")
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(800.0, 500000.0, n_ord), 2)),
        "o_orderdate": pa.array(day0 + rng.integers(0, 2400, n_ord) * np.timedelta64(1, "D")),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)]),
    }), f"{out}/orders.parquet")
    # 1..7 lines per order, numbered from 1: (orderkey, linenumber) is unique
    per_order = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    lineno = (np.arange(len(okey)) - starts + 1).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write(pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, 20000, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(day0 + rng.integers(0, 2500, n_li) * np.timedelta64(1, "D")),
    }), f"{out}/lineitem.parquet")
    return n_li


# Column capabilities of the two declarations (mirrors ViewRequests.scala):
# name -> (kind, filter ops, sortable or redirected)
VIEW_TABLES = {
    "li": {
        "line_id": ("long", ["eq", "in", "between", "ge", "lt"], True),
        "orderkey": ("long", ["eq", "in", "between", "gt", "le"], True),
        "partkey": ("long", ["eq", "in", "between"], False),
        "quantity": ("double", ["ge", "le", "between", "eq"], True),
        "price": ("double", ["ge", "le", "between"], True),
        "discount": ("double", ["eq", "le", "ge"], True),
        "net_price": ("double", ["ge", "le"], True),
        "returnflag": ("flag", ["eq", "in", "ne"], False),
        "status": ("status", ["eq"], False),
        "flag_status": ("fs", [], False),
        "shipdate": ("date", [], True),
        "ship_ts": ("ts", ["ge", "lt", "between"], True),
    },
    "oc": {
        "orderkey": ("okey", ["eq", "in", "between", "ge", "lt"], True),
        "custkey": ("ckey", ["eq", "in", "between"], True),
        "cust_name": ("cname", ["like", "eq"], True),
        "nation": ("nation", ["eq", "in", "like"], True),
        "segment": ("segment", ["eq", "in", "ne"], False),
        "status": ("ostatus", ["eq", "in"], False),
        "total": ("total", ["ge", "le", "between"], True),
        "orderdate": ("date", [], True),
        "order_ts": ("ts", ["ge", "lt", "between"], True),
        "priority": ("prio", ["eq", "in"], False),
        "balance": ("bal", ["ge", "le", "lt", "gt"], True),
        "label": ("label", [], True),
    },
}
HIDDEN = {"li": {"discount", "status", "ship_ts"}, "oc": {"order_ts", "priority"}}
TIEBREAK = {"li": "line_id", "oc": "orderkey"}


def literal(rng, kind, op):
    def one():
        if kind == "long":
            return int(rng.integers(0, N_ORD * 8))
        if kind == "okey":
            return int(rng.integers(0, N_ORD))
        if kind == "ckey":
            return int(rng.integers(0, N_CUST))
        if kind == "double":
            return float(np.round(rng.uniform(0, 60000), 2))
        if kind == "total":
            return float(np.round(rng.uniform(800, 500000), 2))
        if kind == "bal":
            return float(np.round(rng.uniform(-999, 9999), 2))
        if kind == "flag":
            return ["A", "N", "R"][int(rng.integers(0, 3))]
        if kind in ("status",):
            return ["F", "O"][int(rng.integers(0, 2))]
        if kind == "ostatus":
            return ["F", "O", "P"][int(rng.integers(0, 3))]
        if kind == "segment":
            return ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"][int(rng.integers(0, 5))]
        if kind == "prio":
            return ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][int(rng.integers(0, 5))]
        if kind == "nation":
            return f"NATION_{int(rng.integers(0, 25)):02d}"
        if kind == "cname":
            return f"Customer#{int(rng.integers(0, N_CUST)):09d}"
        if kind == "ts":
            d = np.datetime64("1992-01-01") + int(rng.integers(0, 2500))
            return str(d)
        raise ValueError(kind)

    if op == "in":
        return [one() for _ in range(int(rng.integers(2, 5)))]
    if op == "between":
        a, b = one(), one()
        if kind in ("long", "okey", "ckey"):
            lo = min(a, b)
            return [lo, lo + int(rng.integers(50, 2000))]
        return sorted([a, b])
    if op == "like":
        if kind == "nation":
            return f"NATION_{int(rng.integers(0, 3))}%"
        return f"Customer#000000{int(rng.integers(0, 15)):02d}%"
    return one()


def view_templates(rng, n=300):
    out = []
    for t in range(n):
        table = "li" if t % 3 else "oc"
        cols = VIEW_TABLES[table]
        names = list(cols)
        filt = [c for c in names if cols[c][1]]
        k = int(rng.integers(1, 3))
        fcols = list(rng.choice(filt, size=k, replace=False))
        filters = [(c, cols[c][1][int(rng.integers(0, len(cols[c][1])))]) for c in fcols]
        sortable = [c for c in names if cols[c][2] and c != TIEBREAK[table]]
        ocols = list(rng.choice(sortable, size=int(rng.integers(0, 3)), replace=False))
        orders = [(c, bool(rng.integers(0, 2))) for c in ocols] + \
                 [(TIEBREAK[table], bool(rng.integers(0, 2)))]
        visible = [c for c in names if c not in HIDDEN[table]]
        columns = None
        if rng.random() < 0.5:
            columns = list(rng.choice(visible, size=int(rng.integers(2, len(visible))), replace=False))
        paged = rng.random() < 1 / 3
        size = int(rng.choice([10, 20, 50]))
        out.append({"table": table, "filters": filters, "orders": orders,
                    "columns": columns, "paged": paged, "size": size})
    return out


def invalid_request(rng, table):
    cols = VIEW_TABLES[table]
    r = int(rng.integers(0, 4))
    if r == 0:
        return {"filters": {"no_such_col": {"eq": 1}}}
    if r == 1:
        c = [c for c in cols if "like" not in cols[c][1] and cols[c][1]][0]
        return {"filters": {c: {"like": "%x%"}}}
    if r == 2:
        c = [c for c in cols if not cols[c][2]][0]
        return {"orders": [{"column": c, "desc": True}]}
    return {"columns": ["nope", TIEBREAK[table]]}


def gen_view(seed, out, n_requests=8000):
    n_lineitem = gen_base(f"{out}/base")
    # The application's traffic profile is fixed, like its declarations: the
    # shapes, their Zipf popularity, the order shapes arrive in and which
    # requests are invalid. The seed draws everything a request carries:
    # literals, pages, the invalid variant, which responses are checked.
    # (With ~50-100 requests per run, a seeded shape order would make the
    # run's cost mix, not the engine, dominate the run-to-run spread.)
    app = np.random.default_rng(BASE_SEED)
    templates = view_templates(app)
    ranks = np.arange(1, len(templates) + 1)
    p = 1.0 / ranks ** 1.1
    p /= p.sum()
    perm = app.permutation(len(templates))
    drawn = perm[app.choice(len(templates), size=n_requests, p=p)]
    invalids = app.random(n_requests) < 0.05
    rng = np.random.default_rng(seed)
    seen, repeats, n_invalid = set(), 0, 0
    with open(f"{out}/requests.jsonl", "w") as f:
        for i in range(n_requests):
            t = int(drawn[i])
            tp = templates[t]
            invalid = bool(invalids[i])
            if invalid:
                req = invalid_request(rng, tp["table"])
                n_invalid += 1
            else:
                req = {"filters": {}}
                for c, op in tp["filters"]:
                    req["filters"].setdefault(c, {})[op] = literal(rng, VIEW_TABLES[tp["table"]][c][0], op)
                req["orders"] = [{"column": c, "desc": d} for c, d in tp["orders"]]
                if tp["columns"]:
                    req["columns"] = tp["columns"]
                page = int(rng.integers(0, 5))
                if rng.random() < 0.5:
                    req["pageIndex"], req["pageSize"] = page, tp["size"]
                else:
                    req["drop"], req["take"] = page * tp["size"], tp["size"]
            shape = t if not invalid else -1 - t
            repeats += shape in seen
            seen.add(shape)
            f.write(json.dumps({"id": i, "shape": shape, "table": tp["table"],
                                "paged": tp["paged"] and not invalid,
                                "invalid": invalid, "check": bool(rng.random() < 0.04),
                                "req": req}, sort_keys=True) + "\n")
    return {"requests": n_requests, "templates": len(templates), "zipf_s": 1.1,
            "invalid_share": n_invalid / n_requests,
            "shape_repeat_share_generated": repeats / n_requests,
            "clients": 2, "loop": "closed",
            "base_rows": {"lineitem": n_lineitem, "orders": N_ORD, "customer": N_CUST, "nation": 25}}


# ---------------------------------------------------------------- store

# One cycle of the store client's closed loop. The kinds and their order
# are the workload's fixed traffic mix; the seed varies the data each op
# carries (which docs, splits and predicate values).
# Reads outnumber writes 15 to 6, so the median op falls inside the reads'
# latency cluster and the tail inside the writes', not on the boundary
# between the two, where one op's noise would move the figure.
STORE_CYCLE = ["commit_delta", "read_head", "read_pruned", "ingest", "read_as_of_version",
               "read_pruned", "sql_as_of", "commit_remove", "read_pruned", "read_as_of_time",
               "changes", "merge_into", "read_head", "read_as_of_time", "curate", "read_pruned",
               "read_head", "history", "consolidate", "vacuum", "read_pruned"]


# The set-up's warm-up: one whole cycle. Each op's cost depends on the
# store state the ops before it leave (a pruned read after a deletion-
# vector commit, a commit after a merge), and the first time a JVM runs
# such a pair it is 2-4x slower, so every pair the timed cycles run is run
# once first.
STORE_WARMUP = list(STORE_CYCLE)


def gen_store(seed, out, n_docs=2000, cycles=5, keep=6):
    rng = np.random.default_rng(seed)
    # the op sizes, split counts, predicate kinds and version draws: the
    # traffic profile, the same for every seed (the seed draws the data)
    shape = np.random.default_rng(BASE_SEED + 1)
    ids = np.sort(rng.choice(n_docs * 4, size=n_docs, replace=False))
    splits = [split_name(k) for k in rng.integers(0, N_SPLITS, size=n_docs)]
    corpus, shares = store_rows(rng, ids.tolist(), splits, dup_share=0.05, near_share=0.03)
    write(corpus, f"{out}/corpus.parquet")
    live = dict(zip(ids.tolist(), splits))  # doc_id -> split
    next_id = n_docs * 4
    sizes = []

    def in_splits(hot):
        return [d for d, sp in live.items() if sp in hot]

    def rows(hot, n_new, n_upd):
        nonlocal next_id
        pool = in_splits(hot)
        upd = rng.choice(pool, size=min(n_upd, len(pool)), replace=False).tolist() if pool else []
        new = list(range(next_id, next_id + n_new))
        next_id += n_new
        sp = [live[d] for d in upd] + [hot[int(k)] for k in rng.integers(0, len(hot), size=n_new)]
        t, _ = store_rows(rng, upd + new, sp)
        for d, s in zip(upd + new, sp):
            live[d] = s
        sizes.append(len(upd) + n_new)
        return t

    def removals(hot, n):
        pool = in_splits(hot)
        ds = rng.choice(pool, size=min(n, len(pool)), replace=False).tolist() if pool else []
        t = pa.table({"split": pa.array([live[d] for d in ds], pa.string()),
                      "doc_id": pa.array(ds, pa.int64())})
        for d in ds:
            del live[d]
        sizes.append(len(ds))
        return t

    # each write carries its rows and removed doc_ids too, for the driver's model
    with open(f"{out}/ops.jsonl", "w") as f:
        for i, op in enumerate(STORE_WARMUP + cycles * STORE_CYCLE):
            d = f"d/{i:05d}"
            rec = {"op": op}
            # a write touches 1-3 splits, as a day- or source-keyed delta does
            hot = [split_name(k) for k in rng.choice(N_SPLITS, size=int(shape.integers(1, 4)),
                                                     replace=False)]
            if op == "commit_delta":
                adds = rows(hot, int(shape.integers(0, 40)), int(shape.integers(1, 40)))
                rm = removals(hot, int(shape.integers(0, 10)))
                write(adds, f"{out}/{d}_adds.parquet")
                write(rm, f"{out}/{d}_rm.parquet")
                rec.update(adds=f"{d}_adds.parquet", removes=f"{d}_rm.parquet",
                           rows=adds.to_pylist(), removed=rm["doc_id"].to_pylist())
            elif op == "commit_remove":
                rm = removals(hot, int(shape.integers(1, 30)))
                write(rm, f"{out}/{d}_rm.parquet")
                rec.update(removes=f"{d}_rm.parquet", removed=rm["doc_id"].to_pylist())
            elif op == "merge_into":
                src = rows(hot, int(shape.integers(1, 30)), int(shape.integers(1, 30)))
                write(src, f"{out}/{d}_src.parquet")
                rec.update(source=f"{d}_src.parquet", rows=src.to_pylist())
            elif op == "ingest":
                # a landed stream file: new docs only, one trigger
                new = rows(hot, int(shape.integers(10, 40)), 0)
                write(new, f"{out}/stream/part-{i:05d}.parquet")
                rec.update(file=f"stream/part-{i:05d}.parquet", rows=new.to_pylist())
            elif op == "read_pruned":
                if shape.random() < 0.5:
                    rec["doc_id"] = int(rng.choice(list(live)))
                else:
                    lo = int(rng.integers(40, 560))
                    rec.update(lo=lo, hi=lo + int(shape.integers(1, 12)))
            elif op in ("read_as_of_version", "read_as_of_time", "sql_as_of", "changes"):
                rec["u"] = float(shape.random())
                if op == "changes":
                    rec["u2"] = float(shape.random())
            f.write(json.dumps(rec, sort_keys=True) + "\n")
    return {"docs": n_docs, "splits": N_SPLITS, "warmup_ops": len(STORE_WARMUP),
            "cycle": STORE_CYCLE,
            "dup_share": shares["dup"], "near_dup_share": shares["near"],
            "vacuum_keep_last": keep, "vf_cache_entries": VF_CACHE_ENTRIES,
            "delta_rows_median": float(np.median(sizes)), "delta_rows_max": int(max(sizes)),
            "clients": 1, "loop": "closed"}


GENERATORS = {"view_requests": gen_view, "store_churn": gen_store}


def generate(workload, seed, out):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    props = GENERATORS[workload](seed, out)
    props["workload"] = workload
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(props, f, sort_keys=True, indent=1)
    return props


def tree_digest(path):
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(path):
        dirnames.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def selftest(tmp):
    """Same seed -> byte-identical inputs; another seed -> different ones."""
    ok = True
    for w in GENERATORS:
        a, b, c = (f"{tmp}/{w}-{k}" for k in "abc")
        generate(w, 7, a)
        generate(w, 7, b)
        generate(w, 8, c)
        same = tree_digest(a) == tree_digest(b)
        differ = tree_digest(a) != tree_digest(c)
        print(f"{w}: same-seed identical={same} other-seed differs={differ}")
        ok &= same and differ
        for d in (a, b, c):
            shutil.rmtree(d)
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--out")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        tmp = a.out or ".bench_build/gen-selftest"
        sys.exit(0 if selftest(tmp) else 1)
    print(json.dumps(generate(a.workload, a.seed, a.out), sort_keys=True))


if __name__ == "__main__":
    main()
