"""Output check the JVM driver cannot make itself: a DuckDB evaluation of
the same view requests, compared with what the engine returned.

Every sampled view_requests response is re-evaluated from the request and
the declaration mirror below (column for column as ViewRequests.scala
declares it) and must match row for row, in order, including the total of
paged requests.
"""
import json
import math

import duckdb

# declared columns in declaration order: name -> (SQL over the base row,
# visible, sort expression or None)
LI = [
    ("orderkey", "l_orderkey", True, "l_orderkey"),
    ("partkey", "l_partkey", True, None),
    ("quantity", "l_quantity", True, "l_quantity"),
    ("price", "l_extendedprice", True, "l_extendedprice"),
    ("discount", "l_discount", False, "l_discount"),
    ("net_price", "l_extendedprice * (1.0 - l_discount)", True,
     "l_extendedprice * (1.0 - l_discount)"),
    ("returnflag", "l_returnflag", True, None),
    ("status", "l_linestatus", False, None),
    ("flag_status", "l_returnflag || '-' || l_linestatus", True, None),
    ("shipdate", "strftime(l_shipdate, '%Y-%m-%d')", True, "l_shipdate"),  # orderTarget ship_ts
    ("ship_ts", "l_shipdate", False, "l_shipdate"),
    ("line_id", "l_orderkey * 8 + l_linenumber", True, "l_orderkey * 8 + l_linenumber"),
]
OC = [
    ("custkey", "o_custkey", True, "o_custkey"),
    ("cust_name", "c_name", True, "c_name"),
    ("nation", "n_name", True, "n_name"),
    ("segment", "c_mktsegment", True, None),
    ("status", "o_orderstatus", True, None),
    ("total", "o_totalprice", True, "o_totalprice"),
    ("orderdate", "strftime(o_orderdate, '%Y-%m-%d')", True, "o_orderdate"),  # orderTarget order_ts
    ("order_ts", "o_orderdate", False, "o_orderdate"),
    ("priority", "o_orderpriority", False, None),
    ("balance", "c_acctbal", True, "c_acctbal"),
    # Derive.poly2(priority, balance): orderable through balance
    ("label", "CASE WHEN c_acctbal < 0 THEN 'neg-' || o_orderpriority "
              "ELSE o_orderpriority END", True, "c_acctbal"),
    ("orderkey", "o_orderkey", True, "o_orderkey"),
]
DECL = {"li": LI, "oc": OC}
FROM = {
    "li": "lineitem",
    "oc": "orders JOIN customer ON o_custkey = c_custkey "
          "JOIN nation ON c_nationkey = n_nationkey",
}


def lit(v, typ):
    if isinstance(v, str):
        s = "'" + v.replace("'", "''") + "'"
    else:
        s = repr(v)
    return f"CAST({s} AS {typ})"


def view_sql(table, req, types):
    cols = {c[0]: c for c in DECL[table]}
    where = []
    for name, ops in sorted(req.get("filters", {}).items()):
        expr = cols[name][1]
        typ = types[name]
        for op, v in sorted(ops.items()):
            if op in ("eq", "ne", "gt", "ge", "lt", "le"):
                sym = {"eq": "=", "ne": "<>", "gt": ">", "ge": ">=", "lt": "<", "le": "<="}[op]
                where.append(f"({expr}) {sym} {lit(v, typ)}")
            elif op == "like":
                where.append(f"({expr}) LIKE {lit(v, 'VARCHAR')}")
            elif op == "in":
                where.append(f"({expr}) IN ({', '.join(lit(x, typ) for x in v)})")
            elif op == "between":
                where.append(f"({expr}) BETWEEN {lit(v[0], typ)} AND {lit(v[1], typ)}")
    requested = {}
    for o in req.get("orders", []):
        requested.setdefault(o["column"], o.get("desc", False))
    order = [f"{sort} {'DESC' if requested[n] else 'ASC'} NULLS LAST"
             for n, _, _, sort in DECL[table] if n in requested and sort]
    if "columns" in req:
        visible = [n for n in req["columns"] if cols[n][2]]
    else:
        visible = [n for n, _, v, _ in DECL[table] if v]
    sel = ", ".join(f'{cols[n][1]} AS "{n}"' for n in visible)
    offset = req.get("drop", req["pageIndex"] * req["pageSize"] if "pageIndex" in req else 0)
    limit = req.get("take", req.get("pageSize"))
    w = f" WHERE {' AND '.join(where)}" if where else ""
    o = f" ORDER BY {', '.join(order)}" if order else ""
    page = f" LIMIT {limit} OFFSET {offset}"
    return (f"SELECT {sel} FROM {FROM[table]}{w}{o}{page}",
            f"SELECT count(*) FROM {FROM[table]}{w}")


def same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        return a == b or (isinstance(a, float) and isinstance(b, float)
                          and math.isnan(a) and math.isnan(b))
    return a == b


def check_view(inputs, work):
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/base/{t}.parquet'")
    types = {}
    for table, decl in DECL.items():
        sel = ", ".join(f'{e} AS "{n}"' for n, e, _, _ in decl)
        rel = con.sql(f"SELECT {sel} FROM {FROM[table]} LIMIT 0")
        types[table] = dict(zip(rel.columns, (str(t) for t in rel.types)))
    failures, n = [], 0
    with open(f"{work}/view_samples.jsonl") as f:
        for line in f:
            s = json.loads(line)
            n += 1
            q, qcount = view_sql(s["table"], s["req"], types[s["table"]])
            res = con.sql(q)
            cols = res.columns
            want = [dict(zip(cols, r)) for r in res.fetchall()]
            got = s["response"]["data"]
            ok = len(got) == len(want) and all(
                list(g) == list(w) and all(same(g[k], w[k]) for k in w)
                for g, w in zip(got, want))
            if s["paged"]:
                ok &= s["response"]["total"] == con.sql(qcount).fetchone()[0]
            if not ok:
                failures.append(f"view request {s['id']} differs from DuckDB")
    return n, failures


CHECKS = {"view_requests": check_view}
