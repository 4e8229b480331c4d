"""Correctness checks of one benchmark run, against DuckDB over the same
generated files. Each function returns (checked, failures) where failures
is a list of one-line descriptions."""
import glob
import json
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _con(data: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    return con


def queries(data: str, checks: str, names: list) -> tuple:
    """Registered queries: rows against their oracle SQL, compared the way
    tools/check.py does (columns sorted by name, values as strings); a query
    with no oracle must return rows."""
    con = _con(data)
    oracle = json.load(open(os.path.join(checks, "oracle_sql.json")))
    failures = []
    for name in names:
        path = os.path.join(checks, name)
        if not glob.glob(f"{path}/*.parquet"):
            failures.append(f"{name}: no output")
            continue
        got = con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf()
        if name not in oracle:
            if len(got) == 0:
                failures.append(f"{name}: no rows")
            continue
        want = con.execute(oracle[name]).fetchdf()
        got, want = got[sorted(got.columns)], want[sorted(want.columns)]
        if list(got.columns) != list(want.columns):
            failures.append(f"{name}: columns {list(got.columns)} vs {list(want.columns)}")
        elif got.astype(str).values.tolist() != want.astype(str).values.tolist():
            failures.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
    return len(names), failures


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and float(a) == float(b)
    return a == b or (a is not None and b is not None and str(a) == str(b))


def _rows_equal(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w)) for g, w in zip(got, want))


def _serve_twin(con, shape: str, p: dict) -> list:
    q = lambda sql, *args: [list(r) for r in con.execute(sql, list(args)).fetchall()]
    if shape == "find":
        return q("SELECT c_custkey, c_name FROM customer WHERE c_custkey = ?", p["slug"])
    if shape == "where_page":
        return q("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = ? "
                 "ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 20", p["status"])
    if shape == "starts_with":
        return q("SELECT c_custkey, c_name FROM customer WHERE starts_with(c_name, ?) "
                 "ORDER BY c_custkey LIMIT 20", p["prefix"])
    if shape == "walk_forward":
        return q("SELECT c_custkey, c_acctbal FROM customer WHERE c_nationkey = ? "
                 "ORDER BY c_acctbal, c_custkey LIMIT ?", p["nation"], 25 * p["pages"])
    if shape == "walk_back":
        rows = q("SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderpriority = ? "
                 "ORDER BY o_totalprice, o_orderkey LIMIT 40", p["priority"])
        return rows + rows[:20]
    if shape == "join_page":
        return q("SELECT o_orderkey, [c_custkey] FROM orders JOIN customer ON o_custkey = c_custkey "
                 "WHERE o_orderstatus = ? ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 20",
                 p["status"])
    if shape == "has_many_page":
        return q("SELECT c_custkey, coalesce((SELECT list_sort(list(o_orderkey)) FROM orders "
                 "WHERE o_custkey = c_custkey), []) FROM customer WHERE c_nationkey = ? "
                 "ORDER BY c_custkey LIMIT 10", p["nation"])
    if shape == "peek":
        return q("SELECT slug, l_extendedprice FROM (SELECT CAST(l_orderkey AS VARCHAR) || '-' || "
                 "CAST(l_linenumber AS VARCHAR) AS slug, l_extendedprice FROM lineitem "
                 "WHERE l_returnflag = ?) ORDER BY l_extendedprice DESC, slug DESC LIMIT 20", p["flag"])
    raise ValueError(f"no twin for request shape {shape}")


def serve(data: str, checks: str) -> tuple:
    """Every request of the stream against its DuckDB twin, plus a full
    keyset walk: every row once, in order, forward and backward."""
    con = _con(data)
    dump = json.load(open(os.path.join(checks, "serve.json")))
    failures = []
    for i, r in enumerate(dump["requests"]):
        # a relation cell is the list of joined keys, in no particular order;
        # a row that joins nothing may carry no list at all
        got = [[sorted(c or []) if isinstance(c, list) or c is None and j else c
                for j, c in enumerate(row)] for row in r["rows"]]
        want = _serve_twin(con, r["shape"], r["params"])
        if not _rows_equal(got, want):
            failures.append(f"request {i} {r['shape']} {r['params']}: {got[:3]} vs {want[:3]}")
    walk = dump["walk"]
    if walk is None:
        failures.append("full walk did not run")
    else:
        want = [r[0] for r in con.execute(
            "SELECT c_custkey FROM customer WHERE c_nationkey = ? ORDER BY c_acctbal, c_custkey",
            [walk["nation"]]).fetchall()]
        for way in ("forward", "backward"):
            if walk[way] != want:
                failures.append(f"full walk {way}: {len(walk[way])} rows vs {len(want)} expected")
    return len(dump["requests"]) + 1, failures


def ingest(data: str, checks: str) -> tuple:
    """Lookups, index contents and static pages after every change batch,
    against the generator's final snapshot."""
    dump = json.load(open(os.path.join(checks, "ingest.json")))
    final = json.load(open(os.path.join(data, "md", "final.json")))
    failures = []
    for lk in dump["lookups"]:
        if lk["field"] == "tags":
            want = sorted(d["slug"] for d in final if lk["value"] in d["tags"])
        else:
            want = sorted(d["slug"] for d in final if d["lang"].startswith(lk["value"]))
        if lk["slugs"] != want:
            failures.append(f"lookup {lk['field']}={lk['value']}: {len(lk['slugs'])} vs {len(want)}")
    con = duckdb.connect()
    got = sorted(tuple(r) for r in con.execute(
        f"SELECT field, coalesce(prefix, ''), slug, value FROM "
        f"read_parquet('{dump['index']}/*/*/*.parquet', hive_partitioning = true)").fetchall())
    want = sorted([("tags", t[:1].lower(), d["slug"], t) for d in final for t in d["tags"]] +
                  [("lang", d["lang"][:1].lower(), d["slug"], d["lang"]) for d in final])
    if got != want:
        failures.append(f"index: {len(got)} entries vs {len(want)} expected")
    pages = sorted(glob.glob(os.path.join(dump["site"], "*.json")))
    slugs = [r["slug"] for p in pages for r in json.load(open(p))["data"]]
    want_slugs = [d["slug"] for d in sorted(final, key=lambda d: (d["rank"], d["slug"]))]
    if slugs != want_slugs or len(pages) != dump["pages"]:
        failures.append(f"site: {len(pages)} pages, {len(slugs)} records vs {len(want_slugs)}")
    return len(dump["lookups"]) + 2, failures
