#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: reads Verify output
(parquet per query + oracle_sql.json), runs each oracle in DuckDB over the
same sf tables, and compares rows / schema / values (column-name-sorted,
like the driver).

Usage: check.py SF_DIR OUT_DIR [PARENT_OUT_DIR]

With PARENT_OUT_DIR (a Verify output of the parent commit over the same
SF_DIR), every query directory must also match the parent's row for row,
in order, with the same column names -- the no-oracle rows included."""
import sys, json, glob, os
import duckdb

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
parent_dir = sys.argv[3] if len(sys.argv) > 3 else None

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
results = {}
for name in sorted(os.listdir(out_dir)):
    p = os.path.join(out_dir, name)
    if not os.path.isdir(p):
        continue
    try:
        spark_df = con.execute(f"SELECT * FROM '{p}/*.parquet'").fetchdf()
    except Exception as e:
        results[name] = {"error": f"read spark result: {e}"}
        continue
    if name not in oracle:
        results[name] = {"rows": len(spark_df), "oracle": None}
        continue
    try:
        ora_df = con.execute(oracle[name]).fetchdf()
    except Exception as e:
        results[name] = {"error": f"oracle sql: {e}"}
        continue
    s = spark_df[sorted(spark_df.columns)]
    o = ora_df[sorted(ora_df.columns)]
    rows_ok = len(s) == len(o)
    schema_ok = list(s.columns) == list(o.columns)
    val_ok = False
    detail = ""
    if rows_ok and schema_ok:
        try:
            sv = s.astype(str).values.tolist()
            ov = o.astype(str).values.tolist()
            val_ok = sv == ov
            if not val_ok:
                for i, (a, b) in enumerate(zip(sv, ov)):
                    if a != b:
                        detail = f"first diff row {i}: spark={a} oracle={b}"
                        break
        except Exception as e:
            detail = f"compare: {e}"
    else:
        detail = f"rows {len(s)} vs {len(o)}; cols {list(s.columns)} vs {list(o.columns)}"
    results[name] = {"rows": rows_ok, "schema": schema_ok, "hash": val_ok,
                     **({"detail": detail} if detail else {})}

ok = sum(1 for r in results.values() if r.get("hash"))
total_oracle = sum(1 for r in results.values() if "hash" in r)
for name, r in results.items():
    flag = "OK " if r.get("hash") else ("--- " if r.get("oracle", "x") is None else "FAIL")
    print(f"{flag} {name}: {r}")
print(f"\n{ok}/{total_oracle} oracle-checked queries pass")
passed = ok == total_oracle

if parent_dir:
    def query_dirs(d):
        return {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}

    def dump(d, name):
        rel = con.execute(f"SELECT * FROM '{d}/{name}/*.parquet'")
        # repr: NaN compares equal to NaN, nested values compare structurally
        return [c[0] for c in rel.description], repr(rel.fetchall())

    names = sorted(query_dirs(out_dir) | query_dirs(parent_dir))
    same = 0
    for name in names:
        try:
            a, b = dump(out_dir, name), dump(parent_dir, name)
            detail = "" if a == b else (
                f"cols {a[0]} vs {b[0]}" if a[0] != b[0] else "rows differ")
        except Exception as e:
            detail = f"read: {e}"
        if detail:
            print(f"DIFF {name}: {detail}")
        else:
            same += 1
    print(f"{same}/{len(names)} query outputs row-identical to the parent")
    passed = passed and same == len(names)
sys.exit(0 if passed else 1)
