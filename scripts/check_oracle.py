#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: check_oracle.py <verify_out_dir> <sf_dir> [name,name,...]

Reads <verify_out_dir>/oracle_sql.json, registers every parquet table in
<sf_dir> as a DuckDB view, runs each oracle SQL, and compares against the
Spark result dumped at <verify_out_dir>/<name>/ (parquet). Comparison:
columns sorted by name, rows sorted, values canonicalized (floats via repr,
timestamps to ISO) then hashed. Reports per-query match/mismatch with a
diff sample on mismatch.

The optional third argument names the entries to compare, so one iteration
is `graft.Verify <sf> <out> a,b,c` followed by
`check_oracle.py <out> <sf> a,b,c`: only those entries are compared and
reported, and the exit status reflects them alone. A listed name with no
oracle entry fails.
"""
import sys, json, os, glob, math
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)

def table_canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out

def main():
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    results = {}
    names = sorted(oracle) if len(sys.argv) < 4 else sorted(set(sys.argv[3].split(",")) - {""})
    for name in names:
        if name not in oracle:
            results[name] = "NO_ORACLE_ENTRY"
            print(f"[{name}] NO ORACLE ENTRY")
            continue
        spark_dir = os.path.join(out_dir, name)
        if not os.path.isdir(spark_dir):
            results[name] = "NO_SPARK_RESULT"
            print(f"[{name}] NO SPARK RESULT")
            continue
        try:
            cur = con.execute(oracle[name])
            duck_rows = cur.fetchall()
            duck_cols = [d[0] for d in cur.description]
            # Driver's comparator canonicalizes DuckDB HUGEINT (int128)
            # differently from Spark's int64 → guaranteed hash-red even on
            # identical values (root cause of the r4-r9 join_bucketed red).
            # Fail loudly at authoring time instead. cursor.description
            # hides the type ('NUMBER'), so probe via relation .types.
            rel_t = con.sql(oracle[name])
            huge = [c for c, t in zip(rel_t.columns, rel_t.types)
                    if "HUGEINT" in str(t).upper()]
            if huge:
                results[name] = f"HUGEINT_ORACLE_COLUMN: {huge}"
                print(f"[{name}] HUGEINT ORACLE COLUMN {huge} — "
                      f"wrap in CAST(... AS BIGINT) in the oracle SQL")
                continue
            # Same discipline for LIST/ARRAY-typed oracle output: the
            # driver comparator's pandas sort_values crashes on numpy
            # array cells (r10 mm_interleave red). House rule: emit list
            # columns as JSON TEXT (to_json in Spark, CAST(to_json(...)
            # AS VARCHAR) in the oracle) — see agg_collect.
            listy = [c for c, t in zip(rel_t.columns, rel_t.types)
                     if "[]" in str(t) or str(t).upper().startswith(("LIST", "ARRAY", "STRUCT", "MAP"))]
            if listy:
                results[name] = f"LIST_ORACLE_COLUMN: {listy}"
                print(f"[{name}] LIST/NESTED ORACLE COLUMN {listy} — "
                      f"emit as CAST(to_json(...) AS VARCHAR) (agg_collect pattern)")
                continue
        except Exception as e:
            results[name] = f"ORACLE_SQL_ERROR: {e}"
            print(f"[{name}] ORACLE SQL ERROR: {str(e)[:200]}")
            continue
        files = glob.glob(os.path.join(spark_dir, "*.parquet"))
        rel = duckdb.connect().execute(
            f"SELECT * FROM read_parquet({files!r})")
        spark_rows = rel.fetchall()
        spark_cols = [d[0] for d in rel.description]
        if sorted(spark_cols) != sorted(duck_cols):
            results[name] = "SCHEMA_MISMATCH"
            print(f"[{name}] SCHEMA MISMATCH spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
            continue
        sc, s_canon = table_canon(spark_cols, spark_rows)
        dc, d_canon = table_canon(duck_cols, duck_rows)
        if s_canon == d_canon:
            results[name] = "OK"
            print(f"[{name}] OK rows={len(s_canon)}")
        else:
            results[name] = "VALUE_MISMATCH"
            print(f"[{name}] VALUE MISMATCH spark_rows={len(s_canon)} duck_rows={len(d_canon)}")
            only_s = [r for r in s_canon if r not in set(d_canon)][:3]
            only_d = [r for r in d_canon if r not in set(s_canon)][:3]
            print(f"  cols: {sc}")
            for r in only_s: print(f"  spark-only: {r[:220]}")
            for r in only_d: print(f"  duck-only:  {r[:220]}")
    ok = sum(1 for v in results.values() if v == "OK")
    print(f"\n{ok}/{len(results)} queries match")
    sys.exit(0 if ok == len(results) else 1)

if __name__ == "__main__":
    main()
