# Dev-loop oracle pre-checker (emulates the driver's DuckDB compare).
# Usage: python3 check_oracle.py /root/testdata/sf0.01 /tmp/v1
import sys, json, glob, os, time
import duckdb, pandas as pd, numpy as np

sf, out = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = os.path.basename(p).replace(".parquet", "")
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails = []
# per query: (name, read_parquet s, DuckDB execute s, compare s)
timings = []
for name, sql in sorted(oracle.items()):
    spark_dir = f"{out}/{name}"
    if not os.path.isdir(spark_dir):
        print(f"FAIL {name}: no spark output"); fails.append(name); continue
    t0 = time.perf_counter()
    sp = pd.read_parquet(spark_dir)
    t1 = time.perf_counter()
    try:
        du = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: duckdb error {e}"); fails.append(name); continue
    t2 = time.perf_counter()
    sp = sp.reindex(sorted(sp.columns), axis=1)
    du = du.reindex(sorted(du.columns), axis=1)
    if list(sp.columns) != list(du.columns):
        print(f"FAIL {name}: cols spark={list(sp.columns)} duck={list(du.columns)}")
        fails.append(name); continue
    if len(sp) != len(du):
        print(f"FAIL {name}: rows spark={len(sp)} duck={len(du)}")
        fails.append(name); continue
    # sort rows for order-insensitivity, then exact compare
    sp2 = sp.sort_values(list(sp.columns)).reset_index(drop=True)
    du2 = du.sort_values(list(du.columns)).reset_index(drop=True)
    ok, baddetail = True, None
    for c in sp.columns:
        a, b = sp2[c], du2[c]
        if np.issubdtype(a.dtype, np.floating) or np.issubdtype(b.dtype, np.floating):
            same = np.array_equal(a.to_numpy(dtype=float), b.to_numpy(dtype=float), equal_nan=True)
        elif "datetime" in str(a.dtype) or "datetime" in str(b.dtype):
            same = np.array_equal(a.to_numpy("datetime64[us]"), b.to_numpy("datetime64[us]"))
        else:
            same = a.astype(str).equals(b.astype(str))
        if not same:
            ok = False
            mask = ~(a.astype(str) == b.astype(str))
            i = int(np.argmax(mask.to_numpy())) if mask.any() else 0
            baddetail = f"col {c} row {i}: spark={a.iloc[i]!r} duck={b.iloc[i]!r} (dtypes {a.dtype}/{b.dtype})"
            break
    timings.append((name, t1 - t0, t2 - t1, time.perf_counter() - t2))
    if ok:
        print(f"ok   {name} ({len(sp)} rows)")
    else:
        print(f"FAIL {name}: {baddetail}"); fails.append(name)

print(f"\n{len(oracle)-len(fails)}/{len(oracle)} pass")
tot = [sum(t[i] for t in timings) for i in (1, 2, 3)]
print(f"time: read_parquet {tot[0]:.1f}s, duckdb {tot[1]:.1f}s, "
      f"compare {tot[2]:.1f}s over {len(timings)} queries", file=sys.stderr)
print("10 slowest (total s: read_parquet / duckdb / compare):", file=sys.stderr)
for name, r, d, c in sorted(timings, key=lambda t: -sum(t[1:]))[:10]:
    print(f"  {r + d + c:8.2f}  {r:7.2f} / {d:7.2f} / {c:7.2f}  {name}",
          file=sys.stderr)
sys.exit(1 if fails else 0)
