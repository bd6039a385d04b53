#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only, not part
of the library): runs Verify's oracle_sql.json in DuckDB against the same
sf dir and compares with the Spark parquet dumps, normalizing column order
and row order like the driver does."""
import sys, json, glob, math, time
import duckdb
import pyarrow.parquet as pq

sfdir, outdir = sys.argv[1], sys.argv[2]

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
def check(name, sql):
    """One oracle's verdict: ("OK", detail) or ("FAIL", detail)."""
    try:
        odf = con.execute(sql).fetchdf()
    except Exception as e:
        return "FAIL", f"oracle error {e}"
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        return "FAIL", f"no spark output"
    sdf = pq.read_table(files[0]).to_pandas()
    oc, sc = sorted(odf.columns), sorted(sdf.columns)
    if oc != sc:
        return "FAIL", f"cols oracle={oc} spark={sc}"
    # Dtype-strict, like the driver: an int64 Spark column vs a float64
    # oracle column (e.g. DuckDB HUGEINT -> pandas float) must FAIL even
    # when the values are numerically equal — the driver's hash is over
    # dtype-rendered values ("1" vs "1.0").
    def kind(dt):
        k = dt.kind  # i/u -> int, f -> float, b -> bool, M -> datetime, O -> object
        return {"i": "int", "u": "int"}.get(k, k)
    dtype_bad = [c for c in oc if kind(odf[c].dtype) != kind(sdf[c].dtype)
                 # all-NULL object columns are indistinguishable; skip those
                 and not (odf[c].isna().all() or sdf[c].isna().all())]
    if dtype_bad:
        msg = {c: (str(odf[c].dtype), str(sdf[c].dtype)) for c in dtype_bad}
        return "FAIL", f"dtype mismatch (oracle,spark) {msg}"
    o = odf[oc].values.tolist(); s = sdf[sc].values.tolist()
    def norm(v):
        if v is None: return "NULL"
        if isinstance(v, float):
            if math.isnan(v): return "NULL"
            return f"{v:.9g}"
        return str(v)
    o = sorted([tuple(norm(x) for x in r) for r in o])
    s = sorted([tuple(norm(x) for x in r) for r in s])
    if len(o) != len(s):
        return "FAIL", f"rows oracle={len(o)} spark={len(s)}"
    if o != s:
        bad = [(a, b) for a, b in zip(o, s) if a != b][:3]
        return "FAIL", f"value mismatch e.g. {bad}"
    return "OK  ", f"{len(s)} rows"

fails, took = 0, []
for name, sql in sorted(oracle.items()):
    t0 = time.perf_counter()
    verdict, detail = check(name, sql)
    secs = time.perf_counter() - t0
    took.append((secs, name))
    fails += verdict == "FAIL"
    print(f"{verdict} {name}: {detail} ({secs:.2f}s)")
print("slowest: " + ", ".join(f"{n} {s:.2f}s" for s, n in sorted(took, reverse=True)[:5]))
sys.exit(1 if fails else 0)
