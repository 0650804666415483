"""Drive the driver contract exactly as the driver does: entry() smoke,
then each queries()[name] vs oracle_sql()[name] via DuckDB at sf0.01.

Besides the per-query stdout lines, a FULL run (no name filter) writes
``CONTRACT_FULL_r{N}.json`` at the repo root in the same shape as the
driver's CORRECTNESS artifact — the compensating record for the
queries outside the driver's 50-row grading window."""
import glob, json, os, sys, time, duckdb, pandas as pd
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)  # the checkout this script lives in, not an installed copy
import __spark_entry__ as E
from pfaedle_spark.session import get_spark, mem_total_mb

SF = os.environ.get("SF", "/root/testdata/sf0.01")
TABLES = ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]

spark = get_spark(); spark.sparkContext.setLogLevel("ERROR")
df = E.entry(spark)
n = df.count()
print(f"entry(): {n} rows, schema: {[f.name for f in df.schema.fields]}")
assert n >= 0

con = duckdb.connect()
# big-SF DP oracles can otherwise grab most of the host's RAM and
# starve the Spark JVM sharing the box (it takes half of MemTotal);
# cap DuckDB at a quarter and spill to disk instead. ORACLE_MEM overrides.
oracle_mem = os.environ.get("ORACLE_MEM") or f"{mem_total_mb() // 4}MB"
con.execute(f"SET memory_limit='{oracle_mem}'")
con.execute("SET temp_directory='/tmp/duckdb_spill'")
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

def norm(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)

qs, osql = E.queries(), E.oracle_sql()
only = [a for a in sys.argv[1:] if not a.startswith("-")]
if only:
    qs = {k: v for k, v in qs.items() if k in only}
results = {}
# long sweeps (sf0.1 DP oracles) survive a kill: per-query results
# checkpoint to $CKPT after every query, and a restart with the same
# $CKPT skips the queries already recorded there.
ckpt = os.environ.get("CKPT")
if ckpt and os.path.exists(ckpt):
    with open(ckpt) as fh:
        results = json.load(fh)
    print(f"resuming: {len(results)} queries already recorded in {ckpt}")

def record(name, rec):
    results[name] = rec
    if ckpt:
        with open(ckpt, "w") as fh:
            json.dump(results, fh, indent=1)

for name, fn in qs.items():
    if name in results:
        continue
    t0 = time.time()
    try:
        got = norm(fn(spark, SF).toPandas())
    except Exception as exc:  # record, keep sweeping
        print(f"  {name}: ERROR {exc}")
        record(name, {"rows_match": False, "schema_match": False,
                      "hash_match": False, "spark_rows": None,
                      "oracle_rows": None, "err": str(exc)[:500]})
        continue
    # the driver's value hash is dtype-sensitive: a Spark DECIMAL column
    # arrives as object-dtype Decimal and hash-fails vs DuckDB DOUBLE
    # even when values are equal — surface that locally.
    import decimal
    for c in got.columns:
        if got[c].dtype == object and got[c].map(lambda v: isinstance(v, decimal.Decimal)).any():
            print(f"    DTYPE-HAZARD col {c}: decimal.Decimal (Spark DECIMAL inference)")
    if name not in osql:
        print(f"  {name}: {len(got)} rows (rows-only, no oracle)")
        # rows_match None = "no oracle to check against", NOT a pass —
        # distinguishes verified rows from an unverifiable surface.
        record(name, {"rows_match": None, "schema_match": None,
                      "hash_match": None, "spark_rows": len(got),
                      "oracle_rows": None, "err": None,
                      "note": "rows-only by design (no SQL oracle)"})
        continue
    try:
        want = norm(con.execute(osql[name]).fetchdf())
    except Exception as exc:  # oracle-side failure (e.g. OOM): record, keep sweeping
        print(f"  {name}: ORACLE ERROR {exc}")
        record(name, {"rows_match": False, "schema_match": False,
                      "hash_match": False, "spark_rows": len(got),
                      "oracle_rows": None, "err": f"oracle: {str(exc)[:400]}"})
        continue
    ok_cols = list(got.columns) == list(want.columns)
    ok_rows = len(got) == len(want)
    ok_vals = True
    if ok_cols and ok_rows:
        for c in got.columns:
            g, w = got[c], want[c]
            if g.dtype.kind == "f" or w.dtype.kind == "f":
                import numpy as np
                if not np.allclose(g.astype(float), w.astype(float), rtol=1e-9, atol=1e-9, equal_nan=True):
                    ok_vals = False; print(f"    MISMATCH col {c}")
            elif g.astype(str).tolist() != w.astype(str).tolist():
                ok_vals = False; print(f"    MISMATCH col {c}")
    verdict = "MATCH" if (ok_cols and ok_rows and ok_vals) else f"FAIL cols={ok_cols} rows={len(got)}/{len(want)} vals={ok_vals}"
    print(f"  {name}: {len(got)} rows [{time.time()-t0:.1f}s] -> {verdict}")
    record(name, {"rows_match": ok_rows, "schema_match": ok_cols,
                  "hash_match": bool(ok_cols and ok_rows and ok_vals),
                  "spark_rows": len(got), "oracle_rows": len(want),
                  "err": None})

if not only:  # full sweep: publish the compensating artifact
    # number off existing CONTRACT_FULL files (not the driver's
    # CORRECTNESS artifacts) and never clobber an existing sweep.
    rnd = len(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))) + 1
    while os.path.exists(os.path.join(ROOT, f"CONTRACT_FULL_r{rnd:02d}.json")):
        rnd += 1
    oracled = [k for k in results if "note" not in results[k]]
    summary = {
        "_meta": {
            "sf_dir": SF, "round": rnd,
            "entry_rows": int(n),
            "queries_total": len(results),
            "sql_oracled": len(oracled),
            "sql_match": sum(results[k]["hash_match"] for k in oracled),
            "rows_only": len(results) - len(oracled),
            "tool": "tools/drive_contract.py (same compare as the driver, all queries — no 50-row window)",
        }
    }
    summary.update(results)
    out = os.path.join(ROOT, f"CONTRACT_FULL_r{rnd:02d}.json")
    with open(out, "w") as fh:
        json.dump(summary, fh, indent=1)
    m = summary["_meta"]
    print(f"wrote {out}: {m['sql_match']}/{m['sql_oracled']} SQL MATCH, "
          f"{m['rows_only']} rows-only, {m['queries_total']} total")
spark.stop()
