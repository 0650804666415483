"""Iterate on the gridviterbi oracle: run Spark viterbi_full vs the
DuckDB oracle at sf0.01 and diff."""
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SF", "/root/testdata/sf0.01")
WHICH = sys.argv[1] if len(sys.argv) > 1 else "viterbi_full"

from pfaedle_spark.operators import gridviterbi, nodedp

if WHICH == "viterbi_full":
    sql = gridviterbi.viterbi_full_grid_sql()
elif WHICH == "shape_geoms":
    sql = gridviterbi.shape_geoms_grid_sql()
elif WHICH == "viterbi_align":
    sql = nodedp.viterbi_align_grid_sql()
elif WHICH == "greedy2_align":
    sql = nodedp.greedy2_align_grid_sql()
else:
    sql = gridviterbi.trip_debug_grid_sql()
print(f"SQL size: {len(sql)} bytes")

con = duckdb.connect()
con.execute(
    f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF}/documents.parquet')"
)
t0 = time.time()
want = con.execute(sql).fetchdf()
print(f"oracle: {len(want)} rows in {time.time()-t0:.1f}s")

from pfaedle_spark.session import get_spark
import __spark_entry__ as E

spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")
got = E.queries()[WHICH](spark, SF).toPandas()
print(f"spark: {len(got)} rows")


def norm(pdf):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns), ignore_index=True)


got, want = norm(got), norm(want)
print("cols:", list(got.columns), "vs", list(want.columns))
if len(got) != len(want):
    print(f"ROW MISMATCH {len(got)} vs {len(want)}")
ok = True
if list(got.columns) == list(want.columns) and len(got) == len(want):
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            eq = np.isclose(
                g.astype(float), w.astype(float), rtol=0, atol=0, equal_nan=True
            ) | (np.isinf(g.astype(float)) & np.isinf(w.astype(float)))
            if not eq.all():
                ok = False
                bad = np.where(~eq)[0][:5]
                print(f"MISMATCH col {c}: rows {bad}")
                print(got.iloc[bad])
                print(want.iloc[bad])
        elif g.astype(str).tolist() != w.astype(str).tolist():
            ok = False
            bad = [i for i, (a, b) in enumerate(zip(g.astype(str), w.astype(str))) if a != b][:5]
            print(f"MISMATCH col {c}: rows {bad}")
            print(got.iloc[bad])
            print(want.iloc[bad])
    print("BIT-EXACT MATCH" if ok else "MISMATCHES FOUND")
spark.stop()
