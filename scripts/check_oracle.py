#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run Verify's parquet
dumps against DuckDB executing oracle_sql.json on the same sf tables.
Columns sorted by name, rows sorted, exact value compare (floats: null
masks, then bit patterns). Exits 0 only when it checked at least one
row and every checked row is OK or rows-only; a CHECK_ONLY name with no
oracle is an error."""
import json, sys, glob, os
import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT_DIR = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# a FRESH connection per oracle: one list-heavy quadratic query can
# fragment/poison a long-lived connection's allocator so every later
# oracle fails "bad allocation" (seen in the sf0.1 sweep) — view setup
# is microseconds, isolation is worth it. Thread pool bounded: the
# sf0.1 iterative-CTE oracles spawn threads per pipeline and the
# default (= all cores) exhausts the VM.
# Queries whose ordered list(...)+list_reduce folds blow DuckDB's
# MULTI-threaded list allocator at sf0.1 ("bad allocation" with free
# RAM to spare) — single-threaded they complete fine (graph_hits:
# 136 s, hash-matches). Forced to one thread regardless of
# DUCKDB_THREADS.
SINGLE_THREADED = {"graph_hits"}

def fresh_con(threads=None):
    c = duckdb.connect()
    c.execute(f"PRAGMA threads={threads or os.environ.get('DUCKDB_THREADS', '8')}")
    c.execute("PRAGMA memory_limit='24GB'")
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return c

# CHECK_ONLY=name1,name2 restricts the run (resume after a crash)
ONLY = set(x for x in os.environ.get("CHECK_ONLY", "").split(",") if x)

oracles = json.load(open(f"{OUT_DIR}/oracle_sql.json"))
# a typo in CHECK_ONLY must fail, not check nothing and pass
unknown = sorted(ONLY - set(oracles))
if unknown:
    sys.exit(f"CHECK_ONLY names no oracle in {OUT_DIR}/oracle_sql.json: "
             + ", ".join(unknown))

# pandas reads NULL and NaN alike in a float column, so each float
# column's null mask is taken from Arrow into a column of this prefix
NULL_MASK = "\0null:"

def frame(t: pa.Table, df: pd.DataFrame = None) -> pd.DataFrame:
    df = t.to_pandas() if df is None else df
    for c in list(df.columns):
        if df[c].dtype.kind == 'f':
            df[NULL_MASK + c] = t.column(c).is_null().to_numpy(zero_copy_only=False)
    return df

def values(df: pd.DataFrame) -> list:
    return [c for c in df.columns if not c.startswith(NULL_MASK)]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    # rows sort by their values; the null masks only break ties, so a
    # NULL/NaN difference shows in its own column, not as a row shift
    cols = sorted(values(df))
    cols += [NULL_MASK + c for c in cols if NULL_MASK + c in df.columns]
    return df[cols].sort_values(by=cols, ignore_index=True, kind="stable",
                                key=lambda s: s.astype(str))

def shown(v: pd.Series, null, i: int) -> str:
    return "NULL" if null is not None and null.iloc[i] else repr(v.iloc[i])

results = {}
for d in sorted(glob.glob(f"{OUT_DIR}/*/")):
    name = os.path.basename(d.rstrip("/"))
    if ONLY and name not in ONLY:
        continue
    try:
        got = frame(pq.read_table(d))
    except Exception as e:
        results[name] = f"READ-FAIL {e}"
        continue
    if name not in oracles:
        results[name] = f"rows-only ({len(got)} rows)" + (" EMPTY!" if len(got) == 0 else "")
        continue
    try:
        con = fresh_con(threads=1 if name in SINGLE_THREADED else None)
        # the values through DuckDB's own pandas conversion (DECIMAL
        # becomes float64 there, an object column through Arrow's)
        res = con.execute(oracles[name]).arrow()
        want = frame(res, con.from_arrow(res).df())
        con.close()
    except Exception as e:
        results[name] = f"ORACLE-SQL-FAIL {e}"
        continue
    g, w = canon(got), canon(want)
    if values(g) != values(w):
        results[name] = f"SCHEMA-MISMATCH got={values(g)} want={values(w)}"
        continue
    if len(g) != len(w):
        results[name] = f"ROWCOUNT got={len(g)} want={len(w)}"
        continue
    dtype_diff = [(c, str(g[c].dtype), str(w[c].dtype)) for c in values(g)
                  if str(g[c].dtype) != str(w[c].dtype)]
    if dtype_diff:
        results[name] = f"DTYPE-DIFF {dtype_diff}"
        continue
    mismatch = None
    for c in values(g):
        gv, wv = g[c], w[c]
        gn = wn = None
        try:
            if NULL_MASK + c in g.columns:
                # null masks first, then the bit patterns of the non-null
                # values, as the gate hashes them: -0.0 != 0.0, and
                # every NaN equals every NaN
                gn, wn = g[NULL_MASK + c], w[NULL_MASK + c]
                neq = gn != wn
                if not neq.any():
                    ga, wa = gv.to_numpy(dtype=float), wv.to_numpy(dtype=float)
                    neq = pd.Series(~(gn.to_numpy() | (ga.view(np.int64) == wa.view(np.int64)) |
                                      (np.isnan(ga) & np.isnan(wa))))
            else:
                neq = ~((gv.astype(str) == wv.astype(str)) | (gv.isna() & wv.isna()))
        except Exception as e:
            mismatch = f"col {c}: compare error {e}"
            break
        if neq.any():
            i = int(neq.idxmax()) if hasattr(neq, 'idxmax') else int(neq.argmax())
            mismatch = (f"col {c}: {int(neq.sum())} diffs, first at row {i}: "
                        f"got={shown(gv, gn, i)} want={shown(wv, wn, i)}")
            break
    results[name] = "OK" if mismatch is None else f"VALUE-MISMATCH {mismatch}"
    print(f"progress: {name} {results[name][:40]}", file=sys.stderr, flush=True)

for name in sorted(set(list(results) +
    [k for k in oracles if k not in results and (not ONLY or k in ONLY)])):
    if name not in results:
        results[name] = "NO-PARQUET-OUTPUT"
    print(f"{name:28s} {results[name]}")

n_ok = sum(1 for v in results.values() if v == "OK" or v.startswith("rows-only"))
print(f"\n{n_ok}/{len(results)} pass")
# exit 0 only when rows were checked and every one passed
sys.exit(0 if results and n_ok == len(results) else 1)
