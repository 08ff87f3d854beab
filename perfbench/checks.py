#!/usr/bin/env python3
"""Output checks made apart from the engine.

ETL: the parquet destination, the JSON destination and the DLQ are read
back and compared record by record with the generator's expectations
(cdcgen.py): every surviving record exactly once in each destination,
the DLQ holding exactly the records the error processor fails, each with
its error message, and the records the filter drops nowhere.

Analytics: each query's result is compared with DuckDB running the
query's own `SparkEntry.oracleSql` on the same parquet files. Floats are
compared by bit pattern (-0.0 differs from 0.0, every NaN equals every
NaN); other values by type and value; rows as a multiset.

DuckDB results are cached under .bench_build/oracle-cache, keyed by the
SQL text and the bytes of the input tables. To regenerate every cached
result:

    python3 perfbench/checks.py --regen-oracle
"""
import decimal
import glob
import hashlib
import json
import math
import os
import re
import shutil
import struct
import sys

import cdcgen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CACHE = os.path.join(BUILD, "oracle-cache")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


# ------------------------------------------------------------------ ETL

def _as_obj(v):
    if v is None or isinstance(v, dict):
        return v
    return json.loads(v)


def _record(operation, meta, before, after):
    """(id, checked tuple) of one output record (cdcgen.checked_tuple);
    the id is None for a record that lost it."""
    before, after = _as_obj(before), _as_obj(after)
    body = after if after is not None else before
    rec_id = body.get("id") if body is not None else None
    return rec_id, cdcgen.checked_tuple(rec_id, after, operation, meta.get("bench.tag"))


def _strings(v):
    if isinstance(v, str):
        yield v
    elif isinstance(v, dict):
        for x in v.values():
            yield from _strings(x)
    elif isinstance(v, list):
        for x in v:
            yield from _strings(x)


def read_parquet(path):
    """(id, checked tuple, None) per record of a parquet output."""
    import pyarrow.parquet as pq
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return []
    t = pq.read_table(files, columns=["operation", "metadata", "payload_before",
                                      "payload_after"])
    cols = t.to_pydict()
    return [_record(op, dict(meta or []), before, after) + (None,)
            for op, meta, before, after in zip(cols["operation"], cols["metadata"],
                                               cols["payload_before"], cols["payload_after"])]


def read_json(path):
    """(id, checked tuple, the record's strings) per record of a JSON
    output."""
    out = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        if f.endswith(".crc"):
            continue
        with open(f) as fh:
            for line in fh:
                if not line.strip():
                    continue
                r = json.loads(line)
                payload = r.get("payload") or {}
                out.append(_record(r.get("operation"), r.get("metadata") or {},
                                   payload.get("before"), payload.get("after"))
                           + (list(_strings(r)),))
    return out


def check_output(name, rows, want, known, message=None):
    """Checks one output against `want` (id → checked tuple): each of its
    records exactly once with that tuple and no other record, and with
    `message` (a function of the id), when given, among its strings.
    Returns the ids of the records it got wrong, and problems with rows
    that belong to no generated record."""
    got = {}
    problems = []
    for rec_id, key, strings in rows:
        if rec_id not in known:
            problems.append(f"{name}: a record with unknown id {rec_id!r}")
            continue
        got.setdefault(rec_id, []).append((key, strings))
    failed = set(got) - set(want)  # records that belong elsewhere
    for rec_id, key in want.items():
        seen = got.get(rec_id, [])
        if [k for k, _ in seen] != [key]:
            failed.add(rec_id)
        elif message is not None:
            # "rejected 12" must not pass for a record that carries "rejected 123"
            pattern = re.compile(re.escape(message(rec_id)) + r"(?!\d)")
            if not any(pattern.search(s) for s in seen[0][1]):
                failed.add(rec_id)
    return failed, problems


def dlq_message(rec_id):
    """The error the pipeline's `error` processor attaches (GraftBench.chain)."""
    return f"rejected {rec_id}"


def check_etl(exp, out_dir):
    """Checks one pass of the pipeline: its parquet and JSON destinations
    and its DLQ against cdcgen.expectations. Returns the ids of the records
    any output got wrong (missing, duplicated, altered, in the wrong
    output, or in the DLQ without their error message), and problems with
    rows that belong to no generated record."""
    known = set().union(*exp.values())
    failed, problems = set(), []
    for name, rows, want, message in (
            ("parquet", read_parquet(os.path.join(out_dir, "parquet")), exp["dest"], None),
            ("json", read_json(os.path.join(out_dir, "json")), exp["dest"], None),
            ("dlq", read_json(os.path.join(out_dir, "dlq")), exp["dlq"], dlq_message)):
        f, p = check_output(name, rows, want, known, message)
        failed |= f
        problems += p
    return failed, problems


# ------------------------------------------------------------ analytics

def canon(v):
    """A hashable, totally ordered form of one value. Floats keep their
    bit pattern, except that every NaN maps to one token."""
    if v is None:
        return ("0",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", struct.pack(">d", v).hex())
    if isinstance(v, decimal.Decimal):
        return ("d", str(v))
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, bytes):
        return ("y", v.hex())
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), canon(x)) for k, x in v.items())))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    return ("o", str(v))


def canon_table(table):
    """Columns by name, rows as a sorted multiset of canonical tuples."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted(tuple(canon(c[i]) for c in cols) for i in range(table.num_rows))
    return names, rows


def compare_tables(got, want):
    """None when equal, else a one-line description of the first difference."""
    gn, gr = canon_table(got)
    wn, wr = canon_table(want)
    if gn != wn:
        return f"columns {gn} != {wn}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            for n, x, y in zip(gn, a, b):
                if x != y:
                    return f"row {i} column {n}: {x} != {y}"
    return None


def _data_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        f = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(f):
            h.update(t.encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _run_duckdb(sql, data_dir, threads):
    import duckdb
    con = duckdb.connect()
    try:
        con.execute(f"PRAGMA threads={threads}")
        con.execute("PRAGMA memory_limit='2GB'")
        for t in TABLES:
            f = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(f):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
        return con.execute(sql).arrow()
    finally:
        con.close()


def oracle(sql, data_dir, threads):
    """DuckDB's result for one oracle SQL, from the cache when present."""
    import pyarrow.parquet as pq
    key = hashlib.sha256((sql + "\0" + _data_digest(data_dir)).encode()).hexdigest()
    path = os.path.join(CACHE, key + ".parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    table = _run_duckdb(sql, data_dir, threads)
    os.makedirs(CACHE, exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    with open(os.path.join(CACHE, key + ".json"), "w") as fh:
        json.dump({"sql": sql, "data": os.path.relpath(data_dir, ROOT)}, fh)
    return pq.read_table(path)


def check_query(name, sql, out_dir, data_dir, threads):
    """None when the query's output equals the oracle's, else why not."""
    import pyarrow.parquet as pq
    if sql is None:
        return "no oracle SQL"
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return "no output"
    got = pq.read_table(files)
    want = oracle(sql, data_dir, threads)
    return compare_tables(got, want)


def regen_oracle(threads):
    entries = sorted(glob.glob(os.path.join(CACHE, "*.json")))
    specs = [json.load(open(e)) for e in entries]
    shutil.rmtree(CACHE, ignore_errors=True)
    for s in specs:
        oracle(s["sql"], os.path.join(ROOT, s["data"]), threads)
    print(f"regenerated {len(specs)} oracle results in {CACHE}")


if __name__ == "__main__":
    if sys.argv[1:] == ["--regen-oracle"]:
        regen_oracle(threads=len(os.sched_getaffinity(0)))
    else:
        print(__doc__)
        sys.exit(2)
