"""Local stand-in for the driver's t2 correctness gate.

Runs every catalog query on Spark at the given sf dir AND its DuckDB oracle
on the same parquet, then compares row count, sorted column names, and an
order-insensitive value hash. Use while iterating:

    python tools/check_correctness.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time
from decimal import Decimal

import duckdb

# The repo root goes on this process's path AND on PYTHONPATH before the
# session starts, so Python workers import the package too from any cwd.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from counsel_data_pipeline_spark.catalog import all_queries
from counsel_data_pipeline_spark.io.sources import TABLES
from counsel_data_pipeline_spark.session import get_spark


def canon(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--driver-tz",
        default=None,
        metavar="ZONE",
        help="simulate the external driver: set the session timezone to ZONE "
        "(e.g. America/New_York) and route every query through the "
        "__spark_entry__ wrappers, which must force UTC at runtime — a "
        "green sweep here proves results don't depend on the driver's "
        "session defaults",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    queries = all_queries()
    names = args.names or list(queries)

    spark = get_spark("correctness-check")
    fns = {n: q.fn for n, q in queries.items()}
    if args.driver_tz:
        import __spark_entry__ as _entry

        # Local fn map, NOT mutation of the shared catalog Query objects.
        fns = _entry.queries()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    n_pass = n_fail = n_noracle = 0
    for name in names:
        q = queries[name]
        t0 = time.time()
        if args.driver_tz:
            # Re-pollute before EVERY query: the wrapper's tune_for_session
            # resets UTC session-wide on first use, which would otherwise
            # leave queries 2..N running under plain UTC and prove nothing
            # about their own wrappers.
            spark.conf.set("spark.sql.session.timeZone", args.driver_tz)
        try:
            sdf = fns[name](spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        if q.oracle is None:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_noracle += 1
            continue
        try:
            cur = con.execute(q.oracle)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
        if not problems:
            sh, oh = table_hash(scols, srows), table_hash(ocols, orows)
            if sh != oh:
                problems.append("value-hash mismatch")
                # Diagnostic: show first differing row pair.
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
                sset = sorted(tuple(canon(r[i]) for i in so) for r in srows)
                oset = sorted(tuple(canon(r[i]) for i in oo) for r in orows)
                for a, b in zip(sset, oset):
                    if a != b:
                        print(f"      first diff:\n       spark : {a}\n       duckdb: {b}")
                        break
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
