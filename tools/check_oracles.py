"""Local stand-in for the driver's correctness gate: run every
__spark_entry__.queries() entry and its oracle_sql() side-by-side at sf0.01,
compare row count, column names, and the order-insensitive multiset of
stringified rows.

Usage: python tools/check_oracles.py [--json PATH] [query_name ...]

``--json PATH`` writes a per-query artifact (same shape as the driver's
CORRECTNESS_r{N}.json) so the FULL local sweep — including entries past
the driver's 50-slot window — ships as committed evidence each round.
"""

from __future__ import annotations

import json
import sys
import time
from decimal import Decimal

import duckdb

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry_mod  # noqa: E402
from ethereum_etl_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if v is None:
        return "<null>"
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def row_key(row):
    return tuple(norm(v) for v in row)


def main(argv: list[str] | None = None) -> int:
    args = sys.argv[1:] if argv is None else list(argv)
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        args = args[:i] + args[i + 2:]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    spark = get_spark("oracle-check")
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(args)
    failures = []
    report: dict[str, dict] = {}

    def record(name, **kw):
        base = {
            "rows_match": False, "schema_match": False, "hash_match": False,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        base.update(kw)
        report[name] = base

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sorted(sdf.columns)
            srows = sdf.collect()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures.append(name)
            record(name, err=f"spark: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            if len(srows) == 0:
                print(f"WARN {name}: 0 rows")
            # nothing checked the rows: rows_match is unknown, not True
            record(name, rows_match=None, spark_rows=len(srows),
                   err="rows-only (no oracle)")
            continue
        try:
            cur = con.execute(oracles[name])
            dall = cur.fetchall()
            rawcols = [d[0] for d in cur.description]
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures.append(name)
            record(name, spark_rows=len(srows), err=f"duckdb: {e}")
            continue
        dcols = sorted(rawcols)
        if scols != dcols:
            print(f"FAIL {name}: columns {scols} != {dcols}")
            failures.append(name)
            record(name, spark_rows=len(srows), oracle_rows=len(dall),
                   rows_match=len(srows) == len(dall),
                   err=f"columns {scols} != {dcols}")
            continue
        if len(srows) != len(dall):
            print(f"FAIL {name}: rowcount {len(srows)} != {len(dall)}")
            failures.append(name)
            record(name, spark_rows=len(srows), oracle_rows=len(dall),
                   schema_match=True)
            continue
        order = [rawcols.index(c) for c in dcols]
        sset = sorted(row_key([r[c] for c in scols]) for r in srows)
        dset = sorted(row_key([r[i] for i in order]) for r in dall)
        if sset != dset:
            bad = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
            print(f"FAIL {name}: value mismatch, e.g. {bad}")
            failures.append(name)
            record(name, spark_rows=len(srows), oracle_rows=len(dall),
                   rows_match=True, schema_match=True,
                   err="value mismatch")
            continue
        tag = "ok  " if len(srows) else "ok0 "
        print(f"{tag} {name}: {len(srows)} rows match ({time.time() - t0:.1f}s)")
        if len(srows) == 0:
            print(f"WARN {name}: 0 rows (trivially matching)")
        record(name, rows_match=True, schema_match=True, hash_match=True,
               spark_rows=len(srows), oracle_rows=len(dall))
    if json_path:
        with open(json_path, "w") as f:
            json.dump(report, f, indent=2)
        print(f"wrote {json_path} ({len(report)} queries)")
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall checked queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
