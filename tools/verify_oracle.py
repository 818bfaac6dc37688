"""Local clone of the driver's correctness gate.

Runs every registered query on Spark and its oracle SQL on DuckDB over
the same parquet tables, then compares row count, column names, and an
order-insensitive multiset of normalized row values. Stricter than the
driver (exact value equality after in-query rounding) — if this
passes, the driver's hash comparison should too.

Usage:
    python tools/verify_oracle.py [--sf /root/testdata/sf0.01] \
        [--queries q_a,q_b] [--rows-only-too] [--digest PATH]

``--digest PATH`` writes one line per query: the md5 of the columns
and sorted multiset rows of the Spark result and of the oracle result.
Diffing the files written from two checkouts at the same scale factor
checks that a refactor kept every answer.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time
import traceback
from collections import Counter

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_to_parquet_spark import registry  # noqa: E402
from kafka_to_parquet_spark.session import get_spark  # noqa: E402
from kafka_to_parquet_spark.tables import TABLE_NAMES  # noqa: E402


def norm_value(v):
    import datetime
    import math

    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        return repr(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm_value(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalar/array
        return norm_value(v.tolist())
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bool):
        return repr(v)
    return repr(v)


def df_to_multiset(pdf) -> tuple[list[str], Counter]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = Counter()
    for row in pdf.itertuples(index=False, name=None):
        rows[tuple(norm_value(v) for v in row)] += 1
    return cols, rows


def digest(cols: list[str], rows: Counter) -> str:
    """md5 of the column names and the sorted rows of a multiset."""
    h = hashlib.md5(repr(cols).encode())
    for r in sorted(repr(r) for r in rows.elements()):
        h.update(r.encode())
    return h.hexdigest()


def diff_preview(a: Counter, b: Counter, n: int = 3) -> str:
    only_a = list((a - b).items())[:n]
    only_b = list((b - a).items())[:n]
    out = []
    for row, cnt in only_a:
        out.append(f"    spark-only ×{cnt}: {row}")
    for row, cnt in only_b:
        out.append(f"    oracle-only ×{cnt}: {row}")
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--queries", default="")
    ap.add_argument("--rows-only-too", action="store_true",
                    help="also execute queries with no oracle (check they run)")
    ap.add_argument("--plain-session", action="store_true",
                    help="driver-fidelity mode: bare default SparkSession "
                         "(no UTC pin, no tuned confs) like the driver's own")
    ap.add_argument("--digest", metavar="PATH",
                    help="write per-query md5s of the Spark and oracle rows")
    args = ap.parse_args()

    registry.load_all()
    if args.plain_session:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[32]").appName("driver_sim").getOrCreate()
    else:
        spark = get_spark("verify_oracle")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')")

    names = [q.strip() for q in args.queries.split(",") if q.strip()] or sorted(
        registry.QUERIES
    )
    n_pass = n_fail = n_rows_only = 0
    failures = []
    digests = {}
    for name in names:
        fn = registry.QUERIES[name]
        oracle = registry.ORACLE_SQL.get(name)
        t0 = time.time()
        if oracle is None and not args.rows_only_too:
            continue
        digests[name] = "ERROR"
        try:
            sdf = fn(spark, args.sf)
            spdf = sdf.toPandas()
            scols, srows = df_to_multiset(spdf)
            digests[name] = f"spark={digest(scols, srows)}"
            if oracle is None:
                n_rows_only += 1
                print(f"ROWS-ONLY {name}: {len(spdf)} rows  [{time.time()-t0:.1f}s]")
                continue
            # Arrow keeps date32 as dates (DuckDB's .df() widens them
            # to midnight datetimes, which would false-fail vs Spark).
            opdf = con.sql(oracle).arrow().to_pandas(date_as_object=True)
            ocols, orows = df_to_multiset(opdf)
            digests[name] += f" oracle={digest(ocols, orows)}"
            problems = []
            if len(spdf) != len(opdf):
                problems.append(f"rowcount spark={len(spdf)} oracle={len(opdf)}")
            if scols != ocols:
                problems.append(f"columns spark={scols} oracle={ocols}")
            elif srows != orows:
                ndiff = sum((srows - orows).values()) + sum((orows - srows).values())
                problems.append(f"values differ ({ndiff} row-instances)\n"
                                + diff_preview(srows, orows))
            if problems:
                n_fail += 1
                failures.append(name)
                print(f"FAIL      {name}  [{time.time()-t0:.1f}s]")
                for p in problems:
                    print(f"    {p}")
            else:
                n_pass += 1
                print(f"PASS      {name}: {len(spdf)} rows  [{time.time()-t0:.1f}s]")
        except Exception:
            n_fail += 1
            failures.append(name)
            print(f"ERROR     {name}  [{time.time()-t0:.1f}s]")
            traceback.print_exc(limit=8)

    if args.digest:
        with open(args.digest, "w") as f:
            f.writelines(f"{n} {d}\n" for n, d in digests.items())
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only, "
          f"{len(names)} total @ {args.sf}")
    if failures:
        print("failures:", ",".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
