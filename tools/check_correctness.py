"""Local approximation of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry at sf0.01 next to its ``oracle_sql()`` and
compares row count, column-name set, and an order-insensitive value hash
(columns sorted by name, rows sorted by stringified values). Floats are
normalized via repr of round(9) to absorb engine formatting noise while
still catching real numeric differences. Every ``ok`` and ``rows`` line
prints the Spark side's hash, so two checkouts' outputs can be diffed.

Usage: python tools/check_correctness.py [name ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"


def norm_cell(v):
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 9))
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(only: list[str]) -> int:
    import duckdb

    import __spark_entry__ as entry
    from readur_spark.session import get_spark

    spark = get_spark(app_name="correctness")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL  {name:24s} spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(
                f"rows  {name:24s} n={len(rows)} hash={table_hash(cols, rows)} "
                f"(rows-only, no oracle) {time.time()-t0:.1f}s"
            )
            if len(rows) == 0:
                print(f"      WARNING: {name} returned 0 rows")
            continue
        try:
            od = con.execute(oracles[name])
            ocols = [d[0] for d in od.description]
            # Fetch through pandas (fetchdf), not fetchall: the driver's
            # compare goes through pandas, where DuckDB HUGEINT (e.g. the
            # result of a window sum) arrives as float64 and hashes as
            # "32.0" != "32".  fetchall silently converts HUGEINT->int and
            # would mask exactly that class of oracle typing bug.
            odf = od.fetchdf()
            orows = list(odf.itertuples(index=False, name=None))
        except Exception as e:
            print(f"FAIL  {name:24s} oracle error: {e}")
            failures += 1
            continue
        problems = []
        if len(rows) != len(orows):
            problems.append(f"rowcount {len(rows)} vs {len(orows)}")
        if sorted(cols) != sorted(ocols):
            problems.append(f"cols {sorted(cols)} vs {sorted(ocols)}")
        else:
            h1, h2 = table_hash(cols, rows), table_hash(ocols, orows)
            if h1 != h2:
                problems.append(f"valuehash {h1} vs {h2}")
        if problems:
            failures += 1
            print(f"FAIL  {name:24s} {'; '.join(problems)}  {time.time()-t0:.1f}s")
        else:
            print(f"ok    {name:24s} n={len(rows)} hash={h1}  {time.time()-t0:.1f}s")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


def _parse_only(argv: list[str]) -> list[str]:
    """Accept names as plain args, comma-joined, or after --only; a
    requested name that doesn't exist is an error (a silent no-match would
    make the gate vacuously green)."""
    names: list[str] = []
    for a in argv:
        if a == "--only":
            continue
        names.extend(n for n in a.split(",") if n)
    return names


if __name__ == "__main__":
    _only = _parse_only(sys.argv[1:])
    if _only:
        import __spark_entry__ as _e

        _unknown = sorted(set(_only) - set(_e.queries()))
        if _unknown:
            raise SystemExit(f"unknown query names: {_unknown}")
    raise SystemExit(main(_only))
