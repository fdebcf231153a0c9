"""The local correctness gate must reproduce the driver's typing
sensitivity: the driver compares through pandas, where DuckDB HUGEINT
(e.g. a window ``sum()`` over BIGINT) arrives as float64 and the
stringified hash sees "32.0" != "32".  fetchall() silently converts
HUGEINT->int and would mask that class of oracle bug — round 3 shipped
exactly one (``pack_sequences``, CORRECTNESS_r03) because the local gate
used fetchall.  These tests pin the fetchdf path and prove it catches an
un-cast HUGEINT while an explicit CAST(... AS BIGINT) stays clean.
"""

import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

from tools.check_correctness import table_hash  # noqa: E402


def _oracle_rows(sql: str):
    od = duckdb.connect().execute(sql)
    cols = [d[0] for d in od.description]
    rows = list(od.fetchdf().itertuples(index=False, name=None))
    return cols, rows


HUGEINT_SQL = """
    SELECT x, sum(x) OVER (ORDER BY x
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
    FROM (SELECT unnest([1, 2, 3]) AS x)
"""


def test_uncast_hugeint_window_sum_breaks_the_hash():
    # Spark-side ints would hash as "1", "3", "6"; the HUGEINT column
    # arrives through pandas as float64 and must NOT hash equal.
    cols, rows = _oracle_rows(HUGEINT_SQL)
    spark_like = [(1, 1), (2, 3), (3, 6)]
    assert table_hash(cols, rows) != table_hash(cols, spark_like)


def test_cast_bigint_window_sum_hashes_clean():
    cols, rows = _oracle_rows(
        HUGEINT_SQL.replace("AS s", "") .replace(
            "sum(x) OVER (ORDER BY x",
            "CAST(sum(x) OVER (ORDER BY x",
        ).replace("CURRENT ROW)", "CURRENT ROW) AS BIGINT) AS s")
    )
    spark_like = [(1, 1), (2, 3), (3, 6)]
    assert table_hash(cols, rows) == table_hash(cols, spark_like)


def test_pack_sequences_oracle_outputs_are_bigint():
    # The three derived columns in the shipped oracle must fetch as int64
    # through pandas (the regression that was CORRECTNESS_r03's one red row).
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    df = con.execute(entry.oracle_sql()["pack_sequences"]).fetchdf()
    for col in ("seq_id", "tok_start", "tok_end", "n_tokens"):
        assert df[col].dtype.kind == "i", (col, df[col].dtype)


def test_oracle_sql_text_is_hashseed_independent():
    # Oracle texts are compared across processes; an entry built in set
    # iteration order (domain_islands once was) changes with PYTHONHASHSEED.
    import json
    import os
    import subprocess
    from pathlib import Path

    script = (
        "import json, __spark_entry__ as e; "
        "print(json.dumps(e.oracle_sql(), sort_keys=True))"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script],
            cwd=Path(__file__).resolve().parents[1],
            env={**os.environ, "PYTHONHASHSEED": seed},
            stdout=subprocess.PIPE,
            text=True,
        )
        for seed in ("1", "2")
    ]
    a, b = (json.loads(p.communicate(timeout=300)[0]) for p in procs)
    assert a.keys() == b.keys() and len(a) > 0
    assert [k for k in a if a[k] != b[k]] == []
