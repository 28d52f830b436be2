"""Mimics the driver's correctness gate: run each queries() entry on Spark and
its oracle_sql() in DuckDB over the same parquet (sf0.001 for speed; the
driver uses sf0.01), compare row counts, column names, and values
(order-insensitive)."""

import math
import os

import duckdb
import pytest

from link_profiler_repo_spark.queries import SPARK_QUERIES, SQL_ORACLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _duck(sql: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def _norm_cell(v):
    # Wrap in (not-null, value) so None sorts uniformly vs any column type.
    if v is None:
        return (0, "")
    if isinstance(v, float):
        if math.isnan(v):
            return (1, "nan")
        return (1, round(v, 9))
    if hasattr(v, "isoformat"):
        return (1, v.isoformat())
    return (1, v)


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(_norm_cell(r[i]) for i in order) for r in rows
    ), sorted(cols)


@pytest.mark.parametrize("name", sorted(SQL_ORACLES))
def test_query_matches_duckdb_oracle(spark, name):
    sdf = SPARK_QUERIES[name](spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    d_cols, d_rows = _duck(SQL_ORACLES[name])

    s_vals, s_sorted_cols = _norm(s_cols, s_rows)
    d_vals, d_sorted_cols = _norm(d_cols, d_rows)

    assert s_sorted_cols == d_sorted_cols, f"{name}: column mismatch {s_sorted_cols} vs {d_sorted_cols}"
    assert len(s_vals) == len(d_vals), f"{name}: row count {len(s_vals)} vs {len(d_vals)}"
    mism = [(a, b) for a, b in zip(s_vals, d_vals) if a != b][:3]
    assert not mism, f"{name}: first value mismatches: {mism}"


def test_oracle_sql_identical_across_processes():
    """oracle_sql() must render the same text in every process: the gate
    export paths it interpolates are fixed, not keyed on the process."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import json, sys; sys.path.insert(0, '.'); import __spark_entry__ as e; "
        "sys.stdout.write(json.dumps(e.oracle_sql(), sort_keys=True))"
    )
    renders = [
        subprocess.run(
            [sys.executable, "-c", script], cwd=root, capture_output=True, check=True
        ).stdout
        for _ in range(2)
    ]
    assert renders[0] and renders[0] == renders[1]
