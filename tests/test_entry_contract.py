"""Self-check of the driver contract: every ``queries()`` entry with an
``oracle_sql()`` twin must match DuckDB exactly (row count, schema-compatible
columns, order-insensitive values) at sf0.01 — the same comparison the
driver's CORRECTNESS gate runs."""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def rows_canon(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in idx) for r in rows]
    return sorted(out, key=lambda t: tuple((v is None, str(type(v)), v) for v in t))


ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    got_cols = df.columns
    got = rows_canon(got_cols, [tuple(r) for r in df.collect()])
    res = duck.execute(ORACLES[name])
    want_cols = [d[0] for d in res.description]
    want = rows_canon(want_cols, res.fetchall())
    assert sorted(got_cols) == sorted(want_cols), (got_cols, want_cols)
    assert len(got) == len(want), f"{name}: {len(got)} rows vs oracle {len(want)}"
    mism = [(a, b) for a, b in zip(got, want) if a != b][:3]
    assert not mism, f"{name}: first mismatches {mism}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0 and len(df.columns) > 0


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_scan_bytes_sees_a_grown_directory(tmp_path):
    """The scan-size probe re-reads file metadata on every call: a directory
    that grows between two calls reports the larger size."""
    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x" * 100)
    (d / "_SUCCESS").write_bytes(b"")
    assert entrymod._scan_bytes(str(d)) == 100
    (d / "part-1.parquet").write_bytes(b"y" * 250)
    assert entrymod._scan_bytes(str(d)) == 350
