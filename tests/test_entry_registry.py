"""Local replica of the driver's verify: every queries() entry runs at
sf=0.01; SQL-oracled entries must match DuckDB on row count, column names,
and order-insensitive values; rows-only entries must at least execute and
return a stable schema. entry(spark) must return >0 rows on sf0.001."""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as entrymod
import bench

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _normalize(df):
    """Sort columns by name, then rows by repr — order-insensitive compare."""
    cols = sorted(df.columns)
    rows = []
    for tup in df[cols].itertuples(index=False):
        row = []
        for v in tup:
            if isinstance(v, float):
                row.append(round(v, 6) if not math.isnan(v) else "nan")
            else:
                row.append(v)
        rows.append(tuple(row))
    return cols, sorted(map(repr, rows))


def test_bench_headline_is_registered():
    # bench.py times reg[name] for every headline name; a registry deletion
    # that leaves a stale name would only surface as a KeyError mid-bench
    missing = [n for n in bench.HEADLINE if n not in entrymod.queries()]
    assert not missing, f"bench.HEADLINE names unregistered queries: {missing}"


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "cluster_id" in df.columns


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
def test_sql_oracled_queries_match_duckdb(spark, duck, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql()[name]
    got = q(spark, SF_DIR).toPandas()
    exp = duck.execute(sql).fetchdf()
    gcols, grows = _normalize(got)
    ecols, erows = _normalize(exp)
    assert gcols == ecols, f"{name}: column names differ: {gcols} vs {ecols}"
    assert len(grows) == len(erows), f"{name}: row count {len(grows)} vs {len(erows)}"
    assert grows == erows, f"{name}: value mismatch, e.g. {next(iter(set(grows) ^ set(erows)), None)}"


@pytest.mark.parametrize(
    "name",
    sorted(set(entrymod.queries().keys()) - set(entrymod.oracle_sql().keys())),
)
def test_rows_only_queries_execute(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    pdf = df.toPandas()
    assert len(pdf.columns) > 0
    # replicate the driver's canonicalizer: sort rows by every column. An
    # array/list-valued column makes pandas sort_values raise (unhashable
    # list in factorize) and the driver records the query as `err` forever
    # (the r1 failure mode for docs_minhash_signatures)
    pdf.sort_values(by=list(pdf.columns))
