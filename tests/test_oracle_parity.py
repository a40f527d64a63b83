"""Runs every queries() entry against its oracle_sql() via DuckDB —
the local mirror of the driver's CORRECTNESS gate."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry_mod
from tests.oracle import compare

QUERY_NAMES = sorted(entry_mod.queries().keys())


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, sf_dir, name):
    fn = entry_mod.queries()[name]
    df = fn(spark, sf_dir)
    sql = entry_mod.oracle_sql().get(name)
    if sql is None:
        assert df.count() >= 0  # rows-only check (non-SQL-expressible op)
        return
    issues = compare(df, sql, sf_dir)
    assert not issues, f"{name}: " + "; ".join(issues[:6])


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.schema is not None


def test_ai_doi_list_seq_collision_keeps_one_row(spark, tmp_path):
    """Source 49's seq is o_orderkey and source 28's is doc_id + 10M,
    so from o_orderkey 10M (TPC-H SF ~1.7) a pair can tie on both doi
    and seq. The source id completes the order: one row per doi, and
    the greater source id ('49') wins."""
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array([10_000_003, 10_000_004], pa.int64()),
            "o_custkey": pa.array([1, 1], pa.int64()),
            "o_orderstatus": ["F", "F"],
            "o_totalprice": [1.0, 1.0],
            "o_orderdate": pa.array([datetime.datetime(1995, 1, 1)] * 2, pa.timestamp("us")),
            "o_orderpriority": ["1-URGENT", "1-URGENT"],
        }),
        tmp_path / "orders.parquet",
    )
    pq.write_table(
        pa.table({
            "doc_id": pa.array([3, 7], pa.int64()),
            "text": ["a", "b"],
            "lang": ["en", "en"],
            "source": ["web", "web"],
            "n_chars": pa.array([1, 1], pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )
    sf_dir = str(tmp_path)
    df = entry_mod.queries()["ai_doi_list"](spark, sf_dir)
    got = sorted(tuple(r) for r in df.collect())
    assert got == [
        ("10.1/3", "10000003", "49"),
        ("10.1/4", "10000004", "49"),
        ("10.1/7", "d7", "28"),
    ]
    issues = compare(df, entry_mod.oracle_sql()["ai_doi_list"], sf_dir)
    assert not issues, issues
