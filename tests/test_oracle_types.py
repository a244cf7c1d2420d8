"""Guard against the round-1 failure class: HUGEINT leaking into oracles.

DuckDB promotes SUM(BIGINT) to HUGEINT (Arrow decimal128), which the
driver's type-sensitive value hash can never match against Spark's
int64. Every oracle's result types are read with DuckDB ``DESCRIBE <sql>``
(binds and plans the query without executing it) and swept for DECIMAL or
HUGEINT anywhere in the type, nested and list types included; a bare SUM
added to any future oracle fails this test immediately instead of a
correctness round later. Execution of every oracle stays covered by
tests/test_oracle_parity.py.
"""

from __future__ import annotations

import duckdb
import pytest

from maap_data_pipelines_spark import registry
from maap_data_pipelines_spark.sources.catalog import TABLES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def _bad_fields(con, sql: str) -> list[str]:
    return [
        f"{name}: {typ}"
        for name, typ, *_ in con.execute(f"DESCRIBE {sql}").fetchall()
        if "DECIMAL" in typ or "HUGEINT" in typ
    ]


def test_describe_flags_hugeint(con):
    """Negative control: the sweep must catch a bare SUM(BIGINT)."""
    sql = "SELECT SUM(CAST(o_orderkey AS BIGINT)) AS s FROM orders"
    assert _bad_fields(con, sql) == ["s: HUGEINT"]
    assert _bad_fields(con, "SELECT [1.5::DECIMAL(4,1)] AS l") == ["l: DECIMAL(4,1)[]"]


def test_no_hugeint_in_any_oracle(con):
    oracles = registry.oracle_sql()
    assert oracles, "registry has no oracles?"
    offenders = {}
    for name, sql in oracles.items():
        bad = _bad_fields(con, sql)
        if bad:
            offenders[name] = bad
    assert not offenders, f"HUGEINT/decimal in oracle outputs: {offenders}"
