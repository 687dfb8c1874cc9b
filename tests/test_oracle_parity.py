"""Driver-shaped correctness gate: every declared query with an oracle must
hash-match its DuckDB result on the fixture tables (same comparison the
driver runs at sf=0.01; here at sf=0.001 for speed, overridable via
SPARK_GRAFT_TEST_SF_DIR)."""

from __future__ import annotations

import pytest

from streamprocessors_spark import plans
from tools.compare import compare_query, duckdb_conn

plans.load_all()

NAMES = sorted(plans.REGISTRY)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_conn(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(name, spark, sf_dir, con):
    q = plans.REGISTRY[name]
    df = q.fn(spark, sf_dir)
    if q.oracle is None:
        # Weaker rows-only check, mirroring the driver.
        n = df.count()
        assert n >= 0
        return
    res = compare_query(name, df, con, q.oracle)
    assert res.ok, (
        f"{name}: rows spark={res.spark_rows} duckdb={res.oracle_rows} "
        f"schema_match={res.schema_match} hash_match={res.hash_match} {res.detail}"
    )


def test_driver_contract_lists_registry_in_order():
    import __spark_entry__ as e

    assert list(e.queries()) == list(plans.REGISTRY)
    assert list(e.oracle_sql()) == [
        n for n, q in plans.REGISTRY.items() if q.oracle is not None
    ]
