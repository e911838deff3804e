"""Every catalog gate against its DuckDB oracle at the suite's testdata
scale: row count, column names and an order-insensitive value hash must
match (rows-only gates must return rows) — the invariant "every oracle
hash-green" checked inside the test suite, not only by
``tools/check_oracles.py``."""

import pytest

from pimbloomfilters_spark.plans import CATALOG
from pimbloomfilters_spark.plans.oracle import oracle_db, run_gate


@pytest.fixture(scope="module")
def oracle(spark, sf_dir):
    from pimbloomfilters_spark.sources.tables import unpersist_tokens

    con = oracle_db(sf_dir)
    yield con
    con.close()
    unpersist_tokens(spark)


@pytest.mark.parametrize("name", list(CATALOG))
def test_gate_matches_oracle(spark, sf_dir, oracle, name):
    result = run_gate(spark, oracle, name, sf_dir)
    assert result.ok, result.report()
