"""Every __spark_entry__ query vs its DuckDB oracle (driver-gate replica)."""

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_CORRECT
from tests.oracle_harness import compare, duckdb_con

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duckdb_con(SF_CORRECT)
    yield c
    c.close()


def test_every_query_has_callable():
    assert QUERIES, "no queries registered"
    for name, fn in QUERIES.items():
        assert callable(fn), name


def test_oracle_keys_subset_of_queries():
    assert set(ORACLES) <= set(QUERIES), set(ORACLES) - set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, con, name):
    df = QUERIES[name](spark, SF_CORRECT)
    compare(df, con, ORACLES[name], name=name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_query_runs(spark, name):
    """Every remaining oracle-less key is a report/sketch/ANN/trainer
    whose gate-SF output is non-empty by construction (top-k over a
    non-empty query set, 1-row sketch aggregates, k-cluster reports,
    ...), so emptiness means the operator broke — assert > 0, not the
    vacuous >= 0 this used to be. Value-level behavior for these keys
    is pinned by their unit goldens/invariant tests, not here."""
    df = QUERIES[name](spark, SF_CORRECT)
    assert df.count() > 0, f"{name}: rows-only operator returned an empty frame"


def test_registry_has_no_collisions_or_dangling_priority_keys():
    """queries()/oracle_sql() merge the modules' dicts with update, so
    a key registered twice would silently shadow the earlier module's,
    and queries() silently skips a _PRIORITY key nobody registered."""
    for attr in ("QUERIES", "ORACLES"):
        owner: dict[str, str] = {}
        for m in entrymod._MODULES:
            for key in getattr(m, attr):
                assert key not in owner, (
                    f"{attr}: {key} registered by {owner[key]} and {m.__name__}"
                )
                owner[key] = m.__name__
    missing = [k for k in entrymod._PRIORITY if k not in QUERIES]
    assert not missing, missing
    assert len(QUERIES) == 332
    assert len(ORACLES) == 314


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.schema.fieldNames()
