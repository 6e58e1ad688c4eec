"""The oracle side of the output check, without a Spark session."""

import datetime as dt

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from perfbench import gen
from perfbench.check import Oracle, read_sink
from perfbench.workloads import WORKLOADS
from tests.oracle_harness import canonicalize, duckdb_con

ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def tiers(tmp_path_factory):
    root = tmp_path_factory.mktemp("inputs")
    return {
        (tier, seed): gen.ensure_inputs(str(root), tier, seed)
        for tier in {w.tier for w in WORKLOADS.values()}
        for seed in (1, 2)
    }


def test_every_key_has_an_oracle():
    for w in WORKLOADS.values():
        for key in w.keys:
            assert key in ORACLES, key


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_oracle_digests_do_not_depend_on_the_seed(tiers, workload):
    w = WORKLOADS[workload]
    cons = [duckdb_con(tiers[(w.tier, seed)]) for seed in (1, 2)]
    try:
        for key in w.keys:
            a, b = (canonicalize(con.sql(ORACLES[key]).df()) for con in cons)
            assert a == b, key
            assert a, f"{key}: empty oracle result would make the check hollow"
    finally:
        for con in cons:
            con.close()


def test_a_planted_wrong_result_is_reported(tiers):
    key = "q18_large_orders"
    sf_dir = tiers[(WORKLOADS["bi_star_queries_sf1"].tier, 1)]
    oracle, con = Oracle(sf_dir, ORACLES), duckdb_con(sf_dir)
    try:
        right = con.sql(ORACLES[key]).df()
        assert oracle.mismatch(key, right) is None
        wrong = right.copy()
        wrong.iloc[0, 0] = wrong.iloc[1, 0]
        assert "mismatch" in oracle.mismatch(key, wrong)
        assert "rowcount" in oracle.mismatch(key, right.iloc[1:])
        assert "columns" in oracle.mismatch(key, right.rename(columns={right.columns[0]: "x"}))
    finally:
        oracle.close()
        con.close()


def test_read_sink_returns_naive_utc_timestamps(tmp_path):
    ts = dt.datetime(2024, 1, 2, 3, 4, 5)
    table = pa.table({"k": [1], "ts": pa.array([ts], pa.timestamp("us", tz="UTC"))})
    pq.write_table(table, tmp_path / "part-00000.parquet")
    pdf = read_sink(str(tmp_path))
    assert pdf["ts"].dt.tz is None
    assert canonicalize(pdf) == canonicalize(pd.DataFrame({"k": [1], "ts": [pd.Timestamp(ts)]}))
