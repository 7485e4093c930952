"""Every query the mix names is registered and has a DuckDB oracle, and
every table the mix reads is committed."""

import os

import pytest

import workloads


@pytest.mark.parametrize("name", workloads.EAGER_MIX)
def test_mix_query_registered_with_oracle(name):
    from retail_etl_pipeline_spark import registry

    assert name in registry.QUERIES
    assert registry.ORACLES.get(name)


@pytest.mark.parametrize("table", workloads.MIX_TABLES)
def test_mix_table_committed(table):
    assert os.path.isfile(os.path.join(workloads.FIXTURE_DIR, f"{table}.parquet"))
