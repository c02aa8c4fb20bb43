"""Guard the driver contract: entry() produces rows with a stable schema; every
query runs at sf0.001; every oracle key has a query."""

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "poly_id", "n_points", "min_lon", "max_lon", "min_lat", "max_lat",
    ]


def test_oracle_keys_subset_of_queries():
    qs = entry_mod.queries()
    os_ = entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30


@pytest.mark.parametrize("name", sorted(entry_mod.queries()))
def test_query_runs_at_smallest_sf(spark, name):
    df = entry_mod.queries()[name](spark, SF)
    assert df.count() >= 0  # runs without error; value checks live in the oracle


@pytest.mark.parametrize("name", ["raster_field", "routing"])
def test_query_runs_at_smallest_sf_arrow_off(arrow_off, name):
    """The queries whose operators take driver-side paths also run on a
    session with Arrow-based pandas conversion off."""
    test_query_runs_at_smallest_sf(arrow_off, name)
