"""The declared table schemas match what the fixture files hold."""

from __future__ import annotations

import pytest

from mapreduce_big_data_processing_spark import catalog


@pytest.mark.parametrize("name", sorted(catalog.TABLES))
def test_declared_types_match_loaded_schema(spark, sf_dir, name):
    """Every column of ``TABLES[name]`` has the name and type that
    ``catalog.load`` returns, in file order (the order dates of orders and
    lineitem are TIMESTAMP_NTZ in the files)."""
    declared = [(f.name, f.dataType) for f in catalog.TABLES[name].fields]
    loaded = [(f.name, f.dataType) for f in catalog.load(spark, name, sf_dir).schema]
    assert declared == loaded
