"""Iceberg backend: interface parity with the parquet-manifest catalog.

No Iceberg runtime jar exists in this container (offline), so the
round-trip test self-skips; what MUST hold offline is (a) the two
backends expose the same contract — method-for-method, parameter-for-
parameter — so every pipeline accepts either, and (b) the guard fails
loudly with configuration instructions instead of deep in a job.
"""

from __future__ import annotations

import inspect

import pytest

from customer_er_spark.catalog import SparkCatalog
from customer_er_spark.catalog_iceberg import IcebergCatalog, iceberg_available

CONTRACT = [
    "write_table", "append_table", "read_table", "table_meta",
    "snapshot_id", "has_snapshot", "get_state", "set_state",
    "drop_table", "list_tables", "create_database", "drop_database",
    "database", "ddl",
]


def test_interface_parity():
    for meth in CONTRACT:
        base = inspect.signature(getattr(SparkCatalog, meth))
        ice = inspect.signature(getattr(IcebergCatalog, meth))
        base_params = list(base.parameters)
        ice_params = list(ice.parameters)
        # every parameter a pipeline can pass to the parquet backend must
        # be accepted by the Iceberg backend under the same name
        assert base_params == ice_params or set(base_params) <= set(ice_params), (
            meth, base_params, ice_params,
        )


def test_unavailable_raises_clearly(spark):
    if iceberg_available(spark):
        pytest.skip("Iceberg IS available here; covered by the roundtrip test")
    with pytest.raises(RuntimeError, match="spark.sql.catalog"):
        IcebergCatalog(spark)


def test_iceberg_roundtrip(spark, tmp_path):
    """Full contract drive — runs only where an Iceberg catalog named
    'ice' is configured (see catalog_iceberg module docstring)."""
    if not iceberg_available(spark):
        pytest.skip("no Iceberg runtime jar in this container")
    cat = IcebergCatalog(spark, namespace="er_test")
    df = spark.range(0, 100).withColumnRenamed("id", "v")
    meta = cat.write_table(df, "t1", config_hash="abc", inputs={"x": "1"})
    assert meta["counts"]["rows_out"] == 100
    assert cat.has_snapshot("t1", "abc", {"x": "1"})
    snap0 = cat.snapshot_id("t1")
    cat.append_table(spark.range(100, 150).withColumnRenamed("id", "v"), "t1")
    assert cat.read_table("t1").count() == 150
    assert cat.snapshot_id("t1") != snap0  # append = new snapshot
    cat.set_state("fence", {"batch": 7})
    assert cat.get_state("fence") == {"batch": 7}
    with pytest.raises(ValueError):  # schema contract holds here too
        cat.append_table(spark.range(5).withColumnRenamed("id", "other"), "t1")
    cat.drop_table("t1")
    assert "t1" not in cat.list_tables()
