from __future__ import annotations

import pytest
from pyspark.sql import types as T

from selium_spark import SchemaMismatchError, schema_hash
from selium_spark.sources.tables import TABLES


def test_register_and_read(spark, catalog):
    df = catalog.read("sel://testdata/lineitem")
    assert df.count() > 0
    assert "l_orderkey" in df.columns


def test_schema_hash_stability():
    s1 = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    s2 = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.StringType())])
    s3 = T.StructType([T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())])
    assert schema_hash(s1) == schema_hash(s2)
    assert schema_hash(s1) != schema_hash(s3)
    assert len(schema_hash(s1)) == 32  # 16 bytes hex


def test_strict_hash_gate(spark, catalog):
    entry = catalog.get("sel://testdata/events")
    assert catalog.read("sel://testdata/events", expected_hash=entry.hash) is not None
    with pytest.raises(SchemaMismatchError):
        catalog.read("sel://testdata/events", expected_hash="0" * 32)


def test_glob_lookup(spark, catalog):
    matches = catalog.lookup("sel://testdata/*")
    assert len(matches) == len(TABLES)
    assert catalog.lookup("sel://testdata/nation")[0].uri == "sel://testdata/nation"


def test_ddl_schema_registration(spark, catalog, tmp_path):
    df = spark.range(3).selectExpr("id as a", "cast(id as string) as b")
    path = str(tmp_path / "t")
    df.write.parquet(path)
    entry = catalog.insert("sel://tmp/t", path, schema="a BIGINT, b STRING")
    assert catalog.read("sel://tmp/t").count() == 3
    assert entry.hash == schema_hash(entry.schema)
