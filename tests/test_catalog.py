from sheep_spark import catalog


def test_parquet_roundtrip_and_partitioned(spark, tmp_path):
    df = spark.createDataFrame([(1, "a", 0), (2, "b", 1), (3, "c", 1)], "id long, s string, part int")
    ref = str(tmp_path / "t1")
    df.write.parquet(ref)
    back = catalog.read_table(spark, ref)
    assert sorted(tuple(r) for r in back.collect()) == sorted(tuple(r) for r in df.collect())

    ref2 = str(tmp_path / "t2")
    df.write.partitionBy("part").parquet(ref2)
    assert catalog.read_table(spark, ref2).count() == 3
