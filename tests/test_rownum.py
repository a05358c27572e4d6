"""Row-number injection: contiguity, offsets, order preservation, scale shape."""

from pyspark.sql import functions as F

from aircan_spark.rownum import max_id, with_row_number


def test_contiguous_from_one(spark):
    df = spark.range(1000).withColumnRenamed("id", "x")
    out = with_row_number(df, order_by=["x"])
    rows = out.orderBy("x").collect()
    assert [r["_id"] for r in rows] == list(range(1, 1001))
    assert out.columns[0] == "_id"


def test_max_id_coalesces_to_zero(spark):
    df = spark.createDataFrame([(3,), (7,), (None,)], "_id long")
    assert max_id(df) == 7
    assert max_id(df.filter("_id IS NULL")) == 0  # MAX over no values
    assert max_id(df.withColumnRenamed("_id", "x")) == 0  # no such column


def test_start_offset(spark):
    df = spark.range(10).withColumnRenamed("id", "x")
    out = with_row_number(df, start=501, order_by=["x"])
    ids = sorted(r["_id"] for r in out.collect())
    assert ids == list(range(501, 511))


def test_order_follows_sort_columns(spark):
    df = spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b"), (5, "e"), (4, "d")], ["k", "v"]
    )
    out = with_row_number(df, order_by=["k"])
    got = {r["k"]: r["_id"] for r in out.collect()}
    assert got == {1: 1, 2: 2, 3: 3, 4: 4, 5: 5}


def test_source_order_without_sort(spark, tmp_path):
    # File order must be reproduced when no order columns are given —
    # the ingest numbering contract (SURVEY §1.4).
    path = str(tmp_path / "src.csv")
    with open(path, "w") as fh:
        fh.write("val\n")
        for i in range(5000):
            fh.write(f"row_{i}\n")
    df = spark.read.option("header", "true").csv(path)
    out = with_row_number(df)
    rows = out.orderBy("_id").collect()
    assert [r["val"] for r in rows[:5]] == [f"row_{i}" for i in range(5)]
    assert rows[-1]["val"] == "row_4999"
    assert [r["_id"] for r in rows] == list(range(1, 5001))


def test_multi_partition_contiguity(spark):
    df = spark.range(0, 100_000).repartition(16).withColumnRenamed("id", "x")
    out = with_row_number(df, order_by=["x"])
    agg = out.agg(
        F.count("*").alias("n"),
        F.min("_id").alias("lo"),
        F.max("_id").alias("hi"),
        F.count_distinct("_id").alias("d"),
    ).collect()[0]
    assert (agg["n"], agg["lo"], agg["hi"], agg["d"]) == (100_000, 1, 100_000, 100_000)


def test_no_global_single_partition_window(spark):
    # The numbering plan must not contain a global (unpartitioned) window —
    # that is the 100 TB anti-pattern this module exists to avoid.
    df = spark.range(0, 10_000).repartition(8).withColumnRenamed("id", "x")
    out = with_row_number(df, order_by=["x"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
