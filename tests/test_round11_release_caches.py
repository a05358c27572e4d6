"""Round-11: data.release_session_caches is the session-lifecycle hook
for the CacheManager pin class (lazy pair queries persist index frames
the consumer's lifetime owns; the CacheManager holds them by STRONG
reference, so nothing short of clearCache ever frees them). Pin both
halves: the pin is real (survives GC), and the release drains it.

The write paths (table and bucketed upserts, a failed upsert, a pipeline
upsert, a keyed stream ingest) open a ``cache_scope()`` around the pins
they take, so each must leave no persisted RDD and an empty CacheManager.
"""

from __future__ import annotations

import gc
import time

import pytest


def _persisted_bytes(spark):
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def test_release_session_caches_drains_the_pin(spark):
    from pyspark.sql import functions as F

    from aircan_spark.data import release_session_caches
    from aircan_spark.ext import dedup

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta") for i in range(300)],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(docs, n=3, threshold=0.1)
    pairs.count()  # materialize -> the DISK_ONLY index is now populated
    del pairs

    # the pin survives both GCs: CacheManager holds it strongly
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    assert _persisted_bytes(spark) > 0

    n, b = release_session_caches(spark, gc_rounds=3, settle_sec=0.5)
    assert (n, b) == (0, 0), f"release left {n} rdds / {b} bytes"


def test_cc_family_releases_in_function(spark, monkeypatch):
    """The CC-family queries unpersist their inverted index during
    construction (their eager edge checkpoint makes it dead weight) —
    building AND running one must leave the CacheManager empty."""
    import aircan_spark.ext.queries as Q

    docs = spark.createDataFrame(
        [(i, f"one two three four five {i % 7} six") for i in range(100)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(Q, "_t", lambda _s, _d, _n: docs)
    Q.ext_dedup_groups(spark, "/root/testdata/sf0.001").count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# --- cache_scope: every write path releases the pins it took -------------------


def _release_all(spark):
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


def _assert_no_pins(spark):
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _orders(spark, keys):
    return spark.createDataFrame(
        [(k, f"name{k}", float(k)) for k in keys], "sku long, name string, price double"
    )


def _loaded(spark, table, keys):
    from aircan_spark.rownum import with_row_number

    table.overwrite(with_row_number(_orders(spark, keys), order_by=["sku"]))
    _release_all(spark)


def test_table_upsert_releases_pins(spark, tmp_path):
    from aircan_spark.table import ParquetTable

    table = ParquetTable(spark, str(tmp_path), "t")
    _loaded(spark, table, range(1, 51))
    table.upsert(_orders(spark, range(40, 61)), ["sku"])
    _assert_no_pins(spark)
    assert table.read().count() == 60


def test_bucketed_upsert_releases_pins(spark, tmp_path):
    from aircan_spark.bucketed import BucketedParquetTable

    table = BucketedParquetTable(spark, str(tmp_path), "b", keys=["sku"], num_buckets=4)
    _loaded(spark, table, range(1, 51))
    table.upsert(_orders(spark, range(40, 61)))
    _assert_no_pins(spark)
    assert table.read().count() == 60


def test_failed_upsert_write_releases_pins(spark, tmp_path):
    from pyspark.sql import functions as F

    from aircan_spark.table import ParquetTable

    table = ParquetTable(spark, str(tmp_path), "t")
    _loaded(spark, table, range(1, 51))
    stage = _orders(spark, range(40, 61)).withColumn(
        "poison",
        F.when(F.col("price") > 0, F.raise_error(F.lit("poisoned row"))).cast("string"),
    )
    with pytest.raises(Exception, match="poisoned row"):
        table.upsert(stage, ["sku"])
    _assert_no_pins(spark)
    assert table.read().count() == 50  # nothing committed


def test_pipeline_upsert_releases_pins(spark, tmp_path):
    from aircan_spark.pipeline import run

    src = tmp_path / "r.csv"
    src.write_text("sku,name,price\n" + "".join(f"{k},n{k},{k}.5\n" for k in range(1, 31)))
    config = {
        "resource_path": str(src),
        "table_name": "p",
        "warehouse": str(tmp_path / "wh"),
        "unique_keys": ["sku"],
        "method": "overwrite",
    }
    run(spark, config)
    _release_all(spark)
    report = run(spark, {**config, "method": "upsert"})
    _assert_no_pins(spark)
    assert report["rows"] == 30


def test_stream_ingest_upsert_releases_pins(spark, tmp_path):
    import json
    import os

    from pyspark.sql import types as T

    from aircan_spark.streaming import stream_ingest
    from aircan_spark.table import ParquetTable

    src = tmp_path / "incoming"
    os.makedirs(src)
    for b in range(4):
        with open(src / f"b{b}.json", "w") as fh:
            for k in range(b * 5, b * 5 + 8):  # overlapping keys: updates + inserts
                fh.write(json.dumps({"sku": k, "name": f"n{k}", "price": float(b)}) + "\n")
    schema = T.StructType([
        T.StructField("sku", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DoubleType()),
    ])
    table = ParquetTable(spark, str(tmp_path / "wh"), "s")
    _release_all(spark)
    q = stream_ingest(
        spark, str(src), schema, table, str(tmp_path / "ckpt"),
        keys=["sku"], max_files_per_trigger=1, available_now=True,
    )
    q.awaitTermination(180)
    assert not q.isActive
    assert q.exception() is None
    _assert_no_pins(spark)
    assert table.read().count() == 23


def test_cache_scope_is_per_thread(spark):
    """A pin taken on another thread does not join this thread's scope:
    foreachBatch callbacks run on py4j's callback thread, and their pins
    belong to the scope opened there (or to the session)."""
    import threading

    from aircan_spark.rownum import cache_scope, pin

    _release_all(spark)
    cm = spark._jsparkSession.sharedState().cacheManager()
    mine, other = spark.range(10), spark.range(20)
    with cache_scope():
        pin(mine).count()
        t = threading.Thread(target=lambda: pin(other).count())
        t.start()
        t.join(60)
        assert not t.is_alive()
    assert cm.lookupCachedData(other._jdf).isDefined()
    assert not cm.lookupCachedData(mine._jdf).isDefined()
    _release_all(spark)
