"""Bucket layout of hash-table commits.

A hash table's files are named after their bucket (``part-<bucket>``),
and bucket-pruned point lookups, MoR merges and CDC cell pruning all
trust that every row of a file satisfies
``pmod(hash(hash_cols), bucket_num) == bucket_id``. The tests below
write delta commits whose source is already hash-partitioned on the
keys (a MoR-merged scan with ``bucket_num`` equal to
``spark.sql.shuffle.partitions``), the shape under which Spark drops the
writer's repartition as redundant.
"""

import os

import pytest
from pyspark.sql import functions as F

from starlake_spark.meta import SNAP_CACHE_SIZE, ManifestStore
from starlake_spark.table import create_table


@pytest.fixture()
def table(spark, tmp_table_dir):
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    t = create_table(spark, spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")),
        tmp_table_dir, hash_partitions=["k"], hash_bucket_num=n)
    t.upsert(spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")))
    return t


def _assert_bucketed(spark, t):
    root = t.store.table_path
    n = t.store.table_info().bucket_num
    for f in t.store.snapshot().all_files():
        got = (spark.read.parquet(os.path.join(root, f.path))
               .select(F.pmod(F.hash("k"), F.lit(n)).alias("b"))
               .distinct().collect())
        assert {r["b"] for r in got} <= {f.bucket_id}, f.path


def test_lookups_after_tombstone_delete(spark, table):
    table.delete("k BETWEEN 100 AND 115", use_delta=True)
    _assert_bucketed(spark, table)
    for k in range(100, 116):
        assert table.to_df(where=f"k = {k}").count() == 0, k
    assert [r["v"] for r in table.to_df(where="k = 116").collect()] == [232]
    assert table.to_df().count() == 384


def test_lookups_after_update_delta(spark, table):
    table.update("k BETWEEN 40 AND 60", {"v": "v + 1000"}, use_delta=True)
    _assert_bucketed(spark, table)
    for k in range(40, 61):
        want = (999 if k < 50 else 2 * k + 1000)
        assert [r["v"] for r in table.to_df(where=f"k = {k}").collect()] \
            == [want], k
    assert table.to_df().count() == 400


def test_zero_row_files_not_recorded(spark, tmp_table_dir):
    t = create_table(spark, spark.range(100).select(
        F.col("id").alias("k"), F.col("id").alias("v")),
        tmp_table_dir, hash_partitions=["k"], hash_bucket_num=4)
    # two new keys outside bucket 0: Spark's task 0 still writes a file
    keys = [r["k"] for r in spark.range(1000, 1100).withColumnRenamed("id", "k")
            .filter(F.pmod(F.hash("k"), F.lit(4)) != 0).limit(2).collect()]
    t.upsert(spark.createDataFrame([(k, 0) for k in keys], "k long, v long"))
    latest = t.store.snapshot()
    delta = [f for f in latest.all_files() if f.write_version == latest.version]
    assert sorted(f.num_rows for f in delta) == [1, 1]
    assert all(f.bucket_id != 0 for f in delta)
    assert t.to_df().count() == 102


def test_writer_handle_snapshot_cache_is_bounded(spark, tmp_table_dir):
    t = create_table(spark, spark.range(4).withColumnRenamed("id", "k"),
                     tmp_table_dir, hash_partitions=["k"], hash_bucket_num=1)
    store = ManifestStore(tmp_table_dir)
    for _ in range(20):
        txn = store.new_transaction()
        txn.add_files([])
        store.commit(txn)
    assert len(store._snap_cache) <= SNAP_CACHE_SIZE == 8
    # the newest snapshot is still served from the cache
    assert store.snapshot() is store._snap_cache[store.latest_version()]
    assert t.to_df().count() == 4
