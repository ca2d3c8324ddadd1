"""MV backing tables sized to their data: ONE hash bucket when a
manifest row bound is at most ``DERIVED_ONE_BUCKET_ROWS``, else the
16-bucket ceiling. count(DISTINCT) aux tables and rollups keep 16 (or
the explicit count), a view over an empty source keeps the ceiling,
and a view created with 16 buckets keeps refreshing and serving
rewrites."""

import pytest

from starlake_spark.plans import mv
from starlake_spark.plans.mv import DERIVED_MAX_BUCKETS
from starlake_spark.plans import rollup as R
from starlake_spark.table import StarTable, create_table

AGG_SQL = ("SELECT st, count(1) AS n, sum(price) AS total, "
           "count(DISTINCT cust) AS n_cust FROM src GROUP BY st")
JOIN_SQL = ("SELECT c.seg, count(1) AS n, sum(o.price) AS total "
            "FROM src o JOIN cust c ON o.cust = c.c GROUP BY c.seg")


def _orders(spark, lo, hi, bump=0):
    return spark.sql(
        f"SELECT CAST(id AS INT) AS k, CAST(id % 7 AS INT) AS cust, "
        f"element_at(array('F', 'O', 'P'), CAST(id % 3 + 1 AS INT)) AS st, "
        f"CAST(id * 1.25 + {bump} AS DECIMAL(18,2)) AS price, "
        f"timestamp_seconds(1700000000 + id * 3600) AS ts "
        f"FROM range({lo}, {hi})")


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def sess(spark, tmp_path, monkeypatch):
    from starlake_spark.sql import StarSession

    # an incremental-path exception must fail the test, not silently
    # turn into a full rebuild
    monkeypatch.setenv("STARLAKE_MV_DEBUG", "1")
    s = StarSession(spark, warehouse=str(tmp_path / "wh"))
    src = create_table(spark, _orders(spark, 0, 300), str(tmp_path / "src"),
                       short_name="src", warehouse=s.warehouse,
                       hash_partitions=["k"], hash_bucket_num=4)
    cust = create_table(
        spark, spark.sql("SELECT CAST(id AS INT) AS c, "
                         "concat('seg', id % 3) AS seg FROM range(7)"),
        str(tmp_path / "cust"), short_name="cust", warehouse=s.warehouse,
        hash_partitions=["c"], hash_bucket_num=2)
    s.register("src", src)
    s.register("cust", cust)
    return s


def _buckets(spark, path):
    return StarTable.for_path(spark, path).store.table_info().bucket_num


def test_small_views_get_one_bucket(sess, spark, tmp_path):
    mv.create_material_view(sess, "mv_st", str(tmp_path / "mv_st"), AGG_SQL)
    mv.create_material_view(sess, "mv_seg", str(tmp_path / "mv_seg"),
                            JOIN_SQL)
    ent = mv._load_registry(sess.warehouse)["mv_st"]
    assert ent["incremental"] and ent["aux_paths"]
    assert _buckets(spark, str(tmp_path / "mv_st")) == 1
    assert _buckets(spark, str(tmp_path / "mv_seg")) == 1
    # aux tables and rollups are not sized: 16, or the explicit count
    assert {_buckets(spark, p) for p in ent["aux_paths"].values()} == {16}
    src = sess.table("src")
    roll = R.create_rollup(spark, src.store.table_path, str(tmp_path / "ru"),
                           time_col="ts", bucket="day", group_cols=["st"],
                           aggs={"price": "sum"})
    assert roll.info.bucket_num == 16
    kept = R.create_rollup(spark, src.store.table_path,
                           str(tmp_path / "ru4"), time_col="ts",
                           bucket="day", group_cols=["st"],
                           aggs={"price": "sum"}, hash_bucket_num=4)
    assert kept.info.bucket_num == 4


def test_bound_above_the_threshold_keeps_the_ceiling(sess, spark, tmp_path,
                                                     monkeypatch):
    # 300 source rows against a 100-row threshold: the bound no longer
    # fits. The join view's groups read only the 7-row dimension: one.
    monkeypatch.setattr(mv, "DERIVED_ONE_BUCKET_ROWS", 100)
    mv.create_material_view(sess, "mv_st", str(tmp_path / "mv_st"), AGG_SQL)
    mv.create_material_view(sess, "mv_seg", str(tmp_path / "mv_seg"),
                            JOIN_SQL)
    assert _buckets(spark, str(tmp_path / "mv_st")) == DERIVED_MAX_BUCKETS
    assert _buckets(spark, str(tmp_path / "mv_seg")) == 1


def test_bucket_layout_ignores_the_collect_cap(sess, spark, tmp_path,
                                               monkeypatch):
    # the driver-collect knob tunes materialization, not table layout
    monkeypatch.setenv("STARLAKE_MV_LOCAL_ROW_CAP", "1")
    mv.create_material_view(sess, "mv_st", str(tmp_path / "mv_st"), AGG_SQL)
    assert _buckets(spark, str(tmp_path / "mv_st")) == 1


def test_view_over_an_empty_source_keeps_the_ceiling(sess, spark, tmp_path):
    empty = create_table(spark, _orders(spark, 0, 0),
                         str(tmp_path / "later"), short_name="later",
                         warehouse=sess.warehouse, hash_partitions=["k"],
                         hash_bucket_num=4)
    sess.register("later", empty)
    sql = "SELECT st, count(1) AS n FROM later GROUP BY st"
    mv.create_material_view(sess, "mv_later", str(tmp_path / "mv_later"),
                            sql)
    assert _buckets(spark, str(tmp_path / "mv_later")) == DERIVED_MAX_BUCKETS
    empty.upsert(_orders(spark, 0, 50))
    sess._sync_views()
    mv.update_material_view(sess, "mv_later")
    assert _sorted(sess.sql("SELECT * FROM mv_later", rewrite=False)) == \
        _sorted(sess.sql(sql, rewrite=False))


def test_sixteen_bucket_view_still_refreshes_and_rewrites(
        sess, spark, tmp_path, monkeypatch):
    """A view built before sizing (16 buckets) keeps its layout and
    still refreshes incrementally, reads right and serves rewrites."""
    with monkeypatch.context() as m:
        m.setattr(mv, "DERIVED_ONE_BUCKET_ROWS", 0)
        mv.create_material_view(sess, "mv_st", str(tmp_path / "mv_st"),
                                AGG_SQL)
    assert _buckets(spark, str(tmp_path / "mv_st")) == DERIVED_MAX_BUCKETS
    src = sess.table("src")
    src.upsert(_orders(spark, 280, 320, bump=3))
    src.delete("k % 17 = 0")
    sess._sync_views()
    for _ in range(2):
        assert mv.update_material_view(sess, "mv_st") is True
        assert sess.table("mv_st").store.snapshot().commit_type in (
            "delta", "mixed_delta")  # incremental, not a full overwrite
        assert _buckets(spark, str(tmp_path / "mv_st")) == \
            DERIVED_MAX_BUCKETS
        assert _sorted(sess.sql("SELECT * FROM mv_st", rewrite=False)) == \
            _sorted(sess.sql(AGG_SQL, rewrite=False))
        src.upsert(_orders(spark, 0, 20, bump=7))
        sess._sync_views()
    mv.update_material_view(sess, "mv_st")
    q = ("SELECT st, count(1) AS n, sum(price) AS total FROM src "
         "WHERE st = 'O' GROUP BY st")
    hit = mv.try_rewrite(sess, q)
    assert hit is not None
    assert _sorted(hit) == _sorted(sess.sql(q, rewrite=False))
