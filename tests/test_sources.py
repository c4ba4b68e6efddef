"""Batch source tests: view registration over the parquet loaders."""

from __future__ import annotations


def test_register_views_memoized_and_sf_switch(spark):
    """register_views is a no-op for an already-registered
    (session, sf_dir) pair — the SQL-surface queries call it per build
    and re-registration costs ~0.8 s of parquet footer reads — but a
    DIFFERENT sf_dir (temp-view names are shared) and an externally
    dropped view must both force a real re-registration."""
    from iot_etl_spark.sources import tables as tb

    tb.register_views(spark, "/root/testdata/sf0.001")
    n_small = spark.sql("SELECT COUNT(*) c FROM region").first().c
    key = (spark.sparkContext.applicationId, id(spark))
    assert key in tb._REGISTERED
    state = tb._REGISTERED[key]

    # memo hit: registered state unchanged (same tuple object is fine)
    tb.register_views(spark, "/root/testdata/sf0.001")
    assert tb._REGISTERED[key] == state

    # switching sf_dir re-registers under the same view names
    tb.register_views(spark, "/root/testdata/sf0.01")
    assert tb._REGISTERED[key] != state
    assert spark.sql("SELECT COUNT(*) c FROM lineitem").first().c > 0

    # an externally dropped view defeats the memo (stale-id(…) guard)
    spark.catalog.dropTempView("lineitem")
    tb.register_views(spark, "/root/testdata/sf0.01")
    assert spark.catalog.tableExists("lineitem")

    # ... and ANY other dropped view too — the probe covers every
    # STAR_TABLE via per-table tableExists catalog RPCs (ADVICE r11: a
    # lineitem-only probe missed a dropped 'events'; VERDICT r12: the
    # listTables variant launched a Spark job, ~544 ms per memo hit)
    spark.catalog.dropTempView("events")
    tb.register_views(spark, "/root/testdata/sf0.01")
    assert spark.catalog.tableExists("events")

    # force always re-registers
    tb.register_views(spark, "/root/testdata/sf0.001", force=True)
    assert spark.sql("SELECT COUNT(*) c FROM region").first().c == n_small
