"""Warehouse lifecycle tests (SURVEY.md §2.11 / M6): materialize,
incremental refresh equivalence, retention partition-drop."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from iot_etl_spark.sources.tables import load_events
from iot_etl_spark.warehouse import (
    daily_agg,
    drop_partitions_older_than,
    hourly_agg,
    materialize_agg,
    read_agg,
    refresh_agg,
)
from tests.conftest import SF_DIR


def _canon(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(v) for v in row)
        for row in df.select(*cols).collect()
    )


def test_refresh_after_new_data_matches_direct_query(spark):
    """The continuous-aggregate contract: stale table + incremental
    refresh over the dirty window == direct aggregate over all data
    (create_dwh_schema.sql:216-233 refresh policy semantics)."""
    tmp = tempfile.mkdtemp(prefix="iot_etl_wh_")
    try:
        events = load_events(spark, SF_DIR)
        # split on a date inside the data range: "old" landed first,
        # "late" arrives after the initial materialization
        split = events.select(
            F.date_add(F.min(F.to_date("ts")), 3).alias("d")
        ).first()["d"]
        old = events.filter(F.to_date("ts") < F.lit(split))
        path = os.path.join(tmp, "hourly")

        materialize_agg(old, path, bucket="hour")
        stale = _canon(read_agg(spark, path).drop("agg_date"))
        direct_old = _canon(hourly_agg(old).withColumn(
            "agg_date", F.to_date("bucket")).drop("agg_date"))
        assert stale == direct_old

        # new data lands (including rows that extend already-agged
        # dates is impossible here: split is a day boundary — refresh
        # from the split date covers every dirty bucket)
        refresh_agg(events, path, since=split, bucket="hour")
        refreshed = _canon(read_agg(spark, path).drop("agg_date"))
        direct_all = _canon(hourly_agg(events))
        assert refreshed == direct_all, "refreshed table != direct aggregate"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_refresh_rewrites_only_dirty_partitions(spark):
    """Refresh must not touch partitions older than the dirty window
    (Timescale refresh recomputes [now-start_offset, now-end_offset],
    not history)."""
    tmp = tempfile.mkdtemp(prefix="iot_etl_wh_")
    try:
        events = load_events(spark, SF_DIR)
        path = os.path.join(tmp, "hourly")
        materialize_agg(events, path, bucket="hour")
        parts = sorted(p for p in os.listdir(path) if p.startswith("agg_date="))
        assert len(parts) >= 3
        old_part = os.path.join(path, parts[0])
        mtime_before = max(
            os.path.getmtime(os.path.join(old_part, f)) for f in os.listdir(old_part)
        )
        since = parts[-1].split("=", 1)[1]  # refresh only the last date
        refresh_agg(events, path, since=since, bucket="hour")
        mtime_after = max(
            os.path.getmtime(os.path.join(old_part, f)) for f in os.listdir(old_part)
        )
        assert mtime_before == mtime_after, "refresh rewrote clean history"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_retention_drops_old_partitions_only(spark):
    """Retention policy (create_dwh_schema.sql:255-262): partitions
    strictly older than now - keep_days are dropped, the rest remain."""
    tmp = tempfile.mkdtemp(prefix="iot_etl_wh_")
    try:
        events = load_events(spark, SF_DIR)
        path = os.path.join(tmp, "daily")
        materialize_agg(events, path, bucket="day")
        parts = sorted(p for p in os.listdir(path) if p.startswith("agg_date="))
        assert len(parts) >= 3
        last = datetime.date.fromisoformat(parts[-1].split("=", 1)[1])
        keep = 2  # keep the trailing 2 days
        dropped = drop_partitions_older_than(path, keep_days=keep, now=last)
        remaining = sorted(p for p in os.listdir(path) if p.startswith("agg_date="))
        assert dropped and remaining
        assert set(dropped) | set(remaining) == set(parts)
        cutoff = last - datetime.timedelta(days=keep)
        for p in remaining:
            assert datetime.date.fromisoformat(p.split("=", 1)[1]) >= cutoff
        for p in dropped:
            assert datetime.date.fromisoformat(p.split("=", 1)[1]) < cutoff
        # table still reads cleanly after the drop
        assert read_agg(spark, path).count() > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_daily_agg_business_hours_split(spark):
    """fact_daily_agg's conditional averages: business-hours AVG only
    aggregates business-hours rows (NULL-else CASE semantics)."""
    events = load_events(spark, SF_DIR)
    row = daily_agg(events).filter(F.col("avg_value_business_hours").isNotNull()).first()
    assert row is not None
    assert row["avg_value_business_hours"] != row["avg_value_non_business_hours"]


def test_bucketed_join_has_zero_shuffle_exchanges(spark):
    """Two tables bucketed by the join key with the same bucket count
    sort-merge-join with NO Exchange on either side (the write-time
    shuffle is the only shuffle, ever), and the result matches the
    plain join. Broadcast is disabled so the assertion can't be
    satisfied trivially."""
    import tempfile

    from pyspark.sql import functions as F

    from iot_etl_spark.sources.tables import load_table
    from iot_etl_spark.warehouse.bucketing import (
        colocated_join,
        count_shuffle_exchanges,
        write_bucketed,
    )

    tmp = tempfile.mkdtemp(prefix="iot_etl_bkt_")
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    lineitem = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    try:
        write_bucketed(orders, "t_bkt_o", f"{tmp}/o", ("o_orderkey",), 4,
                       sort_cols=("o_orderkey",))
        write_bucketed(lineitem, "t_bkt_l", f"{tmp}/l", ("l_orderkey",), 4,
                       sort_cols=("l_orderkey",))
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = colocated_join(
                spark, "t_bkt_o", "t_bkt_l",
                on=[F.col("o_orderkey") == F.col("l_orderkey")],
            )
            assert count_shuffle_exchanges(joined) == 0, joined._jdf.queryExecution().executedPlan().toString()
            got = joined.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        expected = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
        assert got == expected
    finally:
        for t in ("t_bkt_o", "t_bkt_l"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


# ------------------------------------------------- transaction log
def _tx_rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def test_txlog_append_overwrite_time_travel(spark, tmp_path):
    """Commits are versioned; time travel reads any historical
    snapshot; overwrite logically removes but never rewrites old
    files."""
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    v0 = t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING"))
    v1 = t.append(spark.createDataFrame([(3, "c")], "k INT, v STRING"))
    v2 = t.overwrite(spark.createDataFrame([(9, "z")], "k INT, v STRING"))
    assert (v0, v1, v2) == (0, 1, 2)
    assert _tx_rows(t.read(spark)) == [(9, "z")]
    assert _tx_rows(t.read(spark, version=0)) == [(1, "a"), (2, "b")]
    assert _tx_rows(t.read(spark, version=1)) == [(1, "a"), (2, "b"), (3, "c")]


def test_txlog_snapshot_isolation(spark, tmp_path):
    """A resolved reader is pinned to its snapshot: commits that land
    after the read never change what it sees."""
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    reader = t.read(spark)  # resolves the v0 file list NOW
    t.overwrite(spark.createDataFrame([(2, "b")], "k INT, v STRING"))
    assert _tx_rows(reader) == [(1, "a")]  # isolation
    assert _tx_rows(t.read(spark)) == [(2, "b")]  # fresh read sees v1


def test_txlog_concurrent_commit_conflict(spark, tmp_path):
    """Two writers racing for the same version: exactly one wins; the
    loser gets ConcurrentCommitError and its staged files stay
    invisible (vacuum sweeps them)."""
    import pytest
    from iot_etl_spark.warehouse.txlog import ConcurrentCommitError, TxTable

    t = TxTable(str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    # simulate the race: both writers plan version 1 from the same
    # read snapshot; the second O_EXCL create must lose
    staged = t._stage(spark.createDataFrame([(2, "b")], "k INT, v STRING"))
    planned = t.latest_version() + 1
    t._commit({"op": "append", "added": ["other.parquet"], "removed": []}, planned)
    with pytest.raises(ConcurrentCommitError):
        t._commit({"op": "append", "added": staged, "removed": []}, planned)
    # loser's files never became visible
    visible = {f.split("/")[-1] for f in t.snapshot_files()}
    assert not (set(staged) & visible)
    # the append() API retries a lost race at the new head and wins
    v = t.append(spark.createDataFrame([(3, "c")], "k INT, v STRING"))
    assert v == planned + 1


def test_txlog_vacuum_decouples_physical_deletion(spark, tmp_path):
    """Vacuum deletes only files referenced by no retained version;
    the latest snapshot is untouched, older time travel stops."""
    import pytest
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    t.overwrite(spark.createDataFrame([(2, "b")], "k INT, v STRING"))
    before = _tx_rows(t.read(spark, version=0))  # old snapshot readable pre-vacuum
    assert before == [(1, "a")]
    # retention_seconds=0: the explicit no-writers-in-flight override
    # (the 24h default would keep these seconds-old files)
    deleted = t.vacuum(retain_last=1, retention_seconds=0)
    assert deleted  # the overwritten v0 file went away physically
    assert _tx_rows(t.read(spark)) == [(2, "b")]  # latest intact
    with pytest.raises(Exception):
        t.read(spark, version=0).collect()  # time travel past horizon


def test_txlog_streaming_sink_exactly_once(spark, tmp_path):
    """The foreachBatch -> TxTable.append_batch sink is exactly-once:
    a full replay (fresh checkpoint, same source) re-delivers every
    micro-batch and ALL of them are recognized by batch id and
    skipped; a genuinely new batch still lands."""
    from iot_etl_spark.streaming.pipeline import read_stream_source, start_txlog_sink
    from iot_etl_spark.warehouse.txlog import TxTable
    from tests.conftest import SF_DIR

    t = TxTable(str(tmp_path / "tx"))
    src = read_stream_source(spark, "parquet", path=f"{SF_DIR}/events.parquet")
    proj = src.select("event_id", "event_type", "value")
    q = start_txlog_sink(proj, t, str(tmp_path / "ckpt0"), trigger_seconds=1)
    q.processAllAvailable()
    q.stop()
    n1 = t.read(spark).count()
    assert n1 > 0
    # replay: fresh checkpoint re-delivers batch 0 with the same id
    q = start_txlog_sink(proj, t, str(tmp_path / "ckpt1"), trigger_seconds=1)
    q.processAllAvailable()
    q.stop()
    assert t.read(spark).count() == n1, "replayed batch was appended twice"
    # direct re-delivery of the same (df, batch_id) is also a no-op
    assert t.append_batch(spark.range(3).toDF("event_id"), 0) is None
    # a new batch id commits
    v = t.append_batch(
        spark.createDataFrame([(999999, "x", 1.0)], "event_id LONG, event_type STRING, value DOUBLE"),
        batch_id=777,
    )
    assert v is not None
    assert t.read(spark).count() == n1 + 1


def test_txlog_optimize_compacts_in_one_commit(spark, tmp_path):
    """OPTIMIZE rewrites the snapshot into one file via a single
    atomic commit; values unchanged; pre-optimize time travel still
    reads the small files until vacuum."""
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    for i in range(3):
        t.append(spark.createDataFrame([(i, str(i))], "k INT, v STRING"))
    assert len(t.snapshot_files()) >= 3
    before = _tx_rows(t.read(spark))
    v = t.optimize(spark, target_files=1)
    assert v == 3
    assert len(t.snapshot_files()) == 1
    assert _tx_rows(t.read(spark)) == before
    assert _tx_rows(t.read(spark, version=2)) == before  # time travel intact
    assert t.optimize(spark, target_files=1) is None  # already compact


def test_txlog_schema_enforcement(spark, tmp_path):
    """Appends with a drifted schema fail at commit time; widening is
    opt-in and merges on read (old rows NULL the new column);
    overwrite may redefine the schema."""
    import pytest
    from iot_etl_spark.warehouse.txlog import SchemaMismatchError, TxTable

    t = TxTable(str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    # type drift rejected
    with pytest.raises(SchemaMismatchError):
        t.append(spark.createDataFrame([("x", "b")], "k STRING, v STRING"))
    # column add rejected unless opted in
    with pytest.raises(SchemaMismatchError):
        t.append(spark.createDataFrame([(2, "b", 1.5)], "k INT, v STRING, w DOUBLE"))
    t.append(
        spark.createDataFrame([(2, "b", 1.5)], "k INT, v STRING, w DOUBLE"),
        allow_evolution=True,
    )
    rows = {r.k: (r.v, r.w) for r in t.read(spark).collect()}
    assert rows == {1: ("a", None), 2: ("b", 1.5)}
    # overwrite redefines
    t.overwrite(spark.createDataFrame([("z",)], "only STRING"))
    assert t.table_schema() == {"only": "string"}


def test_txlog_vacuum_retention_protects_inflight_staging(spark, tmp_path):
    """ADVICE r4: vacuum must not delete a concurrent writer's staged
    (not-yet-committed) files — the default retention age-gates them.
    Simulated by staging without committing: a default vacuum keeps
    the fresh files, the writer's commit then lands intact; only a
    later zero-retention maintenance vacuum may sweep true orphans."""
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    staged = t._stage(spark.createDataFrame([(2, "b")], "k INT, v STRING"))
    deleted = t.vacuum(retain_last=1)  # default 24h retention
    assert not (set(staged) & set(deleted)), "vacuum ate an in-flight write"
    # the in-flight writer commits; its files must all exist
    v = t._commit({"op": "append", "added": staged, "removed": [],
                   "schema": t.table_schema()})
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2]
    # retain_last=0 is clamped: the live snapshot is never deleted
    assert t.vacuum(retain_last=0, retention_seconds=0) == []
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 2]


def test_txlog_append_retry_recheck_schema(spark, tmp_path):
    """ADVICE r4: an append that loses its commit race to an overwrite
    that REDEFINED the table schema must raise on retry, not stamp its
    now-conflicting schema back onto the table."""
    import pytest
    from iot_etl_spark.warehouse.txlog import SchemaMismatchError, TxTable

    t = TxTable(str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, "a")], "k INT, v STRING"))

    # make the first _commit lose exactly once, with an overwrite that
    # changes the schema landing in between (the race interleaving)
    real_commit = t._commit
    state = {"raced": False}

    def racing_commit(entry, version=None):
        if not state["raced"] and entry.get("op") == "append" and entry.get("schema"):
            state["raced"] = True
            t.overwrite(spark.createDataFrame([("z",)], "only STRING"))
        return real_commit(entry, version)

    t._commit = racing_commit
    with pytest.raises(SchemaMismatchError):
        t.append(spark.createDataFrame([(2, "b")], "k INT, v STRING"))
    t._commit = real_commit
    assert t.table_schema() == {"only": "string"}  # overwrite's schema intact
    assert [tuple(r) for r in t.read(spark).collect()] == [("z",)]


def test_txlog_batch_ledger_scoping(spark, tmp_path):
    """ADVICE r4: batch ids dedupe WITHIN a ledger scope. Same
    (scope, id) is a recognized replay; the same id under a different
    scope (a new checkpoint lineage with different batch boundaries)
    must land as new data, not be silently skipped."""
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    df = spark.createDataFrame([(1,)], "k INT")
    assert t.append_batch(df, 0, ledger_id="ckpt-A") is not None
    assert t.append_batch(df, 0, ledger_id="ckpt-A") is None  # replay
    assert t.append_batch(df, 0, ledger_id="ckpt-B") is not None  # new lineage
    assert t.append_batch(df, 0) is not None  # unscoped is its own ledger
    assert t.append_batch(df, 0) is None
    assert t.read(spark).count() == 3


def test_bucketed_layout_cross_session_reuse_no_rewrite(spark, tmp_path, monkeypatch):
    """VERDICT r5 item 3: with unchanged inputs, a SECOND session must
    re-register the existing bucket tables (no re-shuffle, no rewrite
    — the write is paid once at ingest) and the stale-tag eviction
    sweep must remove nothing. Pinned by bucket-file mtimes: byte-for-
    byte the same files serve both sessions, and results agree. The
    layout lives in the stage cache root (a ``keyed_dir``), so it is
    found there and nothing is written under the old
    ``/tmp/iot_etl_bucketed_*`` roots."""
    import glob
    import os

    from iot_etl_spark.plans import stagecache
    from iot_etl_spark.plans.registry import QUERIES

    cache_root = str(tmp_path / "stages")
    monkeypatch.setattr(stagecache, "_CACHE_ROOT", cache_root)
    old_roots = set(glob.glob("/tmp/iot_etl_bucketed_*"))

    q = QUERIES["bucketed_join_revenue"]
    first = {tuple(sorted(r.asDict().items())) for r in q(spark, SF_DIR).collect()}
    roots = sorted(glob.glob(os.path.join(cache_root, "bucketed_*")))
    assert roots, "bucket layout was not materialized"
    ready = [r for r in roots if os.path.exists(os.path.join(r, "_READY"))]
    assert ready, "no completed bucket layout on disk"

    def snapshot():
        out = {}
        for root in ready:
            for f in glob.glob(os.path.join(root, "**", "*"), recursive=True):
                if os.path.isfile(f):
                    out[f] = os.stat(f).st_mtime_ns
        return out

    before = snapshot()
    assert any("/orders/" in f for f in before)
    assert any("/lineitem/" in f for f in before)
    # fresh catalog, same JVM: the external bucket tables of session 1
    # are gone from the catalog and must be re-claimed from disk
    s2 = spark.newSession()
    second = {tuple(sorted(r.asDict().items())) for r in q(s2, SF_DIR).collect()}
    assert second == first
    after = snapshot()
    assert after == before, "second session rewrote or evicted live bucket files"
    assert set(glob.glob("/tmp/iot_etl_bucketed_*")) == old_roots


def test_txlog_check_constraints_enforced_on_writes(spark, tmp_path):
    """Delta-style CHECK constraints: validated against existing data
    at ADD time, enforced on every write path (append, append_batch,
    overwrite) against the STAGED files, with Delta NULL semantics
    (only FALSE violates). A rejected write leaves no new data, no new
    version, and no orphan files visible to any snapshot."""
    import pytest

    from iot_etl_spark.warehouse.txlog import ConstraintViolationError, TxTable

    t = TxTable(str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k INT, v STRING"))
    t.add_constraint(spark, "k_positive", "k > 0")
    assert t.constraints() == {"k_positive": "k > 0"}

    # adding a constraint the existing data violates must fail
    with pytest.raises(ConstraintViolationError):
        t.add_constraint(spark, "k_big", "k > 5")
    assert "k_big" not in t.constraints()

    # append of a violating row is rejected pre-commit
    head = t.latest_version()
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(-1, "x")], "k INT, v STRING"))
    assert t.latest_version() == head
    assert sorted(_tx_rows(t.read(spark))) == [(1, "a"), (2, "b")]
    # the rejected write's staged files were cleaned up, not orphaned
    import os

    live = {os.path.basename(f) for f in t.snapshot_files()}
    assert {f for f in os.listdir(t.data_dir) if f.endswith(".parquet")} == live

    # NULL passes (Delta semantics): only explicit FALSE violates
    t.append(spark.createDataFrame([(None, "n")], "k INT, v STRING"))

    # overwrite and append_batch enforce too
    with pytest.raises(ConstraintViolationError):
        t.overwrite(spark.createDataFrame([(0, "z")], "k INT, v STRING"))
    with pytest.raises(ConstraintViolationError):
        t.append_batch(
            spark.createDataFrame([(-7, "s")], "k INT, v STRING"), batch_id=0
        )
    # the rejected batch did NOT claim its ledger slot
    assert t.committed_batch_ids() == set()

    # drop, then the same write succeeds; constraints survive overwrite
    t.drop_constraint("k_positive")
    assert t.constraints() == {}
    t.add_constraint(spark, "v_nonempty", "length(v) > 0")
    t.overwrite(spark.createDataFrame([(0, "z")], "k INT, v STRING"))
    assert t.constraints() == {"v_nonempty": "length(v) > 0"}
    with pytest.raises(ConstraintViolationError):
        t.append(spark.createDataFrame([(1, "")], "k INT, v STRING"))


def test_txlog_history_summarizes_commits(spark, tmp_path):
    """DESCRIBE HISTORY: one summary row per commit, covering data,
    streaming and constraint-metadata operations."""
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    t.append(spark.createDataFrame([(1, "a")], "k INT, v STRING"))
    t.append_batch(
        spark.createDataFrame([(2, "b")], "k INT, v STRING"),
        batch_id=7, ledger_id="led",
    )
    t.add_constraint(spark, "k_pos", "k > 0")
    t.overwrite(spark.createDataFrame([(3, "c")], "k INT, v STRING"))
    h = t.history()
    assert [e["version"] for e in h] == [0, 1, 2, 3]
    assert [e["op"] for e in h] == ["append", "append", "add_constraint", "overwrite"]
    assert h[1]["batch_id"] == 7 and h[1]["ledger_id"] == "led"
    assert h[2]["constraint"] == "k_pos" and h[2]["n_added"] == 0
    # overwrite logically removes every file the two appends added
    assert h[3]["n_removed"] == h[0]["n_added"] + h[1]["n_added"] > 0


def test_append_with_quarantine_routes_violations(spark, tmp_path):
    """CHECK-violation quarantine: valid rows commit to the main
    table, violating rows land in the DLQ table tagged with every
    failed rule name; NULL predicates pass (Delta CHECK semantics);
    with no constraints the quarantine table stays untouched."""
    import iot_etl_spark.warehouse.txlog as txlog

    t = txlog.TxTable(str(tmp_path / "main"))
    q = txlog.TxTable(str(tmp_path / "dlq"))
    t.overwrite(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k LONG, v DOUBLE")
    )
    t.add_constraint(spark, "v_positive", "v > 0")
    t.add_constraint(spark, "k_small", "k < 100")

    batch = spark.createDataFrame(
        [
            (3, 30.0),        # clean
            (4, -1.0),        # violates v_positive
            (400, -2.0),      # violates both
            (5, None),        # NULL passes (CHECK semantics)
        ],
        "k LONG, v DOUBLE",
    )
    v, qv = t.append_with_quarantine(batch, q)
    assert v is not None and qv is not None
    main_rows = {r.k for r in t.read(spark).collect()}
    assert main_rows == {1, 2, 3, 5}
    dlq = {r.k: r.violated for r in q.read(spark).collect()}
    assert dlq == {4: "v_positive", 400: "k_small,v_positive"}

    # no constraints -> plain append, no quarantine commit
    t2 = txlog.TxTable(str(tmp_path / "main2"))
    q2 = txlog.TxTable(str(tmp_path / "dlq2"))
    t2.overwrite(spark.createDataFrame([(1, 1.0)], "k LONG, v DOUBLE"))
    v2, qv2 = t2.append_with_quarantine(
        spark.createDataFrame([(2, -5.0)], "k LONG, v DOUBLE"), q2
    )
    assert qv2 is None and {r.k for r in t2.read(spark).collect()} == {1, 2}
    assert q2.latest_version() is None


# ------------------------------------- txlog staging paths and commit
@pytest.fixture(params=["arrow", "distributed"])
def staging(request, spark):
    """Run a TxTable round trip through each staging path: small frames
    go through Arrow by default; a -1 broadcast threshold (a session
    conf) forces the distributed parquet write."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    if request.param == "distributed":
        spark.conf.set(key, "-1")
    yield request.param
    spark.conf.set(key, prev)


def _frame(spark, tmp_path, rows, ddl):
    """``rows`` as a file-sourced frame, which carries a size estimate
    the way a stream's micro-batch or a loaded table does (a frame from
    a Python list estimates as unbounded and always writes
    distributed)."""
    import uuid

    path = str(tmp_path / f"src_{uuid.uuid4().hex[:8]}")
    spark.createDataFrame(rows, ddl).write.parquet(path)
    return spark.read.schema(ddl).parquet(path)


def _writers(t) -> set[str]:
    """Which writer produced each live file: Spark stamps its row
    metadata into the footer, pyarrow does not."""
    import pyarrow.parquet as pq

    return {
        "distributed"
        if b"org.apache.spark.sql.parquet.row.metadata" in (pq.read_metadata(f).metadata or {})
        else "arrow"
        for f in t.snapshot_files()
    }


_TYPED_DDL = (
    "id INT, b BOOLEAN, t TINYINT, s SMALLINT, f FLOAT, "
    "ts TIMESTAMP, ntz TIMESTAMP_NTZ, d DATE, amt DECIMAL(10,2), big DECIMAL(38,10), "
    "bin BINARY, nested STRUCT<a: INT, tags: ARRAY<STRING>>, "
    "items ARRAY<STRUCT<k: STRING, v: DOUBLE>>, m MAP<STRING, INT>, none INT"
)


def _typed_rows():
    from decimal import Decimal

    ts = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    return [
        (1, True, 7, -300, 1.5, ts, ts, ts.date(), Decimal("12.34"),
         Decimal("1234567890.0123456789"), b"\x00\xff", (1, ["x", "y"]),
         [("p", 0.5), ("q", -0.0)], {"a": 1}, None),
        (2, None, None, None, None, None, None, None, None, None, None,
         (None, None), [], {}, None),
    ]


def test_txlog_staging_round_trips_types(spark, tmp_path, staging):
    """Timestamp, decimal, nested struct/array, map and all-NULL
    columns read back unchanged, with the logged schema, on both
    staging paths."""
    from iot_etl_spark.warehouse.txlog import TxTable

    df = _frame(spark, tmp_path, _typed_rows(), _TYPED_DDL)
    t = TxTable(str(tmp_path / "tx"))
    t.append(df)
    assert _writers(t) == {staging}
    got = t.read(spark)
    assert got.schema == df.schema
    assert sorted(got.collect()) == sorted(df.collect())


def test_txlog_staging_empty_frame(spark, tmp_path, staging):
    """An empty append commits, reads back empty with the table
    schema, and leaves earlier rows intact."""
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    empty = _frame(spark, tmp_path, [], "k INT, v STRING")
    assert t.append(empty) == 0
    got = t.read(spark)
    assert got.count() == 0 and got.schema == empty.schema
    t.append(_frame(spark, tmp_path, [(1, "a")], "k INT, v STRING"))
    assert _tx_rows(t.read(spark)) == [(1, "a")]


def test_txlog_snapshot_mixes_staging_paths(spark, tmp_path):
    """One snapshot holding a Spark-written and an Arrow-written file
    reads as one table."""
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    t.append(_frame(spark, tmp_path, [(1, "a")], "k INT, v STRING"))
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        t.append(_frame(spark, tmp_path, [(2, "b"), (3, "c")], "k INT, v STRING"))
    finally:
        spark.conf.set(key, prev)
    assert _writers(t) == {"arrow", "distributed"}
    assert _tx_rows(t.read(spark)) == [(1, "a"), (2, "b"), (3, "c")]


def test_txlog_evolved_read_matches_merge_schema(spark, tmp_path, staging):
    """An allow_evolution table read with the logged schema returns
    the rows a footer-merging read returns: old files NULL the added
    column — at every version."""
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    t.append(_frame(spark, tmp_path, [(1, "a")], "k INT, v STRING"))
    t.append(
        _frame(spark, tmp_path, [(2, "b", 1.5)], "k INT, v STRING, w DOUBLE"),
        allow_evolution=True,
    )
    t.append(
        _frame(spark, tmp_path, [(3, "c", None)], "k INT, v STRING, w DOUBLE"),
    )
    for version in (0, 1, 2):
        files = t.snapshot_files(version)
        merged = spark.read.option("mergeSchema", "true").parquet(*files)
        got = t.read(spark, version=version)
        assert got.columns == merged.columns
        assert sorted(got.collect()) == sorted(merged.collect())
    assert sorted(t.read(spark).collect()) == [(1, "a", None), (2, "b", 1.5), (3, "c", None)]


def test_txlog_optimize_then_time_travel(spark, tmp_path, staging):
    """OPTIMIZE writes at most ``target_files`` files, to one file
    through the session's staging path; versions before each optimize
    still read their original rows."""
    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    for i in range(4):
        t.append(_frame(spark, tmp_path, [(i, str(i)), (i + 10, "x")], "k INT, v STRING"))
    before = _tx_rows(t.read(spark))
    v = t.optimize(spark, target_files=2)
    assert len(t.snapshot_files()) <= 2
    t.append(_frame(spark, tmp_path, [(99, "z")], "k INT, v STRING"))
    v1 = t.optimize(spark, target_files=1)
    assert _writers(t) == {staging} and len(t.snapshot_files()) == 1
    assert _tx_rows(t.read(spark)) == sorted(before + [(99, "z")])
    assert _tx_rows(t.read(spark, version=v - 1)) == before
    assert _tx_rows(t.read(spark, version=v)) == before
    assert _tx_rows(t.read(spark, version=v1 - 1)) == sorted(before + [(99, "z")])


def test_txlog_commit_survives_crash_mid_write(spark, tmp_path, monkeypatch):
    """A commit that dies while writing its entry publishes no version:
    a raised write leaves neither a version nor a temp file, and a
    killed writer's half-written temp file is ignored by reads,
    append_batch and the ledger until vacuum's age gate sweeps it."""
    import json

    from iot_etl_spark.warehouse.txlog import TxTable

    t = TxTable(str(tmp_path / "tx"))
    t.append_batch(_frame(spark, tmp_path, [(1, "a")], "k INT, v STRING"), 0)

    def torn_dump(obj, fh):
        fh.write('{"version": 1, "op": "app')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError):
        t.append_batch(_frame(spark, tmp_path, [(2, "b")], "k INT, v STRING"), 1)
    monkeypatch.undo()
    assert t.versions() == [0]
    assert not [f for f in os.listdir(t.log_dir) if f.endswith(".tmp")]

    # a writer killed mid-dump leaves its temp file behind
    torn = os.path.join(t.log_dir, ".00000001.deadbeef.tmp")
    with open(torn, "w") as fh:
        fh.write('{"version": 1, "op": "app')
    assert t.versions() == [0]
    assert _tx_rows(t.read(spark)) == [(1, "a")]
    assert t.append_batch(_frame(spark, tmp_path, [(2, "b")], "k INT, v STRING"), 1) == 1
    assert t.append_batch(_frame(spark, tmp_path, [(2, "b")], "k INT, v STRING"), 1) is None
    assert _tx_rows(t.read(spark)) == [(1, "a"), (2, "b")]
    assert t.vacuum() == [] and os.path.exists(torn)  # fresh: age-gated
    live = {os.path.basename(f) for f in t.snapshot_files()}
    # the raised commit's staged file is an orphan; the live ones stay
    assert len(t.vacuum(retention_seconds=0)) == 1
    assert not os.path.exists(torn)
    assert {os.path.basename(f) for f in t.snapshot_files()} == live
    assert t.versions() == [0, 1]
    assert _tx_rows(t.read(spark)) == [(1, "a"), (2, "b")]


def test_txlog_reads_log_without_spark_schema(spark, tmp_path, staging):
    """A log written before commits recorded the Spark schema (only the
    column -> type signature) still reads and optimizes:
    the signature's DDL, nested window struct included, gives the rows
    a footer-merging read gives."""
    import json

    from iot_etl_spark.warehouse.txlog import TxTable

    ts = datetime.datetime(2024, 3, 1, 12, 0)
    win = "k INT, window STRUCT<start: TIMESTAMP, end: TIMESTAMP>"
    t = TxTable(str(tmp_path / "tx"))
    t.append(_frame(spark, tmp_path, [(1, (ts, ts + datetime.timedelta(minutes=5)))], win))
    t.append(
        _frame(spark, tmp_path, [(2, (ts, ts), "b")], win + ", `odd name` STRING"),
        allow_evolution=True,
    )
    t.append(_frame(spark, tmp_path, [(3, (None, ts), None)], win + ", `odd name` STRING"))
    for v in t.versions():
        p = os.path.join(t.log_dir, f"{v:08d}.json")
        with open(p) as fh:
            e = json.load(fh)
        e.pop("spark_schema")
        with open(p, "w") as fh:
            json.dump(e, fh)

    def merged(files):
        return spark.read.option("mergeSchema", "true").parquet(*files)

    for version in t.versions():
        got = t.read(spark, version=version)
        want = merged(t.snapshot_files(version))
        assert got.schema == want.schema
        assert sorted(got.collect()) == sorted(want.collect())
    everything = sorted(merged(t.snapshot_files()).collect())
    t.optimize(spark)
    assert len(t.snapshot_files()) == 1
    assert sorted(t.read(spark).collect()) == everything
