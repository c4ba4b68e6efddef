"""Round-14 optimization pins.

- capped_wedge_scores: the shared link-prediction stage folds the
  adjacency anti-join into the pair aggregate — pin that the adj flag
  exactly reproduces the edge list (both directions) and that every
  non-adjacent pair carries a positive common-neighbor count, so the
  consumers' `adj == 0 AND cn >= 1` filter is precisely the old
  "wedge pairs minus edges" anti-join semantics.
- stream widths: stateful queries start with 8 state partitions and
  stream-stream join drains with 4, whatever the environment holds.
"""

from __future__ import annotations

import os

SF_DIR = "/root/testdata/sf0.001"


def test_wedge_scores_adj_flag_is_exactly_the_edge_list(spark):
    from pyspark.sql import functions as F

    from iot_etl_spark.plans.graphedges import (
        capped_coactivity_edges,
        capped_wedge_scores,
    )

    sc = capped_wedge_scores(spark, SF_DIR)
    edges = {
        (r.ua, r.ub)
        for r in capped_coactivity_edges(spark, SF_DIR).collect()
    }
    flagged = {
        (r.ua, r.ub)
        for r in sc.filter(F.col("adj") == 1).select("ua", "ub").collect()
    }
    assert flagged == edges
    # non-adjacent pairs exist only because >=1 wedge anchored them
    assert (
        sc.filter((F.col("adj") == 0) & (F.col("cn") < 1)).count() == 0
    )


def test_wedge_scores_cn_matches_bruteforce_common_neighbors(spark):
    from pyspark.sql import functions as F

    from iot_etl_spark.plans.graphedges import (
        capped_coactivity_edges,
        capped_wedge_scores,
    )

    e = capped_coactivity_edges(spark, SF_DIR).collect()
    nbrs: dict[int, set[int]] = {}
    for r in e:
        nbrs.setdefault(r.ua, set()).add(r.ub)
        nbrs.setdefault(r.ub, set()).add(r.ua)
    sc = capped_wedge_scores(spark, SF_DIR)
    rows = sc.orderBy(F.desc("cn"), "ua", "ub").limit(50).collect()
    assert rows, "stage produced no pairs at sf0.001"
    for r in rows:
        # count only anchors with degree >= 2 (the 1/ln d guard drops
        # degree-1 vertices before the expansion; such a vertex cannot
        # be a common neighbor of two nodes anyway)
        expect = len(nbrs.get(r.ua, set()) & nbrs.get(r.ub, set()))
        assert r.cn == expect, (r.ua, r.ub, r.cn, expect)


def test_stream_widths_are_constants(spark, monkeypatch):
    """The state width is 8 and the join width 4; the environment
    variables that used to tune them are not read."""
    from iot_etl_spark.streaming import pipeline

    assert pipeline.STREAM_STATE_PARTITIONS == 8
    assert pipeline.STREAM_JOIN_PARTITIONS == 4
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "64")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_JOIN_PARTITIONS", "16")
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pipeline.stream_shuffle_scope(spark):
        assert spark.conf.get(key) == "8"
    with pipeline.stream_shuffle_scope(spark, width=pipeline.STREAM_JOIN_PARTITIONS):
        assert spark.conf.get(key) == "4"
    assert spark.conf.get(key) == before


def test_bm25_postings_frame_matches_naive_tokenize(spark):
    """The shared postings frame (bm25_retrieval + rbo_rank_agreement)
    must hold exactly the naive per-doc term frequencies."""
    from pyspark.sql import functions as F

    from iot_etl_spark.plans.queries_text import _bm25_tf
    from iot_etl_spark.sources.tables import load_table

    got = {
        (r.doc_id, r.tok): r.tf
        for r in _bm25_tf(spark, SF_DIR).collect()
    }
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    expect: dict[tuple, int] = {}
    import re

    for r in docs.collect():
        for tok in re.split(r"[^a-z0-9]+", (r.text or "").lower()):
            if tok:
                k = (r.doc_id, tok)
                expect[k] = expect.get(k, 0) + 1
    assert got == expect


def test_churn_flag_fold_matches_two_half_edge_sets(spark):
    """coactivity_edge_churn's one-pass flag fold (in1/in2 per pair)
    must reproduce the old two-expansion edge sets exactly."""
    from iot_etl_spark.plans.graphedges import capped_minute_activity
    from iot_etl_spark.plans import QUERIES

    act = capped_minute_activity(spark, SF_DIR).collect()
    bs = [r.b for r in act]
    m = (min(bs) + max(bs)) // 2
    by_bucket: dict[int, list[int]] = {}
    for r in act:
        by_bucket.setdefault(r.b, []).append(r.user_id)
    e1, e2 = set(), set()
    for b, users in by_bucket.items():
        us = sorted(set(users))
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                (e1 if b <= m else e2).add((us[i], us[j]))
    row = QUERIES["coactivity_edge_churn"](spark, SF_DIR).collect()[0]
    assert row.n_first == len(e1)
    assert row.n_second == len(e2)
    assert row.n_common == len(e1 & e2)
