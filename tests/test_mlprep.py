"""Round-4 ML-prep operators: shard assignment, integer
PageRank, prefix-filter set-similarity join, hashed classifier,
span-level duplication — behavioral pins beyond the DuckDB parity
suite (which covers value correctness for all five registry queries).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iot_etl_spark.plans import registry
from iot_etl_spark.plans.queries_mlprep import (
    N_SHARDS,
    PR_SCALE,
    SETSIM_TAU,
    shard_of,
)
from iot_etl_spark.sources.tables import load_table
from tests.conftest import SF_DIR


# ------------------------------------------------------------- shards
def test_shard_of_matches_audit_query(spark):
    """``shard_of`` and the audit query assign shards the same way —
    per-shard doc counts agree — and ``shard_of`` itself matches a
    Python md5 of the id (first 8 hex digits, modulo the shard count)."""
    import hashlib

    docs = load_table(spark, str(SF_DIR), "documents")
    for n in (N_SHARDS, 7):
        sample = docs.select("doc_id", shard_of("doc_id", n).alias("s")).limit(20).collect()
        assert len(sample) == 20
        for r in sample:
            want = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16) % n
            assert r.s == want, (n, r.doc_id, r.s, want)
    audit = {
        r.shard_id: r.n_docs
        for r in registry.QUERIES["shard_balance_audit"](spark, str(SF_DIR)).collect()
    }
    direct = {
        r.shard_id: r.n
        for r in docs.select(shard_of("doc_id", N_SHARDS).alias("shard_id"))
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert audit == direct


# ----------------------------------------------------------- pagerank
def test_pagerank_invariants(spark):
    df = registry.QUERIES["pagerank_device_graph"](spark, str(SF_DIR))
    rows = df.collect()
    n = len(rows)
    base = (15 * PR_SCALE) // (100 * n)
    # every node keeps at least the teleport mass; integer units exact
    assert all(r.rank_units >= base for r in rows)
    # no mass is created: total <= SCALE (leak via dangling nodes and
    # integer floor is allowed, growth is not)
    assert sum(r.rank_units for r in rows) <= PR_SCALE
    # isolated nodes sit exactly at base
    for r in rows:
        if r.degree == 0:
            assert r.rank_units == base
    # deterministic: a second run is bit-identical
    again = registry.QUERIES["pagerank_device_graph"](spark, str(SF_DIR)).collect()
    assert sorted((r.user_id, r.rank_units) for r in again) == sorted(
        (r.user_id, r.rank_units) for r in rows
    )


def test_pagerank_concentrates_on_hub(spark):
    """A star graph must rank the hub above the leaves."""
    # build a tiny co-activity frame through the same pipeline shape:
    # hub device 0 shares a minute with each leaf 1..5
    import datetime as dt

    base_ts = dt.datetime(2024, 1, 1)
    data = []
    eid = 0
    for leaf in range(1, 6):
        t = base_ts + dt.timedelta(minutes=leaf)
        for uid in (0, leaf):
            data.append((eid, t, uid, "click", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    import tempfile, os

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r.user_id: r.rank_units
            for r in registry.QUERIES["pagerank_device_graph"](spark, d).collect()
        }
    assert out[0] == max(out.values())
    assert all(out[0] > out[leaf] for leaf in range(1, 6))


# ------------------------------------------------------------- setsim
def test_setsim_exact_recall_on_crafted_pairs(spark, tmp_path):
    """Prefix filtering is exact: a pair at tau exactly, above tau,
    and below tau — only the first two survive, regardless of LSH-like
    luck."""
    import os

    words = [f"w{i}" for i in range(1, 13)]
    t12 = " ".join(words)        # 10 shingles
    t10 = " ".join(words[:10])   # 8 shingles, all shared with t12
    t9 = " ".join(words[:9])     # 7 shingles
    docs = [
        (1, t12, "en", "s", 1),  # J(1,2) = 8/10 = tau (boundary kept)
        (2, t10, "en", "s", 1),  # J(2,3) = 7/8 = 0.875 kept
        (3, t9, "en", "s", 1),   # J(1,3) = 7/10 dropped
        (4, t12, "en", "s", 1),  # duplicate of doc1: J = 1.0
        (5, "entirely different tokens in this document here", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.write.parquet(os.path.join(d, "documents.parquet"))
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in registry.QUERIES["setsim_prefix_join"](spark, d).collect()
    }
    assert set(pairs) == {(1, 2), (1, 4), (2, 3), (2, 4)}
    assert pairs[(1, 2)] == pytest.approx(SETSIM_TAU)   # boundary kept
    assert pairs[(1, 4)] == pytest.approx(1.0)
    assert pairs[(2, 4)] == pytest.approx(SETSIM_TAU)
    assert pairs[(2, 3)] == pytest.approx(0.875)


# -------------------------------------------------------- classifier
def test_classifier_runs_at_scan_speed(spark):
    """Zero shuffles: the whole classifier is map-side column math."""
    df = registry.QUERIES["quality_classifier_score"](spark, str(SF_DIR))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


# ------------------------------------------------- duplicated spans
def test_duplicated_span_detects_shared_passage(spark, tmp_path):
    """Two docs sharing a verbatim 6-word passage -> each reports a
    4-gram run (6 words = 4 positional 3-grams); a unique doc reports
    zero duplication."""
    import os

    shared = "lorem ipsum dolor sit amet consectetur"
    docs = [
        (1, f"alpha beta {shared} gamma", "en", "s", 1),
        (2, f"delta {shared} epsilon zeta", "en", "s", 1),
        (3, "entirely unique words without overlap here", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = str(tmp_path)
    df.write.parquet(os.path.join(d, "documents.parquet"))
    out = {
        r.doc_id: r
        for r in registry.QUERIES["duplicated_span_stats"](spark, d).collect()
    }
    assert out[1].max_dup_run == 4
    assert out[2].max_dup_run == 4
    assert out[3].n_dup_grams == 0 and out[3].max_dup_run == 0
    assert out[1].n_dup_grams == 4


def test_setsim_agrees_with_bruteforce_on_random_corpus(spark, tmp_path):
    """Exact-recall pin on an adversarial-ish random corpus: the
    prefix-filter join must emit EXACTLY the brute-force pair set
    (seeded generator, ~zipfian small vocab so near-dups are common)."""
    import os
    import random

    rng = random.Random(421)
    vocab = [f"t{i}" for i in range(30)]
    base_docs = []
    for i in range(25):
        n = rng.randint(25, 45)  # long enough that a 1-word edit keeps J >= tau
        base_docs.append([rng.choice(vocab) for _ in range(n)])
    docs = []
    for i, ws in enumerate(base_docs):
        docs.append((i, " ".join(ws)))
        roll = rng.random()
        if roll < 0.3:  # plant a near-dup with a small edit
            mutated = list(ws)
            mutated[rng.randrange(len(mutated))] = rng.choice(vocab)
            docs.append((1000 + i, " ".join(mutated)))
        elif roll < 0.45:  # plant an exact duplicate
            docs.append((2000 + i, " ".join(ws)))

    def shingles(text):
        ws = text.split(" ")
        return {
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        } if len(ws) >= 3 else set()

    want = set()
    for i, (ida, ta) in enumerate(docs):
        sa = shingles(ta)
        if not sa:
            continue
        for idb, tb in docs[i + 1 :]:
            sb = shingles(tb)
            if not sb:
                continue
            inter = len(sa & sb)
            j = inter / (len(sa) + len(sb) - inter)
            if j >= SETSIM_TAU:
                a, b = sorted((ida, idb))
                want.add((a, b))

    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path)
    df.write.parquet(os.path.join(d, "documents.parquet"))
    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in registry.QUERIES["setsim_prefix_join"](spark, d).collect()
    }
    assert got == want
    assert len(want) > 0  # the corpus actually planted near-dups
