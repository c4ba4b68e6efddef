"""Edge-semantics tests for the corpus-prep operators
(plans/queries_corpus.py). The driver's oracle check covers the happy
path at sf0.01; these pin the boundaries the synthetic corpus never
hits: sub-window documents, PII-free/PII-dense payloads, fully
contaminated and fully clean train docs, cosine tie-breaking."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, functions as F

from iot_etl_spark.plans.queries_corpus import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    _EMAIL_RE,
    _PHONE_RE,
    _shingles_expr,
)


def _chunk(spark, text: str):
    df = spark.createDataFrame([Row(doc_id=0, ws=text.split(" "))])
    return (
        df.select(
            "doc_id",
            F.posexplode(
                F.expr(f"sequence(0, CAST((size(ws) - 1) / {CHUNK_STRIDE} AS INT))")
            ).alias("chunk_id", "k"),
            F.size("ws").alias("n"),
            "ws",
        )
        .select(
            "chunk_id",
            F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("k") * CHUNK_STRIDE).alias(
                "chunk_tokens"
            ),
            F.concat_ws(
                " ", F.slice(F.col("ws"), F.col("k") * CHUNK_STRIDE + 1, CHUNK_TOKENS)
            ).alias("chunk_text"),
        )
        .collect()
    )


class TestDocChunks:
    def test_short_doc_single_chunk(self, spark):
        rows = _chunk(spark, "a b c")
        assert len(rows) == 1
        assert rows[0].chunk_tokens == 3
        assert rows[0].chunk_text == "a b c"

    def test_exact_window_no_trailing_chunk_beyond_n(self, spark):
        # n == CHUNK_TOKENS: chunks start at 0 and STRIDE (both < n);
        # the second is the 8-token overlap tail, not an empty chunk.
        words = [f"w{i}" for i in range(CHUNK_TOKENS)]
        rows = _chunk(spark, " ".join(words))
        assert [r.chunk_tokens for r in rows] == [CHUNK_TOKENS, CHUNK_TOKENS - CHUNK_STRIDE]
        assert rows[1].chunk_text == " ".join(words[CHUNK_STRIDE:])

    def test_overlap_is_stride_complement(self, spark):
        words = [f"w{i}" for i in range(50)]
        rows = _chunk(spark, " ".join(words))
        first, second = rows[0].chunk_text.split(" "), rows[1].chunk_text.split(" ")
        assert first[CHUNK_STRIDE:] == second[: CHUNK_TOKENS - CHUNK_STRIDE]

    def test_every_token_covered(self, spark):
        words = [f"w{i}" for i in range(75)]
        rows = _chunk(spark, " ".join(words))
        covered = set()
        for r in rows:
            covered.update(r.chunk_text.split(" "))
        assert covered == set(words)


class TestPiiRedaction:
    @pytest.mark.parametrize(
        "payload,emails,phones",
        [
            ("no pii here at all", 0, 0),
            ("reach me at a.b+c@example.co.uk thanks", 1, 0),
            ("call +1-555-0199 or +1-555-0200", 0, 2),
            ("x@y.io and +1-555-1234 and z@w.org", 2, 1),
            ("not-an-email@ nor @nodomain", 0, 0),
        ],
    )
    def test_counts(self, spark, payload, emails, phones):
        df = spark.createDataFrame([Row(payload=payload)])
        got = df.select(
            F.regexp_count("payload", F.lit(_EMAIL_RE)).alias("e"),
            F.regexp_count("payload", F.lit(_PHONE_RE)).alias("p"),
        ).first()
        assert (got.e, got.p) == (emails, phones)

    def test_redaction_removes_all_matches(self, spark):
        df = spark.createDataFrame([Row(payload="a@b.io then +1-555-9999 done")])
        red = df.select(
            F.regexp_replace(
                F.regexp_replace("payload", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
            ).alias("r")
        ).first()
        assert red.r == "[EMAIL] then [PHONE] done"


class TestDecontaminate:
    def test_full_and_zero_overlap(self, spark):
        # doc 10 is eval (id % 10 == 0); doc 11 repeats it verbatim
        # (100% contaminated); doc 12 shares nothing (0%).
        rows = [
            Row(doc_id=10, text="the quick brown fox jumps over dogs"),
            Row(doc_id=11, text="the quick brown fox jumps over dogs"),
            Row(doc_id=12, text="completely different words in this one"),
        ]
        sh = (
            spark.createDataFrame(rows)
            .select("doc_id", F.split("text", " ").alias("ws"))
            .select("doc_id", F.expr(_shingles_expr()).alias("s"))
        )
        is_eval = F.col("doc_id") % 10 == 0
        eval_grams = (
            sh.filter(is_eval).select(F.explode("s").alias("eg")).distinct()
        )
        train = sh.filter(~is_eval).select(
            "doc_id", F.size("s").alias("n"), F.explode_outer("s").alias("g")
        )
        got = {
            r.doc_id: r
            for r in train.join(
                F.broadcast(eval_grams), train.g == eval_grams.eg, "left"
            )
            .groupBy("doc_id")
            .agg(F.max("n").alias("n"), F.count("eg").alias("hit"))
            .collect()
        }
        assert got[11].hit == got[11].n > 0
        assert got[12].hit == 0

    def test_sub_shingle_doc_yields_no_rows_lost(self, spark):
        # a 2-word train doc has an empty shingle set; explode_outer
        # must keep it (0 shingles, 0 overlap), not drop the doc.
        sh = (
            spark.createDataFrame([Row(doc_id=1, text="two words")])
            .select("doc_id", F.split("text", " ").alias("ws"))
            .select("doc_id", F.expr(_shingles_expr()).alias("s"))
        )
        out = sh.select(
            "doc_id", F.size("s").alias("n"), F.explode_outer("s").alias("g")
        ).collect()
        assert len(out) == 1 and out[0].n == 0 and out[0].g is None


class TestCorpusQueries:
    """End-to-end runs at sf0.001 — shapes and invariants."""

    def test_doc_chunks_reassemble(self, spark):
        from iot_etl_spark.plans import QUERIES

        docs = QUERIES["doc_chunks"](spark, "/root/testdata/sf0.001")
        bad = docs.filter(
            (F.col("chunk_tokens") < 1) | (F.col("chunk_tokens") > CHUNK_TOKENS)
        ).count()
        assert bad == 0

    def test_knn_join_shape(self, spark):
        from iot_etl_spark.plans import QUERIES
        from iot_etl_spark.plans.queries_corpus import KNN_BATCH, KNN_K

        out = QUERIES["knn_join"](spark, "/root/testdata/sf0.001").collect()
        per_q = {}
        for r in out:
            per_q.setdefault(r.q_id, []).append(r)
            assert r.vec_id != r.q_id
        assert len(per_q) == KNN_BATCH
        for q, rows in per_q.items():
            assert sorted(r.rank for r in rows) == list(range(1, KNN_K + 1))
            cos = [r.cosine for r in sorted(rows, key=lambda r: r.rank)]
            assert cos == sorted(cos, reverse=True)

    def test_heavy_hitters_monotone(self, spark):
        from iot_etl_spark.plans import QUERIES

        out = QUERIES["token_heavy_hitters"](spark, "/root/testdata/sf0.001").collect()
        counts = [r.occurrences for r in out]
        assert counts == sorted(counts, reverse=True)
        assert len(out) > 0


def test_min_label_components_pointer_jumping_and_raise(spark):
    """A 33-node path graph: plain min-label propagation needs ~32
    rounds; pointer jumping converges within 8. And when max_iters is
    genuinely too small, the loop raises instead of silently returning
    unconverged labels (ADVICE r2)."""
    import pytest as _pytest
    from iot_etl_spark.plans.queries_text import _min_label_components

    n = 33
    undirected = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(
        undirected + [(b, a) for a, b in undirected], "a LONG, b LONG"
    )
    labels = {r.doc_id: r.label for r in _min_label_components(edges, max_iters=8).collect()}
    assert labels == {i: 0 for i in range(n)}
    with _pytest.raises(RuntimeError, match="did not converge"):
        _min_label_components(edges, max_iters=2)
