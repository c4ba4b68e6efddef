"""Training-data preparation operators, round 4: graph centrality,
model-based quality filtering, span-level duplication screening, and
exact set-similarity joins.

Registry conventions apply (registry.py): ROUND(x, 6) on computed
doubles BOTH sides, explicit BIGINT casts wherever DuckDB would widen
to HUGEINT, md5-derived integer hashing for cross-engine determinism
(queries_text.py's ``conv(substr(md5(x),1,8),16,10)`` ==
``('0x'||substr(md5(x),1,8))::BIGINT`` identity).

Determinism convention for the iterative operator (pagerank): ALL
per-iteration arithmetic is BIGINT — ranks live in integer units of
1e-9, contributions are integer divisions — so five engines would
produce bit-identical trajectories; no float accumulation order can
diverge (the SCALE.md exact-accumulation convention applied to an
iterative algorithm).

Reference parity: the reference has no graph / classifier / span-dedup
operators (its analytics stop at warehouse/analytical_queries.sql);
these extend the engine along the LLM-corpus-pipeline axis the brief
names as first-class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from iot_etl_spark.plans.registry import query
from iot_etl_spark.sources.tables import load_table

# ------------------------------------------------------------ pagerank
PR_SCALE = 1_000_000_000  # rank unit = 1e-9
PR_ITERS = 3
# damping 0.85 expressed as an integer ratio so every engine computes
# the identical BIGINT trajectory
_PR_NUM, _PR_DEN = 85, 100


def _pr_iter_sql(prev: str, out: str) -> str:
    """One integer PageRank sweep in DuckDB SQL: rank' = base +
    sum over in-edges of (85 * rank_src) // (100 * deg_src)."""
    return f"""
{out} AS (
    SELECT nd.user_id, nd.base,
           nd.base + COALESCE(CAST(SUM(
               ({_PR_NUM} * p.r) // ({_PR_DEN} * dg.deg)
           ) AS BIGINT), 0) AS r
    FROM nodes nd
    LEFT JOIN edges e ON e.dst = nd.user_id
    LEFT JOIN {prev} p ON p.user_id = e.src
    LEFT JOIN deg dg ON dg.user_id = e.src
    GROUP BY 1, 2
)"""


_PAGERANK_ORACLE = (
    """
WITH a AS (
    SELECT DISTINCT epoch_us(date_trunc('minute', CAST(ts AS TIMESTAMP))) // 1000000 AS b,
           user_id
    FROM events
),
pairs AS (
    SELECT x.user_id AS src, y.user_id AS dst
    FROM a x JOIN a y ON x.b = y.b AND x.user_id <> y.user_id
    GROUP BY 1, 2
),
edges AS (SELECT src, dst FROM pairs),
deg AS (SELECT src AS user_id, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
nn AS (SELECT COUNT(DISTINCT user_id) AS n FROM events),
nodes AS (
    SELECT u.user_id,
           (15 * CAST("""
    + str(PR_SCALE)
    + """ AS BIGINT)) // (100 * nn.n) AS base,
           CAST("""
    + str(PR_SCALE)
    + """ AS BIGINT) // nn.n AS r0
    FROM (SELECT DISTINCT user_id FROM events) u CROSS JOIN nn
),
r0 AS (SELECT user_id, base, r0 AS r FROM nodes),"""
    + ",".join(_pr_iter_sql(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS))
    + f"""
SELECT n.user_id,
       COALESCE(d.deg, 0) AS degree,
       rf.r AS rank_units,
       ROUND(rf.r / {PR_SCALE}.0, 6) AS pagerank
FROM nodes n
LEFT JOIN deg d ON d.user_id = n.user_id
JOIN r{PR_ITERS} rf ON rf.user_id = n.user_id
"""
)


@query("pagerank_device_graph", oracle=_PAGERANK_ORACLE)
def pagerank_device_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the device co-activity graph (edge =
    the two devices were active in the same minute at least once),
    3 damped iterations — which devices sit at the center of the
    co-activity structure (gateways, shared uplinks, hubs).

    Exactness: ranks are BIGINT units of 1e-9 and every contribution
    is the integer division (85 * rank) div (100 * deg), so the whole
    trajectory is engine-independent — no float accumulation order to
    diverge, the same convention that makes the money aggregates
    bit-exact (SCALE.md). Dangling-node mass is deliberately not
    redistributed (documented simplification; the oracle matches).

    100 TB shape: the canonical iterative-join pattern — the edge list
    is built once (within-bucket pair expansion, never a bucket
    self-join) and persisted across iterations; each sweep is one
    shuffle join of the rank vector (|V| rows, partitioned by id)
    against edges (partitioned by src) plus a dst-keyed aggregate.
    Driver only orchestrates; no data is collected. Iteration count is
    fixed (3) rather than convergence-tested, so the plan depth is
    static — the practical choice when a scheduler needs a bounded
    DAG. The edge build's per-bucket pair expansion is quadratic in a
    hot bucket's occupancy — the bounded variant is
    pagerank_device_graph_capped (plans/graphedges.py)."""
    from iot_etl_spark.plans.graphedges import exact_adjacency_lists

    ev = load_table(spark, sf_dir, "events")
    return _pagerank_from_adj(ev, exact_adjacency_lists(spark, sf_dir))


def _pagerank_from_adj(ev: DataFrame, adj: DataFrame) -> DataFrame:
    """PageRank core over a MATERIALIZED adjacency-list stage
    (graphedges.exact/capped_adjacency_lists: user_id, nbrs, deg) —
    both the bucket pair expansion AND the groupBy+collect_list
    adjacency build are paid once per (source, code) fingerprint, not
    once per query run (r9; previously the adjacency aggregated from
    the edge stage inside every run). Each sweep joins |V| rank rows
    against |V| adjacency rows (not 2|E| edge rows) and fans out
    contributions with an explode — the compact large-graph layout
    (neighbor arrays bounded by per-node degree). ``cache`` keeps the
    narrow table hot across the fixed iteration count."""
    adj = adj.cache()
    n_row = ev.select(F.count_distinct("user_id").alias("n"))
    nodes = (
        ev.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(n_row))
        .select(
            "user_id",
            F.expr(f"(15 * {PR_SCALE}L) div (100 * n)").alias("base"),
            F.expr(f"{PR_SCALE}L div n").alias("r0"),
        )
        .cache()
    )
    ranks = nodes.select("user_id", F.col("r0").alias("r"))
    for _ in range(PR_ITERS):
        contrib = (
            ranks.join(adj, "user_id")
            .select(
                F.explode("nbrs").alias("dst"),
                F.expr(f"({_PR_NUM} * r) div ({_PR_DEN} * deg)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("in_mass"))
        )
        ranks = (
            nodes.join(contrib, nodes.user_id == contrib.dst, "left")
            .select(
                nodes.user_id,
                (F.col("base") + F.coalesce(F.col("in_mass"), F.lit(0))).alias("r"),
            )
        )
    return (
        nodes.select("user_id")
        .join(adj.select("user_id", "deg"), "user_id", "left")
        .join(ranks, "user_id")
        .select(
            "user_id",
            F.coalesce(F.col("deg"), F.lit(0)).cast("long").alias("degree"),
            F.col("r").alias("rank_units"),
            F.round(F.col("r") / PR_SCALE, 6).alias("pagerank"),
        )
    )


from iot_etl_spark.plans.graphedges import (  # noqa: E402 - grouped section import
    COACT_BUCKET_CAP,
    cap_bucket_activity,
    duck_capped_activity,
)

_PAGERANK_CAPPED_ORACLE = _PAGERANK_ORACLE.replace(
    """WITH a AS (
    SELECT DISTINCT epoch_us(date_trunc('minute', CAST(ts AS TIMESTAMP))) // 1000000 AS b,
           user_id
    FROM events
),""",
    f"""WITH a AS (
    SELECT b, user_id FROM {duck_capped_activity(
        "epoch_us(date_trunc('minute', CAST(ts AS TIMESTAMP))) // 1000000",
        COACT_BUCKET_CAP,
    )}
),""",
)
assert _PAGERANK_CAPPED_ORACLE != _PAGERANK_ORACLE  # replace() must land


@query("pagerank_device_graph_capped", oracle=_PAGERANK_CAPPED_ORACLE)
def pagerank_device_graph_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pagerank_device_graph with the hot-bucket guard as CODE
    (VERDICT r5 item 4): the minute-bucket activity set is bounded to
    the {COACT_BUCKET_CAP} lowest ids per bucket BEFORE the edge pair
    expansion — a flash-crowd minute contributes at most cap*(cap-1)
    directed edges instead of occupancy². Node set, damping and the
    integer-exact rank trajectory are unchanged (devices capped out of
    a bucket keep their node row; they just gain no edges from that
    bucket). Non-binding at every test SF (max occupancy 12 at sf0.1
    → output == exact twin; pinned by tests/test_graph_caps.py).
    Oracle applies the identical min-id cap. Edges come from the
    materialized capped stage shared with the triangle twin and
    adamic_adar_linkpred (graphedges.capped_coactivity_edges)."""
    from iot_etl_spark.plans.graphedges import capped_adjacency_lists

    ev = load_table(spark, sf_dir, "events")
    return _pagerank_from_adj(ev, capped_adjacency_lists(spark, sf_dir))


# ------------------------------------------- hashed linear classifier
CLS_MOD = 2001  # weights in [-1000, 1000] milli-units


_CLS_W_SPARK = (
    f"cast(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT) % {CLS_MOD} - 1000"
)
_CLS_W_DUCK = f"('0x' || substr(md5(t), 1, 8))::BIGINT % {CLS_MOD} - 1000"

_CLASSIFIER_ORACLE = f"""
WITH w AS (
    SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
),
f AS (
    SELECT doc_id, lang,
           CAST(len(ws) AS BIGINT) AS n_unigrams,
           CAST(greatest(len(ws) - 1, 0) AS BIGINT) AS n_bigrams,
           COALESCE(list_sum(list_transform(ws, t -> {_CLS_W_DUCK})), 0) AS uni_sum,
           COALESCE(list_sum(list_transform(
               generate_series(1, greatest(len(ws) - 1, 0)),
               i -> CASE WHEN TRUE THEN
                   ('0x' || substr(md5(ws[i] || ' ' || ws[i+1]), 1, 8))::BIGINT
                   % {CLS_MOD} - 1000 END)), 0) AS bi_sum
    FROM w
)
SELECT doc_id, lang, n_unigrams, n_bigrams,
       CAST(uni_sum + bi_sum AS BIGINT) AS weight_sum,
       ROUND((uni_sum + bi_sum) / ((n_unigrams + n_bigrams) * 1000.0), 6)
           AS quality_logit,
       (uni_sum + bi_sum) > 0 AS keep
FROM f WHERE n_unigrams + n_bigrams > 0
"""


def _classifier_scores_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.col("text"), " ")
    uni_sum = F.expr(
        f"aggregate(ws, 0L, (acc, t) -> acc + ({_CLS_W_SPARK}))"
    )
    bi_sum = F.expr(
        "aggregate(transform(CASE WHEN size(ws) >= 2 THEN sequence(1, size(ws) - 1) "
        "ELSE CAST(array() AS ARRAY<INT>) END, "
        "i -> concat_ws(' ', ws[i-1], ws[i])), 0L, "
        f"(acc, t) -> acc + ({_CLS_W_SPARK}))"
    )
    return (
        docs.select("doc_id", "lang", ws.alias("ws"))
        .select(
            "doc_id",
            "lang",
            F.size("ws").cast("long").alias("n_unigrams"),
            F.greatest(F.size("ws") - 1, F.lit(0)).cast("long").alias("n_bigrams"),
            uni_sum.alias("_u"),
            bi_sum.alias("_b"),
        )
        .filter(F.col("n_unigrams") + F.col("n_bigrams") > 0)
        .select(
            "doc_id",
            "lang",
            "n_unigrams",
            "n_bigrams",
            (F.col("_u") + F.col("_b")).cast("long").alias("weight_sum"),
            F.round(
                (F.col("_u") + F.col("_b"))
                / ((F.col("n_unigrams") + F.col("n_bigrams")) * 1000.0),
                6,
            ).alias("quality_logit"),
            ((F.col("_u") + F.col("_b")) > 0).alias("keep"),
        )
    )


@query("quality_classifier_score", oracle=_CLASSIFIER_ORACLE)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, fastText-shaped: a linear
    classifier over hashed unigram+bigram features. Each feature's
    weight is derived deterministically from its md5 (stand-in for a
    trained weight table — the container has no model artifacts; the
    Spark-side plumbing, feature hashing, and scoring algebra are the
    real thing and swapping in trained weights is a broadcast join on
    the same feature hash).

    Score = mean feature weight (milli-units -> logit); keep = logit
    positive — the CCNet/fastText keep/drop gate shape.

    The per-doc score frame is MATERIALIZED via the stage cache (r14):
    EIGHT registered queries consume it (this one, the kappa/verdict
    composites, MCC, AUC, PR curve, Brier, calibration, KS), each of
    which used to re-run the full tokenize+hash scan (~0.9 s at
    sf0.1). Same pattern as the dedup family's signature stages; the
    mint lands in the bench's cold pass via the round's cache
    eviction.

    100 TB shape: the score build is ZERO shuffles — feature
    extraction, hashing, weight lookup, and the per-doc sum all happen
    inside higher-order functions on the scan (whole-stage codegen),
    so the classifier runs at scan speed; the materialized frame is
    one narrow row per doc. With a trained vocabulary the weight table
    joins in as a broadcast; the document stream still never
    shuffles."""
    from iot_etl_spark.plans.stagecache import cached_stage

    return cached_stage(
        spark, "cls_scores", sf_dir, ("documents",),
        lambda: _classifier_scores_build(spark, sf_dir),
        code_deps=(_classifier_scores_build,),
    )


# ------------------------------------------ span-level duplication
def _span_flags_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, pos, is_dup): every positional 3-gram flagged shared
    iff it occurs in >= 2 distinct documents.

    The let-binding note: `ws` is a lambda-bound VALUE (transform over
    a 1-element array, the queries_text._minhash_band_sigs
    convention), so split(text) runs ONCE per doc — inlining it per
    element reference re-splits the text O(grams) times (measured
    12 s -> 2 s at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(array(split(text, ' ')), ws -> "
                "CASE WHEN size(ws) >= 3 THEN "
                "transform(sequence(1, size(ws) - 2), i -> "
                "struct(i AS pos, concat_ws(' ', ws[i-1], ws[i], ws[i+1]) AS gram)) "
                "ELSE CAST(array() AS ARRAY<STRUCT<pos: INT, gram: STRING>>) END)[0]"
            )
        ).alias("pg"),
    ).select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.gram").alias("gram"))
    shared = (
        g.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram", F.lit(True).alias("_shared"))
    )
    return g.join(shared, "gram", "left").select(
        "doc_id", "pos", F.coalesce(F.col("_shared"), F.lit(False)).alias("is_dup")
    )


def _span_flags_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span flags, materialized once per (documents parquet, stage
    code) — shared by the screen (duplicated_span_stats) and the
    rewrite transform (dedup_span_rewrite)."""
    from iot_etl_spark.plans.stagecache import cached_stage

    return cached_stage(
        spark, "span_flags", sf_dir, ("documents",),
        lambda: _span_flags_build(spark, sf_dir),
        code_deps=(_span_flags_build,),
    )


_SPAN_ORACLE = """
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
g AS (
    SELECT doc_id, pos, ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] AS gram
    FROM (
        SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS pos
        FROM w
    )
),
df AS (
    SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
m AS (
    SELECT g.doc_id, g.pos, df.gram IS NOT NULL AS is_dup
    FROM g LEFT JOIN df ON g.gram = df.gram
),
runs AS (
    SELECT doc_id,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM m WHERE is_dup
),
run_len AS (
    SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS max_dup_run
    FROM (SELECT doc_id, grp, COUNT(*) AS cnt FROM runs GROUP BY 1, 2)
    GROUP BY 1
),
per_doc AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams
    FROM m GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(p.n_grams, 0) AS n_grams,
       COALESCE(p.n_dup_grams, 0) AS n_dup_grams,
       ROUND(p.n_dup_grams::DOUBLE / p.n_grams, 6) AS dup_fraction,
       COALESCE(r.max_dup_run, 0) AS max_dup_run
FROM documents d
LEFT JOIN per_doc p ON p.doc_id = d.doc_id
LEFT JOIN run_len r ON r.doc_id = d.doc_id
"""


@query("duplicated_span_stats", oracle=_SPAN_ORACLE)
def duplicated_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level duplication screen (the gram-resolution version of
    exact substring dedup, Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better"): per document, the fraction of
    positional 3-gram shingles that also occur in ANOTHER document,
    and the longest consecutive run of such shared grams — long runs
    are verbatim borrowed passages (licenses, templates, quotes) that
    survive document-level dedup because the containing docs differ.

    100 TB shape: one shuffle keyed by gram for document frequency
    (HAVING >= 2 docs keeps only the shared tail), one join of the
    positional gram stream back against that set on the same key, and
    one per-doc window for run-length encoding — the decontaminate /
    boilerplate family's shape, never a doc-pair expansion."""
    docs = load_table(spark, sf_dir, "documents")
    m = _span_flags_cached(spark, sf_dir)
    per_doc = m.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.col("is_dup").cast("long")).cast("long").alias("n_dup_grams"),
    )
    wrn = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        m.filter("is_dup")
        .select("doc_id", (F.col("pos") - F.row_number().over(wrn)).alias("grp"))
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").cast("long").alias("max_dup_run"))
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).alias("n_dup_grams"),
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6).alias("dup_fraction"),
            F.coalesce(F.col("max_dup_run"), F.lit(0)).alias("max_dup_run"),
        )
    )


# --------------------------------------- exact set-similarity join
SETSIM_TAU = 0.8

_SETSIM_ORACLE = f"""
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
s AS (
    SELECT doc_id,
           list_distinct(list_transform(
               list_transform(
                   generate_series(1, greatest(len(ws) - 2, 0)),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]),
               g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)) AS toks
    FROM w
)
SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b,
       ROUND(len(list_intersect(x.toks, y.toks))::DOUBLE
             / (len(x.toks) + len(y.toks) - len(list_intersect(x.toks, y.toks))),
             6) AS jaccard
FROM s x JOIN s y ON x.doc_id < y.doc_id
WHERE len(x.toks) > 0 AND len(y.toks) > 0
  AND len(list_intersect(x.toks, y.toks))::DOUBLE
      / (len(x.toks) + len(y.toks) - len(list_intersect(x.toks, y.toks)))
      >= {SETSIM_TAU}
"""


def _setsim_pairs_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shingle-set Jaccard similarity join (J >= {SETSIM_TAU})
    via prefix filtering (AllPairs/PPJoin, Bayardo et al. 2007) — the
    exact-recall complement to dedup_ngram_jaccard's MinHash-LSH
    candidates: LSH can miss true pairs (probabilistic recall);
    prefix filtering provably cannot. Shingles are globally ordered
    by ascending document frequency (rarest first); a pair can reach
    J >= tau only if their prefixes — the first
    |set| - ceil(tau * |set|) + 1 rarest shingles — share an element,
    so candidates come from bucketing on prefix shingles only, and
    each candidate is verified exactly.

    Same similarity space as dedup_ngram_jaccard (3-gram word
    shingles, Jaccard 0.8), so any pair this query emits that the LSH
    path missed is a measured LSH false-negative — the
    recall-auditing use case.

    100 TB shape: the frequency order makes prefix buckets small by
    construction (the rarest shingles are the least shared — and
    shingles are discriminative where raw tokens are not); candidate
    pairs expand WITHIN prefix-shingle buckets (the LSH band-bucket
    shape, no self-join), dedup once, and the exact verify joins the
    two shingle arrays back by doc id. The oracle is the brute-force
    all-pairs scan — feasible only at test scale, which is exactly
    the point of the prefix filter.

    Sets are compared in 32-bit md5-hash space (the registry's
    cross-engine hash identity), not raw strings: every shuffle key,
    sort, and intersection runs on BIGINTs — and because BOTH engines
    apply the identical hash, the comparison stays deterministic and
    oracle-exact even if two shingles ever collided."""
    from iot_etl_spark.plans.queries_text import _shingle_sets_cached

    toks = _shingle_sets_cached(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "array_distinct(transform(s, x -> "
            "cast(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT)))"
        ).alias("toks"),
    )
    tok = toks.select("doc_id", F.explode("toks").alias("t"))
    dfreq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    # global order: (df asc, token asc); per-doc rank; prefix length
    # n - ceil(tau * n) + 1
    wd = Window.partitionBy("doc_id").orderBy("df", "t")
    ranked = (
        tok.join(dfreq, "t")
        .withColumn("rk", F.row_number().over(wd))
        .join(toks.select("doc_id", F.size("toks").alias("n")), "doc_id")
        .filter(F.col("rk") <= F.col("n") - F.ceil(SETSIM_TAU * F.col("n")) + 1)
        .select("t", "doc_id")
    )
    cand = (
        ranked.groupBy("t")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ids) - 2), i -> "
                    "transform(sequence(i + 1, size(ids) - 1), j -> "
                    "struct(ids[i] AS a, ids[j] AS b))))"
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("doc_id_a"), F.col("p.b").alias("doc_id_b"))
        .distinct()
    )
    verified = (
        cand.join(
            toks.select(F.col("doc_id").alias("doc_id_a"), F.col("toks").alias("ta")),
            "doc_id_a",
        )
        .join(
            toks.select(F.col("doc_id").alias("doc_id_b"), F.col("toks").alias("tb")),
            "doc_id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.size("ta") + F.size("tb") - F.col("inter")),
                6,
            ),
        )
        .filter(
            F.col("inter")
            / (F.size("ta") + F.size("tb") - F.col("inter"))
            >= SETSIM_TAU
        )
    )
    return verified.select("doc_id_a", "doc_id_b", "jaccard")


def _setsim_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact pair set, materialized once per (documents parquet,
    stage code) and shared by setsim_prefix_join (the report surface)
    and split_leakage_audit (which re-aggregates it by split)."""
    from iot_etl_spark.plans.stagecache import cached_stage
    from iot_etl_spark.plans.queries_text import (
        _shingle_sets, _shingle_sets_cached, _shingles_expr, _words,
    )

    return cached_stage(
        spark, "setsim_pairs", sf_dir, ("documents",),
        lambda: _setsim_pairs_build(spark, sf_dir),
        code_deps=(_setsim_pairs_build, _shingle_sets, _shingles_expr, _words),
    )


@query("setsim_prefix_join", oracle=_SETSIM_ORACLE)
def setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See _setsim_pairs_build (the algorithm) — served from the
    materialized stage shared with split_leakage_audit."""
    return _setsim_pairs_cached(spark, sf_dir)


# ------------------------------------------------ shard balance audit
N_SHARDS = 16


# md5-derived 32-bit id hash — the registry's cross-engine hash
# convention (queries_text.py: conv(substr(md5(x),1,8),16,10))
def shard_of(id_col: str, n_shards: int):
    return (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_shards
    ).cast("int")


_SHARD_ORACLE = f"""
WITH s AS (
    SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               % {N_SHARDS} AS shard_id,
           n_chars
    FROM documents
)
SELECT CAST(shard_id AS INT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       ROUND(COUNT(*)::DOUBLE / SUM(COUNT(*)) OVER (), 6) AS doc_share,
       ROUND(SUM(n_chars)::DOUBLE / SUM(SUM(n_chars)) OVER (), 6) AS char_share
FROM s GROUP BY 1
"""


@query("shard_balance_audit", oracle=_SHARD_ORACLE)
def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balance audit for training shards assigned by ``shard_of``:
    per shard, document and character counts
    and each shard's share of the corpus — skewed shards mean skewed
    data-loader throughput, so this is the check a pipeline runs after
    sharding and before training. Assignment is the exact
    content-addressed hash (md5 of the id), so the audit IS the
    shard distribution, not a model of it.

    100 TB shape: one {N_SHARDS}-key aggregate with map-side partials;
    the share normalization is a window over the {N_SHARDS}-row
    result, not the data."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy()
    return (
        docs.select(shard_of("doc_id", N_SHARDS).alias("shard_id"), "n_chars")
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            "shard_id",
            "n_docs",
            "total_chars",
            F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("doc_share"),
            F.round(
                F.col("total_chars") / F.sum("total_chars").over(w), 6
            ).alias("char_share"),
        )
    )


# ----------------------------------------------- bigram LM scoring
LM_LAMBDA = 0.7  # interpolation weight on the bigram term

_BIGRAM_LM_ORACLE = f"""
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
bg AS (
    SELECT doc_id, ws[i-1] AS prev, ws[i] AS cur
    FROM (
        SELECT doc_id, ws, unnest(generate_series(2, len(ws))) AS i FROM w
    )
),
uni AS (
    SELECT t AS tok, COUNT(*) AS c
    FROM (SELECT unnest(ws) AS t FROM w) GROUP BY 1
),
tot AS (SELECT SUM(c) AS s FROM uni),
big AS (SELECT prev, cur, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
ctx AS (SELECT prev, SUM(c2) AS c1 FROM big GROUP BY 1),
sc AS (
    SELECT bg.doc_id,
           ln({LM_LAMBDA} * big.c2::DOUBLE / ctx.c1
              + {1 - LM_LAMBDA} * uni.c::DOUBLE / tot.s) AS lp
    FROM bg
    JOIN big ON big.prev = bg.prev AND big.cur = bg.cur
    JOIN ctx ON ctx.prev = bg.prev
    JOIN uni ON uni.tok = bg.cur
    CROSS JOIN tot
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       ROUND(AVG(lp), 6) AS mean_bigram_logprob,
       ROUND(MIN(lp), 6) AS min_bigram_logprob
FROM sc GROUP BY 1
"""


@query("bigram_lm_score", oracle=_BIGRAM_LM_ORACLE)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under an interpolated bigram
    language model trained on the corpus itself:
    log(lambda * P(w_i | w_{{i-1}}) + (1-lambda) * P(w_i)) — one step
    up the perplexity ladder from unigram_logprob_score (word-order
    sensitivity: scrambled or templated text scores differently even
    with an identical unigram profile). The KenLM-filter shape from
    CCNet, at bigram order.

    100 TB shape: mirrors the unigram design — the LM tables (bigram
    counts, context totals, unigram vocabulary) are sublinear in
    corpus size and broadcast here; the bigram stream itself never
    shuffles for scoring, and the per-doc aggregate is the only
    stream-keyed shuffle. Zipf-head skew is irrelevant because nothing
    repartitions by token. Honest caveat for the full 100 TB corpus:
    the bigram-type table can outgrow the broadcast ceiling — there
    the scoring join degrades gracefully to SHUFFLE_HASH on
    (prev, cur), or the LM is pruned to a
    top-K table as CCNet does with its trained KenLM."""
    docs = load_table(spark, sf_dir, "documents")
    # let-bound ws: split runs once per doc (CollapseProject would
    # otherwise re-split per element reference)
    bg = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(array(split(text, ' ')), ws -> "
                "CASE WHEN size(ws) >= 2 THEN "
                "transform(sequence(2, size(ws)), i -> "
                "struct(ws[i-2] AS prev, ws[i-1] AS cur)) "
                "ELSE CAST(array() AS ARRAY<STRUCT<prev: STRING, cur: STRING>>) END)[0]"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.prev").alias("prev"), F.col("p.cur").alias("cur"))
    # localCheckpoint the LM TABLES (r14, guide §1.2): big rode into
    # the plan twice (its own broadcast + the ctx rollup) and uni
    # once more — each replaying the document tokenize (plan audit: 8
    # FileScans / 6 broadcasts). The tables are vocabulary-sized
    # (sublinear in corpus, the same bound that lets them broadcast),
    # so training runs exactly once and scoring re-streams only the
    # bigram stream itself — the two-pass shape the docstring already
    # commits to.
    uni = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("p1", F.col("c") / F.sum("c").over(Window.partitionBy()))
        .localCheckpoint()
    )
    big = (
        bg.groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("c2"))
        .localCheckpoint()
    )
    ctx = big.groupBy("prev").agg(F.sum("c2").alias("c1"))
    lp = F.log(
        LM_LAMBDA * F.col("c2") / F.col("c1")
        + (1 - LM_LAMBDA) * F.col("p1")
    )
    scored = (
        bg.join(F.broadcast(big), ["prev", "cur"])
        .join(F.broadcast(ctx), "prev")
        .join(F.broadcast(uni.select(F.col("tok").alias("cur"), "p1")), "cur")
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("mean_bigram_logprob"),
        F.round(F.min("lp"), 6).alias("min_bigram_logprob"),
    )


# -------------------------------------------- split leakage audit
SPLIT_TRAIN_PCT, SPLIT_VALID_PCT = 90, 5  # train/valid/test = 90/5/5

_SPLIT_CASE_DUCK = f"""
CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
          < {SPLIT_TRAIN_PCT} THEN 'train'
     WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
          < {SPLIT_TRAIN_PCT + SPLIT_VALID_PCT} THEN 'valid'
     ELSE 'test' END
"""

_LEAKAGE_ORACLE = f"""
WITH pairs AS ({_SETSIM_ORACLE}),
s AS (
    SELECT doc_id, {_SPLIT_CASE_DUCK} AS split FROM documents
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       CAST(COUNT(*) AS BIGINT) AS n_leak_pairs,
       ROUND(AVG(p.jaccard), 6) AS avg_jaccard
FROM pairs p
JOIN s sa ON sa.doc_id = p.doc_id_a
JOIN s sb ON sb.doc_id = p.doc_id_b
GROUP BY 1, 2
"""


@query("split_leakage_audit", oracle=_LEAKAGE_ORACLE)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: assign every document to
    train/valid/test by content-addressed hash (90/5/5), then count
    near-duplicate pairs (the EXACT prefix-filter join, J >= 0.8)
    whose endpoints land in different splits — each such pair is
    test-set leakage that survives document-level split hygiene. The
    off-diagonal rows of this report are the number a model-eval team
    needs to be zero (or to deduplicate away) before trusting held-out
    metrics.

    100 TB shape: composes over the registered setsim_prefix_join
    (shared shingle stage, exact recall — an audit built on a
    maybe-missed LSH candidate set would undercount leakage). The
    split is a PURE FUNCTION of doc_id (content-addressed hash), so
    both endpoints' splits compute inline on the pair set — zero
    joins, no corpus-sized split table to broadcast or shuffle; the
    final aggregate is six rows."""
    pairs = _setsim_pairs_cached(spark, sf_dir)

    def split_of(col: str):
        h = (
            F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
            .cast("long") % 100
        )
        return (
            F.when(h < SPLIT_TRAIN_PCT, "train")
            .when(h < SPLIT_TRAIN_PCT + SPLIT_VALID_PCT, "valid")
            .otherwise("test")
        )

    return (
        pairs.select(
            split_of("doc_id_a").alias("_sa"),
            split_of("doc_id_b").alias("_sb"),
            "jaccard",
        )
        .groupBy(
            F.least("_sa", "_sb").alias("split_a"),
            F.greatest("_sa", "_sb").alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_leak_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


# ------------------------------------------- hashed text embeddings
EMB_DIMS = 16

_HASH_EMB_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
),
h AS (
    SELECT doc_id,
           ('0x' || substr(md5(t), 1, 8))::BIGINT % {EMB_DIMS} AS dim,
           (('0x' || substr(md5('s#' || t), 1, 8))::BIGINT % 2) * 2 - 1 AS sgn
    FROM tok WHERE t <> ''
),
w AS (
    SELECT doc_id, CAST(dim AS INT) AS dim, CAST(SUM(sgn) AS BIGINT) AS weight
    FROM h GROUP BY 1, 2
),
n AS (
    SELECT doc_id, sqrt(SUM(weight::DOUBLE * weight)) AS l2 FROM w GROUP BY 1
)
SELECT w.doc_id, w.dim, w.weight,
       ROUND(w.weight / n.l2, 6) AS norm_weight
FROM w JOIN n ON n.doc_id = w.doc_id
WHERE w.weight <> 0
"""


@query("hashed_embedding_vectors", oracle=_HASH_EMB_ORACLE)
def hashed_embedding_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed text embeddings (the hashing trick, Weinberger
    et al. 2009): every token hashes to one of {EMB_DIMS} dimensions
    with a +/-1 sign hash; a document's vector is the signed count
    per dimension, L2-normalized. This is the embedding-GENERATION
    plumbing of the pipeline — the bridge from `documents` to the
    `embeddings` table's ANN stack — with the hash projection standing
    in for a model forward pass (swapping in a real encoder changes
    only the vectorizer, not the schema, partitioning, or downstream
    consumers). Emitted in exploded (doc_id, dim, weight) form so
    every component is an oracle-checkable scalar; raw weights are
    exact BIGINTs, the normalized component is ONE IEEE division.

    100 TB shape: token hashing and signing are map-side expressions;
    the (doc_id, dim) aggregate and the per-doc norm share the same
    doc-keyed shuffle; output is bounded by nnz <= {EMB_DIMS} rows
    per doc."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    h = tok.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long") % EMB_DIMS
        ).cast("int").alias("dim"),
        (
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit("s#"), F.col("t"))), 1, 8),
                    16, 10,
                ).cast("long") % 2
            ) * 2 - 1
        ).alias("sgn"),
    )
    w = h.groupBy("doc_id", "dim").agg(F.sum("sgn").cast("long").alias("weight"))
    wl2 = Window.partitionBy("doc_id")
    return (
        w.withColumn(
            "l2",
            F.sqrt(F.sum(F.col("weight").cast("double") * F.col("weight")).over(wl2)),
        )
        .filter(F.col("weight") != 0)
        .select(
            "doc_id", "dim", "weight",
            F.round(F.col("weight") / F.col("l2"), 6).alias("norm_weight"),
        )
    )


# ----------------------------------------------- PSI value drift
PSI_BINS = 10

_PSI_QS = ", ".join(str(i / PSI_BINS) for i in range(1, PSI_BINS))

_PSI_ORACLE = f"""
WITH wk AS (
    SELECT epoch_us(date_trunc('week', CAST(ts AS TIMESTAMP))) // 1000000
               AS week_epoch,
           value
    FROM events
),
base AS (SELECT MIN(week_epoch) AS w0 FROM wk),
bounds AS (
    SELECT quantile_cont(value, [{_PSI_QS}]) AS bs
    FROM wk CROSS JOIN base WHERE week_epoch = w0
),
binned AS (
    SELECT week_epoch,
           len(list_filter(bounds.bs, b -> value >= b)) AS bin
    FROM wk CROSS JOIN bounds
),
counts AS (
    SELECT week_epoch, bin, COUNT(*) AS c FROM binned GROUP BY 1, 2
),
tot AS (SELECT week_epoch, SUM(c) AS n FROM counts GROUP BY 1),
grid AS (
    SELECT t.week_epoch, g.bin, t.n
    FROM tot t, (SELECT unnest(generate_series(0, {PSI_BINS - 1})) AS bin) g
),
shares AS (
    SELECT g.week_epoch, g.bin,
           (COALESCE(c.c, 0) + 1.0) / (g.n + {PSI_BINS}) AS p
    FROM grid g
    LEFT JOIN counts c ON c.week_epoch = g.week_epoch AND c.bin = g.bin
),
basep AS (
    SELECT s.bin, s.p AS p0 FROM shares s CROSS JOIN base
    WHERE s.week_epoch = base.w0
)
SELECT s.week_epoch,
       CAST(t.n AS BIGINT) AS n_events,
       ROUND(SUM((s.p - b.p0) * ln(s.p / b.p0)), 6) AS psi
FROM shares s
JOIN basep b ON b.bin = s.bin
JOIN tot t ON t.week_epoch = s.week_epoch
CROSS JOIN base
WHERE s.week_epoch <> base.w0
GROUP BY 1, 2
"""


@query("psi_value_drift", oracle=_PSI_ORACLE)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the reading distribution, week
    over baseline week: the first ISO week's value deciles define the
    bins; every later week's binned shares (Laplace-smoothed so empty
    bins stay finite) compare against the baseline shares via
    PSI = sum((q_i - p_i) * ln(q_i / p_i)) — the standard
    model-monitoring drift score (PSI > 0.25 = major shift). The
    distributional complement to schema_drift_audit's structural
    checks: schema intact, values silently shifted.

    100 TB shape: the baseline decile array is a 1-row broadcast
    (exact percentile on the baseline slice; approx_percentile is the
    documented swap at full scale); binning is a map-side
    higher-order filter against that array; everything after operates
    on the (weeks x {PSI_BINS})-row share table.

    r14 (guide §2.4/§1.2): the share table used to branch into the
    baseline-row subtree and the comparison subtree, each replaying
    the WHOLE events lineage (plan audit: 34 FileScans, 36
    BroadcastExchanges — every scalar reuse re-ran the percentile
    and the bin pass). Now w0 rides the bounds broadcast, the (week,
    bin) counts materialize once via localCheckpoint (<= weeks x
    {PSI_BINS} rows, intra-run), and the grid/share/baseline algebra
    runs over that bounded frame: 2 FileScans (baseline percentile +
    bin pass), one data-sized shuffle."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        F.unix_timestamp(F.date_trunc("week", F.col("ts"))).cast("long")
        .alias("week_epoch"),
        "value",
    )
    base_w = wk.agg(F.min("week_epoch").alias("w0"))
    qs = F.array(*[F.lit(i / PSI_BINS) for i in range(1, PSI_BINS)])
    bounds = (
        wk.crossJoin(F.broadcast(base_w))
        .filter(F.col("week_epoch") == F.col("w0"))
        .agg(
            F.percentile("value", qs).alias("bs"),
            F.min("w0").alias("w0"),
        )
    )
    binned = wk.crossJoin(F.broadcast(bounds)).select(
        "week_epoch",
        F.expr("size(filter(bs, b -> value >= b))").alias("bin"),
        "w0",
    )
    counts = (
        binned.groupBy("week_epoch", "bin")
        .agg(F.count(F.lit(1)).alias("c"), F.min("w0").alias("w0"))
        .localCheckpoint()
    )
    weeks = counts.groupBy("week_epoch").agg(
        F.sum("c").alias("n"), F.min("w0").alias("w0")
    )
    grid = weeks.select(
        "week_epoch", "n", "w0",
        F.explode(
            F.sequence(F.lit(0), F.lit(PSI_BINS - 1)).cast("array<long>")
        ).alias("bin"),
    )
    shares = (
        grid.join(
            counts.select("week_epoch", "bin", "c"),
            ["week_epoch", "bin"],
            "left",
        )
        .select(
            "week_epoch", "bin", "n", "w0",
            ((F.coalesce(F.col("c"), F.lit(0)) + 1.0) / (F.col("n") + PSI_BINS))
            .alias("p"),
        )
    )
    basep = (
        shares.filter(F.col("week_epoch") == F.col("w0"))
        .select("bin", F.col("p").alias("p0"))
    )
    return (
        shares.filter(F.col("week_epoch") != F.col("w0"))
        .join(F.broadcast(basep), "bin")
        .groupBy("week_epoch")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.round(
                F.sum((F.col("p") - F.col("p0")) * F.log(F.col("p") / F.col("p0"))),
                6,
            ).alias("psi"),
        )
    )


# ------------------------------------------- span rewrite transform
SPAN_RUN_K = 4  # remove runs of >= 4 shared grams (>= 6 shared words)

_SPAN_CTES = """
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
g AS (
    SELECT doc_id, pos, ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] AS gram
    FROM (
        SELECT doc_id, ws,
               unnest(generate_series(1, greatest(len(ws) - 2, 0))) AS pos
        FROM w
    )
),
df AS (
    SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
),
m AS (
    SELECT g.doc_id, g.pos, df.gram IS NOT NULL AS is_dup
    FROM g LEFT JOIN df ON g.gram = df.gram
)
"""

_SPAN_REWRITE_ORACLE = f"""{_SPAN_CTES},
runs AS (
    SELECT doc_id, pos,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM m WHERE is_dup
),
iv AS (
    SELECT doc_id, MIN(pos) AS s, MAX(pos) AS e
    FROM runs GROUP BY doc_id, grp HAVING COUNT(*) >= {SPAN_RUN_K}
),
ivs AS (
    SELECT doc_id, list(struct_pack(s := s, e := e)) AS spans
    FROM iv GROUP BY 1
),
words AS (
    SELECT doc_id, i, ws[i] AS word
    FROM (
        SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM w
    )
),
kept AS (
    SELECT wo.doc_id, wo.i, wo.word
    FROM words wo LEFT JOIN ivs ON ivs.doc_id = wo.doc_id
    WHERE ivs.doc_id IS NULL
       OR len(list_filter(ivs.spans,
              iv -> wo.i >= iv.s AND wo.i <= iv.e + 2)) = 0
),
agg AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
           string_agg(word, ' ' ORDER BY i) AS clean
    FROM kept GROUP BY 1
)
SELECT d.doc_id,
       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       CAST(len(string_split(d.text, ' ')) - COALESCE(a.n_kept, 0) AS BIGINT)
           AS n_removed_words,
       COALESCE(a.clean, '') AS clean_text
FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


@query("dedup_span_rewrite", oracle=_SPAN_REWRITE_ORACLE)
def dedup_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION step of substring-level dedup (Lee et al. 2022
    remove the duplicated span, keep the document): every run of
    >= {SPAN_RUN_K} consecutive shared 3-grams (>= {SPAN_RUN_K} + 2
    verbatim shared words — licenses, boilerplate headers, quoted
    passages) is cut out of the text; the rest of the document
    survives. duplicated_span_stats is the screen; this emits the
    cleaned corpus.

    100 TB shape: shares the materialized span-flag stage with the
    screen (one gram shuffle amortized over both); runs collapse to a
    per-doc interval LIST (a handful of (start, end) structs — never
    a word-level join), word filtering is a map-side higher-order
    EXISTS against that list, and reassembly is one per-doc ordered
    aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    m = _span_flags_cached(spark, sf_dir)
    wrn = Window.partitionBy("doc_id").orderBy("pos")
    ivs = (
        m.filter("is_dup")
        .select("doc_id", "pos", (F.col("pos") - F.row_number().over(wrn)).alias("grp"))
        .groupBy("doc_id", "grp")
        .agg(F.min("pos").alias("s"), F.max("pos").alias("e"), F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= SPAN_RUN_K)
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("spans"))
    )
    words = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("p0", "word"),
    ).select("doc_id", (F.col("p0") + 1).alias("i"), "word")
    kept = (
        words.join(ivs, "doc_id", "left")
        .filter(
            F.col("spans").isNull()
            | ~F.expr("exists(spans, iv -> i >= iv.s AND i <= iv.e + 2)")
        )
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(i, word))), x -> x.word)"),
        ).alias("clean"),
    )
    nw = F.size(F.split("text", " ")).cast("long")
    return (
        docs.select("doc_id", nw.alias("n_words"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (F.col("n_words") - F.coalesce(F.col("n_kept"), F.lit(0)))
            .cast("long").alias("n_removed_words"),
            F.coalesce(F.col("clean"), F.lit("")).alias("clean_text"),
        )
    )


# ------------------------------------------------ corpus datasheet
SHORT_DOC_TOKENS = 50

_DATASHEET_ORACLE = f"""
WITH base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_doc_tokens,
           ROUND(SUM(CASE WHEN len(string_split(text, ' ')) < {SHORT_DOC_TOKENS}
                          THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6)
               AS short_doc_share
    FROM documents
),
digests AS (
    SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique FROM documents
),
langs AS (
    SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs FROM documents
),
top AS (
    SELECT lang AS top_lang,
           ROUND(COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM documents), 6)
               AS top_lang_share
    FROM documents GROUP BY lang
    ORDER BY COUNT(*) DESC, lang LIMIT 1
)
SELECT b.n_docs, b.n_tokens, b.n_chars, b.avg_doc_tokens, b.short_doc_share,
       ROUND((b.n_docs - d.n_unique)::DOUBLE / b.n_docs, 6) AS exact_dup_share,
       l.n_langs, t.top_lang, t.top_lang_share
FROM base b CROSS JOIN digests d CROSS JOIN langs l CROSS JOIN top t
"""


@query("corpus_datasheet", oracle=_DATASHEET_ORACLE)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card for the corpus — the summary block of a
    datasheet/data-statement (Gebru et al.): volume (docs, tokens,
    chars), length profile (mean tokens, short-doc share), exact
    duplication share, and language composition (distinct languages,
    dominant language + share). The first page of every corpus
    release review.

    100 TB shape: four independent aggregates (full profile, distinct
    digests, distinct langs, top lang), each with map-side partials,
    cross-joined as 1-row broadcast frames — no wide shuffles beyond
    the digest/lang distincts, output is ONE row."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    base = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(ntok).cast("long").alias("n_tokens"),
        F.sum("n_chars").cast("long").alias("n_chars"),
        F.round(F.avg(ntok), 6).alias("avg_doc_tokens"),
        F.round(
            F.sum((ntok < SHORT_DOC_TOKENS).cast("long")) / F.count(F.lit(1)), 6
        ).alias("short_doc_share"),
    )
    digests = docs.agg(
        F.count_distinct(F.md5("text")).cast("long").alias("n_unique")
    )
    langs = docs.agg(F.count_distinct("lang").cast("long").alias("n_langs"))
    top = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "lang")
        .limit(1)
        .crossJoin(F.broadcast(docs.agg(F.count(F.lit(1)).alias("_n"))))
        .select(
            F.col("lang").alias("top_lang"),
            F.round(F.col("c") / F.col("_n"), 6).alias("top_lang_share"),
        )
    )
    return (
        base.crossJoin(F.broadcast(digests))
        .crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(top))
        .select(
            "n_docs", "n_tokens", "n_chars", "avg_doc_tokens", "short_doc_share",
            F.round(
                (F.col("n_docs") - F.col("n_unique")) / F.col("n_docs"), 6
            ).alias("exact_dup_share"),
            "n_langs", "top_lang", "top_lang_share",
        )
    )


# ---------------------- classifier language-bias audit (rank AUC)
# Composes VERBATIM over the classifier oracle: the cells are keyed by
# the same ROUND(,6) quality_logit both engines have produced
# hash-identically since quality_classifier_score registered, so the
# tie structure — which AUC's U statistic depends on — is
# engine-identical by construction.
_AUC_SQL = "CAST(u2 AS DOUBLE) / (2 * np * nn)"

_CLS_AUC_ORACLE = f"""
WITH cls AS ({_CLASSIFIER_ORACLE}),
cells AS (
    SELECT quality_logit,
           CAST(COUNT(*) FILTER (lang = 'en') AS BIGINT) AS cp,
           CAST(COUNT(*) FILTER (lang <> 'en') AS BIGINT) AS cn
    FROM cls GROUP BY 1
),
cum AS (
    SELECT *,
           SUM(cn) OVER (ORDER BY quality_logit
                         ROWS UNBOUNDED PRECEDING) AS cumn
    FROM cells
),
agg AS (
    SELECT CAST(SUM(cp) AS BIGINT) AS np,
           CAST(SUM(cn) AS BIGINT) AS nn,
           CAST(SUM(cp * (2 * cumn - cn)) AS BIGINT) AS u2
    FROM cum
)
SELECT np AS n_english, nn AS n_other, u2 AS u2_stat,
       ROUND({_AUC_SQL}, 6) AS auc
FROM agg
"""


@query("classifier_lang_auc", oracle=_CLS_AUC_ORACLE)
def classifier_lang_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LANGUAGE-BIAS AUDIT of the quality classifier via rank AUC:
    treating English as the positive class, AUC = P(score_en >
    score_other) + 0.5 P(tie) — the one-number check that a quality
    filter is not a language filter in disguise (a real failure mode
    of fastText-style quality gates over multilingual corpora; AUC
    far from 0.5 means the keep/drop gate would skew the language
    mix).

    INTEGER-EXACT core, Mann-Whitney U formulation on (score) cells:
    2U = sum cp*(2*cumn - cn) over score-ordered cells (each English
    doc scores 2 per lower-scored other-language doc + 1 per tie) —
    one BIGINT; AUC = U/(np*nn) is a single shared-verbatim division.
    Cells are keyed by the ROUND(,6) logit the classifier query has
    produced hash-identically on both engines since round 4, so the
    tie structure is engine-identical.

    100 TB shape: the classifier is the zero-shuffle scan it always
    was; AUC adds one cell aggregate (distinct scores, not docs) and a
    window over cells. Reference parity: none — model-governance
    extension of the LLM-pipeline family."""
    cls = quality_classifier_score(spark, sf_dir)
    cells = cls.groupBy("quality_logit").agg(
        F.count(F.when(F.col("lang") == "en", 1)).cast("long").alias("cp"),
        F.count(F.when(F.col("lang") != "en", 1)).cast("long").alias("cn"),
    )
    wcum = (
        Window.partitionBy()
        .orderBy("quality_logit")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = cells.withColumn("cumn", F.sum("cn").over(wcum))
    agg = cum.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cn").cast("long").alias("nn"),
        F.sum(F.col("cp") * (2 * F.col("cumn") - F.col("cn")))
        .cast("long")
        .alias("u2"),
    )
    return agg.select(
        F.col("np").alias("n_english"),
        F.col("nn").alias("n_other"),
        F.col("u2").alias("u2_stat"),
        F.round(F.expr(_AUC_SQL), 6).alias("auc"),
    )


# -------------------------------- leakage-free group k-fold splits
KFOLD_K = 5
# md5-derived fold id — the same engine-portable deterministic-hash
# device as the classifier weights (_CLS_W_*): replayable, no RNG
# state, identical on both engines.
_FOLD_SPARK = (
    f"cast(conv(substr(md5(cast(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    f" % {KFOLD_K}"
)
_FOLD_DUCK = (
    f"('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % {KFOLD_K}"
)

_KFOLD_ORACLE = f"""
WITH ev AS (
    SELECT user_id, event_type, {_FOLD_DUCK} AS fold FROM events
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM ev)
SELECT fold,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       ROUND(CAST(COUNT(*) AS DOUBLE) / n_total, 6) AS event_share
FROM ev, tot
GROUP BY fold, n_total
"""


@query("group_kfold_assign", oracle=_KFOLD_ORACLE)
def group_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE GROUP K-FOLD split assignment ({KFOLD_K} folds):
    every event of a user lands in the SAME fold (the group is the
    unit of assignment), so cross-validation never trains on one half
    of a user's history and evaluates on the other — the split
    correctness rule cross-split leakage audits assume. Fold id is
    md5-derived from the group key: deterministic, replayable, stable
    under re-runs and data arrival order, no RNG state to checkpoint
    (the same engine-portable hash device as the classifier weights).
    Output is the per-fold balance audit (users, events, type
    coverage, share).

    100 TB shape: assignment is MAP-SIDE (one hash per row, no
    shuffle, no per-group state — the group key hashes identically
    wherever the row lands); the audit is one aggregate. Writing the
    folds out would ride partitionBy(fold) on the same expression.
    Reference parity: none — ML-prep extension of the
    sampling/sharding family."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr(_FOLD_SPARK).alias("fold")
    )
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    return (
        ev.crossJoin(F.broadcast(tot))
        .groupBy("fold", "n_total")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("event_type").cast("long").alias("n_types"),
        )
        .select(
            "fold",
            "n_users",
            "n_events",
            "n_types",
            F.round(
                F.col("n_events").cast("double") / F.col("n_total"), 6
            ).alias("event_share"),
        )
    )


# ------------------- classifier calibration (reliability bins + ECE)
# Confidence from the classifier logit mapped to [0,1]; the "label"
# is lang='en' — a held-out attribute the hash-derived weights never
# saw, so the bins exercise the full calibration machinery
# (reliability diagram + expected-calibration-error) with an honest
# target. With trained weights the same query audits the real gate:
# a miscalibrated keep-probability silently shifts the corpus mix.
_CAL_BIN_SQL = "CAST(floor(quality_logit * 10) AS INT)"
_CAL_PNANO_SQL = "CAST(round((quality_logit + 1) * 500000000) AS BIGINT)"

_CAL_ORACLE = """
WITH cls AS ({cls}),
b AS (
    SELECT {bin} AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
           CAST(SUM({pnano}) AS BIGINT) AS sum_pnano
    FROM cls GROUP BY 1
),
t AS (SELECT b.*, SUM(n_docs) OVER () AS n_total FROM b)
SELECT bin, n_docs, n_pos,
       ROUND(sum_pnano / (n_docs * 1e9), 6) AS mean_conf,
       ROUND(CAST(n_pos AS DOUBLE) / n_docs, 6) AS pos_rate,
       ROUND(CAST(n_docs AS DOUBLE) / n_total
             * abs(CAST(n_pos AS DOUBLE) / n_docs
                   - sum_pnano / (n_docs * 1e9)), 6) AS ece_contrib
FROM t
"""


def _calibration_oracle() -> str:
    return _CAL_ORACLE.format(
        cls=_CLASSIFIER_ORACLE, bin=_CAL_BIN_SQL, pnano=_CAL_PNANO_SQL
    )


@query("calibration_bins", oracle=_calibration_oracle())
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER CALIBRATION audit: reliability-diagram bins +
    per-bin EXPECTED-CALIBRATION-ERROR contribution for the quality
    classifier (quality_classifier_score). Confidence = the logit
    mapped to [0,1]; bins = fixed 0.1-wide slices of the logit
    (shared-verbatim floor expression, so the binning double is
    engine-identical); label = lang='en' (see module note above on
    why the held-out attribute is the honest target here).

    Determinism: per-doc confidence is quantized to NANO-UNIT BIGINTs
    before any summation (sum_pnano), so bin means come from exact
    integer sums; pos_rate is a ratio of BIGINTs; the ECE contribution
    is one shared-verbatim double expression over those exact
    aggregates. ECE itself = SUM(ece_contrib) over the <= 21 bins.

    100 TB shape: composes the classifier's ZERO-shuffle scan scoring,
    then one shuffle to at most 21 bin cells; the global window for
    n_total runs on the post-aggregate bin frame — the deliberate
    tiny-frame pattern, not a scale risk. Reference parity: none —
    ML-data-pipeline extension (model-based filtering QA, the
    reliability check a CCNet-style keep gate ships with)."""
    cls = quality_classifier_score(spark, sf_dir)
    b = (
        cls.select(
            F.expr(_CAL_BIN_SQL).alias("bin"),
            (F.col("lang") == "en").cast("int").alias("pos"),
            F.expr(_CAL_PNANO_SQL).alias("pnano"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pos").cast("long").alias("n_pos"),
            F.sum("pnano").cast("long").alias("sum_pnano"),
        )
    )
    t = b.withColumn("n_total", F.sum("n_docs").over(Window.partitionBy()))
    conf = F.col("sum_pnano") / (F.col("n_docs") * F.lit(1e9))
    rate = F.col("n_pos").cast("double") / F.col("n_docs")
    return t.select(
        "bin", "n_docs", "n_pos",
        F.round(conf, 6).alias("mean_conf"),
        F.round(rate, 6).alias("pos_rate"),
        F.round(
            F.col("n_docs").cast("double") / F.col("n_total") * F.abs(rate - conf),
            6,
        ).alias("ece_contrib"),
    )


# ------------- leakage-protected target encoding (leave-one-fold-out)
# The categorical-feature workhorse: replace a category with the mean
# of the target over TRAINING rows only. Naive target encoding leaks
# (a row's own target is inside its category mean); the standard fix
# is leave-one-fold-out — each fold's encoding is computed from the
# other folds — composed here with group_kfold_assign's user-keyed
# folds so a user's own rows never contribute to the encoding their
# fold sees. Smoothing shrinks rare categories toward the (equally
# fold-excluded) global mean.
TENC_PRIOR_W = 20  # smoothing pseudo-count

_TENC_EXPR = (
    "(CAST(sc - scf AS DOUBLE) + "
    f"{TENC_PRIOR_W} * (CAST(sa - saf AS DOUBLE) / (na - naf))) "
    f"/ ((nc - ncf) + {TENC_PRIOR_W})"
)

_TENC_ORACLE = f"""
WITH ev AS (
    SELECT event_type, {_FOLD_DUCK} AS fold,
           CAST(value AS DECIMAL(18, 2)) AS v
    FROM events
),
cf AS (
    SELECT event_type, fold,
           CAST(COUNT(*) AS BIGINT) AS ncf_cell,
           SUM(v) AS scf_cell
    FROM ev GROUP BY 1, 2
),
cat AS (
    SELECT event_type,
           CAST(SUM(ncf_cell) AS BIGINT) AS nc, SUM(scf_cell) AS sc
    FROM cf GROUP BY 1
),
af AS (
    SELECT fold, CAST(SUM(ncf_cell) AS BIGINT) AS naf, SUM(scf_cell) AS saf
    FROM cf GROUP BY 1
),
tot AS (SELECT CAST(SUM(ncf_cell) AS BIGINT) AS na, SUM(scf_cell) AS sa FROM cf)
SELECT cf.event_type, cf.fold,
       cf.ncf_cell AS n_in_fold,
       ROUND({_TENC_EXPR.replace("ncf", "cf.ncf_cell").replace("scf", "cf.scf_cell")}, 6)
           AS enc_value
FROM cf
JOIN cat ON cat.event_type = cf.event_type
JOIN af ON af.fold = cf.fold
CROSS JOIN tot
"""


@query("target_encode_loo", oracle=_TENC_ORACLE)
def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-FOLD-OUT TARGET ENCODING of event_type against the
    numeric target ``value`` (module note above): for each
    (category, fold) cell, enc = (sum_others + w * mean_others_global)
    / (n_others + w), where "others" excludes the ENTIRE fold — both
    the category slice and the global prior are fold-excluded, so no
    row's target influences the encoding its own fold consumes.

    Determinism: category/fold/global sums are exact DECIMALs, counts
    BIGINTs; the encoding is ONE shared-verbatim double expression
    over those aggregates (the CUPED convention). Fold id reuses the
    group-k-fold md5 hash, so splits agree with group_kfold_assign
    and split_leakage_audit.

    100 TB shape: ONE scan, ONE shuffle to |types| x {KFOLD_K} cells;
    category, fold, and global totals are marginal WINDOW sums over
    the post-aggregate cell frame (~|types| x {KFOLD_K} rows — the
    chi2_type_dow pattern; a join-back formulation re-scans the fact
    once per marginal, which the captured plan showed). Applying the
    encoding to rows is a broadcast join of this tiny table onto the
    fact — map-side, like every hash-derived feature here. Reference
    parity: none — ML-prep extension (the scikit/CatBoost-style
    encoder as a declarative plan)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(_FOLD_SPARK).alias("fold"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    cf = ev.groupBy("event_type", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("ncf"),
        F.sum("v").alias("scf"),
    )
    wc = Window.partitionBy("event_type")
    wf = Window.partitionBy("fold")
    wg = Window.partitionBy()
    m = cf.select(
        "event_type", "fold", "ncf", "scf",
        F.sum("ncf").over(wc).cast("long").alias("nc"),
        F.sum("scf").over(wc).alias("sc"),
        F.sum("ncf").over(wf).cast("long").alias("naf"),
        F.sum("scf").over(wf).alias("saf"),
        F.sum("ncf").over(wg).cast("long").alias("na"),
        F.sum("scf").over(wg).alias("sa"),
    )
    return m.select(
        "event_type", "fold",
        F.col("ncf").alias("n_in_fold"),
        F.round(F.expr(_TENC_EXPR), 6).alias("enc_value"),
    )


# -------------------- precision-recall curve at bin thresholds
# Shared-verbatim ratio expressions so the IEEE tree is identical.
_PR_PREC_SQL = "CAST(tp AS DOUBLE) / n_pred_pos"
_PR_REC_SQL = "CAST(tp AS DOUBLE) / total_pos"
_PR_F1_SQL = (
    "CASE WHEN tp > 0 THEN 2.0 * CAST(tp AS DOUBLE)"
    " / (n_pred_pos + total_pos) ELSE CAST(0 AS DOUBLE) END"
)

_PR_ORACLE = """
WITH cls AS ({cls}),
b AS (
    SELECT {bin} AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
    FROM cls GROUP BY 1
),
c AS (
    SELECT bin,
           CAST(SUM(n_docs) OVER (ORDER BY bin DESC
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_pred_pos,
           CAST(SUM(n_pos) OVER (ORDER BY bin DESC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
           CAST(SUM(n_pos) OVER () AS BIGINT) AS total_pos
    FROM b
)
SELECT bin AS threshold_bin, n_pred_pos, tp, total_pos,
       ROUND({prec}, 6) AS precision,
       ROUND({rec}, 6) AS recall,
       ROUND({f1}, 6) AS f1
FROM c
""".format(
    cls="{cls}", bin="{bin}", prec=_PR_PREC_SQL, rec=_PR_REC_SQL,
    f1=_PR_F1_SQL,
)


def _pr_curve_oracle() -> str:
    return _PR_ORACLE.format(cls=_CLASSIFIER_ORACLE, bin=_CAL_BIN_SQL)


@query("pr_curve_bins", oracle=_pr_curve_oracle())
def pr_curve_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRECISION-RECALL curve of the quality classifier at the
    calibration-bin thresholds: for each logit bin, predict positive
    when the logit lands in that bin OR HIGHER and report precision,
    recall and F1 (label = lang='en', the held-out target the
    hash-derived weights never saw — see calibration_bins). The
    imbalanced-class complement to classifier_lang_auc's ROC view:
    ROC-AUC can look healthy while precision collapses at usable
    recall, which is exactly the operating question for a corpus
    keep-gate ("what purity do I get at the threshold that keeps
    X%?"). Together the three queries are the standard model-QA
    triptych: discrimination (AUC), calibration (ECE), operating
    points (this).

    Determinism: bins and counts are exact integers on both engines
    (the bin floor is the shared-verbatim calibration expression);
    cumulative sums run bin-DESC over the <= 21-row bin frame;
    precision/recall/F1 are shared-verbatim double ratios of BIGINTs.

    100 TB shape: zero-shuffle scan scoring into a <= 21-cell
    aggregate (same as calibration_bins), then windows over the tiny
    bin frame. Reference parity: none — ML-data-pipeline extension."""
    cls = quality_classifier_score(spark, sf_dir)
    b = (
        cls.select(
            F.expr(_CAL_BIN_SQL).alias("bin"),
            (F.col("lang") == "en").cast("int").alias("pos"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
    )
    wdesc = (
        Window.partitionBy()
        .orderBy(F.col("bin").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = b.select(
        "bin",
        F.sum("n_docs").over(wdesc).cast("long").alias("n_pred_pos"),
        F.sum("n_pos").over(wdesc).cast("long").alias("tp"),
        F.sum("n_pos").over(Window.partitionBy()).cast("long").alias("total_pos"),
    )
    return c.select(
        F.col("bin").alias("threshold_bin"),
        "n_pred_pos", "tp", "total_pos",
        F.round(F.expr(_PR_PREC_SQL), 6).alias("precision"),
        F.round(F.expr(_PR_REC_SQL), 6).alias("recall"),
        F.round(F.expr(_PR_F1_SQL), 6).alias("f1"),
    )


# ------------------- isotonic calibration map (PAVA via minimax)
# iso(i) = max_{j<=i} min_{k>=i} poolrate(j..k) — the minimax
# characterization of the pool-adjacent-violators solution, computed
# RELATIONALLY over the <= 21-bin frame: all O(bins^2) interval pool
# rates from prefix sums, then a two-level MIN/MAX. No sequential
# stack, no loops — and every pool rate is one division of exact
# BIGINT sums, identical on both engines.
_ISO_ORACLE = """
WITH cls AS ({cls}),
b AS (
    SELECT {bin} AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos
    FROM cls GROUP BY 1
),
p AS (
    SELECT bin, n_docs, n_pos,
           SUM(n_docs) OVER w AS cn, SUM(n_pos) OVER w AS cp
    FROM b WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)
),
iv AS (
    SELECT lo.bin AS j, hi.bin AS k,
           CAST(hi.cp - lo.cp + lo.n_pos AS DOUBLE)
               / (hi.cn - lo.cn + lo.n_docs) AS rate
    FROM p lo JOIN p hi ON lo.bin <= hi.bin
),
inner_min AS (
    SELECT b.bin AS i, iv.j, MIN(iv.rate) AS mn
    FROM b JOIN iv ON iv.j <= b.bin AND iv.k >= b.bin
    GROUP BY 1, 2
)
SELECT b.bin, b.n_docs, b.n_pos,
       ROUND(CAST(b.n_pos AS DOUBLE) / b.n_docs, 6) AS raw_rate,
       ROUND(MAX(inner_min.mn), 6) AS isotonic_rate
FROM b JOIN inner_min ON inner_min.i = b.bin
GROUP BY 1, 2, 3
"""


def _isotonic_oracle() -> str:
    return _ISO_ORACLE.format(cls=_CLASSIFIER_ORACLE, bin=_CAL_BIN_SQL)


@query("isotonic_calibration_map", oracle=_isotonic_oracle())
def isotonic_calibration_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC REGRESSION calibration map for the quality
    classifier: the monotone step function closest (L2) to the raw
    per-bin positive rates — what sklearn's IsotonicRegression fits,
    here via the minimax identity iso(i) = max_{j<=i} min_{k>=i}
    pool_rate(j..k), which equals the pool-adjacent-violators
    solution. calibration_bins DIAGNOSES miscalibration (ECE); this
    produces the correction to APPLY (map each score bin through
    isotonic_rate before thresholding the keep gate).

    Determinism: pool rates are single divisions of exact BIGINT
    prefix sums; MIN/MAX fold over identical doubles; one ROUND at
    the readout.

    100 TB shape: composes the classifier's zero-shuffle scoring,
    one shuffle to <= 21 bins — then ALL the isotonic algebra runs
    on the bins^2 interval grid (<= 231 rows): the bounded-cell
    convention turns an inherently sequential algorithm (PAVA's
    merge stack) into a tiny relational join, with no driver-side
    loop and no single-row recursion."""
    cls = quality_classifier_score(spark, sf_dir)
    b = (
        cls.select(
            F.expr(_CAL_BIN_SQL).alias("bin"),
            (F.col("lang") == "en").cast("int").alias("pos"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
        .localCheckpoint()  # <=21 rows; consumed by p, inner_min, readout
    )
    wp = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    p = b.select(
        "bin",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(wp).alias("cn"),
        F.sum("n_pos").over(wp).alias("cp"),
    )
    lo = p.select(
        F.col("bin").alias("j"),
        F.col("cn").alias("cn_lo"),
        F.col("cp").alias("cp_lo"),
        F.col("n_docs").alias("nd_lo"),
        F.col("n_pos").alias("np_lo"),
    )
    hi = p.select(
        F.col("bin").alias("k"),
        F.col("cn").alias("cn_hi"),
        F.col("cp").alias("cp_hi"),
    )
    iv = lo.join(hi, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            (F.col("cp_hi") - F.col("cp_lo") + F.col("np_lo")).cast("double")
            / (F.col("cn_hi") - F.col("cn_lo") + F.col("nd_lo"))
        ).alias("rate"),
    )
    inner_min = (
        b.select(F.col("bin").alias("i"))
        .join(iv, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("rate").alias("mn"))
    )
    return (
        b.join(inner_min, F.col("bin") == F.col("i"))
        .groupBy("bin", "n_docs", "n_pos")
        .agg(
            F.round(
                F.first(F.col("n_pos").cast("double") / F.col("n_docs")), 6
            ).alias("raw_rate"),
            F.round(F.max("mn"), 6).alias("isotonic_rate"),
        )
    )
