"""Fourth analytics batch (round 7): the remaining first-class legs —

- **Exact distinct at scale**: `bitmap_exact_distinct` — roaring-style
  bitmap aggregation (Spark 4 `bitmap_construct_agg`/`bitmap_count`),
  the EXACT mergeable distinct-count the warehouse family (Doris /
  ClickHouse bitmap engines) maintains where HLL's ±2% is not
  acceptable; the oracle runs COUNT(DISTINCT) so two independent
  algorithms must agree bit-for-bit.
- **Privacy risk**: `k_anonymity_audit` — k-anonymity group sizes and
  l-diversity of the sensitive column over a quasi-identifier tuple,
  the release-gate audit a training-data pipeline runs beside
  pii_redaction_stats before publishing a corpus slice.
- **Closed-form distributed ML**: `ridge_normal_equations` — ridge
  regression fit as ONE scan of exact DECIMAL moment aggregates
  (X'X, X'y) + a Cramer's-rule solve on the 1-row moments frame; the
  canonical "training as aggregation" shape (normal equations) that
  needs no iteration and no driver-side data.
- **Uncertainty quantification**: `conformal_prediction_interval` —
  Mondrian (per-group) split-conformal intervals: hash-split
  train/calibration/test, exact order-statistic radius on the
  calibration scores via the cumulative-count-over-value-cells
  device (same pattern as weighted_median_price — never a global
  row window), empirical coverage on the held-out split.
- **Graph reachability**: `bfs_hop_distance` — min-hop BFS from the
  lowest active user over the capped co-activity graph, unrolled as
  k frontier joins (the iterative-join sibling of PageRank); the
  oracle is a DuckDB recursive CTE, an independent algorithm.

Registry conventions apply (registry.py): exact DECIMAL/BIGINT
accumulation with micro/nano-unit quantization before any double sum,
ROUND(x, 6) on computed doubles both sides, deterministic tiebreaks
on every ORDER BY feeding a LIMIT, shared-verbatim double expressions
with EXPLICIT double casts on every literal (SCALE.md Catalyst trap
#7: bare decimal literals truncate under decimal division).

Reference parity: none of these exist in the reference
(kaonasty/iot-etl) — they extend the dedup/audit/ML-prep families the
brief names as first-class engine components beyond the reference's
19 analytical queries (warehouse/analytical_queries.sql:1-296).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from iot_etl_spark.plans.graphedges import (
    COACT_BUCKET_CAP,
    capped_coactivity_edges,
    capped_minute_activity,
    duck_capped_activity,
)
from iot_etl_spark.plans.registry import query
from iot_etl_spark.sources.tables import load_table


# ------------------------------------------------ bitmap exact distinct
_BITMAP_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
"""


@query("bitmap_exact_distinct", oracle=_BITMAP_ORACLE)
def bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type via bitmap aggregation —
    the mergeable exact-distinct structure (Doris/ClickHouse bitmap
    columns, roaring bitmaps) for when HLL's error bound
    (hll_distinct_audit) is not acceptable: ids map to (bucket, bit)
    with `bitmap_bucket_number`/`bitmap_bit_position`, each bucket
    folds to a fixed 4 KB bitmap via `bitmap_construct_agg`
    (map-side partial merge — the whole point), and the final count
    is a SUM of per-bucket popcounts.

    Two independent algorithms must agree: the oracle runs
    COUNT(DISTINCT user_id).

    100 TB shape: state per (type, bucket) is a constant 4 KB
    regardless of row count, buckets shard the id space so no single
    reducer holds the whole id universe (unlike COUNT(DISTINCT)'s
    per-group hash set), and bitmap partials merge associatively —
    this is the continuous-aggregate-friendly exact distinct."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    per_bucket = (
        ev.select(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bkt"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("event_type", "bkt")
        .agg(
            F.expr("bitmap_construct_agg(pos)").alias("bm"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("distinct_users"),
        F.sum("n").cast("long").alias("n_events"),
    )


# ------------------------------------------------ k-anonymity / l-diversity
KANON_K = 5
KANON_L = 3
_KANON_BAND = 100  # n_chars quasi-identifier band width

_KANON_ORACLE = f"""
WITH g AS (
    SELECT source, n_chars // {_KANON_BAND} AS band,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS l
    FROM documents
    GROUP BY 1, 2
)
SELECT CAST(SUM(k) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(SUM(CASE WHEN k < {KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
           AS groups_k_violating,
       CAST(SUM(CASE WHEN k < {KANON_K} THEN k ELSE 0 END) AS BIGINT)
           AS rows_at_risk,
       ROUND(CAST(SUM(k) AS DOUBLE) / COUNT(*), 6) AS avg_k,
       CAST(MIN(l) AS BIGINT) AS min_l,
       CAST(SUM(CASE WHEN l < {KANON_L} THEN 1 ELSE 0 END) AS BIGINT)
           AS groups_l_violating,
       ROUND(CAST(SUM(l) AS DOUBLE) / COUNT(*), 6) AS avg_l
FROM g
"""


@query("k_anonymity_audit", oracle=_KANON_ORACLE)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity release audit over the documents
    table: quasi-identifier = (source, length band); sensitive
    attribute = lang. A row is re-identifiable when its QI group has
    k < 5 members (Sweeney's k-anonymity); a group leaks the
    sensitive value when it carries l < 3 distinct languages
    (Machanavajjhala's l-diversity). The corpus-release sibling of
    pii_redaction_stats: that one scrubs values, this one measures
    whether the released SCHEMA still identifies people.

    100 TB shape: one groupBy on the QI tuple (map-side combine;
    distinct-lang per group is a tiny exact set — bounded by the
    language universe, not row count) then a single-row rollup.
    Nothing scales with data but the scan."""
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy(
            "source",
            (F.col("n_chars") / _KANON_BAND).cast("long").alias("band"),
        )
        .agg(
            F.count(F.lit(1)).alias("k"),
            F.countDistinct("lang").alias("l"),
        )
    )
    return g.agg(
        F.sum("k").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("k").cast("long").alias("min_k"),
        F.sum(F.when(F.col("k") < KANON_K, 1).otherwise(0))
        .cast("long")
        .alias("groups_k_violating"),
        F.sum(F.when(F.col("k") < KANON_K, F.col("k")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
        F.round(F.sum("k").cast("double") / F.count(F.lit(1)), 6).alias("avg_k"),
        F.min("l").cast("long").alias("min_l"),
        F.sum(F.when(F.col("l") < KANON_L, 1).otherwise(0))
        .cast("long")
        .alias("groups_l_violating"),
        F.round(F.sum("l").cast("double") / F.count(F.lit(1)), 6).alias("avg_l"),
    )


# ------------------------------------------------ ridge via normal equations
RIDGE_LAMBDA = "CAST(1.0 AS DOUBLE)"

# Shared-verbatim Cramer's-rule solve of (X'X + lambda*I) beta = X'y
# over the 1-row moments frame (columns n s1 s2 s11 s12 s22 sy s1y
# s2y syy, all already DOUBLE). Only * + - / on doubles with an
# identical expression tree on both engines -> bit-identical betas.
# Parameterized by the ridge penalty so the harmonic fit (lambda=0)
# reuses the identical solve text.


def _cramer3(lam: str) -> tuple[str, str, str]:
    a11 = f"(n + {lam})"
    a22 = f"(s11 + {lam})"
    a33 = f"(s22 + {lam})"
    det = (
        f"({a11} * ({a22} * {a33} - s12 * s12)"
        f" - s1 * (s1 * {a33} - s12 * s2)"
        f" + s2 * (s1 * s12 - {a22} * s2))"
    )
    b0 = (
        f"((sy * ({a22} * {a33} - s12 * s12)"
        f" - s1 * (s1y * {a33} - s12 * s2y)"
        f" + s2 * (s1y * s12 - {a22} * s2y)) / {det})"
    )
    b1 = (
        f"(({a11} * (s1y * {a33} - s12 * s2y)"
        f" - sy * (s1 * {a33} - s12 * s2)"
        f" + s2 * (s1 * s2y - s1y * s2)) / {det})"
    )
    b2 = (
        f"(({a11} * ({a22} * s2y - s1y * s12)"
        f" - s1 * (s1 * s2y - s1y * s2)"
        f" + sy * (s1 * s12 - {a22} * s2)) / {det})"
    )
    return b0, b1, b2


_B0, _B1, _B2 = _cramer3(RIDGE_LAMBDA)
# Training MSE from the same moments: (y'y - 2 b.X'y + b.X'X b) / n
# (raw X'X here, not the ridge-augmented matrix).
_MSE = (
    "((syy - CAST(2.0 AS DOUBLE) * (b0 * sy + b1 * s1y + b2 * s2y)"
    " + (b0 * b0 * n + b1 * b1 * s11 + b2 * b2 * s22"
    " + CAST(2.0 AS DOUBLE) * (b0 * b1 * s1 + b0 * b2 * s2 + b1 * b2 * s12)))"
    " / n)"
)

_RIDGE_MOMENTS_DUCK = """
    SELECT CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS n,
           CAST(SUM(q) AS DOUBLE) AS s1,
           CAST(SUM(d) AS DOUBLE) AS s2,
           CAST(SUM(q * q) AS DOUBLE) AS s11,
           CAST(SUM(q * d) AS DOUBLE) AS s12,
           CAST(SUM(d * d) AS DOUBLE) AS s22,
           CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(q * y) AS DOUBLE) AS s1y,
           CAST(SUM(d * y) AS DOUBLE) AS s2y,
           CAST(SUM(y * y) AS DOUBLE) AS syy,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM (
        SELECT CAST(l_quantity AS DECIMAL(18,2)) AS q,
               CAST(l_discount AS DECIMAL(18,2)) AS d,
               CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        FROM lineitem
    )
"""

_RIDGE_ORACLE = f"""
WITH m AS ({_RIDGE_MOMENTS_DUCK}),
b AS (
    SELECT n_rows, n, s1, s2, s11, s12, s22, sy, s1y, s2y, syy,
           {_B0} AS b0, {_B1} AS b1, {_B2} AS b2
    FROM m
)
SELECT n_rows,
       ROUND(b0, 6) AS beta_intercept,
       ROUND(b1, 6) AS beta_quantity,
       ROUND(b2, 6) AS beta_discount,
       ROUND({_MSE}, 6) AS train_mse
FROM b
"""


@query("ridge_normal_equations", oracle=_RIDGE_ORACLE)
def ridge_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression (l_extendedprice ~ l_quantity + l_discount,
    lambda=1) fit by normal equations: the ENTIRE training pass is one
    scan producing ten moment aggregates (X'X upper triangle, X'y,
    y'y) — exact DECIMAL sums since quantity/discount/price are 2-dp
    decimals — then Cramer's rule solves the 3x3 system on the 1-row
    moments frame. Training MSE falls out of the same moments with no
    second data pass. "Distributed model training as aggregation":
    no iteration, no driver-side data, no UDF.

    Two independent implementations agree because the solve
    expression tree is shared VERBATIM with the oracle (doubles from
    identical exact decimals -> bit-identical arithmetic).

    100 TB shape: map-side partial aggregation all the way — the
    shuffle carries 32 partial rows of 10 decimals; the solve is O(1).
    Adding features grows the moment count quadratically but the
    pattern holds through d~100 (then you'd switch to L-BFGS over the
    same scan)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("decimal(18,2)").alias("q"),
        F.col("l_discount").cast("decimal(18,2)").alias("d"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("y"),
    )
    m = li.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("q").alias("rs1"),
        F.sum("d").alias("rs2"),
        F.sum(F.col("q") * F.col("q")).alias("rs11"),
        F.sum(F.col("q") * F.col("d")).alias("rs12"),
        F.sum(F.col("d") * F.col("d")).alias("rs22"),
        F.sum("y").alias("rsy"),
        F.sum(F.col("q") * F.col("y")).alias("rs1y"),
        F.sum(F.col("d") * F.col("y")).alias("rs2y"),
        F.sum(F.col("y") * F.col("y")).alias("rsyy"),
    ).select(
        "n_rows",
        F.col("n_rows").cast("double").alias("n"),
        F.col("rs1").cast("double").alias("s1"),
        F.col("rs2").cast("double").alias("s2"),
        F.col("rs11").cast("double").alias("s11"),
        F.col("rs12").cast("double").alias("s12"),
        F.col("rs22").cast("double").alias("s22"),
        F.col("rsy").cast("double").alias("sy"),
        F.col("rs1y").cast("double").alias("s1y"),
        F.col("rs2y").cast("double").alias("s2y"),
        F.col("rsyy").cast("double").alias("syy"),
    )
    b = m.select(
        "*",
        F.expr(_B0).alias("b0"),
        F.expr(_B1).alias("b1"),
        F.expr(_B2).alias("b2"),
    )
    return b.select(
        "n_rows",
        F.round(F.col("b0"), 6).alias("beta_intercept"),
        F.round(F.col("b1"), 6).alias("beta_quantity"),
        F.round(F.col("b2"), 6).alias("beta_discount"),
        F.round(F.expr(_MSE), 6).alias("train_mse"),
    )


# ------------------------------------------------ split-conformal intervals
CONFORMAL_ALPHA_COMPL = "CAST(0.9 AS DOUBLE)"  # 1 - alpha
CONFORMAL_FOLDS = 5  # folds 0-2 train, 3 calibration, 4 test

_CONF_FOLD_SPARK = (
    "cast(conv(substr(md5(cast(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    f" % {CONFORMAL_FOLDS}"
)
_CONF_FOLD_DUCK = (
    "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT"
    f" % {CONFORMAL_FOLDS}"
)

_CONF_ORACLE = f"""
WITH ev AS (
    SELECT event_type, {_CONF_FOLD_DUCK} AS fold,
           CAST(ROUND(value * 1e6) AS BIGINT) AS vq
    FROM events
),
pred AS (
    SELECT event_type,
           CAST(SUM(vq) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS pred_micro
    FROM ev WHERE fold <= 2 GROUP BY 1
),
calib AS (
    SELECT e.event_type,
           CAST(ROUND(ABS(CAST(vq AS DOUBLE) - pred_micro)) AS BIGINT) AS cell
    FROM ev e JOIN pred p ON p.event_type = e.event_type
    WHERE fold = 3
),
nc AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_calib,
           CAST(CEIL((COUNT(*) + 1) * {CONFORMAL_ALPHA_COMPL}) AS BIGINT) AS k
    FROM calib GROUP BY 1
),
cells AS (
    SELECT event_type, cell, COUNT(*) AS cnt FROM calib GROUP BY 1, 2
),
cum AS (
    SELECT event_type, cell,
           SUM(cnt) OVER (
               PARTITION BY event_type ORDER BY cell
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS cum
    FROM cells
),
q AS (
    SELECT c.event_type, MIN(cell) AS q_cell
    FROM cum c JOIN nc ON nc.event_type = c.event_type
    WHERE cum >= k GROUP BY 1
),
test AS (
    SELECT e.event_type,
           CASE WHEN CAST(ROUND(ABS(CAST(vq AS DOUBLE) - pred_micro))
                     AS BIGINT) <= q_cell
                THEN 1 ELSE 0 END AS covered
    FROM ev e
    JOIN pred p ON p.event_type = e.event_type
    JOIN q ON q.event_type = e.event_type
    WHERE fold = 4
)
SELECT t.event_type,
       nc.n_calib,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       ROUND(CAST(q.q_cell AS DOUBLE) / 1e6, 6) AS interval_radius,
       ROUND(CAST(SUM(covered) AS DOUBLE) / COUNT(*), 6) AS coverage
FROM test t
JOIN nc ON nc.event_type = t.event_type
JOIN q ON q.event_type = t.event_type
GROUP BY t.event_type, nc.n_calib, q.q_cell
"""


@query("conformal_prediction_interval", oracle=_CONF_ORACLE)
def conformal_prediction_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian (per-event-type) split-conformal prediction intervals
    (Vovk; Papadopoulos et al.) — the distribution-free uncertainty
    wrapper every forecast family member (holt_forecast_*,
    seasonal_naive_backtest) should ship with: hash-split users into
    train/calibration/test (the leakage-free group split device of
    group_kfold_assign), fit the per-type mean on train, take the
    ceil((n+1)(1-alpha)) order statistic of |y - pred| on calibration
    as the radius, report empirical coverage on test (guaranteed
    >= 90% in expectation).

    The order statistic uses the cumulative-count-over-value-cells
    device (micro-unit quantized scores, same pattern as
    weighted_median_price): a window over the per-(type, cell)
    PRE-AGGREGATE partitioned by type — never a global row-level
    window (contrast rfm_segments' global-NTILE exact/approx pair).

    100 TB shape: two scans of events (moments + scoring), shuffles
    keyed by event_type or (type, cell); per-type cell counts are
    bounded by score resolution, not row count; the k-threshold
    frame is group-cardinality and broadcast back."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(_CONF_FOLD_SPARK).alias("fold"),
        F.expr("CAST(ROUND(value * 1e6) AS BIGINT)").alias("vq"),
    )
    pred = (
        ev.filter(F.col("fold") <= 2)
        .groupBy("event_type")
        .agg(
            (F.sum("vq").cast("double") / F.count(F.lit(1)))
            .alias("pred_micro")
        )
    )
    # ONE pass scores calib AND test rows into the bounded
    # (type, fold, cell) frame; localCheckpoint cuts the downstream
    # calib/test lineage fan-out (it would otherwise re-run the scan
    # + broadcast join per consumer — measured 8 scans before).
    cells = (
        ev.filter(F.col("fold").isin(3, 4))
        .join(F.broadcast(pred), "event_type")
        .withColumn(
            "cell",
            F.expr(
                "CAST(ROUND(ABS(CAST(vq AS DOUBLE) - pred_micro)) AS BIGINT)"
            ),
        )
        .groupBy("event_type", "fold", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint()
    )
    calib = cells.filter(F.col("fold") == 3)
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    ranked = calib.select(
        "event_type",
        "cell",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).cast("long").alias("n_calib"),
    )
    q = (
        ranked.filter(
            F.col("cum")
            >= F.expr(
                f"CAST(CEIL((n_calib + 1) * {CONFORMAL_ALPHA_COMPL}) AS BIGINT)"
            )
        )
        .groupBy("event_type")
        .agg(
            F.min("cell").alias("q_cell"),
            F.max("n_calib").alias("n_calib"),
        )
    )
    test = cells.filter(F.col("fold") == 4).join(F.broadcast(q), "event_type")
    return test.groupBy("event_type", "q_cell", "n_calib").agg(
        F.sum("cnt").cast("long").alias("n_test"),
        F.round(
            F.sum(F.when(F.col("cell") <= F.col("q_cell"), F.col("cnt"))
                  .otherwise(0)).cast("double")
            / F.sum("cnt"),
            6,
        ).alias("coverage"),
    ).select(
        "event_type",
        "n_calib",
        "n_test",
        F.round(F.col("q_cell").cast("double") / F.lit(1e6), 6).alias(
            "interval_radius"
        ),
        "coverage",
    )


# ------------------------------------------------ BFS min-hop distance
BFS_MAX_HOPS = 4

_BFS_ORACLE = f"""
WITH RECURSIVE a AS (
    SELECT b, user_id FROM {duck_capped_activity(
        "epoch_us(date_trunc('minute', CAST(ts AS TIMESTAMP))) // 1000000",
        COACT_BUCKET_CAP,
    )}
),
e AS (
    SELECT DISTINCT x.user_id AS ua, y.user_id AS ub
    FROM a x JOIN a y ON x.b = y.b AND x.user_id < y.user_id
),
und AS (
    SELECT ua AS u, ub AS v FROM e
    UNION ALL
    SELECT ub AS u, ua AS v FROM e
),
seed AS (SELECT MIN(user_id) AS s FROM a),
walk(u, d) AS (
    SELECT s, 0 FROM seed
    UNION
    SELECT und.v, walk.d + 1
    FROM walk JOIN und ON und.u = walk.u
    WHERE walk.d < {BFS_MAX_HOPS}
),
dist AS (SELECT u, MIN(d) AS hop FROM walk GROUP BY 1)
SELECT hop,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(MIN(u) AS BIGINT) AS min_user,
       CAST(MAX(u) AS BIGINT) AS max_user
FROM dist
GROUP BY hop
"""


@query("bfs_hop_distance", oracle=_BFS_ORACLE)
def bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-hop BFS from the lowest active user over the capped
    co-activity graph, unrolled to {BFS_MAX_HOPS} frontier-join
    iterations — the reachability sibling of pagerank_device_graph's
    iterative-join pattern and the primitive behind "blast radius" /
    influence-propagation questions. The oracle computes the same
    distances with a DuckDB recursive CTE (UNION-dedup per step), an
    independent algorithm that must agree.

    Frontier discipline: each hop joins ONLY the previous frontier
    against the adjacency list, anti-joins the visited set, and
    dedups — work per hop is O(frontier x avg-degree), the textbook
    distributed BFS. Edges come from the shared stage-cached capped
    adjacency artifact (graphedges.capped_coactivity_edges), so the
    pair expansion never re-runs per hop.

    100 TB shape: adjacency is a materialized artifact partitioned by
    source vertex; each hop is one shuffle keyed by vertex; the
    visited set grows monotonically but stays (vertex, hop) — columnar
    and compact. Hop count is fixed, so the plan is static (no
    driver-side convergence loop)."""
    edges = capped_coactivity_edges(spark, sf_dir)
    # localCheckpoint the directed adjacency ONCE: each of the
    # {BFS_MAX_HOPS} hop joins re-evaluates its right side, and
    # without truncation that is 2 parquet scans of the edge stage per
    # hop (24 scans/query). Materialized blocks are executor-local;
    # 2|E| narrow rows (VERDICT r8 item 7 polish).
    und = (
        edges.select(F.col("ua").alias("u"), F.col("ub").alias("v"))
        .unionAll(edges.select(F.col("ub").alias("u"), F.col("ua").alias("v")))
        .localCheckpoint()
    )

    act = capped_minute_activity(spark, sf_dir)
    seed = act.agg(F.min("user_id").alias("u")).withColumn("hop", F.lit(0))

    visited = seed  # (u, hop)
    frontier = seed.select("u")
    for h in range(1, BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(und, "u")
            .select(F.col("v").alias("u"))
            .distinct()
            .join(visited.select("u"), "u", "left_anti")
            .withColumn("hop", F.lit(h))
            # TRUNCATE per hop: nxt feeds BOTH the visited union and
            # the next frontier, and later hops' anti-joins re-evaluate
            # every prior hop's join chain without it (the kcore/CC
            # lineage-doubling story). |frontier| rows, executor-local.
            .localCheckpoint()
        )
        # EMPTY-FRONTIER SHORT-CIRCUIT (guide §1.2: don't compute
        # things you throw away): once a frontier is empty every later
        # hop is an identity — joins of an empty frontier — yet each
        # still paid its full join + dedup + checkpoint job (measured:
        # the sf0.1 graph saturates at hop 2 of {BFS_MAX_HOPS}, so half
        # the hops were no-ops, ~1.2 s of 3). The emptiness probe is a
        # one-scalar take(1) on the just-materialized checkpoint (the
        # adjudicated warehouse max-date class); plan depth stays
        # bounded by BFS_MAX_HOPS, results are identical by the BFS
        # monotonicity invariant (an empty frontier never refills).
        if not nxt.take(1):
            break
        visited = visited.unionAll(nxt)
        frontier = nxt.select("u")
    return visited.groupBy("hop").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.min("u").cast("long").alias("min_user"),
        F.max("u").cast("long").alias("max_user"),
    )


# ------------------------------------------------ SCD2 point-in-time join
_SCD2_DIM_TYPES = "('view', 'click', 'signup')"

_SCD2_PIT_ORACLE = f"""
WITH dim_src AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
    FROM events WHERE event_type IN {_SCD2_DIM_TYPES}
),
runs AS (
    SELECT *,
           CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                THEN 1 ELSE 0 END AS chg
    FROM dim_src
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
    SELECT *,
           SUM(chg) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS run_id
    FROM runs
),
regimes AS (
    SELECT user_id, run_id, MIN(event_type) AS regime_type,
           MIN(ts) AS valid_from
    FROM numbered GROUP BY 1, 2
),
scd2 AS (
    SELECT *,
           LEAD(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, run_id
           ) AS valid_to
    FROM regimes
),
facts AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(ROUND(value * 1e6) AS BIGINT) AS vq
    FROM events WHERE event_type = 'purchase'
)
SELECT regime_type,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(vq) AS DOUBLE) / 1e6, 6) AS sum_value
FROM facts f
JOIN scd2 d ON d.user_id = f.user_id
           AND f.ts >= d.valid_from
           AND (d.valid_to IS NULL OR f.ts < d.valid_to)
GROUP BY regime_type
"""


@query("scd2_point_in_time", oracle=_SCD2_PIT_ORACLE)
def scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time (as-of) attribution: run-length-encode each
    user's browsing events (view/click/signup) into type-2 validity
    regimes [valid_from, valid_to), then assign every purchase to the
    regime active at its timestamp — the query shape behind "which
    engagement state converts". The validity windows are built from
    raw history in one pass, oracle-gated; no stored dimension history
    is read.

    Run construction is the canonical gaps-and-islands pattern: a
    change flag off lag(), a cumulative-sum run id, then one
    group-per-run — all windows PARTITIONED BY user (never global).
    The PIT join is an equi-join on user plus a range predicate: the
    shuffle is keyed by user, per-user regime lists are small, and
    Catalyst evaluates the range as a post-join filter, so no
    interval explosion.

    100 TB shape: two scans of events (dim slice + fact slice — AQE
    can even reuse the exchange), one user-keyed shuffle for the
    windows, one for the join. Purchases before a user's first regime
    are dropped by both engines alike (inner join semantics)."""
    ev = load_table(spark, sf_dir, "events")
    dim_src = ev.filter(
        F.col("event_type").isin("view", "click", "signup")
    ).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = dim_src.withColumn(
        "chg",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), 1
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    regimes = runs.groupBy("user_id", "run_id").agg(
        F.min("event_type").alias("regime_type"),
        F.min("ts").alias("valid_from"),
    )
    scd2 = regimes.withColumn(
        "valid_to",
        F.lead("valid_from").over(
            Window.partitionBy("user_id").orderBy("valid_from", "run_id")
        ),
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("f_ts"),
        F.expr("CAST(ROUND(value * 1e6) AS BIGINT)").alias("vq"),
    )
    j = facts.join(scd2, "user_id").filter(
        (F.col("f_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("f_ts") < F.col("valid_to")))
    )
    return j.groupBy("regime_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("vq").cast("double") / F.lit(1e6), 6).alias("sum_value"),
    )


# ------------------------------------------------ Shapley channel attribution
# Coalition-rate Shapley over the 3 pre-purchase channels. Weights are
# |S|!(n-|S|-1)!/n! for n=3: 1/3 (|S| in {0,2}) and 1/6 (|S|=1).
_SHAP_W1 = "(CAST(1.0 AS DOUBLE) / CAST(3.0 AS DOUBLE))"
_SHAP_W2 = "(CAST(1.0 AS DOUBLE) / CAST(6.0 AS DOUBLE))"


def _shap_phi(i: str, a: str, b: str) -> str:
    """Shapley value of channel i given the other two channels a<b,
    over coalition-rate columns r_<sorted flags>: r_000 .. r_111 where
    the three flag positions are (click, signup, view) in that order."""

    def r(*chans: str) -> str:
        flags = ["1" if c in chans else "0" for c in ("c", "s", "v")]
        return f"r_{''.join(flags)}"

    return (
        f"({_SHAP_W1} * ({r(i)} - {r()})"
        f" + {_SHAP_W2} * ({r(i, a)} - {r(a)})"
        f" + {_SHAP_W2} * ({r(i, b)} - {r(b)})"
        f" + {_SHAP_W1} * ({r(i, a, b)} - {r(a, b)}))"
    )


_SHAP_RATE_CELLS = """
    SELECT has_c, has_s, has_v,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(conv) AS BIGINT) AS n_conv
    FROM (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_c,
               MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS has_s,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS has_v,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
    )
    GROUP BY 1, 2, 3
"""

# r_<c><s><v>: conversion rate of users exposed to exactly that
# coalition; absent coalitions contribute rate 0 (documented).
_SHAP_PIVOT = ", ".join(
    f"COALESCE(MAX(CASE WHEN has_c = {c} AND has_s = {s} AND has_v = {v} "
    f"THEN CAST(n_conv AS DOUBLE) / n END), CAST(0.0 AS DOUBLE)) AS r_{c}{s}{v}"
    for c in (0, 1)
    for s in (0, 1)
    for v in (0, 1)
)

_SHAP_ORACLE = f"""
WITH cells AS ({_SHAP_RATE_CELLS}),
p AS (SELECT {_SHAP_PIVOT} FROM cells)
SELECT 'click' AS channel, ROUND({_shap_phi("c", "s", "v")}, 6) AS shapley
FROM p
UNION ALL
SELECT 'signup' AS channel, ROUND({_shap_phi("s", "c", "v")}, 6) AS shapley
FROM p
UNION ALL
SELECT 'view' AS channel, ROUND({_shap_phi("v", "c", "s")}, 6) AS shapley
FROM p
"""


@query("shapley_channel_attribution", oracle=_SHAP_ORACLE)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution (Shapley 1953; the
    data-driven attribution model GA4 popularized): each channel's
    credit for conversion is its average marginal contribution across
    all orderings of the 3-channel coalition, with v(S) = conversion
    rate of users exposed to EXACTLY coalition S. Completes the
    attribution family: linear_attribution splits credit by touch
    count, fifo_click_purchase_match by queue order — Shapley is the
    order-free game-theoretic answer.

    Efficiency identity (pinned in tests): the three values sum to
    v(full) - v(empty).

    100 TB shape: one per-user aggregate (map-side combine over the
    user-keyed shuffle), then the 8-coalition cell frame — the
    combinatorial pivot and the weighted-difference formula run on
    ONE row regardless of data size. Coalition count is 2^n in
    channel count; past n~10 you'd sample permutations instead."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "has_c"
        ),
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias(
            "has_s"
        ),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
            "has_v"
        ),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    cells = per_user.groupBy("has_c", "has_s", "has_v").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("n_conv"),
    )
    p = cells.groupBy().agg(
        *[
            F.expr(
                f"COALESCE(MAX(CASE WHEN has_c = {c} AND has_s = {s} "
                f"AND has_v = {v} THEN CAST(n_conv AS DOUBLE) / n END), "
                f"CAST(0.0 AS DOUBLE))"
            ).alias(f"r_{c}{s}{v}")
            for c in (0, 1)
            for s in (0, 1)
            for v in (0, 1)
        ]
    )
    return p.selectExpr(
        f"stack(3, 'click', ROUND({_shap_phi('c', 's', 'v')}, 6), "
        f"'signup', ROUND({_shap_phi('s', 'c', 'v')}, 6), "
        f"'view', ROUND({_shap_phi('v', 'c', 's')}, 6)) "
        "AS (channel, shapley)"
    )


# ------------------------------------------------ SPRT sequential monitor
# H0: p = 0.20 vs H1: p = 0.25 on arm B's daily conversion; alpha =
# beta = 0.05. The log-likelihood-ratio increments are inlined as
# Python float literals so neither engine calls libm on its own.
SPRT_LLR_SUCC = "CAST(0.22314355131420976 AS DOUBLE)"  # ln(0.25/0.20)
SPRT_LLR_FAIL = "CAST(-0.06453852113757118 AS DOUBLE)"  # ln(0.75/0.80)
SPRT_UPPER = "CAST(2.9444389791664403 AS DOUBLE)"  # ln((1-b)/a)
SPRT_LOWER = "CAST(-2.9444389791664403 AS DOUBLE)"  # ln(b/(1-a))

_SPRT_ARM = "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2"

_SPRT_ORACLE = f"""
WITH daily AS (
    SELECT epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP))) // 1000000
               AS day_epoch,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS trials,
           CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                    THEN user_id END) AS BIGINT) AS succ
    FROM events
    WHERE {_SPRT_ARM} = 1
    GROUP BY 1
),
cum AS (
    SELECT day_epoch, trials, succ,
           SUM(trials) OVER w AS cum_trials,
           SUM(succ) OVER w AS cum_succ
    FROM daily
    WINDOW w AS (ORDER BY day_epoch
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT day_epoch,
       CAST(cum_trials AS BIGINT) AS cum_trials,
       CAST(cum_succ AS BIGINT) AS cum_succ,
       ROUND(cum_succ * {SPRT_LLR_SUCC}
             + (cum_trials - cum_succ) * {SPRT_LLR_FAIL}, 6) AS llr,
       CASE WHEN cum_succ * {SPRT_LLR_SUCC}
                 + (cum_trials - cum_succ) * {SPRT_LLR_FAIL} >= {SPRT_UPPER}
            THEN 'accept_h1'
            WHEN cum_succ * {SPRT_LLR_SUCC}
                 + (cum_trials - cum_succ) * {SPRT_LLR_FAIL} <= {SPRT_LOWER}
            THEN 'accept_h0'
            ELSE 'continue' END AS boundary_state
FROM cum
"""


@query("sprt_sequential_monitor", oracle=_SPRT_ORACLE)
def sprt_sequential_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test as a daily experiment
    monitor: cumulative binomial LLR of arm-B conversion against
    H0 p=0.20 / H1 p=0.25, with the +-ln((1-b)/a) decision boundaries
    — the always-valid "peek every day" discipline the fixed-horizon
    tests (welch_ttest_value, cuped_experiment_readout) cannot give.
    Completes the experimentation family: srm_arm_balance pre-flights
    the split, CUPED reduces variance, SPRT decides WHEN to stop.

    LLR increments are inlined float literals (no libm on either
    engine), counts are exact distinct users, and the cumulative
    window runs over the per-DAY pre-aggregate — bounded by calendar
    length, never row count (same discipline as the trend family).

    100 TB shape: one user+day-keyed distinct aggregate with map-side
    combine, then a ~30-row window. The daily pre-aggregate is
    exactly what a continuous aggregate (warehouse/lifecycle.py)
    maintains incrementally."""
    ev = load_table(spark, sf_dir, "events")
    arm = F.expr(
        "cast(conv(substr(md5(cast(user_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) % 2"
    )
    daily = (
        ev.filter(arm == 1)
        .groupBy(
            F.unix_timestamp(F.date_trunc("day", F.col("ts")))
            .cast("long")
            .alias("day_epoch")
        )
        .agg(
            F.countDistinct("user_id").cast("long").alias("trials"),
            F.countDistinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            )
            .cast("long")
            .alias("succ"),
        )
    )
    w = Window.orderBy("day_epoch").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day_epoch",
        F.sum("trials").over(w).cast("long").alias("cum_trials"),
        F.sum("succ").over(w).cast("long").alias("cum_succ"),
    )
    llr = (
        f"cum_succ * {SPRT_LLR_SUCC}"
        f" + (cum_trials - cum_succ) * {SPRT_LLR_FAIL}"
    )
    return cum.selectExpr(
        "day_epoch",
        "cum_trials",
        "cum_succ",
        f"ROUND({llr}, 6) AS llr",
        f"CASE WHEN {llr} >= {SPRT_UPPER} THEN 'accept_h1' "
        f"WHEN {llr} <= {SPRT_LOWER} THEN 'accept_h0' "
        "ELSE 'continue' END AS boundary_state",
    )


# ------------------------------------------------ clamped running balance
_BALANCE_ORACLE = """
WITH RECURSIVE deltas AS (
    SELECT user_id,
           CASE WHEN event_type = 'purchase'
                THEN CAST(ROUND(value * 1e6) AS BIGINT)
                ELSE -CAST(ROUND(value * 1e6) AS BIGINT) END AS d,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
           ) AS rn
    FROM events WHERE event_type IN ('purchase', 'error')
),
walk(user_id, rn, bal, mx, clamps) AS (
    SELECT user_id, rn, GREATEST(CAST(0 AS BIGINT), d), 
           GREATEST(CAST(0 AS BIGINT), d),
           CASE WHEN d < 0 THEN 1 ELSE 0 END
    FROM deltas WHERE rn = 1
    UNION ALL
    SELECT w.user_id, d.rn,
           GREATEST(CAST(0 AS BIGINT), w.bal + d.d),
           GREATEST(w.mx, GREATEST(CAST(0 AS BIGINT), w.bal + d.d)),
           w.clamps + CASE WHEN w.bal + d.d < 0 THEN 1 ELSE 0 END
    FROM walk w JOIN deltas d ON d.user_id = w.user_id AND d.rn = w.rn + 1
),
last AS (
    SELECT user_id, bal, mx, clamps,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn DESC) AS r
    FROM walk
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       ROUND(CAST(bal AS DOUBLE) / 1e6, 6) AS final_balance,
       ROUND(CAST(mx AS DOUBLE) / 1e6, 6) AS max_balance,
       CAST(clamps AS BIGINT) AS n_clamps
FROM last WHERE r = 1
"""


@query("clamped_running_balance", oracle=_BALANCE_ORACLE)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running balance clamped at zero per user (purchases credit,
    errors debit; balance can never go negative) — inventory /
    prepaid-wallet semantics, folded sequentially in Python as the
    §2.10 custom-operator exemplar. NOTE (r9 correction): the
    ONE-SIDED zero clamp is NOT genuinely non-associative — it admits
    the reflection closed form b_t = cum_t - min(0, running_min(cum)),
    implemented JVM-side in clamped_running_balance_builtin below
    (equivalence pytest-pinned); a TWO-SIDED clamp [0, cap] is the
    case with no window form. This query stays as the sequential-fold
    exemplar and the cross-check of the identity. The oracle is a
    DuckDB RECURSIVE CTE walking rn -> rn+1 — an independent
    sequential implementation that must agree exactly.

    r13 optimization (guide §4.1/§4.5): the fold used to run as
    groupBy().applyInPandas — one Python call AND one 1-row pandas
    DataFrame construction PER USER, which dominated the wall time
    (5.45 s warm at sf0.1 vs 0.70 s for the JVM twin; the per-row
    fold itself is ~100 ms). It is now mapInPandas over a user-hashed,
    (user_id, us, event_id)-sorted partition: one Python iterator per
    TASK, group boundaries detected inline, open-group state carried
    across Arrow batch boundaries. Same sequential per-row fold, same
    rows out, ~10 Python calls instead of ~|users|.

    Integer micro-unit arithmetic end to end (BIGINT in the fold,
    one division at the very end), so the two engines' folds are
    exact, not IEEE-summation-ordered.

    100 TB shape: one shuffle on user_id; per-task state is ONE open
    group's running scalars (not the group's history — better than
    the grouped-map form, which held each user's whole history in one
    Arrow batch). A pathological million-event key would want the
    txlog's per-key compaction first."""
    import pandas as pd

    def fold_partition(batches):
        uid = bal = mx = clamps = 0
        have = False
        for pdf in batches:
            out_u, out_b, out_m, out_c = [], [], [], []
            for u, d in zip(pdf["user_id"].to_numpy(), pdf["d"].to_numpy()):
                if not have or u != uid:
                    if have:
                        out_u.append(uid)
                        out_b.append(bal)
                        out_m.append(mx)
                        out_c.append(clamps)
                    uid, bal, mx, clamps, have = u, 0, 0, 0, True
                nb = bal + int(d)
                if nb < 0:
                    clamps += 1
                    nb = 0
                bal = nb
                if bal > mx:
                    mx = bal
            if out_u:
                yield pd.DataFrame(
                    {
                        "user_id": out_u,
                        "final_balance_micro": out_b,
                        "max_balance_micro": out_m,
                        "n_clamps": out_c,
                    }
                )
        if have:
            yield pd.DataFrame(
                {
                    "user_id": [int(uid)],
                    "final_balance_micro": [bal],
                    "max_balance_micro": [mx],
                    "n_clamps": [clamps],
                }
            )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    deltas = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.expr("CAST(ROUND(value * 1e6) AS BIGINT)"),
        )
        .otherwise(-F.expr("CAST(ROUND(value * 1e6) AS BIGINT)"))
        .alias("d"),
    )
    out = (
        deltas.repartition("user_id")
        .sortWithinPartitions("user_id", "us", "event_id")
        # only the two columns the fold reads cross the Arrow boundary
        # (guide §4.1); the sort keys are consumed by the JVM sort
        .select("user_id", "d")
        .mapInPandas(
            fold_partition,
            schema=(
                "user_id long, final_balance_micro long, "
                "max_balance_micro long, n_clamps long"
            ),
        )
    )
    return out.select(
        "user_id",
        F.round(F.col("final_balance_micro").cast("double") / F.lit(1e6), 6)
        .alias("final_balance"),
        F.round(F.col("max_balance_micro").cast("double") / F.lit(1e6), 6)
        .alias("max_balance"),
        "n_clamps",
    )


@query("clamped_running_balance_builtin", oracle=_BALANCE_ORACLE)
def clamped_running_balance_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side twin of clamped_running_balance via the REFLECTION
    identity (Skorokhod/Lindley): with cum_t the plain prefix sum and
    m_t its running minimum, the zero-clamped balance is
    b_t = cum_t - min(0, m_t); a clamp fires at t iff
    cum_t < min(0, m_{t-1}). Everything is two window passes plus one
    aggregate on a single user_id exchange — whole-stage codegen, no
    Python worker, no Arrow transfer (measured ~8x faster warm at
    sf0.1 than the grouped-map fold). Equivalence with the sequential
    fold is pytest-pinned; the oracle is the same recursive CTE.

    100 TB shape: identical to rolling_window_stats — one shuffle on
    the key, bounded per-row state, exact BIGINT micro-units."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    deltas = ev.select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.expr("CAST(ROUND(value * 1e6) AS BIGINT)"),
        )
        .otherwise(-F.expr("CAST(ROUND(value * 1e6) AS BIGINT)"))
        .alias("d"),
    )
    ordered = Window.partitionBy("user_id").orderBy("us", "event_id")
    w_cum = ordered.rowsBetween(Window.unboundedPreceding, 0)
    cum = deltas.select(
        "user_id", "us", "event_id", "d",
        F.sum("d").over(w_cum).cast("long").alias("cum"),
    )
    w_m = ordered.rowsBetween(Window.unboundedPreceding, 0)
    w_mprev = ordered.rowsBetween(Window.unboundedPreceding, -1)
    stepped = cum.select(
        "user_id",
        "d",
        "cum",
        (
            F.col("cum")
            - F.least(F.lit(0).cast("long"), F.min("cum").over(w_m))
        ).alias("b"),
        F.when(
            F.col("cum")
            < F.least(
                F.lit(0).cast("long"),
                F.coalesce(F.min("cum").over(w_mprev), F.lit(0).cast("long")),
            ),
            1,
        )
        .otherwise(0)
        .alias("clamped"),
    )
    agg = stepped.groupBy("user_id").agg(
        (
            F.sum("d") - F.least(F.lit(0).cast("long"), F.min("cum"))
        ).cast("long").alias("final_balance_micro"),
        F.max("b").cast("long").alias("max_balance_micro"),
        F.sum("clamped").cast("long").alias("n_clamps"),
    )
    return agg.select(
        "user_id",
        F.round(F.col("final_balance_micro").cast("double") / F.lit(1e6), 6)
        .alias("final_balance"),
        F.round(F.col("max_balance_micro").cast("double") / F.lit(1e6), 6)
        .alias("max_balance"),
        "n_clamps",
    )


# ------------------------------------------------ negative binomial MoM fit
_NB_ORACLE = """
WITH daily AS (
    SELECT event_type,
           date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
mom AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(c) AS BIGINT) AS s,
           CAST(SUM(c * c) AS BIGINT) AS ss
    FROM daily GROUP BY 1
)
SELECT event_type, n_days,
       ROUND(CAST(s AS DOUBLE) / n_days, 6) AS mean_daily,
       ROUND((ss - CAST(s AS DOUBLE) * s / n_days) / (n_days - 1), 6)
           AS var_daily,
       ROUND((CAST(s AS DOUBLE) / n_days)
             / ((ss - CAST(s AS DOUBLE) * s / n_days) / (n_days - 1)), 6)
           AS nb_p,
       ROUND(CASE WHEN (ss - CAST(s AS DOUBLE) * s / n_days) / (n_days - 1)
                       > CAST(s AS DOUBLE) / n_days
                  THEN (CAST(s AS DOUBLE) / n_days)
                       * (CAST(s AS DOUBLE) / n_days)
                       / ((ss - CAST(s AS DOUBLE) * s / n_days) / (n_days - 1)
                          - CAST(s AS DOUBLE) / n_days)
             END, 6) AS nb_r,
       ROUND(((ss - CAST(s AS DOUBLE) * s / n_days) / (n_days - 1))
             / (CAST(s AS DOUBLE) / n_days), 6) AS dispersion_index
FROM mom
"""


@query("negative_binomial_fit", oracle=_NB_ORACLE)
def negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit of daily event counts
    per type — the overdispersion MODEL the poisson_dispersion_test
    only tests for: p = mean/var, r = mean^2/(var - mean) (NULL when
    the data is not overdispersed, i.e. var <= mean, where the NB
    degenerates to Poisson). Event-count data is almost always
    overdispersed (bursts, daily cycles); r is the burstiness
    parameter capacity planning actually wants.

    Moments are exact BIGINT sums over the per-day pre-aggregate;
    every double is a shared-verbatim expression off those integers.

    100 TB shape: the daily pre-aggregate is the same continuous-
    aggregate shape as the trend family; the moment pass is ~30 rows
    per type."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    mean = "CAST(s AS DOUBLE) / n_days"
    var = f"(ss - {mean} * s / n_days) / (n_days - 1)"
    # NOTE: oracle spells var with the same tree: (ss - CAST(s)*s/n)/(n-1)
    var = "(ss - CAST(s AS DOUBLE) * s / n_days) / (n_days - 1)"
    return mom.selectExpr(
        "event_type",
        "n_days",
        f"ROUND({mean}, 6) AS mean_daily",
        f"ROUND({var}, 6) AS var_daily",
        f"ROUND(({mean}) / ({var}), 6) AS nb_p",
        f"ROUND(CASE WHEN {var} > {mean} "
        f"THEN ({mean}) * ({mean}) / ({var} - {mean}) END, 6) AS nb_r",
        f"ROUND(({var}) / ({mean}), 6) AS dispersion_index",
    )


# ------------------------------------------------ Benjamini-Hochberg FDR
BH_Q = "CAST(0.10 AS DOUBLE)"  # target false-discovery rate
# Logistic approximation to the standard normal CDF (Bowling et al.
# 2009), max abs error 1.4e-4 — a screening-grade p-value that both
# engines compute from the SAME exp() argument. Two-sided:
# p = 2 * (1 - Phi(|z|)) with Phi(x) ~ 1/(1+exp(-1.702x)).
_BH_P = (
    "(CAST(2.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
    " + exp(CAST(1.702 AS DOUBLE) * ABS(z))))"
)

_BH_ORACLE = f"""
WITH daily AS (
    SELECT user_id,
           date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
stat AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS s,
           CAST(SUM(c * c) AS BIGINT) AS ss
    FROM daily GROUP BY 1 HAVING COUNT(*) >= 2
),
z AS (
    SELECT user_id,
           ((n - 1) * ((ss - CAST(s AS DOUBLE) * s / n) / (n - 1)
                       / (CAST(s AS DOUBLE) / n)) - (n - 1))
           / sqrt(CAST(2.0 AS DOUBLE) * (n - 1)) AS z
    FROM stat
),
p AS (
    SELECT user_id,
           CAST(ROUND({_BH_P} * 1e6) AS BIGINT) AS p_cell
    FROM z
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM p),
cells AS (SELECT p_cell, CAST(COUNT(*) AS BIGINT) AS cnt FROM p GROUP BY 1),
cum AS (
    SELECT p_cell,
           SUM(cnt) OVER (ORDER BY p_cell
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
    FROM cells
),
k AS (
    SELECT MAX(cum) AS n_rejected, MAX(p_cell) AS thresh_cell
    FROM cum, m
    WHERE CAST(p_cell AS DOUBLE) / 1e6 <= CAST(cum AS DOUBLE) / m * {BH_Q}
)
SELECT m.m AS n_tests,
       CAST(COALESCE(k.n_rejected, 0) AS BIGINT) AS n_rejected,
       ROUND(CAST(k.thresh_cell AS DOUBLE) / 1e6, 6) AS reject_threshold_p
FROM m LEFT JOIN k ON TRUE
"""


@query("benjamini_hochberg_fdr", oracle=_BH_ORACLE)
def benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over per-user overdispersion
    tests — the multiple-testing discipline the per-entity audit
    family (poisson_dispersion_test is ONE global test) needs when it
    screens millions of entities: each user's daily-count dispersion
    becomes a z (chi-square normal approximation), a two-sided
    screening p (logistic-CDF approximation, documented 1.4e-4 error,
    same exp() tree on both engines), and BH rejects the largest
    prefix of sorted p-values with p_(i) <= (i/m) q.

    Scale-safe BH: p-values are quantized to 1e-6 cells and the rank
    scan is a cumulative count over the per-cell PRE-AGGREGATE (the
    conformal/weighted-median device) — the window is bounded by p
    resolution (<= 1e6 cells), never by the number of entities, so
    "BH over a million devices" does not become a global row sort.
    Quantization is part of the declared semantics, applied
    identically in both engines.

    100 TB shape: per-(user, day) count -> per-user moments (map-side
    combine), then the bounded cell scan; the m count is a 1-row
    broadcast."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stat = (
        daily.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("s"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
        )
        .filter(F.col("n") >= 2)
    )
    z = stat.selectExpr(
        "user_id",
        "((n - 1) * ((ss - CAST(s AS DOUBLE) * s / n) / (n - 1)"
        " / (CAST(s AS DOUBLE) / n)) - (n - 1))"
        " / sqrt(CAST(2.0 AS DOUBLE) * (n - 1)) AS z",
    )
    p = z.selectExpr(f"CAST(ROUND({_BH_P} * 1e6) AS BIGINT) AS p_cell")
    cells = p.groupBy("p_cell").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    # m rides along as a second window over the SAME bounded cell
    # frame (one consumption, one scan) instead of a separate count
    # branch + cross join — the BH decision is then ONE conditional
    # aggregate over the cum frame.
    wcum = Window.orderBy("p_cell").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = cells.select(
        "p_cell",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).cast("long").alias("m"),
    )
    cond = F.expr(
        f"CAST(p_cell AS DOUBLE) / 1e6 <= CAST(cum AS DOUBLE) / m * {BH_Q}"
    )
    return cum.agg(
        F.max("m").alias("n_tests"),
        F.coalesce(F.max(F.when(cond, F.col("cum"))), F.lit(0))
        .cast("long")
        .alias("n_rejected"),
        F.round(
            F.max(F.when(cond, F.col("p_cell"))).cast("double") / F.lit(1e6), 6
        ).alias("reject_threshold_p"),
    )


# ------------------------------------------------ difference-in-differences
_DID_SPLIT_DAYS = 15

_DID_CELLS = f"""
    SELECT arm, period,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS s,
           CAST(SUM(c * c) AS BIGINT) AS ss
    FROM (
        SELECT user_id, arm, period, CAST(SUM(conv) AS BIGINT) AS c
        FROM (
            SELECT user_id,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                       % 2 AS arm,
                   CASE WHEN date_trunc('day', CAST(ts AS TIMESTAMP))
                             < (SELECT MIN(date_trunc('day',
                                           CAST(ts AS TIMESTAMP)))
                                FROM events) + INTERVAL {_DID_SPLIT_DAYS} DAY
                        THEN 0 ELSE 1 END AS period,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
            FROM events
        )
        GROUP BY 1, 2, 3
    )
    GROUP BY 1, 2
"""

# Metric: purchases per active user (a continuous outcome; a binary
# conversion flag is degenerate here — every user converts in every
# period, making the SE exactly 0).
_DID_RATE = "(CAST(s AS DOUBLE) / n)"
_DID_VAR = (
    "((ss - CAST(s AS DOUBLE) * s / n) / (n - 1) / n)"
)
# One pivot expression per (arm, period) cell: the mean and its
# squared standard error, shared verbatim between both engines.
_DID_PIVOT_EXPRS = [
    f"MAX(CASE WHEN arm = {a} AND period = {p} THEN {src} END) AS {tag}_{ab}_{pp}"
    for a, ab in ((0, "a"), (1, "b"))
    for p, pp in ((0, "pre"), (1, "post"))
    for src, tag in ((_DID_RATE, "r"), (_DID_VAR, "v"))
]
_DID_PIVOT = ", ".join(_DID_PIVOT_EXPRS)
_DID_EST = "((r_b_post - r_b_pre) - (r_a_post - r_a_pre))"
_DID_SE = "sqrt(v_a_pre + v_a_post + v_b_pre + v_b_post)"

_DID_ORACLE = f"""
WITH cells AS ({_DID_CELLS}),
p AS (SELECT {_DID_PIVOT} FROM cells)
SELECT ROUND(r_a_pre, 6) AS r_a_pre,
       ROUND(r_a_post, 6) AS r_a_post,
       ROUND(r_b_pre, 6) AS r_b_pre,
       ROUND(r_b_post, 6) AS r_b_post,
       ROUND({_DID_EST}, 6) AS did,
       ROUND({_DID_SE}, 6) AS se,
       ROUND({_DID_EST} / {_DID_SE}, 6) AS z
FROM p
"""


@query("diff_in_diff_readout", oracle=_DID_ORACLE)
def diff_in_diff_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences causal readout: md5-split arms, the
    observation span split pre/post at day 15, the purchases-per-
    active-user mean per (arm, period) cell, and
    DiD = (B_post - B_pre) - (A_post - A_pre) with the delta-method
    SE from the per-cell sample variances — the parallel-trends
    workhorse when treatment turns on mid-stream and a plain
    post-only A/B would absorb the secular trend. Completes the
    causal family (srm pre-flight, CUPED variance reduction, SPRT
    stopping, DiD identification). (The metric is a count, not a
    conversion flag: in this data every user converts in every
    period, which would make a binary DiD's SE exactly zero.)

    The period split derives from MIN(day) (one 1-row broadcast);
    means and variances pivot out of ONE 4-cell moment aggregate, and
    every double is a shared-verbatim expression over exact BIGINTs.

    100 TB shape: one (user, arm, period)-grained count aggregate
    with map-side combine, one 4-cell moment pass; everything after
    is 4 rows."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.agg(
        F.date_trunc("day", F.min(F.date_trunc("day", F.col("ts")))).alias(
            "d0"
        )
    )
    per_user = (
        ev.crossJoin(F.broadcast(first_day))
        .select(
            "user_id",
            F.expr(
                "cast(conv(substr(md5(cast(user_id AS STRING)), 1, 8), 16, 10)"
                " AS BIGINT) % 2"
            ).alias("arm"),
            F.when(
                F.date_trunc("day", F.col("ts"))
                < F.expr(f"d0 + INTERVAL {_DID_SPLIT_DAYS} DAYS"),
                0,
            )
            .otherwise(1)
            .alias("period"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("conv"),
        )
        .groupBy("user_id", "arm", "period")
        .agg(F.sum("conv").cast("long").alias("c"))
    )
    cells = per_user.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    p = cells.groupBy().agg(
        *[F.expr(frag) for frag in _DID_PIVOT_EXPRS]
    )
    return p.selectExpr(
        "ROUND(r_a_pre, 6) AS r_a_pre",
        "ROUND(r_a_post, 6) AS r_a_post",
        "ROUND(r_b_pre, 6) AS r_b_pre",
        "ROUND(r_b_post, 6) AS r_b_post",
        f"ROUND({_DID_EST}, 6) AS did",
        f"ROUND({_DID_SE}, 6) AS se",
        f"ROUND({_DID_EST} / {_DID_SE}, 6) AS z",
    )


# ------------------------------------------------ Nelson-Aalen hazard
_NA_SURV = "ROUND(exp(-(CAST(cum_nano AS DOUBLE) / 1e9)), 6)"

_NA_ORACLE = f"""
WITH ts_ AS (
    SELECT user_id, CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us
    FROM events
),
obs AS (SELECT CAST(max(us) AS BIGINT) AS obs_end FROM ts_),
spells AS (
    SELECT user_id,
           CAST((COALESCE(next_us, obs_end) - us) // 60000000 AS BIGINT)
               AS t_min,
           CASE WHEN next_us IS NULL THEN 0 ELSE 1 END AS observed
    FROM (
        SELECT user_id, us,
               LEAD(us) OVER (PARTITION BY user_id ORDER BY us) AS next_us
        FROM ts_
    ), obs
),
cells AS (
    SELECT t_min,
           CAST(SUM(observed) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM spells GROUP BY 1
),
risk AS (
    SELECT *,
           CAST(SUM(c) OVER (ORDER BY t_min DESC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n
    FROM cells
),
terms AS (
    SELECT t_min, d, n,
           CAST(ROUND(CAST(d AS DOUBLE) / n * 1e9) AS BIGINT) AS nano
    FROM risk
),
cum AS (
    SELECT *,
           CAST(SUM(nano) OVER (ORDER BY t_min ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_nano
    FROM terms
)
SELECT t_min, n AS n_at_risk, d AS n_ended,
       ROUND(CAST(cum_nano AS DOUBLE) / 1e9, 6) AS cum_hazard,
       {_NA_SURV} AS fh_survival
FROM cum
WHERE d > 0 AND t_min % 60 = 0
"""


@query("nelson_aalen_hazard", oracle=_NA_ORACLE)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative hazard over the same right-censored
    inter-event spells as kaplan_meier_waits: H(t) = sum of d/n over
    ended-spell durations <= t, plus the Fleming-Harrington survival
    exp(-H) — the estimator of choice when hazard (instantaneous
    risk), not survival probability, is the modeled quantity, and the
    standard KM cross-check (FH >= KM pointwise, both -> same curve
    as cells thin out; pinned in tests). Curve sampled at whole-hour
    durations.

    Determinism: identical cell/risk-set construction to KM (exact
    BIGINTs), each d/n increment nano-quantized BEFORE the running
    sum, so H is an integer in duration order and the only unshared
    float op is the final shared-verbatim exp.

    100 TB shape: identical to KM — one user_id shuffle for LEAD
    spells, a duration-bounded cell aggregate, windows over cells."""
    ev = load_table(spark, sf_dir, "events")
    ts_ = ev.select("user_id", F.unix_micros("ts").cast("long").alias("us"))
    obs = ts_.agg(F.max("us").cast("long").alias("obs_end"))
    w_u = Window.partitionBy("user_id").orderBy("us")
    spells = (
        ts_.withColumn("next_us", F.lead("us").over(w_u))
        .crossJoin(F.broadcast(obs))
        .select(
            F.expr("(coalesce(next_us, obs_end) - us) div 60000000")
            .cast("long")
            .alias("t_min"),
            F.col("next_us").isNotNull().cast("int").alias("observed"),
        )
    )
    cells = spells.groupBy("t_min").agg(
        F.sum("observed").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    w_desc = (
        Window.partitionBy()
        .orderBy(F.col("t_min").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = cells.withColumn("n", F.sum("c").over(w_desc).cast("long"))
    terms = risk.withColumn(
        "nano",
        F.round(F.col("d").cast("double") / F.col("n") * F.lit(1e9)).cast(
            "long"
        ),
    )
    w_asc = (
        Window.partitionBy()
        .orderBy("t_min")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = terms.withColumn(
        "cum_nano", F.sum("nano").over(w_asc).cast("long")
    )
    return cum.filter((F.col("d") > 0) & (F.col("t_min") % 60 == 0)).select(
        "t_min",
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("n_ended"),
        F.round(F.col("cum_nano").cast("double") / F.lit(1e9), 6).alias(
            "cum_hazard"
        ),
        F.expr(_NA_SURV).alias("fh_survival"),
    )


# ------------------------------------------------ grid-density clustering
GRID_BAND_WIDTH = "CAST(5.0 AS DOUBLE)"  # value-band width
GRID_CORE_FACTOR = 3  # core cell: cnt * n_cells >= factor * total
# adaptive CC threshold: under this many core cells the component
# labeling runs as a driver union-find (the grid is broadcast-sized);
# above it, the distributed min-label loop (band axis follows the
# value range, so the grid CAN grow with pathological data)
GRID_DRIVER_CC_MAX = 100_000

_GRID_CELLS = f"""
    SELECT CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT) AS h,
           CAST(FLOOR(value / {GRID_BAND_WIDTH}) AS BIGINT) AS b,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
"""

_GRID_ORACLE = f"""
WITH RECURSIVE cells AS ({_GRID_CELLS}),
tot AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS total,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM cells
),
core AS (
    SELECT h, b, cnt, h * 1000 + b AS id
    FROM cells, tot
    WHERE cnt * n_cells >= {GRID_CORE_FACTOR} * total
),
e AS (
    SELECT x.id AS u, y.id AS v
    FROM core x JOIN core y
      ON (x.h = y.h AND y.b = x.b + 1) OR (y.h = x.h + 1 AND x.b = y.b)
),
und AS (
    SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e
),
walk(s, r) AS (
    SELECT id, id FROM core
    UNION
    SELECT walk.s, und.v FROM walk JOIN und ON und.u = walk.r
),
lbl AS (SELECT s AS id, MIN(r) AS label FROM walk GROUP BY 1)
SELECT label AS cluster_label,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(cnt) AS BIGINT) AS n_points,
       CAST(MIN(h) AS BIGINT) AS hour_min,
       CAST(MAX(h) AS BIGINT) AS hour_max,
       CAST(MIN(b) AS BIGINT) AS band_min,
       CAST(MAX(b) AS BIGINT) AS band_max
FROM core JOIN lbl USING (id)
GROUP BY 1
"""


@query("grid_density_clusters", oracle=_GRID_ORACLE)
def grid_density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (the DBSCAN/CLIQUE shape made
    distributed-friendly): bin events into a BOUNDED (hour x value
    band) grid, keep cells at >= {GRID_CORE_FACTOR}x the mean cell
    density (the threshold is a cross-multiplied integer inequality,
    so it adapts to scale with zero float ops), and cluster core
    cells by 4-neighbor connectivity via the shared min-label CC loop
    (pointer jumping, O(log diameter) rounds). Density clustering
    over raw points is quadratic; over a resolution-bounded grid the
    hard part collapses to counts + a CC over <= |grid| nodes — the
    same resolution-bounding move as the conformal/BH cell device,
    applied to clustering. The oracle labels components independently
    by recursive reachability (min reachable id).

    100 TB shape: one scan into the grid aggregate (map-side
    combine); everything downstream (core filter, adjacency join, CC
    rounds) runs on the grid, whose size is fixed by resolution
    (24 x ~100 cells), not by data volume. The CC itself is ADAPTIVE
    (r9, the broadcast-threshold argument applied to iteration): a
    core-cell set under {GRID_DRIVER_CC_MAX} cells is collected and
    union-found on the driver (one job instead of O(log diameter)
    pointer-jumping rounds, each a full scheduling round-trip —
    measured 4.2 s -> ~1 s warm at sf0.1); a larger grid (possible:
    the band axis follows the VALUE range, which is data-dependent)
    falls back to the shared distributed min-label loop. Labels are
    the component minimum in both paths, so the choice is invisible
    in the output."""
    from iot_etl_spark.plans.queries_text import _min_label_components

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.hour("ts").cast("long").alias("h"),
        F.expr(f"CAST(FLOOR(value / {GRID_BAND_WIDTH}) AS BIGINT)").alias("b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = cells.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )
    core = (
        cells.crossJoin(F.broadcast(tot))
        .filter(
            F.col("cnt") * F.col("n_cells")
            >= F.lit(GRID_CORE_FACTOR) * F.col("total")
        )
        .select("h", "b", "cnt", (F.col("h") * 1000 + F.col("b")).alias("id"))
        .localCheckpoint()  # tiny bounded frame, consumed 3x below
    )
    right = core.select(
        F.col("h").alias("h2"), F.col("b").alias("b2"), F.col("id").alias("id2")
    )
    # single probe job: fetch up to MAX+1 rows; overflow means "too
    # big for the driver" AND we never pulled more than MAX+1 rows
    probe = core.select("h", "b", "id").limit(GRID_DRIVER_CC_MAX + 1).collect()
    core_cells = (
        [(r.h, r.b, r.id) for r in probe]
        if len(probe) <= GRID_DRIVER_CC_MAX
        else None
    )
    if core_cells is not None:
        # driver union-find over the resolution-bounded cell set
        # (4-neighbor adjacency is a local rule — no edge frame needed)
        parent = {cid: cid for _, _, cid in core_cells}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        by_pos = {(h, b): cid for h, b, cid in core_cells}
        for h, b, cid in core_cells:
            for nb in ((h, b + 1), (h + 1, b)):
                other = by_pos.get(nb)
                if other is not None:
                    ra, rb = find(cid), find(other)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        label_rows = [(cid, find(cid)) for cid in parent]
        labels = spark.createDataFrame(label_rows, "id long, label long")
    else:
        e = core.join(
            right,
            ((F.col("h") == F.col("h2")) & (F.col("b2") == F.col("b") + 1))
            | ((F.col("h2") == F.col("h") + 1) & (F.col("b") == F.col("b2"))),
        ).select(F.col("id").alias("a"), F.col("id2").alias("b"))
        sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        labels = _min_label_components(sym).withColumnRenamed("doc_id", "id")
    # broadcast hint ONLY on the driver path (provably <= MAX rows);
    # the fallback branch exists precisely because the label table may
    # exceed driver memory — leave its join strategy to the planner
    if core_cells is not None:
        labels = F.broadcast(labels)
    out = core.join(labels, "id", "left").withColumn(
        "label", F.coalesce(F.col("label"), F.col("id"))
    )
    return out.groupBy(F.col("label").alias("cluster_label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("cnt").cast("long").alias("n_points"),
        F.min("h").cast("long").alias("hour_min"),
        F.max("h").cast("long").alias("hour_max"),
        F.min(F.col("b")).cast("long").alias("band_min"),
        F.max(F.col("b")).cast("long").alias("band_max"),
    )


# ------------------------------------------------ one-way ANOVA
_ANOVA_MOMENTS = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(vq) AS s,
           SUM(vq * vq) AS ss
    FROM (
        SELECT event_type,
               CAST(CAST(ROUND(value * 1e6) AS BIGINT) AS DECIMAL(18,0))
                   AS vq
        FROM events
    )
    GROUP BY 1
"""

# Micro-unit values accumulate as exact DECIMALs (vq^2 sums overflow
# BIGINT past ~4e7 rows; DECIMAL(38) holds to 1e38). SS terms convert
# once and share the same tree on both engines.
# Between = sum(s_g^2/n_g) - S^2/N; within = sum(ss_g) -
# sum(s_g^2/n_g); F = (between/(k-1)) / (within/(N-k)). The 1e12
# unit factor cancels in F and eta^2, so no fixups.
_ANOVA_FINAL = """
SELECT k, n_total,
       ROUND((btw / (k - 1)) / (win / (n_total - k)), 6) AS f_stat,
       ROUND(btw / (btw + win), 6) AS eta_squared
FROM (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(n) AS BIGINT) AS n_total,
           SUM(CAST(s AS DOUBLE) * s / n)
               - CAST(SUM(s) AS DOUBLE) * SUM(s) / SUM(n) AS btw,
           CAST(SUM(ss) AS DOUBLE)
               - SUM(CAST(s AS DOUBLE) * s / n) AS win
    FROM g
)
"""

_ANOVA_ORACLE = f"WITH g AS ({_ANOVA_MOMENTS})\n{_ANOVA_FINAL}"


@query("anova_oneway_value", oracle=_ANOVA_ORACLE)
def anova_oneway_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of value across the k event types — the k-group
    generalization of welch_ttest_value's two-group shift test, with
    eta-squared as the effect size (share of variance explained by
    the grouping). Between/within sums of squares come from per-group
    micro-unit BIGINT moments (one scan, map-side combine), so the
    only doubles are the shared-verbatim SS expressions; the unit
    factor cancels in both F and eta^2.

    100 TB shape: one grouped moment aggregate (k rows), then O(k)
    arithmetic. The same moments frame could feed Welch corrections
    or Levene screens without another scan."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(
            "CAST(CAST(ROUND(value * 1e6) AS BIGINT) AS DECIMAL(18,0))"
        ).alias("vq"),
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vq").alias("s"),
        F.sum(F.col("vq") * F.col("vq")).alias("ss"),
    )
    inner = g.agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("k"),
        F.expr("CAST(SUM(n) AS BIGINT)").alias("n_total"),
        F.expr(
            "SUM(CAST(s AS DOUBLE) * s / n)"
            " - CAST(SUM(s) AS DOUBLE) * SUM(s) / SUM(n)"
        ).alias("btw"),
        F.expr("CAST(SUM(ss) AS DOUBLE) - SUM(CAST(s AS DOUBLE) * s / n)")
        .alias("win"),
    )
    return inner.selectExpr(
        "k",
        "n_total",
        "ROUND((btw / (k - 1)) / (win / (n_total - k)), 6) AS f_stat",
        "ROUND(btw / (btw + win), 6) AS eta_squared",
    )


# ------------------------------------------------ Cramer's V effect size
_CRAMV_CELLS = """
    SELECT event_type,
           CAST(dow AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM (
        SELECT event_type,
               dayofweek(CAST(ts AS TIMESTAMP)) AS dow
        FROM events
    )
    GROUP BY 1, 2
"""

# chi2 from dense margins: sum over cells of (o - e)^2 / e with
# e = row_total * col_total / n. V = sqrt(chi2 / (n * (min(r,c)-1))).
_CRAMV_FINAL = """
SELECT r, c, n_total,
       ROUND(chi2, 6) AS chi2,
       ROUND(sqrt(chi2 / (n_total * (CASE WHEN r < c THEN r ELSE c END - 1))),
             6) AS cramers_v
FROM (
    SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS r,
           CAST(COUNT(DISTINCT dow) AS BIGINT) AS c,
           CAST(SUM(o) AS BIGINT) AS n_total,
           SUM((o - CAST(rt AS DOUBLE) * ct / CAST(nt AS DOUBLE))
               * (o - CAST(rt AS DOUBLE) * ct / CAST(nt AS DOUBLE))
               / (CAST(rt AS DOUBLE) * ct / CAST(nt AS DOUBLE))) AS chi2
    FROM cells_m
)
"""

_CRAMV_ORACLE = f"""
WITH cells AS ({_CRAMV_CELLS}),
cells_m AS (
    SELECT event_type, dow, o,
           SUM(o) OVER (PARTITION BY event_type) AS rt,
           SUM(o) OVER (PARTITION BY dow) AS ct,
           SUM(o) OVER () AS nt
    FROM cells
)
{_CRAMV_FINAL}
"""


@query("cramers_v_type_dow", oracle=_CRAMV_ORACLE)
def cramers_v_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V effect size for the (event_type x day-of-week)
    association — the magnitude companion to chi2_type_dow's
    significance test (a 100 TB chi2 is always "significant"; V is
    what tells you whether the association matters). Margins are
    windows over the dense cell table (35 cells), chi2 and V are
    shared-verbatim expressions over exact BIGINT counts.

    NOTE the dialect trap: Spark dayofweek is 1=Sunday, DuckDB 0=
    Sunday — V is invariant to column RELABELING, so both engines use
    their native numbering and only r/c/chi2/V are compared.

    100 TB shape: one scan into the 35-cell aggregate; everything
    after is windows over cells."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("long").alias("dow")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    cells_m = cells.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("dow")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("nt"),
    )
    _e = "CAST(rt AS DOUBLE) * ct / CAST(nt AS DOUBLE)"
    inner = cells_m.agg(
        F.expr("CAST(COUNT(DISTINCT event_type) AS BIGINT)").alias("r"),
        F.expr("CAST(COUNT(DISTINCT dow) AS BIGINT)").alias("c"),
        F.expr("CAST(SUM(o) AS BIGINT)").alias("n_total"),
        F.expr(f"SUM((o - {_e}) * (o - {_e}) / ({_e}))").alias("chi2"),
    )
    return inner.selectExpr(
        "r",
        "c",
        "n_total",
        "ROUND(chi2, 6) AS chi2",
        "ROUND(sqrt(chi2 / (n_total * (CASE WHEN r < c THEN r ELSE c END"
        " - 1))), 6) AS cramers_v",
    )


# ------------------------------------------------ UCB1 bandit replay
# Offline policy replay of UCB1 (Auer et al. 2002) over daily arm
# rewards. Rewards are micro-unit integers; the UCB score is
# quantized to 1e-3 micro units before the argmax so the pick
# comparison is integer-exact on both engines (a last-ulp ln()
# divergence can never flip a pick). Ties pick the lowest arm id,
# matching the deterministic CASE order. GREATEST guards keep the
# score branch total even when CASE branches are evaluated eagerly
# (vectorized engines compute unselected branches).
UCB_ARMS = 3


def _ucb_score(s: str, n: str, t: str) -> str:
    return (
        f"CAST(ROUND((CAST({s} AS DOUBLE)"
        f" / GREATEST({n}, CAST(1 AS BIGINT))"
        f" + CAST(1e6 AS DOUBLE) * sqrt(CAST(2.0 AS DOUBLE)"
        f" * ln(CAST(GREATEST({t} - 1, CAST(1 AS BIGINT)) AS DOUBLE))"
        f" / GREATEST({n}, CAST(1 AS BIGINT))))"
        f" * CAST(1000.0 AS DOUBLE)) AS BIGINT)"
    )


def _ucb_pick(prefix: str, t: str) -> str:
    """Pick expression over state fields ``{prefix}n0..s2`` at day t."""
    u = [
        _ucb_score(f"{prefix}s{i}", f"{prefix}n{i}", t) for i in range(3)
    ]
    return (
        f"(CASE WHEN {t} <= {UCB_ARMS} THEN CAST({t} - 1 AS BIGINT) "
        f"WHEN {u[0]} >= {u[1]} AND {u[0]} >= {u[2]} THEN CAST(0 AS BIGINT) "
        f"WHEN {u[1]} >= {u[2]} THEN CAST(1 AS BIGINT) "
        f"ELSE CAST(2 AS BIGINT) END)"
    )


_UCB_DAILY = """
    SELECT ROW_NUMBER() OVER (ORDER BY day) AS t,
           COALESCE(MAX(CASE WHEN arm = 0 THEN rw END), 0) AS rw0,
           COALESCE(MAX(CASE WHEN arm = 1 THEN rw END), 0) AS rw1,
           COALESCE(MAX(CASE WHEN arm = 2 THEN rw END), 0) AS rw2
    FROM (
        SELECT day, arm,
               CAST(ROUND(CAST(1e6 AS DOUBLE) * purchasers / actives)
                    AS BIGINT) AS rw
        FROM (
            SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                       ::BIGINT % 3 AS arm,
                   CAST(COUNT(DISTINCT user_id) AS BIGINT) AS actives,
                   CAST(COUNT(DISTINCT CASE WHEN event_type = 'purchase'
                                            THEN user_id END) AS BIGINT)
                       AS purchasers
            FROM events
            GROUP BY 1, 2
        )
    )
    GROUP BY day
"""

_UCB_FINAL_EXPRS = (
    "arm",
    "n_picks",
    "ROUND(CAST(s_micro AS DOUBLE) / 1e6, 6) AS total_reward",
    "ROUND(CAST(s_micro AS DOUBLE)"
    " / GREATEST(n_picks, CAST(1 AS BIGINT)) / 1e6, 6) AS avg_reward",
)

_UCB_ORACLE = f"""
WITH RECURSIVE daily AS ({_UCB_DAILY}),
horizon AS (SELECT CAST(MAX(t) AS BIGINT) AS tmax FROM daily),
walk(t, n0, n1, n2, s0, s1, s2) AS (
    SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
           CAST(0 AS BIGINT)
    UNION ALL
    SELECT dt,
           n0 + CASE WHEN pick = 0 THEN 1 ELSE 0 END,
           n1 + CASE WHEN pick = 1 THEN 1 ELSE 0 END,
           n2 + CASE WHEN pick = 2 THEN 1 ELSE 0 END,
           s0 + CASE WHEN pick = 0 THEN rw0 ELSE 0 END,
           s1 + CASE WHEN pick = 1 THEN rw1 ELSE 0 END,
           s2 + CASE WHEN pick = 2 THEN rw2 ELSE 0 END
    FROM (
        SELECT d.t AS dt, w.n0, w.n1, w.n2, w.s0, w.s1, w.s2,
               d.rw0, d.rw1, d.rw2,
               {_ucb_pick("w.", "d.t")} AS pick
        FROM walk w JOIN daily d ON d.t = w.t + 1
    )
),
final AS (
    SELECT w.* FROM walk w, horizon WHERE w.t = tmax
),
arms AS (
    SELECT CAST(0 AS BIGINT) AS arm, n0 AS n_picks, s0 AS s_micro FROM final
    UNION ALL
    SELECT CAST(1 AS BIGINT), n1, s1 FROM final
    UNION ALL
    SELECT CAST(2 AS BIGINT), n2, s2 FROM final
)
SELECT {", ".join(_UCB_FINAL_EXPRS)} FROM arms
"""


@query("ucb1_bandit_replay", oracle=_UCB_ORACLE)
def ucb1_bandit_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 multi-armed-bandit OFFLINE REPLAY over daily arm rewards —
    the decision-systems leg the experiment family lacked: SPRT
    decides when a fixed test stops, the bandit decides what to SERVE
    while learning. Arms are md5 user splits; each day's reward is
    that arm's conversion (micro-unit integer); the replayed policy
    initializes each arm once, then picks
    argmax(mean + sqrt(2 ln t / n)) with the score quantized to an
    integer before comparison so both engines' argmax agrees exactly.

    The day-by-day dependence (each pick updates the state the next
    pick reads) is sequential by nature, so it folds over the
    SORTED 30-element day array with one aggregate() HOF on a 1-row
    frame — same discipline as the funnel/Holt folds: the heavy part
    (daily arm rewards) is distributed, the irreducibly-sequential
    part is O(days), not O(rows). The oracle replays the identical
    policy in a DuckDB recursive CTE.

    100 TB shape: one (day, arm)-grained distinct aggregate
    (map-side combine), a ~30-row pivot, then the O(days) fold."""
    ev = load_table(spark, sf_dir, "events")
    per_arm = (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.expr(
                "cast(conv(substr(md5(cast(user_id AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) % 3"
            ).alias("arm"),
        )
        .agg(
            F.countDistinct("user_id").cast("long").alias("actives"),
            F.countDistinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            )
            .cast("long")
            .alias("purchasers"),
        )
        .selectExpr(
            "day",
            "arm",
            "CAST(ROUND(CAST(1e6 AS DOUBLE) * purchasers / actives)"
            " AS BIGINT) AS rw",
        )
    )
    daily = (
        per_arm.groupBy("day")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("arm") == i, F.col("rw"))), F.lit(0)
                )
                .cast("long")
                .alias(f"rw{i}")
                for i in range(3)
            ]
        )
        .withColumn(
            "t", F.row_number().over(Window.orderBy("day")).cast("long")
        )
    )
    arr = daily.agg(
        F.expr(
            "sort_array(collect_list(named_struct("
            "'t', t, 'rw0', rw0, 'rw1', rw1, 'rw2', rw2)))"
        ).alias("days")
    )
    pick = _ucb_pick("acc.", "x.t")
    zero = "CAST(0 AS BIGINT)"
    upd_n = ", ".join(
        f"'n{i}', acc.n{i} + IF({pick} = {i}, CAST(1 AS BIGINT), {zero})"
        for i in range(3)
    )
    upd_s = ", ".join(
        f"'s{i}', acc.s{i} + IF({pick} = {i}, x.rw{i}, {zero})"
        for i in range(3)
    )
    init = ", ".join(
        f"'{f}{i}', {zero}" for f in ("n", "s") for i in range(3)
    )
    st = arr.selectExpr(
        f"aggregate(days, named_struct({init}),"
        f" (acc, x) -> named_struct({upd_n}, {upd_s})) AS st"
    )
    arms = st.selectExpr(
        "stack(3, CAST(0 AS BIGINT), st.n0, st.s0,"
        " CAST(1 AS BIGINT), st.n1, st.s1,"
        " CAST(2 AS BIGINT), st.n2, st.s2)"
        " AS (arm, n_picks, s_micro)"
    )
    return arms.selectExpr(*_UCB_FINAL_EXPRS)


# ------------------------------------------------ 1-D Wasserstein distance
# Value quantized to CENTS: the cell table is bounded by value range x
# 100 (~49k cells), not row count. W1 = sum over consecutive cells of
# |F_we - F_wd| * gap, with the CDF difference kept as an INTEGER
# cross-product |c1*N2 - c2*N1| until the single final division.
_W1_CELLS = """
    SELECT cell,
           CAST(SUM(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2
    FROM (
        SELECT CAST(ROUND(value * 1e2) AS BIGINT) AS cell,
               CASE WHEN {we_pred} THEN 1 ELSE 0 END AS we
        FROM events
    )
    GROUP BY 1
"""

_W1_FINAL = """
SELECT CAST(tot1 AS BIGINT) AS n_weekend, CAST(tot2 AS BIGINT) AS n_weekday,
       ROUND(CAST(num AS DOUBLE)
             / (CAST(tot1 AS DOUBLE) * tot2) / 1e2, 6) AS w1_distance
FROM (
    SELECT CAST(SUM(ABS(c1 * tot2 - c2 * tot1) * gap) AS BIGINT) AS num,
           MAX(tot1) AS tot1, MAX(tot2) AS tot2
    FROM steps
)
"""


def _w1_oracle() -> str:
    cells = _W1_CELLS.format(
        we_pred="dayofweek(CAST(ts AS TIMESTAMP)) IN (0, 6)"
    )
    return f"""
WITH cells AS ({cells}),
steps AS (
    SELECT cell,
           SUM(n1) OVER w AS c1,
           SUM(n2) OVER w AS c2,
           SUM(n1) OVER () AS tot1,
           SUM(n2) OVER () AS tot2,
           COALESCE(LEAD(cell) OVER (ORDER BY cell) - cell, 0) AS gap
    FROM cells
    WINDOW w AS (ORDER BY cell ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
)
{_W1_FINAL}
"""


@query("wasserstein_weekend_value", oracle=_w1_oracle())
def wasserstein_weekend_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein (earth-mover) distance between the weekend and
    weekday value distributions — the MAGNITUDE leg of the
    distribution-shift family: KS (ks_weekend_value) reports the sup
    CDF gap, PSI buckets coarsely, W1 integrates |F1 - F2| over the
    support and reads in VALUE UNITS ("weekend values sit ~x.xx
    higher"), which is what a drift alert should say.

    Exactness: cents-quantized cells, cumulative counts as integers,
    the CDF difference as the integer cross-product c1*N2 - c2*N1,
    one division at the end. The step integral multiplies by the gap
    to the next occupied cell (trailing cell contributes 0 — both
    CDFs are 1 there).

    100 TB shape: one scan into a resolution-bounded cell aggregate,
    three windows over cells. Same cell-table discipline as the KS
    twin; the two queries can share the cell stage at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.expr("CAST(ROUND(value * 1e2) AS BIGINT)").alias("cell"),
            F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("we"),
        )
        .groupBy("cell")
        .agg(
            F.sum(F.expr("CASE WHEN we = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n1"),
            F.sum(F.expr("CASE WHEN we = 0 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n2"),
        )
    )
    wcum = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    steps = cells.select(
        "cell",
        F.sum("n1").over(wcum).alias("c1"),
        F.sum("n2").over(wcum).alias("c2"),
        F.sum("n1").over(wall).alias("tot1"),
        F.sum("n2").over(wall).alias("tot2"),
        F.coalesce(
            F.lead("cell").over(Window.orderBy("cell")) - F.col("cell"),
            F.lit(0),
        ).alias("gap"),
    )
    inner = steps.agg(
        F.expr("CAST(SUM(ABS(c1 * tot2 - c2 * tot1) * gap) AS BIGINT)")
        .alias("num"),
        F.max("tot1").alias("tot1"),
        F.max("tot2").alias("tot2"),
    )
    return inner.selectExpr(
        "tot1 AS n_weekend",
        "tot2 AS n_weekday",
        "ROUND(CAST(num AS DOUBLE)"
        " / (CAST(tot1 AS DOUBLE) * tot2) / 1e2, 6) AS w1_distance",
    )


# ------------------------------------------------ graph modularity
_MOD_Q_TERM = (
    "(CAST(w_in AS DOUBLE) / m"
    " - (CAST(d AS DOUBLE) / (CAST(2.0 AS DOUBLE) * m))"
    " * (CAST(d AS DOUBLE) / (CAST(2.0 AS DOUBLE) * m)))"
)

_MOD_ORACLE = f"""
WITH RECURSIVE a AS (
    SELECT b, user_id FROM {duck_capped_activity(
        "epoch_us(date_trunc('minute', CAST(ts AS TIMESTAMP))) // 1000000",
        COACT_BUCKET_CAP,
    )}
),
e AS (
    SELECT DISTINCT x.user_id AS ua, y.user_id AS ub
    FROM a x JOIN a y ON x.b = y.b AND x.user_id < y.user_id
),
und AS (
    SELECT ua AS u, ub AS v FROM e UNION ALL SELECT ub, ua FROM e
),
nodes AS (SELECT DISTINCT u FROM und),
walk(s, r) AS (
    SELECT u, u FROM nodes
    UNION
    SELECT walk.s, und.v FROM walk JOIN und ON und.u = walk.r
),
lbl AS (SELECT s AS u, MIN(r) AS label FROM walk GROUP BY 1),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
m_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
comm AS (
    SELECT l.label,
           CAST(SUM(deg.d) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM deg JOIN lbl l ON l.u = deg.u
    GROUP BY 1
),
w_in AS (
    SELECT la.label, CAST(COUNT(*) AS BIGINT) AS w_in
    FROM e
    JOIN lbl la ON la.u = e.ua
    JOIN lbl lb ON lb.u = e.ub
    WHERE la.label = lb.label
    GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_components,
       MAX(m) AS n_edges,
       CAST(MAX(n_nodes) AS BIGINT) AS largest_component,
       ROUND(SUM({_MOD_Q_TERM}), 6) AS modularity
FROM comm
JOIN w_in USING (label), m_
"""


@query("graph_modularity_components", oracle=_MOD_ORACLE)
def graph_modularity_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the capped co-activity graph under its
    connected-component partition — the graph-quality audit the
    cluster family reports ON (PageRank ranks nodes, k-core trims
    them, CC groups them; Q says whether the grouping is denser than
    chance). Q = sum over communities of (w_in/m - (d/2m)^2); for a
    partition into exact connected components every edge is
    within-community, so Q = 1 - sum((d/2m)^2) and Q >= 0 — pinned as
    an invariant. Labels come from the shared min-label CC loop; the
    oracle labels by recursive reachability, an independent
    algorithm.

    Exactness: all aggregates (within-edges, degree sums, edge count)
    are integers; each community's Q term is one shared-verbatim
    double expression.

    100 TB shape: edge list is the stage-cached capped adjacency
    artifact; degree/label joins shuffle on the vertex key; the Q sum
    runs over the component table (bounded by component count)."""
    from iot_etl_spark.plans.graphedges import (
        capped_cc_labels,
        capped_node_degrees,
    )

    edges = capped_coactivity_edges(spark, sf_dir)
    # labels and degrees both ride materialized shared stages (VERDICT
    # r8 item 7): the min-label loop runs once per (source, code)
    # fingerprint — it is the same entity-resolution artifact the
    # dedup family persists — and degree attach is a projection.
    labels = capped_cc_labels(spark, sf_dir)
    deg = capped_node_degrees(spark, sf_dir, "d")
    m_ = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    comm = (
        deg.join(labels, "u")
        .groupBy("label")
        .agg(
            F.sum("d").cast("long").alias("d"),
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
        )
    )
    la = labels.select(F.col("u").alias("ua"), F.col("label").alias("la"))
    lb = labels.select(F.col("u").alias("ub"), F.col("label").alias("lb"))
    w_in = (
        edges.join(la, "ua")
        .join(lb, "ub")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("w_in"))
    )
    return (
        comm.join(w_in, "label")
        .crossJoin(F.broadcast(m_))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.max("m").alias("n_edges"),
            F.max("n_nodes").cast("long").alias("largest_component"),
            F.round(F.sum(F.expr(_MOD_Q_TERM)), 6).alias("modularity"),
        )
    )


# ------------------------------------------------ Brier decomposition
# Murphy decomposition over the SAME calibration cells as
# calibration_bins: Brier = reliability - resolution + uncertainty.
# Composes VERBATIM over the classifier oracle via the imported bin /
# nano-confidence expressions, so the whole lineage (scoring ->
# binning -> decomposition) is cross-engine exact.
# ---------------------------------------- component profile stats
_COMPSTATS_ORACLE = f"""
WITH RECURSIVE a AS (
    SELECT b, user_id FROM {duck_capped_activity(
        "epoch_us(date_trunc('minute', CAST(ts AS TIMESTAMP))) // 1000000",
        COACT_BUCKET_CAP,
    )}
),
e AS (
    SELECT DISTINCT x.user_id AS ua, y.user_id AS ub
    FROM a x JOIN a y ON x.b = y.b AND x.user_id < y.user_id
),
und AS (
    SELECT ua AS u, ub AS v FROM e UNION ALL SELECT ub, ua FROM e
),
nodes AS (SELECT DISTINCT u FROM und),
walk(s, r) AS (
    SELECT u, u FROM nodes
    UNION
    SELECT walk.s, und.v FROM walk JOIN und ON und.u = walk.r
),
lbl AS (SELECT s AS u, MIN(r) AS label FROM walk GROUP BY 1),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY 1),
comm AS (
    SELECT l.label AS component_id,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(deg.d) AS BIGINT) AS degree_sum
    FROM deg JOIN lbl l ON l.u = deg.u
    GROUP BY 1
),
w_in AS (
    SELECT la.label AS component_id, CAST(COUNT(*) AS BIGINT) AS n_edges_within
    FROM e
    JOIN lbl la ON la.u = e.ua
    JOIN lbl lb ON lb.u = e.ub
    WHERE la.label = lb.label
    GROUP BY 1
)
SELECT component_id, n_nodes, n_edges_within, degree_sum,
       ROUND(CAST(2.0 AS DOUBLE) * n_edges_within
             / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1)), 6) AS density
FROM comm JOIN w_in USING (component_id)
"""


@query("coactivity_component_stats", oracle=_COMPSTATS_ORACLE)
def coactivity_component_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component profile of the capped co-activity graph: size,
    within-edges, degree mass, and edge density — the component-level
    readout next to graph_modularity_components' single-Q summary
    (which communities are cliques vs threads). Components of an edge
    graph have n_nodes >= 2, so the density denominator never hits 0.

    100 TB shape: BOTH inputs are materialized shared stages — the CC
    label table (graphedges.capped_cc_labels, the entity-resolution
    artifact) and the degree-attached adjacency
    (capped_edges_with_degrees) — so the query itself is two
    label-keyed aggregates over |V| and |E| rows; output is bounded
    by the component count. Oracle recomputes labels by recursive
    reachability, an independent algorithm."""
    from iot_etl_spark.plans.graphedges import (
        capped_cc_labels,
        capped_edges_with_degrees,
        capped_node_degrees,
    )

    labels = capped_cc_labels(spark, sf_dir)
    edeg = capped_edges_with_degrees(spark, sf_dir)
    deg = capped_node_degrees(spark, sf_dir, "d")
    comm = (
        deg.join(labels, "u")
        .groupBy(F.col("label").alias("component_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("d").cast("long").alias("degree_sum"),
        )
    )
    la = labels.select(F.col("u").alias("ua"), F.col("label").alias("la"))
    lb = labels.select(F.col("u").alias("ub"), F.col("label").alias("lb"))
    w_in = (
        edeg.select("ua", "ub")
        .join(la, "ua")
        .join(lb, "ub")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("component_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges_within"))
    )
    return comm.join(w_in, "component_id").select(
        "component_id",
        "n_nodes",
        "n_edges_within",
        "degree_sum",
        F.round(
            F.lit(2.0).cast("double") * F.col("n_edges_within")
            / (F.col("n_nodes").cast("double") * (F.col("n_nodes") - 1)),
            6,
        ).alias("density"),
    )


_BRIER_F = "(sum_pnano / (CAST(n_docs AS DOUBLE) * 1e9))"
_BRIER_O = "(CAST(n_pos AS DOUBLE) / n_docs)"
# the base rate is a per-row constant (window totals), so it can sit
# INSIDE the SUM without nesting aggregates
_BRIER_OBAR_ROW = "(CAST(pos_total AS DOUBLE) / n_total)"
_BRIER_REL = (
    f"(SUM(n_docs * ({_BRIER_F} - {_BRIER_O}) * ({_BRIER_F} - {_BRIER_O}))"
    f" / MAX(CAST(n_total AS DOUBLE)))"
)
_BRIER_RES = (
    f"(SUM(n_docs * ({_BRIER_O} - {_BRIER_OBAR_ROW})"
    f" * ({_BRIER_O} - {_BRIER_OBAR_ROW}))"
    f" / MAX(CAST(n_total AS DOUBLE)))"
)
_BRIER_UNC = (
    f"(MAX({_BRIER_OBAR_ROW})"
    f" * (CAST(1.0 AS DOUBLE) - MAX({_BRIER_OBAR_ROW})))"
)


def _brier_oracle() -> str:
    from iot_etl_spark.plans.queries_mlprep import (
        _CAL_BIN_SQL,
        _CAL_PNANO_SQL,
        _CLASSIFIER_ORACLE,
    )

    return f"""
WITH cls AS ({_CLASSIFIER_ORACLE}),
b AS (
    SELECT {_CAL_BIN_SQL} AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pos,
           CAST(SUM({_CAL_PNANO_SQL}) AS BIGINT) AS sum_pnano
    FROM cls GROUP BY 1
),
t AS (
    SELECT b.*,
           SUM(n_docs) OVER () AS n_total,
           SUM(n_pos) OVER () AS pos_total
    FROM b
)
SELECT CAST(MAX(n_total) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       ROUND({_BRIER_REL}, 6) AS reliability,
       ROUND({_BRIER_RES}, 6) AS resolution,
       ROUND({_BRIER_UNC}, 6) AS uncertainty,
       ROUND({_BRIER_REL} - {_BRIER_RES} + {_BRIER_UNC}, 6) AS brier_score
FROM t
"""


@query("brier_decomposition", oracle=_brier_oracle())
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the quality classifier's Brier score
    over the calibration cells: reliability (how far bin confidence
    sits from bin outcome — what ECE also measures, but squared),
    resolution (how much the bins separate the base rate; higher is
    better), uncertainty (the label's intrinsic variance). Brier =
    REL - RES + UNC ties the calibration family together: ECE says
    "miscalibrated by x", the decomposition says whether the model is
    uninformative (low RES) or fixable by recalibration (high REL).

    Composes verbatim over the classifier + calibration-bin
    expressions (imported, not re-derived), so both engines score,
    bin, and decompose with identical trees over exact integer cells.

    100 TB shape: identical to calibration_bins — zero-shuffle
    scoring scan, <= 21 bin cells, windows and the final fold on the
    tiny bin frame."""
    from iot_etl_spark.plans.queries_mlprep import (
        _CAL_BIN_SQL,
        _CAL_PNANO_SQL,
        quality_classifier_score,
    )

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
    t = b.select(
        "*",
        F.sum("n_docs").over(Window.partitionBy()).alias("n_total"),
        F.sum("n_pos").over(Window.partitionBy()).alias("pos_total"),
    )
    return t.agg(
        F.expr("CAST(MAX(n_total) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_bins"),
        F.round(F.expr(_BRIER_REL), 6).alias("reliability"),
        F.round(F.expr(_BRIER_RES), 6).alias("resolution"),
        F.round(F.expr(_BRIER_UNC), 6).alias("uncertainty"),
        F.round(
            F.expr(f"{_BRIER_REL} - {_BRIER_RES} + {_BRIER_UNC}"), 6
        ).alias("brier_score"),
    )


# ------------------------------------------------ harmonic regression
# Daily-cycle fit: value ~ b0 + b1 cos(2 pi h/24) + b2 sin(2 pi h/24).
# Features are micro-quantized BIGINTs (the DFT device: cos/sin of a
# SMALL argument, 24 distinct values, rounded to 1e-6 before any sum
# — 1e-9 features overflow DuckDB's DECIMAL(18) multiply),
# y is micro-quantized; moments accumulate as exact DECIMALs, convert
# to natural units once, and the lambda=0 Cramer solve reuses the
# ridge's verbatim text.
_HARM_B0, _HARM_B1, _HARM_B2 = _cramer3("CAST(0.0 AS DOUBLE)")

_HARM_MOMENTS = """
    SELECT CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE) AS n,
           CAST(SUM(fc) AS DOUBLE) / 1e6 AS s1,
           CAST(SUM(fs) AS DOUBLE) / 1e6 AS s2,
           CAST(SUM(fc * fc) AS DOUBLE) / 1e12 AS s11,
           CAST(SUM(fc * fs) AS DOUBLE) / 1e12 AS s12,
           CAST(SUM(fs * fs) AS DOUBLE) / 1e12 AS s22,
           CAST(SUM(vq) AS DOUBLE) AS sy,
           CAST(SUM(fc * vq) AS DOUBLE) / 1e6 AS s1y,
           CAST(SUM(fs * vq) AS DOUBLE) / 1e6 AS s2y,
           CAST(SUM(vq * vq) AS DOUBLE) AS syy,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM (
        SELECT CAST(CAST(ROUND(cos(2 * pi() * h / 24) * 1e6) AS BIGINT)
                    AS DECIMAL(18,0)) AS fc,
               CAST(CAST(ROUND(sin(2 * pi() * h / 24) * 1e6) AS BIGINT)
                    AS DECIMAL(18,0)) AS fs,
               CAST(CAST(ROUND(value * 1e6) AS BIGINT) AS DECIMAL(18,0))
                   AS vq
        FROM (SELECT {hod} AS h, value FROM events)
    )
"""

_HARM_SSE = (
    "(syy - CAST(2.0 AS DOUBLE) * (b0 * sy + b1 * s1y + b2 * s2y)"
    " + (b0 * b0 * n + b1 * b1 * s11 + b2 * b2 * s22"
    " + CAST(2.0 AS DOUBLE) * (b0 * b1 * s1 + b0 * b2 * s2"
    " + b1 * b2 * s12)))"
)
_HARM_SST = "(syy - sy * sy / n)"

_HARM_FINAL = f"""
SELECT n_rows,
       ROUND(b0 / 1e6, 6) AS beta_level,
       ROUND(b1 / 1e6, 6) AS beta_cos,
       ROUND(b2 / 1e6, 6) AS beta_sin,
       ROUND(sqrt(b1 * b1 + b2 * b2) / 1e6, 6) AS amplitude,
       ROUND(CAST(1.0 AS DOUBLE) - {_HARM_SSE} / {_HARM_SST}, 6) AS r2
FROM b
"""


def _harmonic_oracle() -> str:
    m = _HARM_MOMENTS.format(
        hod="CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT)"
    )
    return f"""
WITH m AS ({m}),
b AS (
    SELECT m.*, {_HARM_B0} AS b0, {_HARM_B1} AS b1, {_HARM_B2} AS b2
    FROM m
)
{_HARM_FINAL}
"""


@query("harmonic_regression_daily", oracle=_harmonic_oracle())
def harmonic_regression_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic (cosinor) regression of value on the daily cycle —
    the MODEL the DFT periodogram only detects: closed-form least
    squares on cos/sin features gives the cycle's level, amplitude,
    and fit share (R^2) in value units. Same training-as-aggregation
    shape as ridge_normal_equations (one scan, ten moments, verbatim
    Cramer solve with lambda=0 reusing the identical text); features
    follow the DFT determinism device — cos/sin of a SMALL argument
    (hour-of-day), micro-quantized before any accumulation.

    100 TB shape: one scan, map-side decimal moment fold, O(1)
    solve. Adding weekly harmonics is two more feature columns."""
    ev = load_table(spark, sf_dir, "events")
    pre = ev.selectExpr(
        "CAST(CAST(ROUND(cos(2 * pi() * hour(ts) / 24) * 1e6) AS BIGINT)"
        " AS DECIMAL(18,0)) AS fc",
        "CAST(CAST(ROUND(sin(2 * pi() * hour(ts) / 24) * 1e6) AS BIGINT)"
        " AS DECIMAL(18,0)) AS fs",
        "CAST(CAST(ROUND(value * 1e6) AS BIGINT) AS DECIMAL(18,0)) AS vq",
    )
    m = pre.agg(
        F.expr("CAST(CAST(COUNT(*) AS BIGINT) AS DOUBLE)").alias("n"),
        F.expr("CAST(SUM(fc) AS DOUBLE) / 1e6").alias("s1"),
        F.expr("CAST(SUM(fs) AS DOUBLE) / 1e6").alias("s2"),
        F.expr("CAST(SUM(fc * fc) AS DOUBLE) / 1e12").alias("s11"),
        F.expr("CAST(SUM(fc * fs) AS DOUBLE) / 1e12").alias("s12"),
        F.expr("CAST(SUM(fs * fs) AS DOUBLE) / 1e12").alias("s22"),
        F.expr("CAST(SUM(vq) AS DOUBLE)").alias("sy"),
        F.expr("CAST(SUM(fc * vq) AS DOUBLE) / 1e6").alias("s1y"),
        F.expr("CAST(SUM(fs * vq) AS DOUBLE) / 1e6").alias("s2y"),
        F.expr("CAST(SUM(vq * vq) AS DOUBLE)").alias("syy"),
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_rows"),
    )
    b = m.select(
        "*",
        F.expr(_HARM_B0).alias("b0"),
        F.expr(_HARM_B1).alias("b1"),
        F.expr(_HARM_B2).alias("b2"),
    )
    return b.selectExpr(
        "n_rows",
        "ROUND(b0 / 1e6, 6) AS beta_level",
        "ROUND(b1 / 1e6, 6) AS beta_cos",
        "ROUND(b2 / 1e6, 6) AS beta_sin",
        "ROUND(sqrt(b1 * b1 + b2 * b2) / 1e6, 6) AS amplitude",
        f"ROUND(CAST(1.0 AS DOUBLE) - {_HARM_SSE} / {_HARM_SST}, 6) AS r2",
    )


# ------------------------------------------------ jackknife ratio variance
_JACK_K = 5
_JACK_CELLS = f"""
    SELECT fold,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
                AS BIGINT) AS purchases
    FROM (
        SELECT user_id, event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   % {_JACK_K} AS fold
        FROM events
    )
    GROUP BY 1
"""

_JACK_THETA_I = (
    "(CAST(tp - purchases AS DOUBLE) / (tn - n_users))"
)

_JACK_ORACLE = f"""
WITH cells AS ({_JACK_CELLS}),
t AS (
    SELECT cells.*,
           SUM(purchases) OVER () AS tp,
           SUM(n_users) OVER () AS tn,
           CAST(COUNT(*) OVER () AS BIGINT) AS k
    FROM cells
),
lo AS (
    SELECT t.*, {_JACK_THETA_I} AS theta_i,
           AVG({_JACK_THETA_I}) OVER () AS theta_bar
    FROM t
)
SELECT MAX(k) AS k,
       ROUND(CAST(MAX(tp) AS DOUBLE) / MAX(tn), 6) AS theta,
       ROUND(sqrt((MAX(k) - CAST(1.0 AS DOUBLE)) / MAX(k)
                  * SUM((theta_i - theta_bar) * (theta_i - theta_bar))),
             6) AS se_jackknife
FROM lo
"""


@query("jackknife_ratio_variance", oracle=_JACK_ORACLE)
def jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife standard error of the ratio metric
    purchases-per-user — the resampling-based uncertainty the
    bootstrap query (bootstrap_mean_ci) gives for means, specialized
    to RATIOS where naive per-row variance is wrong (numerator and
    denominator covary). Groups are the md5 user folds (users
    partition exactly, so distinct counts add); each leave-one-out
    ratio comes from integer total-minus-fold arithmetic; the only
    doubles are the shared-verbatim theta expressions.

    100 TB shape: one (user, fold)-grained aggregate, then windows
    over the k-row cell frame — the jackknife over a billion users
    costs one distinct-count shuffle."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            "user_id",
            "event_type",
            F.expr(
                "cast(conv(substr(md5(cast(user_id AS STRING)), 1, 8),"
                f" 16, 10) AS BIGINT) % {_JACK_K}"
            ).alias("fold"),
        )
        .groupBy("fold")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.when(F.col("event_type") == "purchase", 1))
            .cast("long")
            .alias("purchases"),
        )
    )
    w = Window.partitionBy()
    t = cells.select(
        "*",
        F.sum("purchases").over(w).alias("tp"),
        F.sum("n_users").over(w).alias("tn"),
        F.count(F.lit(1)).over(w).cast("long").alias("k"),
    )
    lo = t.select(
        "*",
        F.expr(_JACK_THETA_I).alias("theta_i"),
        F.expr(f"AVG({_JACK_THETA_I}) OVER ()").alias("theta_bar"),
    )
    return lo.agg(
        F.max("k").alias("k"),
        F.expr("ROUND(CAST(MAX(tp) AS DOUBLE) / MAX(tn), 6)").alias("theta"),
        F.expr(
            "ROUND(sqrt((MAX(k) - CAST(1.0 AS DOUBLE)) / MAX(k)"
            " * SUM((theta_i - theta_bar) * (theta_i - theta_bar))), 6)"
        ).alias("se_jackknife"),
    )


# ------------------------------------------------ Fellegi-Sunter weights
# Unsupervised m/u estimation: u = P(field agrees | random pair),
# exact from value frequencies (sum n_v(n_v-1) / N(N-1)); m =
# P(agrees | pseudo-match), estimated over the high-precision
# editdist<=2 candidate subset with Laplace +1/+2 smoothing. All
# counts integers; the only doubles are the shared-verbatim ln-ratio
# weights.
_FS_M_T = "(CAST(mt + 1 AS DOUBLE) / (mp + 2))"
_FS_M_S = "(CAST(ms + 1 AS DOUBLE) / (mp + 2))"
_FS_U_T = "(CAST(ut AS DOUBLE) / ud)"
_FS_U_S = "(CAST(us AS DOUBLE) / ud)"
_FS_SCORE = (
    f"(CASE WHEN ta = 1 THEN ln({_FS_M_T} / {_FS_U_T}) "
    f"ELSE ln((CAST(1.0 AS DOUBLE) - {_FS_M_T})"
    f" / (CAST(1.0 AS DOUBLE) - {_FS_U_T})) END"
    f" + CASE WHEN sa = 1 THEN ln({_FS_M_S} / {_FS_U_S}) "
    f"ELSE ln((CAST(1.0 AS DOUBLE) - {_FS_M_S})"
    f" / (CAST(1.0 AS DOUBLE) - {_FS_U_S})) END)"
)

_FS_ORACLE = f"""
WITH p AS (
    SELECT p_partkey, p_name, p_brand, p_type, p_size,
           split_part(p_name, ' ', 2) AS noun
    FROM part
),
pairs AS (
    SELECT CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS ta,
           CASE WHEN a.p_size = b.p_size THEN 1 ELSE 0 END AS sa,
           CASE WHEN levenshtein(a.p_name, b.p_name) <= 2
                THEN 1 ELSE 0 END AS pseudo
    FROM p a JOIN p b
      ON a.noun = b.noun AND a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey AND a.p_name <> b.p_name
),
m_ AS (
    SELECT CAST(SUM(pseudo) AS BIGINT) AS mp,
           CAST(SUM(pseudo * ta) AS BIGINT) AS mt,
           CAST(SUM(pseudo * sa) AS BIGINT) AS ms
    FROM pairs
),
u_ AS (
    SELECT (SELECT CAST(SUM(c * (c - 1)) AS BIGINT)
            FROM (SELECT COUNT(*) AS c FROM p GROUP BY p_type)) AS ut,
           (SELECT CAST(SUM(c * (c - 1)) AS BIGINT)
            FROM (SELECT COUNT(*) AS c FROM p GROUP BY p_size)) AS us,
           (SELECT CAST(COUNT(*) * (COUNT(*) - 1) AS BIGINT) FROM p) AS ud
),
cells AS (
    SELECT ta, sa, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(pseudo) AS BIGINT) AS n_pseudo
    FROM pairs GROUP BY 1, 2
)
SELECT CAST(ta AS BIGINT) AS type_agree,
       CAST(sa AS BIGINT) AS size_agree,
       n_pairs, n_pseudo,
       ROUND({_FS_SCORE}, 6) AS fs_weight
FROM cells, m_, u_
"""


@query("fellegi_sunter_weights", oracle=_FS_ORACLE)
def fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over the
    blocking_link_pairs candidate space: each (type, size) agreement
    pattern gets the classic log-likelihood match weight
    sum_f ln(m_f/u_f) (agree) or ln((1-m_f)/(1-u_f)) (disagree) — the
    scoring layer that turns the blocking family's candidate pairs
    into ranked link decisions. u comes EXACTLY from value
    frequencies (probability a random pair agrees); m is estimated
    on the high-precision editdist<=2 subset with Laplace smoothing —
    the standard unsupervised shortcut when no labeled matches exist
    (EM would refine it; the weights' algebra is identical).

    100 TB shape: u-statistics are two tiny frequency aggregates;
    the pair expansion stays confined to (noun, brand) blocks exactly
    like blocking_link_pairs; patterns collapse to <= 4 cells before
    any double arithmetic."""
    from iot_etl_spark.plans.registry import spread_scan

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
    )
    # r14 (guide §2.4/§2.5/§1.2): the pair expansion used to be
    # computed TWICE (once for the m-aggregate, once for the cells) and
    # the three u-statistics ran as three more scans, all stitched with
    # four broadcast crossJoins. Now: ONE pair expansion into the
    # <=4-row cells frame; m-statistics are windows over cells (mt =
    # SUM(pseudo*ta) over pairs == SUM(ta*n_pseudo) over cells — exact
    # integer identity); ud rides the p_type aggregate (N = SUM c). The
    # probe side is spread (the block join broadcasts one side, so the
    # expansion + edit-distance ran inside the single part.parquet scan
    # task), and the pseudo-match predicate uses the banded
    # levenshtein(a, b, 2) (lev <= 2 <=> banded >= 0, the
    # blocking_link_pairs device — identical boolean, bounded DP).
    a = spread_scan(
        p.select(*[F.col(c).alias(f"{c}_a") for c in p.columns]), "noun_a"
    )
    b = p.select(*[F.col(c).alias(f"{c}_b") for c in p.columns])
    pairs = (
        a.join(
            b,
            (F.col("noun_a") == F.col("noun_b"))
            & (F.col("p_brand_a") == F.col("p_brand_b"))
            & (F.col("p_partkey_a") < F.col("p_partkey_b"))
            & (F.col("p_name_a") != F.col("p_name_b")),
        )
        .select(
            (F.col("p_type_a") == F.col("p_type_b"))
            .cast("int")
            .alias("ta"),
            (F.col("p_size_a") == F.col("p_size_b"))
            .cast("int")
            .alias("sa"),
            (
                F.levenshtein(F.col("p_name_a"), F.col("p_name_b"), 2) >= 0
            )
            .cast("int")
            .alias("pseudo"),
        )
    )
    cells = pairs.groupBy("ta", "sa").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("pseudo").cast("long").alias("n_pseudo"),
    )
    w = Window.partitionBy()
    cells = (
        cells.withColumn("mp", F.sum("n_pseudo").over(w).cast("long"))
        .withColumn(
            "mt", F.sum(F.col("n_pseudo") * F.col("ta")).over(w).cast("long")
        )
        .withColumn(
            "ms", F.sum(F.col("n_pseudo") * F.col("sa")).over(w).cast("long")
        )
    )
    ut = (
        p.groupBy("p_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.expr("CAST(SUM(c * (c - 1)) AS BIGINT)").alias("ut"),
            F.expr(
                "CAST(SUM(c) * (SUM(c) - 1) AS BIGINT)"
            ).alias("ud"),
        )
    )
    us = (
        p.groupBy("p_size")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.expr("CAST(SUM(c * (c - 1)) AS BIGINT)").alias("us"))
    )
    out = cells.crossJoin(F.broadcast(ut)).crossJoin(F.broadcast(us))
    return out.selectExpr(
        "CAST(ta AS BIGINT) AS type_agree",
        "CAST(sa AS BIGINT) AS size_agree",
        "n_pairs",
        "n_pseudo",
        f"ROUND({_FS_SCORE}, 6) AS fs_weight",
    )


# ------------------------------------------------ ACF / PACF
# Autocorrelation of the hourly mean-value series at lags 0..8, with
# partial autocorrelations at lags 1..3 from the closed-form
# Yule-Walker solves (the Durbin-Levinson recursion unrolled — at
# these orders the verbatim algebra is simpler and engine-identical).
# Deviations convert to value units before the product so the
# nano-quantized cross terms stay far inside BIGINT.
ACF_MAX_LAG = 8

_ACF_SERIES = """
    SELECT ROW_NUMBER() OVER (ORDER BY bucket) AS idx,
           CAST(svq AS DOUBLE) / cnt / 1e6 AS y
    FROM (
        SELECT {bucket} AS bucket,
               CAST(SUM(CAST(ROUND(value * 1e6) AS BIGINT)) AS BIGINT)
                   AS svq,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events
        GROUP BY 1
    )
"""

_PACF_2 = "((r2 - r1 * r1) / (CAST(1.0 AS DOUBLE) - r1 * r1))"
# lag-3 Yule-Walker: solve the 3x3 Toeplitz system; phi_33 by Cramer.
_PACF_3_DET = (
    "(CAST(1.0 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - r1 * r1)"
    " - r1 * (r1 - r1 * r2) + r2 * (r1 * r1 - r2))"
)
# phi_33 = det([[1, r1, r1], [r1, 1, r2], [r2, r1, r3]]) / det(R3)
_PACF_3 = (
    "(((CAST(1.0 AS DOUBLE) * (r3 - r1 * r2))"
    " - r1 * (r1 * r3 - r2 * r2)"
    " + r1 * (r1 * r1 - r2)) "
    f"/ {_PACF_3_DET})"
)

_ACF_CTES = """
series AS ({series}),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(y) / COUNT(*) AS ybar
    FROM series
),
lags AS ({lags}),
nums AS (
    SELECT l.k,
           CAST(SUM(CAST(ROUND((a.y - ybar) * (b.y - ybar) * 1e9)
                         AS BIGINT)) AS BIGINT) AS num,
           CAST(COUNT(*) AS BIGINT) AS n_terms
    FROM lags l
    JOIN series a ON TRUE
    JOIN series b ON b.idx = a.idx + l.k, tot
    GROUP BY 1
),
base AS (SELECT num AS den FROM nums WHERE k = 0),
acf AS (
    SELECT k, CAST(num AS DOUBLE) / den AS r, n_terms
    FROM nums, base
),
rp AS (
    SELECT MAX(CASE WHEN k = 1 THEN r END) AS r1,
           MAX(CASE WHEN k = 2 THEN r END) AS r2,
           MAX(CASE WHEN k = 3 THEN r END) AS r3
    FROM acf
)
"""

_ACF_FINAL = f"""
SELECT k AS lag, n_terms,
       ROUND(r, 6) AS acf,
       ROUND(CASE WHEN k = 1 THEN r1
                  WHEN k = 2 THEN {_PACF_2}
                  WHEN k = 3 THEN {_PACF_3}
             END, 6) AS pacf
FROM acf, rp
"""


def _acf_oracle() -> str:
    series = _ACF_SERIES.format(
        bucket="date_trunc('hour', CAST(ts AS TIMESTAMP))"
    )
    ctes = _ACF_CTES.format(
        series=series,
        lags=f"SELECT unnest(range(0, {ACF_MAX_LAG + 1})) AS k",
    )
    return f"WITH {ctes}\n{_ACF_FINAL}"


@query("acf_pacf_hourly", oracle=_acf_oracle())
def acf_pacf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF and PACF of the hourly mean-value series — the Box-Jenkins
    identification pair the forecast family (holt, seasonal naive,
    harmonic) picks orders from: ACF at lags 0..{ACF_MAX_LAG} tells
    the MA signature, PACF at lags 1..3 (closed-form Yule-Walker,
    the Durbin-Levinson recursion unrolled to verbatim algebra) tells
    the AR cutoff. value_autocorr reports lag-1 per device; this is
    the global multi-lag profile.

    Determinism: the series is exact (integer sums per hour, one
    division); centered cross-products are nano-quantized BEFORE
    summation, so each r_k is one division of BIGINTs; the PACF
    formulas are shared-verbatim rational functions of r1..r3.

    100 TB shape: one scan into the hourly rollup; the lag joins run
    over the ~720-row series frame (bounded by span, not rows), the
    PACF algebra on one row."""
    # r14 (guide §2.4/§1.2): the hourly series subtree used to be
    # recomputed THREE times (tot + both self-join sides) and the
    # readout chained FOUR broadcast crossJoins (lags, tot, base, rp).
    # The lag join b.idx = a.idx + k over a span-bounded series is
    # exactly lag(y, k) OVER (ORDER BY idx): nine lag columns in the
    # window that already sorts for row_number (same ordering — no new
    # exchange), stacked into (k, ya) rows, produce the IDENTICAL
    # integer-quantized cross-product terms (same per-term ROUND, sum
    # of BIGINTs is order-free). ybar/n ride the same single-partition
    # window; den and r1..r3 become windows over the 9-row nums frame.
    # Plan: 1 scan, 3 Exchanges, 0 broadcasts (was 3 scans + 4
    # broadcast chains).
    ev = load_table(spark, sf_dir, "events")
    series = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(
            F.sum(F.expr("CAST(ROUND(value * 1e6) AS BIGINT)"))
            .cast("long")
            .alias("svq"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .select(
            F.row_number().over(Window.orderBy("bucket")).alias("idx"),
            F.expr("CAST(svq AS DOUBLE) / cnt / 1e6").alias("y"),
        )
    )
    w_all = Window.partitionBy()
    w_lag = Window.orderBy("idx")
    lagged = series.select(
        F.col("y").alias("yb"),
        F.expr("SUM(y) OVER () / COUNT(*) OVER ()").alias("ybar"),
        *[
            F.lag("y", k).over(w_lag).alias(f"y{k}")
            for k in range(ACF_MAX_LAG + 1)
        ],
    )
    stack_args = ", ".join(f"{k}, y{k}" for k in range(ACF_MAX_LAG + 1))
    terms = lagged.select(
        "yb",
        "ybar",
        F.expr(
            f"stack({ACF_MAX_LAG + 1}, {stack_args}) AS (k, ya)"
        ),
    ).filter(F.col("ya").isNotNull())
    nums = terms.groupBy("k").agg(
        F.sum(
            F.expr("CAST(ROUND((ya - ybar) * (yb - ybar) * 1e9) AS BIGINT)")
        )
        .cast("long")
        .alias("num"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    acf = nums.select(
        "k",
        "n_terms",
        (
            F.col("num").cast("double")
            / F.max(F.when(F.col("k") == 0, F.col("num"))).over(w_all)
        ).alias("r"),
    )
    acf = acf.select(
        "k",
        "n_terms",
        "r",
        F.max(F.when(F.col("k") == 1, F.col("r"))).over(w_all).alias("r1"),
        F.max(F.when(F.col("k") == 2, F.col("r"))).over(w_all).alias("r2"),
        F.max(F.when(F.col("k") == 3, F.col("r"))).over(w_all).alias("r3"),
    )
    return acf.selectExpr(
        "CAST(k AS BIGINT) AS lag",  # stack literals are INT; the
        # contract (and the old range()-built frame) is BIGINT
        "n_terms",
        "ROUND(r, 6) AS acf",
        f"ROUND(CASE WHEN k = 1 THEN r1 WHEN k = 2 THEN {_PACF_2} "
        f"WHEN k = 3 THEN {_PACF_3} END, 6) AS pacf",
    )


# ------------------------------------------------ quantile treatment effect
# Order statistics via the cell-cumulative device per arm; the decile
# rank k = ceil(d*n/10) is pure INTEGER arithmetic ((d*n + 9) div 10),
# so both engines agree exactly even though the div spelling differs
# per dialect.
_QTE_CELLS = """
    SELECT arm, cell, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (
        SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                   % 2 AS arm,
               CAST(ROUND(value * 1e6) AS BIGINT) AS cell
        FROM events
    )
    GROUP BY 1, 2
"""

_QTE_ORACLE = f"""
WITH cells AS ({_QTE_CELLS}),
cum AS (
    SELECT arm, cell,
           SUM(cnt) OVER (PARTITION BY arm ORDER BY cell
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
           SUM(cnt) OVER (PARTITION BY arm) AS n_arm
    FROM cells
),
deciles AS (SELECT unnest(range(1, 10)) AS decile),
q AS (
    SELECT d.decile, c.arm, MIN(cell) AS q_cell
    FROM deciles d JOIN cum c
      ON c.cum >= (d.decile * c.n_arm + 9) // 10
    GROUP BY 1, 2
)
SELECT decile,
       ROUND(CAST(MAX(CASE WHEN arm = 0 THEN q_cell END) AS DOUBLE)
             / 1e6, 6) AS q_control,
       ROUND(CAST(MAX(CASE WHEN arm = 1 THEN q_cell END) AS DOUBLE)
             / 1e6, 6) AS q_treatment,
       ROUND(CAST(MAX(CASE WHEN arm = 1 THEN q_cell END)
                  - MAX(CASE WHEN arm = 0 THEN q_cell END) AS DOUBLE)
             / 1e6, 6) AS qte
FROM q
GROUP BY decile
"""


@query("quantile_treatment_effect", oracle=_QTE_ORACLE)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the md5-arm experiment readout at
    every decile of the value distribution, not just the mean — the
    distributional causal view (Doksum/Lehmann QTE) that catches
    effects concentrated in the tails where diff_in_diff_readout's
    mean would read ~0. Exact type-1 order statistics per arm via the
    cell-cumulative device; the decile rank is integer arithmetic
    ((d*n+9) div 10) so the only doubles are the final /1e6 unit
    conversions.

    100 TB shape: one scan into (arm, cell) counts — bounded by value
    resolution, not rows — then arm-partitioned windows over cells
    and a 9-row decile join."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.expr(
                "cast(conv(substr(md5(cast(user_id AS STRING)), 1, 8),"
                " 16, 10) AS BIGINT) % 2"
            ).alias("arm"),
            F.expr("CAST(ROUND(value * 1e6) AS BIGINT)").alias("cell"),
        )
        .groupBy("arm", "cell")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    wcum = (
        Window.partitionBy("arm")
        .orderBy("cell")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "arm",
        "cell",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("arm")).alias("n_arm"),
    )
    deciles = spark.range(1, 10).select(F.col("id").alias("decile"))
    q = (
        cum.crossJoin(F.broadcast(deciles))
        .filter(
            F.col("cum") >= F.expr("(decile * n_arm + 9) div 10")
        )
        .groupBy("decile", "arm")
        .agg(F.min("cell").alias("q_cell"))
    )
    return q.groupBy("decile").agg(
        F.round(
            F.expr("CAST(MAX(CASE WHEN arm = 0 THEN q_cell END) AS DOUBLE)")
            / F.lit(1e6),
            6,
        ).alias("q_control"),
        F.round(
            F.expr("CAST(MAX(CASE WHEN arm = 1 THEN q_cell END) AS DOUBLE)")
            / F.lit(1e6),
            6,
        ).alias("q_treatment"),
        F.round(
            F.expr(
                "CAST(MAX(CASE WHEN arm = 1 THEN q_cell END)"
                " - MAX(CASE WHEN arm = 0 THEN q_cell END) AS DOUBLE)"
            )
            / F.lit(1e6),
            6,
        ).alias("qte"),
    )


# ------------------------------------------------ log-rank test
# O-E and hypergeometric variance terms are nano-quantized per event
# cell before summation; risk sets are descending integer cumsums per
# arm over the duration cells (the KM/NA machinery with a group key).
_LOGRANK_E_TERM = (
    "CAST(ROUND(CAST(d AS DOUBLE) * n1 / n * 1e9) AS BIGINT)"
)
_LOGRANK_V_TERM = (
    "CASE WHEN n > 1 THEN CAST(ROUND(CAST(d AS DOUBLE) * n1 / n"
    " * (CAST(1.0 AS DOUBLE) - CAST(n1 AS DOUBLE) / n)"
    " * (n - d) / (n - 1) * 1e9) AS BIGINT) ELSE 0 END"
)

_LOGRANK_ORACLE = f"""
WITH ts_ AS (
    SELECT user_id,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS grp,
           CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us
    FROM events
),
obs AS (SELECT CAST(max(us) AS BIGINT) AS obs_end FROM ts_),
spells AS (
    SELECT grp,
           CAST((COALESCE(next_us, obs_end) - us) // 60000000 AS BIGINT)
               AS t_min,
           CASE WHEN next_us IS NULL THEN 0 ELSE 1 END AS observed
    FROM (
        SELECT grp, us,
               LEAD(us) OVER (PARTITION BY user_id ORDER BY us) AS next_us
        FROM ts_
    ), obs
),
cells0 AS (
    SELECT t_min, grp,
           CAST(SUM(observed) AS BIGINT) AS d_g,
           CAST(COUNT(*) AS BIGINT) AS c_g
    FROM spells GROUP BY 1, 2
),
-- DENSIFY to the common duration grid x both arms (round-10 fix):
-- the per-arm descending cumsum must run over EVERY death time, or
-- an arm with no spell of exactly that duration reads n_g = 0 and
-- the hypergeometric terms silently use truncated risk sets
cells AS (
    SELECT g.t_min, a.grp,
           COALESCE(c.d_g, 0) AS d_g, COALESCE(c.c_g, 0) AS c_g
    FROM (SELECT DISTINCT t_min FROM cells0) g
    CROSS JOIN (VALUES (0), (1)) AS a(grp)
    LEFT JOIN cells0 c ON c.t_min = g.t_min AND c.grp = a.grp
),
risk AS (
    SELECT t_min, grp, d_g,
           CAST(SUM(c_g) OVER (PARTITION BY grp ORDER BY t_min DESC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_g
    FROM cells
),
wide AS (
    SELECT t_min,
           CAST(SUM(d_g) AS BIGINT) AS d,
           CAST(SUM(n_g) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN grp = 1 THEN d_g ELSE 0 END) AS BIGINT) AS d1,
           CAST(SUM(CASE WHEN grp = 1 THEN n_g ELSE 0 END) AS BIGINT) AS n1
    FROM risk GROUP BY 1 HAVING SUM(d_g) > 0
),
terms AS (
    SELECT CAST(SUM(d1) AS BIGINT) AS o1,
           CAST(SUM({_LOGRANK_E_TERM}) AS BIGINT) AS e1_nano,
           CAST(SUM({_LOGRANK_V_TERM}) AS BIGINT) AS v_nano
    FROM wide
)
SELECT o1,
       ROUND(CAST(e1_nano AS DOUBLE) / 1e9, 6) AS e1,
       ROUND(CAST(v_nano AS DOUBLE) / 1e9, 6) AS variance,
       ROUND((o1 - CAST(e1_nano AS DOUBLE) / 1e9)
             / sqrt(CAST(v_nano AS DOUBLE) / 1e9), 6) AS z
FROM terms
"""


@query("logrank_test_arms", oracle=_LOGRANK_ORACLE)
def logrank_test_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test between the md5 arms' inter-event
    waiting-time distributions — the hypothesis test the survival
    family (kaplan_meier_waits, nelson_aalen_hazard) plots but never
    decides: at each event duration the observed arm-1 events compare
    against the hypergeometric expectation given the arm's share of
    the risk set; z = (O-E)/sqrt(V) with censored tails leaving the
    risk set exactly as in KM.

    Exactness: group risk sets are integer descending cumsums over
    duration cells; each E and V term is nano-quantized before the
    sum; the only unshared float op is the final shared sqrt.

    Round-10 correctness fix (caught by the oracle-INDEPENDENT naive
    reimplementation, tests/test_survival_properties.py — the DuckDB
    oracle shared the same flaw, so the hash gate could not see it):
    the per-arm cumsum previously ran only over cells where that arm
    had a spell of exactly that duration, so at death times missing
    from one arm the other arm's risk set silently read 0 — E
    collapsed toward O (567.1 vs the true 525.1 at sf0.001) and the
    variance shrank 3x, biasing z toward no-effect. The cell frame is
    now DENSIFIED to the common duration grid x both arms before the
    cumsum, which restores the textbook Mantel-Cox statistic.

    100 TB shape: one user-keyed shuffle for spells, a duration-
    bounded (cell, arm) aggregate (densified: 2x the grid rows, still
    calendar-bounded), windows over cells."""
    ev = load_table(spark, sf_dir, "events")
    ts_ = ev.select(
        "user_id",
        F.expr(
            "cast(conv(substr(md5(cast(user_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT) % 2"
        ).alias("grp"),
        F.unix_micros("ts").cast("long").alias("us"),
    )
    obs = ts_.agg(F.max("us").cast("long").alias("obs_end"))
    w_u = Window.partitionBy("user_id").orderBy("us")
    spells = (
        ts_.withColumn("next_us", F.lead("us").over(w_u))
        .crossJoin(F.broadcast(obs))
        .select(
            "grp",
            F.expr("(coalesce(next_us, obs_end) - us) div 60000000")
            .cast("long")
            .alias("t_min"),
            F.col("next_us").isNotNull().cast("int").alias("observed"),
        )
    )
    cells0 = spells.groupBy("t_min", "grp").agg(
        F.sum("observed").cast("long").alias("d_g"),
        F.count(F.lit(1)).cast("long").alias("c_g"),
    )
    # densify to the common duration grid x both arms (see docstring):
    # the cumsum below must see every death time in BOTH partitions
    grid = cells0.select("t_min").distinct()
    arms = spark.range(2).select(F.col("id").cast("long").alias("grp"))
    cells = (
        grid.crossJoin(F.broadcast(arms))
        .join(cells0, ["t_min", "grp"], "left")
        .select(
            "t_min", "grp",
            F.coalesce("d_g", F.lit(0)).cast("long").alias("d_g"),
            F.coalesce("c_g", F.lit(0)).cast("long").alias("c_g"),
        )
    )
    w_desc = (
        Window.partitionBy("grp")
        .orderBy(F.col("t_min").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = cells.select(
        "t_min", "grp", "d_g", F.sum("c_g").over(w_desc).cast("long").alias("n_g")
    )
    wide = (
        risk.groupBy("t_min")
        .agg(
            F.sum("d_g").cast("long").alias("d"),
            F.sum("n_g").cast("long").alias("n"),
            F.sum(F.when(F.col("grp") == 1, F.col("d_g")).otherwise(0))
            .cast("long")
            .alias("d1"),
            F.sum(F.when(F.col("grp") == 1, F.col("n_g")).otherwise(0))
            .cast("long")
            .alias("n1"),
        )
        .filter(F.col("d") > 0)
    )
    terms = wide.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum(F.expr(_LOGRANK_E_TERM)).cast("long").alias("e1_nano"),
        F.sum(F.expr(_LOGRANK_V_TERM)).cast("long").alias("v_nano"),
    )
    return terms.selectExpr(
        "o1",
        "ROUND(CAST(e1_nano AS DOUBLE) / 1e9, 6) AS e1",
        "ROUND(CAST(v_nano AS DOUBLE) / 1e9, 6) AS variance",
        "ROUND((o1 - CAST(e1_nano AS DOUBLE) / 1e9)"
        " / sqrt(CAST(v_nano AS DOUBLE) / 1e9), 6) AS z",
    )


# ------------------------------------------------ suppressed release counts
RELEASE_K = 5

_SUPPRESS_ORACLE = f"""
WITH cells AS (
    SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
)
SELECT source,
       CASE WHEN n >= {RELEASE_K} THEN lang ELSE '__suppressed__' END
           AS lang,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_cells_merged
FROM cells
GROUP BY 1, 2
"""


@query("suppressed_release_counts", oracle=_SUPPRESS_ORACLE)
def suppressed_release_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity-SUPPRESSED release of the (source, lang) breakdown:
    cells with fewer than {RELEASE_K} documents collapse into one
    '__suppressed__' bucket per source before publication — the
    enforcement counterpart to k_anonymity_audit's measurement (the
    audit says which cells are risky; this produces the table you can
    actually release, with the merge cardinality reported so the
    information loss is visible).

    100 TB shape: two chained aggregates, both map-side combinable;
    suppression is a CASE on the cell frame, no second scan."""
    cells = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    return (
        cells.select(
            "source",
            F.when(F.col("n") >= RELEASE_K, F.col("lang"))
            .otherwise(F.lit("__suppressed__"))
            .alias("lang"),
            "n",
        )
        .groupBy("source", "lang")
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_cells_merged"),
        )
    )


# ------------------------------------------------ dedup threshold curve
_DEDUP_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


def _dedup_curve_oracle() -> str:
    from iot_etl_spark.plans.queries_text import _MINHASH_CTES

    return f"""
WITH {_MINHASH_CTES},
scored AS (
    SELECT doc_id_a, doc_id_b,
           len(list_intersect(x.s, y.s))::DOUBLE
           / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
               AS jac
    FROM cand
    JOIN sh x ON x.doc_id = doc_id_a
    JOIN sh y ON y.doc_id = doc_id_b
),
th AS (SELECT unnest([{", ".join(str(t) for t in _DEDUP_THRESHOLDS)}])
           AS threshold)
SELECT threshold,
       CAST(COUNT(CASE WHEN jac >= threshold THEN 1 END) AS BIGINT)
           AS n_pairs,
       CAST(COUNT(DISTINCT CASE WHEN jac >= threshold THEN doc_id_a END)
            + COUNT(DISTINCT CASE WHEN jac >= threshold THEN doc_id_b END)
            AS BIGINT) AS n_doc_slots
FROM th LEFT JOIN scored ON TRUE
GROUP BY threshold
"""


@query("dedup_threshold_curve", oracle=_dedup_curve_oracle())
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold sensitivity curve: candidate pairs from the
    SHARED MinHash-LSH stage, exact-Jaccard-rescored once, counted at
    five keep thresholds — the tuning table a dedup rollout decides
    from (how many pairs/docs does each threshold implicate?). The
    jaccard is one division of integers, so threshold comparisons are
    engine-identical; counts are exact.

    NOTE the candidate set is the LSH band collisions (recall curve
    documented at dedup_ngram_jaccard), so low thresholds count only
    candidates — the operationally relevant set, since that is what a
    rollout would rescore.

    100 TB shape: the LSH stage is materialized and shared (stage
    cache); the curve adds one rescore pass and a 5-row threshold
    join over the candidate-pair frame."""
    from iot_etl_spark.plans.queries_text import (
        _band_candidate_pairs,
        _band_sigs_cached,
        _shingle_sets_cached,
    )

    sh = _shingle_sets_cached(spark, sf_dir)
    cand = _band_candidate_pairs(_band_sigs_cached(spark, sf_dir))
    scored = (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_id_a"), F.col("s").alias("sa")),
            "doc_id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_id_b"), F.col("s").alias("sb")),
            "doc_id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jac",
            F.col("inter") / (F.size("sa") + F.size("sb") - F.col("inter")),
        )
        .select("doc_id_a", "doc_id_b", "jac")
    )
    # r14 (guide §2.4): the old form crossJoined every scored pair
    # against the 5 thresholds and ran TWO countDistincts per
    # threshold — a 5x fan-out further doubled by the distinct-Expand.
    # The thresholds are nested (ascending), so each pair reduces to
    # its LEVEL L = number of thresholds it passes (monotone flags;
    # null-safe via otherwise(0)); n_pairs(t_i) = count(L >= i) is a
    # 6-row suffix sum of the level histogram, and a doc counts toward
    # t_i iff its MAX pair level >= i — so n_doc_slots comes from two
    # per-side max-level aggregates feeding one more tiny histogram.
    # Identical counts, zero Expand, no 5x fan-out.
    lvl_expr = sum(
        F.when(F.col("jac") >= F.lit(t), 1).otherwise(0)
        for t in _DEDUP_THRESHOLDS
    )
    # localCheckpoint (r14, guide §1.2): lvl is consumed THREE times
    # (pair histogram + the two per-side max-level aggregates), and
    # each reference replayed the whole Jaccard-rescore lineage
    # (plan audit: 18 stage scans / 16 broadcasts). The frame is
    # bounded by the LSH candidate count, already aggregate-sized.
    lvl = scored.select(
        "doc_id_a", "doc_id_b", lvl_expr.alias("L")
    ).localCheckpoint()
    ph = lvl.groupBy("L").agg(F.count(F.lit(1)).alias("c"))
    dh = (
        lvl.groupBy("doc_id_a").agg(F.max("L").alias("L")).select("L")
        .unionAll(
            lvl.groupBy("doc_id_b").agg(F.max("L").alias("L")).select("L")
        )
        .groupBy("L")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    th = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(_DEDUP_THRESHOLDS)],
        "threshold double, i int",
    )
    n_pairs = (
        th.join(F.broadcast(ph), F.col("L") >= F.col("i"), "left")
        .groupBy("threshold", "i")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_pairs"))
    )
    n_slots = (
        th.join(F.broadcast(dh), F.col("L") >= F.col("i"), "left")
        .groupBy("threshold")
        .agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_doc_slots")
        )
    )
    return n_pairs.join(n_slots, "threshold").select(
        "threshold", "n_pairs", "n_doc_slots"
    )


# ------------------------------------------------ binary segmentation
# Two-level binary segmentation of the hourly event-count series.
# Within a segment of m points with local running sum P_j and total T,
# the centered cusum is the ALL-INTEGER identity C_j = m*P_j - j*T
# (changepoint_cusum's device), so the argmax (tie -> earliest hour)
# is exact on both engines; the reported statistic is |C| itself, a
# BIGINT.
_BINSEG_ORACLE = """
WITH series AS (
    SELECT ROW_NUMBER() OVER (ORDER BY bucket) AS idx,
           epoch_us(bucket) // 1000000 AS bucket_epoch,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket
          FROM events)
    GROUP BY bucket
),
l1c AS (
    SELECT idx, bucket_epoch,
           ABS(CAST(COUNT(*) OVER () AS BIGINT)
               * SUM(y) OVER (ORDER BY idx ROWS UNBOUNDED PRECEDING)
               - idx * SUM(y) OVER ()) AS c
    FROM series
),
l1 AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY c DESC, idx) AS rnk FROM l1c
),
t1 AS (SELECT idx AS t1_idx FROM l1 WHERE rnk = 1),
seg AS (
    SELECT s.*, CASE WHEN s.idx <= t1_idx THEN 'left' ELSE 'right' END
               AS segment,
           ROW_NUMBER() OVER (
               PARTITION BY CASE WHEN s.idx <= t1_idx THEN 'left'
                                 ELSE 'right' END ORDER BY s.idx) AS j
    FROM series s, t1
),
l2c AS (
    SELECT segment, idx, bucket_epoch,
           ABS(CAST(COUNT(*) OVER (PARTITION BY segment) AS BIGINT)
               * SUM(y) OVER (PARTITION BY segment ORDER BY j
                              ROWS UNBOUNDED PRECEDING)
               - j * SUM(y) OVER (PARTITION BY segment)) AS c
    FROM seg
),
l2 AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY segment
                                 ORDER BY c DESC, idx) AS rnk
    FROM l2c
)
SELECT CAST(1 AS BIGINT) AS level, 'all' AS segment,
       CAST(idx AS BIGINT) AS t_idx, CAST(bucket_epoch AS BIGINT)
           AS bucket_epoch, CAST(c AS BIGINT) AS stat_abs
FROM l1 WHERE rnk = 1
UNION ALL
SELECT CAST(2 AS BIGINT), segment, CAST(idx AS BIGINT),
       CAST(bucket_epoch AS BIGINT), CAST(c AS BIGINT)
FROM l2 WHERE rnk = 1
"""


@query("binseg_changepoints", oracle=_BINSEG_ORACLE)
def binseg_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level binary segmentation of the hourly event-count series
    — the hierarchical changepoint LOCALIZER beside
    changepoint_cusum's per-device screen: level 1 places the
    strongest split of the whole series at the max |centered cusum|,
    level 2 recurses into each half (the classic binseg step; more
    levels repeat the same windows). The cusum uses the all-integer
    identity C_j = m*P_j - j*T, so every comparison, argmax, and the
    reported statistic are exact BIGINTs; ties break to the earliest
    hour.

    100 TB shape: one scan into the hourly rollup; every level is
    windows over the bounded series frame (level-2 windows partition
    by segment, so deeper recursion stays one window pass per
    level)."""
    ev = load_table(spark, sf_dir, "events")
    series = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .select(
            F.row_number().over(Window.orderBy("bucket")).alias("idx"),
            F.unix_timestamp("bucket").cast("long").alias("bucket_epoch"),
            "y",
        )
    )

    def cusum_rank(df: DataFrame, part: list, order_col: str) -> DataFrame:
        wp = Window.partitionBy(*part)
        wo = (
            Window.partitionBy(*part)
            .orderBy(order_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        c = F.abs(
            F.count(F.lit(1)).over(wp).cast("long") * F.sum("y").over(wo)
            - F.col(order_col) * F.sum("y").over(wp)
        )
        df = df.withColumn("c", c)
        wr = Window.partitionBy(*part).orderBy(
            F.col("c").desc(), F.col("idx")
        )
        return df.withColumn("rnk", F.row_number().over(wr))

    l1 = cusum_rank(series, [], "idx")
    t1 = l1.filter(F.col("rnk") == 1).select(F.col("idx").alias("t1_idx"))
    seg = (
        series.crossJoin(F.broadcast(t1))
        .withColumn(
            "segment",
            F.when(F.col("idx") <= F.col("t1_idx"), "left").otherwise(
                "right"
            ),
        )
        .withColumn(
            "j",
            F.row_number().over(
                Window.partitionBy("segment").orderBy("idx")
            ),
        )
    )
    l2 = cusum_rank(seg, ["segment"], "j")
    top1 = l1.filter(F.col("rnk") == 1).select(
        F.lit(1).cast("long").alias("level"),
        F.lit("all").alias("segment"),
        F.col("idx").alias("t_idx"),
        "bucket_epoch",
        F.col("c").alias("stat_abs"),
    )
    top2 = l2.filter(F.col("rnk") == 1).select(
        F.lit(2).cast("long").alias("level"),
        "segment",
        F.col("idx").alias("t_idx"),
        "bucket_epoch",
        F.col("c").alias("stat_abs"),
    )
    return top1.unionAll(top2)


# ------------------------------------------------ Kendall tau-b
# Concordant/discordant pair counts from the BOUNDED (hour, band)
# contingency via 2-D suffix/prefix sums — two chained cumulative
# windows per direction, never a cell-pair join, never a row-pair
# expansion. All counts exact BIGINTs; tau-b is one shared-verbatim
# expression.
_TAUB_CELLS = """
    SELECT h, b, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT CAST(extract(hour FROM CAST(ts AS TIMESTAMP)) AS BIGINT)
                   AS h,
               CAST(FLOOR(value / CAST(5.0 AS DOUBLE)) AS BIGINT) AS b
        FROM events
    )
    GROUP BY 1, 2
"""

_TAUB_ORACLE = f"""
WITH cells0 AS ({_TAUB_CELLS}),
-- densify: the chained suffix windows need a row at EVERY (h, b) of
-- the bounded grid — a missing (h', b) row would drop the occupied
-- (h', b' > b) mass from the second window's sum
cells AS (
    SELECT hh.h, bb.b, COALESCE(c.n, 0) AS n
    FROM (SELECT DISTINCT h FROM cells0) hh
    CROSS JOIN (SELECT DISTINCT b FROM cells0) bb
    LEFT JOIN cells0 c ON c.h = hh.h AND c.b = bb.b
),
rowsuf AS (
    SELECT h, b, n,
           CAST(COALESCE(SUM(n) OVER (
               PARTITION BY h ORDER BY b
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
               AS BIGINT) AS suf_b,
           CAST(COALESCE(SUM(n) OVER (
               PARTITION BY h ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS pre_b
    FROM cells
),
grid AS (
    SELECT h, b, n,
           CAST(COALESCE(SUM(suf_b) OVER (
               PARTITION BY b ORDER BY h
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
               AS BIGINT) AS gt_gt,
           CAST(COALESCE(SUM(pre_b) OVER (
               PARTITION BY b ORDER BY h
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
               AS BIGINT) AS gt_lt
    FROM rowsuf
),
counts AS (
    SELECT CAST(SUM(n * gt_gt) AS BIGINT) AS concordant,
           CAST(SUM(n * gt_lt) AS BIGINT) AS discordant
    FROM grid
),
margins AS (
    SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM cells) AS nn,
           (SELECT CAST(SUM(m * (m - 1)) AS BIGINT) / 2
            FROM (SELECT SUM(n) AS m FROM cells GROUP BY h)) AS n1,
           (SELECT CAST(SUM(m * (m - 1)) AS BIGINT) / 2
            FROM (SELECT SUM(n) AS m FROM cells GROUP BY b)) AS n2
)
SELECT concordant, discordant,
       CAST(nn AS BIGINT) AS n_rows,
       ROUND((concordant - discordant)
             / sqrt((CAST(nn AS DOUBLE) * (nn - 1) / 2 - n1)
                    * (CAST(nn AS DOUBLE) * (nn - 1) / 2 - n2)),
             6) AS tau_b
FROM counts, margins
"""


@query("kendall_taub_hour_value", oracle=_TAUB_ORACLE)
def kendall_taub_hour_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between hour-of-day and value band — the
    tie-corrected rank association completing the correlation family
    (Pearson regr_value_trend, Spearman spearman_value_time; tau-b is
    the one that stays honest under heavy ties, and both margins here
    ARE heavily tied). Concordant/discordant pairs come from 2-D
    suffix/prefix sums over the bounded contingency: rowsuf counts
    strictly-greater/-lesser bands within each hour, grid chains a
    second cumulative window across hours — every pair counted once,
    no pair join anywhere.

    100 TB shape: one scan into a <= 24 x ~100 cell table; the two
    window passes and the margin aggregates are cell-bounded. (A
    continuous second variable would first quantize to cells —
    declared semantics, as in the W1/KS family.)"""
    ev = load_table(spark, sf_dir, "events")
    cells0 = ev.select(
        F.hour("ts").cast("long").alias("h"),
        F.expr("CAST(FLOOR(value / CAST(5.0 AS DOUBLE)) AS BIGINT)").alias(
            "b"
        ),
    ).groupBy("h", "b").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # r14 (guide §1.2): the cells0 subtree (events scan + contingency
    # aggregate) was referenced SIX times (hh, bb, the densify join,
    # nn, n1, n2) and re-scanned for each; pin the bounded (<= 24 x
    # bands) frame once and derive the marginals as window columns on
    # the passes below — the tie terms n1/n2 collapse into the final
    # aggregate via n1 = SUM(n*(m_h-1))/2 (exact integer identity per
    # h-block), so the three scalar crossJoins disappear too.
    cells0 = cells0.localCheckpoint()
    # densify (see oracle note): the chained windows need every (h, b)
    hh = cells0.select("h").distinct()
    bb = cells0.select("b").distinct()
    cells = (
        hh.crossJoin(bb)
        .join(cells0, ["h", "b"], "left")
        .select(
            "h", "b", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
        )
    )
    w_suf = (
        Window.partitionBy("h")
        .orderBy("b")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w_pre = (
        Window.partitionBy("h")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rowsuf = cells.select(
        "h",
        "b",
        "n",
        F.coalesce(F.sum("n").over(w_suf), F.lit(0)).cast("long").alias(
            "suf_b"
        ),
        F.coalesce(F.sum("n").over(w_pre), F.lit(0)).cast("long").alias(
            "pre_b"
        ),
        F.sum("n").over(Window.partitionBy("h")).cast("long").alias("m_h"),
    )
    w_h = (
        Window.partitionBy("b")
        .orderBy("h")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    grid = rowsuf.select(
        "h",
        "b",
        "n",
        "m_h",
        F.coalesce(F.sum("suf_b").over(w_h), F.lit(0)).cast("long").alias(
            "gt_gt"
        ),
        F.coalesce(F.sum("pre_b").over(w_h), F.lit(0)).cast("long").alias(
            "gt_lt"
        ),
        F.sum("n").over(Window.partitionBy("b")).cast("long").alias("m_b"),
    )
    counts = grid.agg(
        F.sum(F.col("n") * F.col("gt_gt")).cast("long").alias("concordant"),
        F.sum(F.col("n") * F.col("gt_lt")).cast("long").alias("discordant"),
        F.sum("n").cast("long").alias("nn"),
        (F.sum(F.col("n") * (F.col("m_h") - 1)) / 2).cast("long").alias("n1"),
        (F.sum(F.col("n") * (F.col("m_b") - 1)) / 2).cast("long").alias("n2"),
    )
    return (
        counts
        .selectExpr(
            "concordant",
            "discordant",
            "CAST(nn AS BIGINT) AS n_rows",
            "ROUND((concordant - discordant)"
            " / sqrt((CAST(nn AS DOUBLE) * (nn - 1) / 2 - n1)"
            " * (CAST(nn AS DOUBLE) * (nn - 1) / 2 - n2)), 6) AS tau_b",
        )
    )


# ------------------------------------------------ Mann-Kendall trend test
_MK_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
pairs AS (
    SELECT CAST(SUM(CASE WHEN b.y > a.y THEN 1
                         WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT) AS s
    FROM daily a JOIN daily b ON b.day > a.day
),
ties AS (
    SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY y)
    WHERE t > 1
),
n_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily)
SELECT s,
       n,
       ROUND((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_term)
             / 18, 6) AS variance,
       ROUND((s - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)
             / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_term)
                    / 18), 6) AS z
FROM pairs, ties, n_
"""


@query("mann_kendall_trend", oracle=_MK_ORACLE)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on daily event counts — the
    significance companion to theilsen_trend_recent's robust slope
    (the two are the classic pairing: MK decides IF there is a
    monotone trend, Theil-Sen says how steep). S is the exact integer
    sign-pair sum over the ~30-day series (pairwise over the BOUNDED
    daily pre-aggregate, never rows), variance carries the standard
    tie correction, and the z uses the continuity correction.

    100 TB shape: one scan into the daily rollup; the pair join is
    days x days (~900 cells)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    a = daily.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    pairs = (
        a.join(b, F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    n_ = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        pairs.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(n_))
        .selectExpr(
            "s",
            "n",
            "ROUND((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_term)"
            " / 18, 6) AS variance",
            "ROUND((s - CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END)"
            " / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_term)"
            " / 18), 6) AS z",
        )
    )


# ------------------------------------------------ seasonal strength
# Hyndman's F_s = max(0, 1 - Var(remainder)/Var(detrended)) computed
# from the SAME integer-24ths cells as seasonal_decomposition_hourly:
# within-cell scatter is the remainder, total detrended scatter is
# seasonal + remainder, and both sums of squares are exact BIGINTs
# until the single shared ratio.
_SEAS_STRENGTH_CELLS = f"""
WITH h AS (
    SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 3600 AS hr,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1
),
ext AS (SELECT MIN(hr) AS mn, MAX(hr) AS mx FROM h),
grid AS (
    SELECT t.hr FROM ext CROSS JOIN
        unnest(generate_series(ext.mn, ext.mx, 1)) AS t(hr)
),
s AS (
    SELECT g.hr, COALESCE(h.cnt, 0) AS cnt FROM grid g LEFT JOIN h USING (hr)
),
ma AS (
    SELECT hr, cnt,
           CAST(SUM(cnt) OVER w AS BIGINT) AS sum24,
           CAST(COUNT(*) OVER w AS BIGINT) AS n24
    FROM s
    WINDOW w AS (ORDER BY hr ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING)
),
d AS (
    SELECT hr % 24 AS hour_of_day, 24 * cnt - sum24 AS d24
    FROM ma WHERE n24 = 24
),
agg AS (
    SELECT hour_of_day,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(d24) AS BIGINT) AS sum_d,
           CAST(SUM(d24 * d24) AS BIGINT) AS sum_d2
    FROM d GROUP BY 1
)
"""

# SS_remainder = sum_cells(sum_d2 - sum_d^2/n); SS_detrended =
# sum(sum_d2) - (sum sum_d)^2 / N.
_SEAS_STRENGTH_FINAL = """
SELECT CAST(n_total AS BIGINT) AS n_obs,
       ROUND(ss_rem / n_total / 576, 6) AS var_remainder,
       ROUND(ss_det / n_total / 576, 6) AS var_detrended,
       ROUND(GREATEST(CAST(0.0 AS DOUBLE),
                      CAST(1.0 AS DOUBLE) - ss_rem / ss_det), 6)
           AS seasonal_strength
FROM (
    SELECT SUM(n_obs) AS n_total,
           SUM(sum_d2 - CAST(sum_d AS DOUBLE) * sum_d / n_obs) AS ss_rem,
           CAST(SUM(sum_d2) AS DOUBLE)
               - CAST(SUM(sum_d) AS DOUBLE) * SUM(sum_d) / SUM(n_obs)
               AS ss_det
    FROM agg
)
"""

_SEAS_STRENGTH_ORACLE = f"{_SEAS_STRENGTH_CELLS}\n{_SEAS_STRENGTH_FINAL}"


@query("seasonal_strength_index", oracle=_SEAS_STRENGTH_ORACLE)
def seasonal_strength_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyndman-Athanasopoulos seasonal strength F_s = max(0,
    1 - Var(remainder)/Var(detrended)) of the hourly series — the
    one-number answer to "how seasonal is this signal" that the
    decomposition (seasonal_decomposition_hourly, which this composes
    cell-for-cell) itemizes and the periodogram tests: near 0 the
    daily cycle is noise, near 1 it dominates. Everything is exact
    integer 24ths until the two shared variance ratios.

    100 TB shape: identical to the decomposition — hourly rollup,
    centered-MA window on the post-aggregate frame, a 24-cell
    aggregate, then one row."""
    ev = load_table(spark, sf_dir, "events")
    h = ev.groupBy(F.expr("unix_timestamp(ts) div 3600").alias("hr")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    grid = h.agg(F.min("hr").alias("mn"), F.max("hr").alias("mx")).select(
        F.explode(F.sequence("mn", "mx", F.lit(1).cast("long"))).alias("hr")
    )
    s = grid.join(h, "hr", "left").select(
        "hr", F.coalesce("cnt", F.lit(0).cast("long")).alias("cnt")
    )
    w = Window.partitionBy().orderBy("hr").rowsBetween(-11, 12)
    ma = s.select(
        "hr",
        "cnt",
        F.sum("cnt").over(w).cast("long").alias("sum24"),
        F.count(F.lit(1)).over(w).cast("long").alias("n24"),
    )
    d = ma.filter(F.col("n24") == 24).select(
        (F.col("hr") % 24).alias("hour_of_day"),
        (F.lit(24) * F.col("cnt") - F.col("sum24")).alias("d24"),
    )
    agg = d.groupBy("hour_of_day").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum("d24").cast("long").alias("sum_d"),
        F.sum(F.col("d24") * F.col("d24")).cast("long").alias("sum_d2"),
    )
    inner = agg.agg(
        F.expr("SUM(n_obs)").alias("n_total"),
        F.expr(
            "SUM(sum_d2 - CAST(sum_d AS DOUBLE) * sum_d / n_obs)"
        ).alias("ss_rem"),
        F.expr(
            "CAST(SUM(sum_d2) AS DOUBLE)"
            " - CAST(SUM(sum_d) AS DOUBLE) * SUM(sum_d) / SUM(n_obs)"
        ).alias("ss_det"),
    )
    return inner.selectExpr(
        "CAST(n_total AS BIGINT) AS n_obs",
        "ROUND(ss_rem / n_total / 576, 6) AS var_remainder",
        "ROUND(ss_det / n_total / 576, 6) AS var_detrended",
        "ROUND(GREATEST(CAST(0.0 AS DOUBLE),"
        " CAST(1.0 AS DOUBLE) - ss_rem / ss_det), 6) AS seasonal_strength",
    )


# ------------------------------------------------ Holt-Winters (additive)
# Triple exponential smoothing of the hourly count series with a
# 24-hour season. The seasonal state is a ROTATING list (pop front,
# push back), so each step is pure slicing — no indexed updates, and
# the identical recursion runs as a Spark aggregate() HOF and a DuckDB
# recursive CTE with a LIST column. Both folds execute the same
# expression tree in the same order over doubles derived from exact
# integers -> bit-identical trajectories.
HW_ALPHA = "CAST(0.2 AS DOUBLE)"
HW_BETA = "CAST(0.05 AS DOUBLE)"
HW_GAMMA = "CAST(0.1 AS DOUBLE)"
HW_PERIOD = 24
HW_HORIZON = 6

_HW_SERIES = """
    SELECT ROW_NUMBER() OVER (ORDER BY hr) AS t,
           CAST(cnt AS DOUBLE) AS y
    FROM (
        SELECT {hr} AS hr, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1
    )
"""

# step expressions over state (lv, tr, seas[1] = current season) and y
_HW_LEVEL = (
    f"({HW_ALPHA} * (y - s0) + (CAST(1.0 AS DOUBLE) - {HW_ALPHA})"
    " * (lv + tr))"
)
_HW_TREND = (
    f"({HW_BETA} * (lv2 - lv) + (CAST(1.0 AS DOUBLE) - {HW_BETA}) * tr)"
)
_HW_SEAS = (
    f"({HW_GAMMA} * (y - lv2) + (CAST(1.0 AS DOUBLE) - {HW_GAMMA}) * s0)"
)


def _hw_oracle() -> str:
    series = _HW_SERIES.format(
        hr="epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 3600"
    )
    return f"""
WITH RECURSIVE series AS ({series}),
init AS (
    SELECT AVG(CASE WHEN t <= {HW_PERIOD} THEN y END) AS m1,
           (AVG(CASE WHEN t > {HW_PERIOD} AND t <= {2 * HW_PERIOD} THEN y END)
            - AVG(CASE WHEN t <= {HW_PERIOD} THEN y END))
           / {HW_PERIOD} AS tr0,
           list(y - (SELECT AVG(CASE WHEN t <= {HW_PERIOD} THEN y END)
                     FROM series)
                ORDER BY t)
               FILTER (WHERE t <= {HW_PERIOD}) AS seas0,
           CAST(MAX(t) AS BIGINT) AS tmax
    FROM series
),
walk(t, lv, tr, seas, sse) AS (
    SELECT CAST({HW_PERIOD} AS BIGINT), m1, tr0, seas0,
           CAST(0.0 AS DOUBLE)
    FROM init
    UNION ALL
    SELECT q.t, q.lv2, {_HW_TREND},
           q.seas[2:] || [{_HW_SEAS}],
           q.sse + (q.y - q.pred) * (q.y - q.pred)
    FROM (
        SELECT s.t, s.y, w.lv, w.tr, w.sse,
               w.seas[1] AS s0,
               w.lv + w.tr + w.seas[1] AS pred,
               {_HW_LEVEL.replace("s0", "w.seas[1]")
                         .replace("(y ", "(s.y ")} AS lv2,
               w.seas
        FROM walk w JOIN series s ON s.t = w.t + 1
    ) q
),
final AS (
    SELECT w.* FROM walk w, init WHERE w.t = init.tmax
),
h AS (SELECT unnest(range(1, {HW_HORIZON + 1})) AS h)
SELECT CAST(h AS BIGINT) AS horizon_hours,
       ROUND(lv + h * tr + seas[((h - 1) % {HW_PERIOD}) + 1], 6)
           AS forecast,
       ROUND(lv, 6) AS level,
       ROUND(tr, 6) AS trend,
       ROUND(sse, 6) AS sse
FROM final, h
"""


@query("holt_winters_hourly", oracle=_hw_oracle())
def holt_winters_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive triple exponential smoothing of the
    hourly event-count series (24-hour season) with a 6-hour-ahead
    forecast — the seasonal upgrade of the Holt family
    (holt_forecast_per_device is level+trend only; the seasonal
    component is what makes an hourly ops forecast usable). The
    irreducibly sequential recursion folds over the SORTED hourly
    array exactly like the Holt/funnel/UCB1 folds: level/trend update
    per step and the 24-slot seasonal state ROTATES (pop front, push
    back) so the fold needs only list slicing — the identical
    recursion runs as a DuckDB recursive CTE over a LIST column, and
    both engines execute the same double expression tree in the same
    order (bit-identical trajectories; SSE accumulated in the fold).

    100 TB shape: the distributed part is the hourly rollup; the
    fold is O(series length) on one row — the same
    sequential-recurrence discipline as SCALE.md 'Sequential
    recurrences'."""
    ev = load_table(spark, sf_dir, "events")
    series = (
        ev.groupBy(F.expr("unix_timestamp(ts) div 3600").alias("hr"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .select(
            F.row_number().over(Window.orderBy("hr")).cast("long").alias("t"),
            F.col("cnt").cast("double").alias("y"),
        )
    )
    p = HW_PERIOD
    arr = series.agg(
        F.expr(
            f"sort_array(collect_list(named_struct('t', t, 'y', y)))"
        ).alias("pts"),
        F.expr(
            f"AVG(CASE WHEN t <= {p} THEN y END)"
        ).alias("m1"),
        F.expr(
            f"(AVG(CASE WHEN t > {p} AND t <= {2 * p} THEN y END)"
            f" - AVG(CASE WHEN t <= {p} THEN y END)) / {p}"
        ).alias("tr0"),
    ).selectExpr(
        "pts",
        "m1",
        "tr0",
        f"transform(slice(pts, 1, {p}), x -> x.y - m1) AS seas0",
        f"slice(pts, {p + 1}, size(pts) - {p}) AS rest",
    )
    lv2 = _HW_LEVEL.replace("s0", "acc.seas[0]").replace(
        "(y ", "(x.y "
    ).replace("lv + tr", "acc.lv + acc.tr")
    step = (
        "named_struct("
        f"'lv', {lv2}, "
        "'tr', "
        + _HW_TREND.replace("lv2", lv2)
        .replace("(lv)", "(acc.lv)")
        .replace("- lv)", "- acc.lv)")
        .replace("* tr", "* acc.tr")
        + ", "
        "'seas', concat(slice(acc.seas, 2, "
        f"{p - 1}), array("
        + _HW_SEAS.replace("lv2", lv2)
        .replace("(y ", "(x.y ")
        .replace("s0", "acc.seas[0]")
        + ")), "
        "'sse', acc.sse + (x.y - (acc.lv + acc.tr + acc.seas[0]))"
        " * (x.y - (acc.lv + acc.tr + acc.seas[0])))"
    )
    final = arr.selectExpr(
        f"aggregate(rest, named_struct('lv', m1, 'tr', tr0, 'seas', seas0,"
        f" 'sse', CAST(0.0 AS DOUBLE)), (acc, x) -> {step}) AS st"
    )
    hs = spark.range(1, HW_HORIZON + 1).select(
        F.col("id").cast("long").alias("horizon_hours")
    )
    return final.crossJoin(F.broadcast(hs)).selectExpr(
        "horizon_hours",
        f"ROUND(st.lv + horizon_hours * st.tr"
        f" + st.seas[CAST((horizon_hours - 1) % {p} AS INT)], 6)"
        " AS forecast",
        "ROUND(st.lv, 6) AS level",
        "ROUND(st.tr, 6) AS trend",
        "ROUND(st.sse, 6) AS sse",
    )


# ------------------------------------------------ LSH recall audit
def _lsh_recall_oracle() -> str:
    from iot_etl_spark.plans.queries_text import _MINHASH_CTES

    # Verification for BOTH sides runs in the md5 32-bit token space
    # (the setsim oracle's device — BIGINT list intersects, ~10x
    # faster than string lists, and identical across engines); the
    # anti-join is a plain hash LEFT JOIN, never a correlated EXISTS.
    return f"""
WITH {_MINHASH_CTES},
tk AS (
    SELECT doc_id,
           list_distinct(list_transform(
               s, g -> ('0x' || substr(md5(g), 1, 8))::BIGINT)) AS toks
    FROM sh
),
lsh AS (
    SELECT doc_id_a, doc_id_b
    FROM cand
    JOIN tk x ON x.doc_id = doc_id_a
    JOIN tk y ON y.doc_id = doc_id_b
    WHERE len(list_intersect(x.toks, y.toks))::DOUBLE
          / (len(x.toks) + len(y.toks)
             - len(list_intersect(x.toks, y.toks))) >= 0.8
),
exact AS (
    SELECT x.doc_id AS doc_id_a, y.doc_id AS doc_id_b
    FROM tk x JOIN tk y ON x.doc_id < y.doc_id
    WHERE len(x.toks) > 0 AND len(y.toks) > 0
      AND len(list_intersect(x.toks, y.toks))::DOUBLE
          / (len(x.toks) + len(y.toks)
             - len(list_intersect(x.toks, y.toks))) >= 0.8
),
m AS (
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exact) AS n_exact,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lsh) AS n_lsh,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM exact e LEFT JOIN lsh l
              ON l.doc_id_a = e.doc_id_a AND l.doc_id_b = e.doc_id_b
            WHERE l.doc_id_a IS NULL) AS n_missed
)
SELECT n_exact, n_lsh, n_missed,
       ROUND(CAST(n_lsh AS DOUBLE) / n_exact, 6) AS recall
FROM m
"""


@query("lsh_recall_audit", oracle=_lsh_recall_oracle())
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of the MinHash-LSH dedup lane against exact
    ground truth in the SAME similarity space (3-gram shingles,
    Jaccard >= 0.8): the exact pair set comes from the prefix-filtered
    set-similarity join (setsim_prefix_join's materialized stage — an
    exact algorithm with a different candidate generator), the LSH
    set from dedup_ngram_jaccard's band candidates + exact rescore.
    Every surviving LSH pair is exact-verified, so precision is 1 by
    construction and the single honest number is RECALL — the
    theoretical 1-(1-s^r)^b ~ 0.88 at s = 0.8 becomes a measured
    value, which is what a dedup rollout signs off on. n_missed
    counts the LSH false negatives individually (the anti-join).

    100 TB shape: both pair sets are materialized shared stages; the
    audit adds two counts and one anti-join on (a, b) keys. The
    ORACLE's exact side is the brute-force all-pairs scan — feasible
    only at test scale, which is the point: the engines agree on the
    number a brute-force check could only produce at toy size."""
    from iot_etl_spark.plans.queries_mlprep import _setsim_pairs_cached
    from iot_etl_spark.plans.queries_text import (
        _band_candidate_pairs,
        _band_sigs_cached,
        _shingle_sets_cached,
    )

    exact = _setsim_pairs_cached(spark, sf_dir).select(
        "doc_id_a", "doc_id_b"
    )
    # LSH candidates verified in the SAME md5-token space as the exact
    # side (so a 32-bit shingle collision can never split the verdicts
    # between the two lanes)
    tk = _shingle_sets_cached(spark, sf_dir).select(
        "doc_id",
        F.expr(
            "array_distinct(transform(s, x -> "
            "cast(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT)))"
        ).alias("toks"),
    )
    cand = _band_candidate_pairs(_band_sigs_cached(spark, sf_dir))
    lsh = (
        cand.join(
            tk.select(F.col("doc_id").alias("doc_id_a"), F.col("toks").alias("ta")),
            "doc_id_a",
        )
        .join(
            tk.select(F.col("doc_id").alias("doc_id_b"), F.col("toks").alias("tb")),
            "doc_id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .filter(
            F.col("inter")
            / (F.size("ta") + F.size("tb") - F.col("inter"))
            >= 0.8
        )
        .select("doc_id_a", "doc_id_b")
        # localCheckpoint (r14, guide §1.2): lsh feeds both the
        # anti-join and its own count — without the cut each reference
        # replayed the token-space Jaccard rescore (plan audit: 16
        # stage scans / 12 broadcasts). Bounded by the surviving
        # near-dup pair count.
        .localCheckpoint()
    )
    missed = exact.join(lsh, ["doc_id_a", "doc_id_b"], "left_anti")
    stats = (
        exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .crossJoin(
            F.broadcast(
                lsh.agg(F.count(F.lit(1)).cast("long").alias("n_lsh"))
            )
        )
        .crossJoin(
            F.broadcast(
                missed.agg(
                    F.count(F.lit(1)).cast("long").alias("n_missed")
                )
            )
        )
    )
    return stats.selectExpr(
        "n_exact",
        "n_lsh",
        "n_missed",
        "ROUND(CAST(n_lsh AS DOUBLE) / n_exact, 6) AS recall",
    )


# ------------------------------------------------ Hodges-Lehmann + Cliff's d
# Two-sample HL shift = median of all pairwise (weekend - weekday)
# differences, computed over UNIT-quantized value cells: the pair
# space is cells x cells (~500 x 500), each difference cell carries
# the integer weight n1*n2, and the weighted median is the
# cumulative-cell rule 2*cum >= W (integer cross-multiplied). Cliff's
# delta falls out of the same frame as (W+ - W-)/W.
_HL_CELLS = """
    SELECT we, cell, CAST(COUNT(*) AS BIGINT) AS n
    FROM (
        SELECT CASE WHEN {we_pred} THEN 1 ELSE 0 END AS we,
               CAST(ROUND(value) AS BIGINT) AS cell
        FROM events
    )
    GROUP BY 1, 2
"""


def _hl_oracle() -> str:
    cells = _HL_CELLS.format(
        we_pred="dayofweek(CAST(ts AS TIMESTAMP)) IN (0, 6)"
    )
    return f"""
WITH cells AS ({cells}),
d AS (
    SELECT a.cell - b.cell AS diff,
           CAST(SUM(a.n * b.n) AS BIGINT) AS w
    FROM (SELECT cell, n FROM cells WHERE we = 1) a
    CROSS JOIN (SELECT cell, n FROM cells WHERE we = 0) b
    GROUP BY 1
),
c AS (
    SELECT diff, w,
           CAST(SUM(w) OVER (ORDER BY diff
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           CAST(SUM(w) OVER () AS BIGINT) AS tot
    FROM d
)
SELECT CAST(MIN(CASE WHEN 2 * cum >= tot THEN diff END) AS BIGINT)
           AS hl_shift,
       ROUND((CAST(SUM(CASE WHEN diff > 0 THEN w ELSE 0 END) AS DOUBLE)
              - SUM(CASE WHEN diff < 0 THEN w ELSE 0 END))
             / MAX(tot), 6) AS cliffs_delta,
       CAST(MAX(tot) AS BIGINT) AS n_pairs
FROM c
"""


@query("hodges_lehmann_weekend", oracle=_hl_oracle())
def hodges_lehmann_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann shift estimator and Cliff's delta between the
    weekend and weekday value distributions — the EFFECT-SIZE pair
    for the rank-test family: mannwhitney_weekend_value decides
    significance, HL says HOW FAR the distributions sit apart (the
    median pairwise difference, robust where the mean shift is not),
    and Cliff's delta normalizes the dominance to [-1, 1]. The n1*n2
    pair space collapses to difference cells over UNIT-quantized
    values (declared semantics): integer weights, a bounded
    cumulative window, and the weighted-median rule 2*cum >= W as an
    integer cross-product — no doubles until Cliff's one division.

    100 TB shape: one scan into per-group value cells (bounded by
    value range), a ~500x500 broadcast cell cross join, windows over
    ~1000 difference cells."""
    ev = load_table(spark, sf_dir, "events")
    cells = (
        ev.select(
            F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("we"),
            F.expr("CAST(ROUND(value) AS BIGINT)").alias("cell"),
        )
        .groupBy("we", "cell")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    a = cells.filter(F.col("we") == 1).select(
        F.col("cell").alias("ca"), F.col("n").alias("na")
    )
    b = cells.filter(F.col("we") == 0).select(
        F.col("cell").alias("cb"), F.col("n").alias("nb")
    )
    d = (
        a.crossJoin(F.broadcast(b))
        .groupBy((F.col("ca") - F.col("cb")).alias("diff"))
        .agg(F.sum(F.col("na") * F.col("nb")).cast("long").alias("w"))
    )
    c = d.select(
        "diff",
        "w",
        F.sum("w")
        .over(
            Window.orderBy("diff").rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("cum"),
        F.sum("w").over(Window.partitionBy()).cast("long").alias("tot"),
    )
    return c.agg(
        F.expr("CAST(MIN(CASE WHEN 2 * cum >= tot THEN diff END) AS BIGINT)")
        .alias("hl_shift"),
        F.expr(
            "ROUND((CAST(SUM(CASE WHEN diff > 0 THEN w ELSE 0 END) AS DOUBLE)"
            " - SUM(CASE WHEN diff < 0 THEN w ELSE 0 END)) / MAX(tot), 6)"
        ).alias("cliffs_delta"),
        F.expr("CAST(MAX(tot) AS BIGINT)").alias("n_pairs"),
    )
