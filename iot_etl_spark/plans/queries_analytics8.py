"""Round-11 analytics batch: within-block rank testing (Friedman),
median-based k-group comparison (Mood), single-outlier screening
(Grubbs), structural-break testing (Chow), sequence entropy rate
(empirical Markov chain), optimal stratified sampling design (Neyman
allocation), cluster-validity indices (Calinski-Harabasz,
Davies-Bouldin), band-limited periodicity detection (Fisher's g), and
a data-layout effectiveness audit (linear vs Z-order file pruning).

Reference parity: none exist in the reference (its analytics surface
is TimescaleDB SQL, ``analytical_queries.sql``); they deepen the
established lanes — the nonparametric battery (next to
kruskal_wallis/brown_forsythe/mood gap), changepoint/causal family
(binseg, DiD -> Chow), the sampling toolkit (pps/priority/reservoir ->
Neyman design), the clustering-eval lane (silhouette -> CH/DB), the
spectral lane (acf_pacf, harmonic -> Fisher g), and the
storage-layout story (bucketing/DPP -> Z-order pruning audit).

Determinism: integer micro-unit quantization before any distributed
sum; rank math over bounded cell frames (never a global per-row
sort except the documented layout audit, where the sort IS the
operation being audited); per-term libm products quantized to 1e9
BIGINT before summation (the acf convention); wide accumulators in
DECIMAL(38,0) / HUGEINT; every computed double is ROUND(x, 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from iot_etl_spark.plans.registry import query, DUCK_TS
from iot_etl_spark.sources.tables import load_table

# ------------------------------------------------------ Friedman test
# Within-block rank test: blocks = calendar days, treatments = event
# types, response = the (day, type) mean value quantized to 1e-6.
# Only COMPLETE blocks (all k types present) enter — Friedman requires
# balanced blocks. Within a block (<= k rows), 2*avgrank = 2*rank() +
# (ties - 1) stays integer; rank sums accumulate in DECIMAL(38,0).
# Q = 12/(b k (k+1)) * sum_j R_j^2 - 3 b (k+1) on average ranks (the
# classic statistic; the tie-corrected denominator variant is noted in
# the docstring — ties across quantized means are rare but handled
# identically on both engines either way).

_FRIEDMAN_ORACLE = f"""
WITH k AS (
    SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events
    WHERE value IS NOT NULL
),
cells AS (
    SELECT date_trunc('day', {DUCK_TS}) AS day, event_type,
           CAST(ROUND(SUM(CAST(ROUND(value * 1e6) AS BIGINT))
                      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mq
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
),
full_blocks AS (
    SELECT day FROM cells, k GROUP BY day, k.k
    HAVING COUNT(*) = ANY_VALUE(k.k)
),
ranked AS (
    SELECT c.day, c.event_type,
           2 * RANK() OVER (PARTITION BY c.day ORDER BY c.mq)
             + CAST(COUNT(*) OVER (PARTITION BY c.day, c.mq) AS BIGINT) - 1
               AS r2
    FROM cells c JOIN full_blocks f ON c.day = f.day
),
sums AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS b,
           CAST(SUM(CAST(r2 AS HUGEINT)) AS HUGEINT) AS r2sum
    FROM ranked GROUP BY 1
),
q AS (
    SELECT CAST(SUM(CAST(r2sum AS DOUBLE) * CAST(r2sum AS DOUBLE) / 4.0)
                AS DOUBLE) AS srq,
           MAX(b) AS b, CAST(COUNT(*) AS BIGINT) AS k
    FROM sums
)
SELECT s.event_type,
       s.b AS n_blocks,
       ROUND(CAST(s.r2sum AS DOUBLE) / (2.0 * s.b), 6) AS mean_rank,
       ROUND(12.0 / (q.b * q.k * (q.k + 1)) * q.srq
             - 3.0 * q.b * (q.k + 1), 6) AS friedman_q
FROM sums s, q
"""


@query("friedman_test_day_blocks", oracle=_FRIEDMAN_ORACLE)
def friedman_test_day_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman within-block rank test of event types across calendar
    days: each complete day ranks its k per-type mean values; rank
    sums feed Q = 12/(bk(k+1)) sum R_j^2 - 3b(k+1) — the repeated-
    measures companion to kruskal_wallis_value_by_type (which pools
    all rows and is blind to day-level baselines shifting everyone).

    Determinism: cell means on the 1e-6 integer grid (ROUND of an
    exact integer-sum ratio, shared verbatim); within-block average
    ranks as integers via 2*avgrank = 2*rank + ties - 1; rank sums in
    DECIMAL(38,0)/HUGEINT. Tie note: ties across quantized day-means
    are handled by average rank identically on both engines; the
    rarely-needed tie-corrected denominator is deliberately omitted
    (documented, identical both sides).

    100 TB shape: ONE map-side-combined aggregate to the (day, type)
    cell frame — bounded by days x types, not rows; the rank window
    partitions by day over <= k rows; everything after is k rows."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    k = ev.agg(F.countDistinct("event_type").cast("long").alias("k"))
    cells = (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
        )
        .agg(
            F.round(
                F.sum(F.expr("CAST(ROUND(value * 1e6) AS BIGINT)"))
                / F.count(F.lit(1)).cast("double")
            )
            .cast("long")
            .alias("mq")
        )
        # bounded days x types frame, consumed by the completeness
        # filter AND the rank join — checkpoint so the fact scan runs
        # once (the analytics4 bounded-cell convention)
        .localCheckpoint()
    )
    full = (
        cells.crossJoin(F.broadcast(k))
        .groupBy("day", "k")
        .agg(F.count(F.lit(1)).alias("nt"))
        .filter(F.col("nt") == F.col("k"))
        .select("day")
    )
    wday = Window.partitionBy("day").orderBy("mq")
    wtie = Window.partitionBy("day", "mq")
    ranked = cells.join(full, "day").select(
        "day",
        "event_type",
        (
            2 * F.rank().over(wday)
            + F.count(F.lit(1)).over(wtie).cast("long")
            - 1
        ).alias("r2"),
    )
    sums = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("b"),
        F.sum(F.col("r2").cast("decimal(38,0)")).alias("r2sum"),
    )
    q = sums.agg(
        F.sum(
            F.col("r2sum").cast("double") * F.col("r2sum").cast("double") / 4.0
        ).alias("srq"),
        F.max("b").alias("bq"),
        F.count(F.lit(1)).cast("long").alias("kq"),
    )
    return sums.crossJoin(F.broadcast(q)).select(
        "event_type",
        F.col("b").alias("n_blocks"),
        F.round(F.col("r2sum").cast("double") / (2.0 * F.col("b")), 6).alias(
            "mean_rank"
        ),
        F.round(
            12.0 / (F.col("bq") * F.col("kq") * (F.col("kq") + 1)) * F.col("srq")
            - 3.0 * F.col("bq") * (F.col("kq") + 1),
            6,
        ).alias("friedman_q"),
    )


# --------------------------------------------------- Mood median test
# k-group comparison against the GLOBAL lower median: the 2 x k
# contingency of (above / not-above) counts with chi2 contributions.
# The global median comes from the cumulative-cell device (2-dp value
# grid), never a per-row sort.

_MOOD_ORACLE = """
WITH cells AS (
    SELECT CAST(value AS DECIMAL(18,2)) AS v, CAST(COUNT(*) AS BIGINT) AS c
    FROM events WHERE value IS NOT NULL GROUP BY 1
),
cum AS (
    SELECT v,
           CAST(SUM(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cc,
           CAST(SUM(c) OVER () AS BIGINT) AS n
    FROM cells
),
med AS (
    SELECT MIN(v) AS median_v FROM cum WHERE cc >= (n + 1) // 2
),
grp AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS nj,
           CAST(SUM(CASE WHEN CAST(value AS DECIMAL(18,2)) > med.median_v
                         THEN 1 ELSE 0 END) AS BIGINT) AS aj
    FROM events, med WHERE value IS NOT NULL
    GROUP BY event_type, med.median_v
),
tot AS (
    SELECT CAST(SUM(nj) AS BIGINT) AS n, CAST(SUM(aj) AS BIGINT) AS a
    FROM grp
)
SELECT g.event_type, g.nj AS n_group, g.aj AS n_above,
       ROUND(CAST(g.nj AS DOUBLE) * t.a / t.n, 6) AS expected_above,
       ROUND(
         POWER(g.aj - CAST(g.nj AS DOUBLE) * t.a / t.n, 2)
           / NULLIF(CAST(g.nj AS DOUBLE) * t.a / t.n, 0)
         + POWER((g.nj - g.aj) - CAST(g.nj AS DOUBLE) * (t.n - t.a) / t.n, 2)
           / NULLIF(CAST(g.nj AS DOUBLE) * (t.n - t.a) / t.n, 0), 6)
           AS chi2_contrib,
       ROUND(CAST(m.median_v AS DOUBLE), 2) AS grand_median
FROM grp g, tot t, med m
"""


@query("mood_median_test", oracle=_MOOD_ORACLE)
def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: does each event type sit above the GRAND
    median more often than chance? The coarsest, most outlier-robust
    member of the k-group battery (ANOVA assumes normality,
    Kruskal-Wallis uses full ranks; Mood only asks above/below) — the
    cross-check you run when heavy tails make even ranks suspect.

    Determinism: the grand median is the lower median picked off the
    2-dp DECIMAL value grid via the cumulative-cell device; counts are
    BIGINTs; the chi2 contribution is one shared-verbatim double
    expression per type.

    100 TB shape: one map-side (value-cell) aggregate bounded by the
    value domain, one scan with the 1-row median broadcast for the
    above/below counts — no row-level sort, no join by value."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cells = (
        ev.groupBy(F.col("value").cast("decimal(18,2)").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # bounded by the 2-dp value domain; feeds the median pick so
        # the fact scan is not replayed under it
        .localCheckpoint()
    )
    wc = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "v",
        F.sum("c").over(wc).cast("long").alias("cc"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
    )
    med = cum.filter(
        F.col("cc") >= F.expr("(n + 1) div 2")
    ).agg(F.min("v").alias("median_v"))
    grp = (
        ev.crossJoin(F.broadcast(med))
        .groupBy("event_type", "median_v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nj"),
            F.sum(
                (F.col("value").cast("decimal(18,2)") > F.col("median_v"))
                .cast("int")
            )
            .cast("long")
            .alias("aj"),
        )
    )
    tot = grp.agg(
        F.sum("nj").cast("long").alias("n"), F.sum("aj").cast("long").alias("a")
    )
    j = grp.crossJoin(F.broadcast(tot))
    ea = F.col("nj").cast("double") * F.col("a") / F.col("n")
    eb = F.col("nj").cast("double") * (F.col("n") - F.col("a")) / F.col("n")
    # NULLIF-guarded denominators (ADVICE r11): on degenerate data where
    # an expected count is 0 (e.g. every value equal -> a = 0), Spark's
    # non-ANSI divide yields NULL but DuckDB IEEE mode yields inf/NaN —
    # NULLIF makes both engines NULL, the cochran_q_test convention.
    return j.select(
        "event_type",
        F.col("nj").alias("n_group"),
        F.col("aj").alias("n_above"),
        F.round(ea, 6).alias("expected_above"),
        F.round(
            F.pow(F.col("aj") - ea, 2) / F.nullif(ea, F.lit(0.0))
            + F.pow((F.col("nj") - F.col("aj")) - eb, 2)
            / F.nullif(eb, F.lit(0.0)),
            6,
        ).alias("chi2_contrib"),
        F.round(F.col("median_v").cast("double"), 2).alias("grand_median"),
    )


# ------------------------------------------------ Grubbs outlier scan
# Per-type maximum studentized deviate G = max|x - mean| / sd, with
# the extreme row identified deterministically (max integer deviation,
# min event_id tiebreak). The deviation comparison is EXACT integer:
# |n * vq - s| where vq = 100*value and s = sum(vq).

_GRUBBS_ORACLE = """
WITH q AS (
    SELECT event_type, event_id,
           CAST(ROUND(value * 100) AS BIGINT) AS vq
    FROM events WHERE value IS NOT NULL
),
m AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(vq) AS BIGINT) AS s,
           CAST(SUM(CAST(vq AS HUGEINT) * vq) AS HUGEINT) AS ss
    FROM q GROUP BY 1
),
d AS (
    SELECT q.event_type, q.event_id, q.vq,
           ABS(CAST(m.n AS HUGEINT) * q.vq - m.s) AS dev
    FROM q JOIN m USING (event_type)
),
mx AS (
    SELECT event_type, MAX(dev) AS dmax FROM d GROUP BY 1
),
pick AS (
    SELECT d.event_type, MIN(d.event_id) AS outlier_event_id,
           ANY_VALUE(mx.dmax) AS dmax
    FROM d JOIN mx ON d.event_type = mx.event_type AND d.dev = mx.dmax
    GROUP BY 1
)
SELECT m.event_type, m.n AS n_values,
       ROUND((CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
             / (m.n - 1) / 10000.0, 6) AS variance,
       ROUND(CAST(p.dmax AS DOUBLE) / m.n / 100.0
             / sqrt((CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
                    / (m.n - 1) / 10000.0), 6) AS g_stat,
       p.outlier_event_id
FROM m JOIN pick p USING (event_type)
"""


@query("grubbs_outlier_scan", oracle=_GRUBBS_ORACLE)
def grubbs_outlier_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs maximum-studentized-deviate screen per event type:
    G = max|x - mean| / sd plus WHICH reading is the extreme — the
    single-outlier formal test beside the z-score/IQR flaggers (those
    band every row; Grubbs names the one most extreme observation and
    its test statistic).

    Determinism: the argmax runs on the EXACT integer deviation
    |n*vq - s| (vq = 100*value, s = sum vq) — no double compare can
    flip the pick; ties break to the smallest event_id on both
    engines; G itself is one shared-verbatim expression over the
    integer moments.

    100 TB shape: one moment aggregate, one broadcast join of the
    per-type moments back onto the scan, one max + one tiebreak
    aggregate — two scans total, no sort, no window."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    q = ev.select(
        "event_type", "event_id",
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").alias("vq"),
    )
    m = q.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vq").cast("long").alias("s"),
        F.sum(F.col("vq").cast("decimal(38,0)") * F.col("vq")).alias("ss"),
    )
    d = q.join(F.broadcast(m), "event_type").select(
        "event_type", "event_id",
        F.abs(
            F.col("n").cast("decimal(38,0)") * F.col("vq") - F.col("s")
        ).alias("dev"),
    )
    # ONE aggregate finds the extreme row: struct ordering is
    # lexicographic, so max(struct(dev, -event_id)) = max deviation
    # with the SMALLEST event_id winning ties — no second scan, no
    # join-back (the oracle keeps the two-CTE formulation; results
    # are identical by construction)
    pick = d.groupBy("event_type").agg(
        F.max(F.struct(F.col("dev"), (-F.col("event_id")).alias("neg"))).alias(
            "mx"
        )
    ).select(
        "event_type",
        (-F.col("mx.neg")).cast("long").alias("outlier_event_id"),
        F.col("mx.dev").alias("dmax"),
    )
    var = (
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
        / 10000.0
    )
    return m.join(pick, "event_type").select(
        "event_type",
        F.col("n").alias("n_values"),
        F.round(var, 6).alias("variance"),
        F.round(
            F.col("dmax").cast("double") / F.col("n") / 100.0 / F.sqrt(var), 6
        ).alias("g_stat"),
        "outlier_event_id",
    )


# ----------------------------------------------------- Chow break test
# Structural break in the OLS trend value ~ time at the span midpoint:
# F = ((SSE_p - SSE_1 - SSE_2)/2) / ((SSE_1 + SSE_2)/(n - 4)).
# NUMERICALLY EXACT SSE: the classic moment formula
# syy - sy^2/n - (sxy - sx sy/n)^2/(sxx - sx^2/n) cancels catastrophically
# in doubles once x is in raw microseconds (caught by the numpy
# independence pin — BOTH engines agreed on the wrong value, the
# shared-flaw class the campaign exists for). Instead the cancellations
# A = n*syy - sy^2, B = n*sxy - sx*sy, C = n*sxx - sx^2 are formed in
# DECIMAL(38,0)/HUGEINT integer arithmetic (x integer SECONDS since
# span start, y integer CENTI-units — both exact; worst-case products
# stay under 1e37 at 1e12 rows), and doubles appear only in the final
# SSE = (A - B^2/C)/n, where every operand is already exact.

_CHOW_SSE = (
    "((CAST(a AS DOUBLE) - CAST(b AS DOUBLE) * CAST(b AS DOUBLE)"
    " / CAST(c AS DOUBLE)) / n / 1e4)"
)

_CHOW_MOM = """
    SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
           CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
           CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
    FROM p GROUP BY 1
"""

_CHOW_ABC = (
    "CAST(n AS HUGEINT) * syy - sy * sy AS a, "
    "CAST(n AS HUGEINT) * sxy - sx * sy AS b, "
    "CAST(n AS HUGEINT) * sxx - sx * sx AS c"
)

_CHOW_ORACLE = f"""
WITH bounds AS (
    SELECT MIN(epoch_us({DUCK_TS})) // 1000000 AS t0,
           (MIN(epoch_us({DUCK_TS})) + MAX(epoch_us({DUCK_TS}))) // 2 AS mid
    FROM events WHERE value IS NOT NULL
),
p AS (
    SELECT CASE WHEN epoch_us({DUCK_TS}) <= bounds.mid THEN 0 ELSE 1 END
               AS seg,
           epoch_us({DUCK_TS}) // 1000000 - bounds.t0 AS x,
           CAST(ROUND(value * 100) AS BIGINT) AS y
    FROM events, bounds WHERE value IS NOT NULL
),
m AS ({_CHOW_MOM}),
pool AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
           SUM(sxx) AS sxx, SUM(sxy) AS sxy, SUM(syy) AS syy
    FROM m
),
sse AS (
    SELECT (SELECT {_CHOW_SSE}
            FROM (SELECT n, {_CHOW_ABC} FROM pool)) AS sp,
           MAX(CASE WHEN seg = 0 THEN s END) AS s1,
           MAX(CASE WHEN seg = 1 THEN s END) AS s2,
           CAST(SUM(n) AS BIGINT) AS n,
           MAX(CASE WHEN seg = 0 THEN n END) AS n1,
           MAX(CASE WHEN seg = 1 THEN n END) AS n2
    FROM (SELECT seg, n, {_CHOW_SSE} AS s
          FROM (SELECT seg, n, {_CHOW_ABC} FROM m))
)
SELECT n, n1, n2,
       ROUND(sp, 6) AS sse_pooled,
       ROUND(s1, 6) AS sse_pre,
       ROUND(s2, 6) AS sse_post,
       ROUND(((sp - s1 - s2) / 2) / ((s1 + s2) / (n - 4)), 6) AS chow_f
FROM sse
"""


@query("chow_break_test", oracle=_CHOW_ORACLE)
def chow_break_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the value-over-time OLS
    trend at the observation-span midpoint: fit the line separately on
    each half and pooled, F = ((SSE_p - SSE_1 - SSE_2)/2) /
    ((SSE_1+SSE_2)/(n-4)) — the parametric changepoint companion to
    binseg_changepoints (which finds WHERE; Chow tests a KNOWN split,
    here the same mid-span device the pinball/decontamination splits
    use) and to diff_in_diff (level shift; Chow catches slope breaks).

    Numerical design (found by this round's numpy independence pin):
    the naive moment-formula SSE cancels catastrophically in doubles
    at microsecond x magnitudes — and because the oracle shared the
    formula, BOTH engines agreed on a value ~5% wrong. The fix forms
    the cancellations n*syy - sy^2, n*sxy - sx*sy, n*sxx - sx^2 in
    EXACT DECIMAL(38,0) integer arithmetic (x = whole seconds since
    span start, y = exact centi-units) and lets doubles in only for
    the final (A - B^2/C)/n — each operand exact, no cancellation
    left.

    100 TB shape: one 1-row span broadcast, then ONE scan into a
    2-cell moment aggregate (map-side combinable); the solve is O(1).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = ev.agg(
        (F.min(F.unix_micros("ts")) / 1000000).cast("long").alias("t0s"),
        ((F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2)
        .cast("long")
        .alias("mid"),
    )
    dec = "decimal(38,0)"
    p = ev.crossJoin(F.broadcast(b)).select(
        F.when(F.unix_micros("ts") <= F.col("mid"), 0).otherwise(1).alias("seg"),
        (F.expr("unix_micros(ts) div 1000000") - F.col("t0s"))
        .cast(dec)
        .alias("x"),
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").cast(dec).alias("y"),
    )
    m = p.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    ).localCheckpoint()  # 2 rows, consumed by pool AND the per-seg SSE
    abc = [
        "CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS a",
        "CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS b",
        "CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS c",
    ]
    pool = m.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
        F.sum("syy").alias("syy"),
    ).selectExpr("n AS n_all", *abc).selectExpr(
        "n_all", f"{_CHOW_SSE.replace('/ n /', '/ n_all /')} AS sp"
    )
    seg = m.selectExpr("seg", "n", *abc).selectExpr(
        "seg", "n", f"{_CHOW_SSE} AS s"
    )
    sse = seg.agg(
        F.max(F.when(F.col("seg") == 0, F.col("s"))).alias("s1"),
        F.max(F.when(F.col("seg") == 1, F.col("s"))).alias("s2"),
        F.max(F.when(F.col("seg") == 0, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("seg") == 1, F.col("n"))).alias("n2"),
    ).crossJoin(F.broadcast(pool))
    return sse.select(
        F.col("n_all").alias("n"),
        "n1",
        "n2",
        F.round(F.col("sp"), 6).alias("sse_pooled"),
        F.round(F.col("s1"), 6).alias("sse_pre"),
        F.round(F.col("s2"), 6).alias("sse_post"),
        F.round(
            ((F.col("sp") - F.col("s1") - F.col("s2")) / 2)
            / ((F.col("s1") + F.col("s2")) / (F.col("n_all") - 4)),
            6,
        ).alias("chow_f"),
    )


# ------------------------------------------- Neyman allocation design
# Optimal stratified-sample allocation: n_h proportional to N_h * S_h
# (Neyman 1934), apportioned over a fixed budget B with the
# largest-remainder method in EXACT integer arithmetic (quota
# numerators B*w_h over W = sum w_h; remainders ranked over the <= k
# stratum cells). The proportional allocation (w = N_h) rides along
# for comparison — the design a pipeline uses when strata variances
# are unknown.

NEYMAN_BUDGET = 1000

_NEYMAN_W = (
    "CAST(ROUND(CAST(n AS DOUBLE)"
    " * sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n)"
    "        / (n - 1) / 1e12) * 1e6) AS BIGINT)"
)


def _lr_alloc_sql(w: str, tag: str, budget: int) -> str:
    """Largest-remainder apportionment CTE text over the stratum cells
    (column ``{w}`` = integer weight), emitting alloc_{tag}."""
    return f"""
q_{tag} AS (
    SELECT event_type, {w} AS w FROM moments
),
t_{tag} AS (SELECT CAST(SUM(w) AS HUGEINT) AS tw FROM q_{tag}),
b_{tag} AS (
    SELECT event_type, w,
           CAST(({budget} * CAST(w AS HUGEINT)) // t_{tag}.tw AS BIGINT)
               AS base,
           CAST(({budget} * CAST(w AS HUGEINT)) % t_{tag}.tw AS HUGEINT)
               AS rem
    FROM q_{tag}, t_{tag}
),
r_{tag} AS (
    SELECT event_type, base, rem,
           ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS rk,
           {budget} - CAST(SUM(base) OVER () AS BIGINT) AS leftover
    FROM b_{tag}
),
a_{tag} AS (
    SELECT event_type,
           base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc_{tag}
    FROM r_{tag}
)"""


_NEYMAN_ORACLE = f"""
WITH moments AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 1e6) AS BIGINT)) AS HUGEINT) AS s,
           CAST(SUM(CAST(CAST(ROUND(value * 1e6) AS BIGINT) AS HUGEINT)
                    * CAST(ROUND(value * 1e6) AS BIGINT)) AS HUGEINT) AS ss
    FROM events WHERE value IS NOT NULL GROUP BY 1
),
{_lr_alloc_sql(_NEYMAN_W, "ney", NEYMAN_BUDGET)},
{_lr_alloc_sql("n", "prop", NEYMAN_BUDGET)}
SELECT m.event_type, m.n AS n_rows,
       ROUND(sqrt((CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
                  / (m.n - 1) / 1e12), 6) AS stddev_value,
       a1.alloc_ney AS alloc_neyman,
       a2.alloc_prop AS alloc_proportional
FROM moments m
JOIN a_ney a1 USING (event_type)
JOIN a_prop a2 USING (event_type)
"""


@query("neyman_allocation_plan", oracle=_NEYMAN_ORACLE)
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling design: allocate a fixed
    budget of {NEYMAN_BUDGET} sample rows across event-type strata
    proportional to N_h * S_h (minimizing the stratified-mean
    variance), next to the naive proportional allocation — the DESIGN
    step that decides how pps/reservoir/priority sampling budgets
    should be split before any row is drawn.

    Determinism: stratum moments are exact integer sums; the weight
    w_h = ROUND(N_h * S_h * 1e6) is one shared-verbatim expression;
    the largest-remainder apportionment is then PURE integer
    arithmetic (quota div/mod over HUGEINT/DECIMAL(38,0), remainders
    ranked with an event_type tiebreak) — allocations can never drift
    by an ulp.

    100 TB shape: one map-side moment aggregate to k stratum cells;
    apportionment windows run over those k rows."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    m = ev.select(
        "event_type",
        F.expr("CAST(ROUND(value * 1e6) AS BIGINT)").alias("vq"),
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("vq").cast(dec)).alias("s"),
        F.sum(F.col("vq").cast(dec) * F.col("vq")).alias("ss"),
    )
    sd = F.sqrt(
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
        / 1e12
    )
    m = m.withColumn(
        "w_ney", F.round(F.col("n") * sd * 1e6).cast("long")
    ).localCheckpoint()  # k rows, consumed by both allocations + readout

    def _alloc(frame: DataFrame, wcol: str, out: str) -> DataFrame:
        b = frame.select(
            "event_type",
            F.expr(
                f"CAST(({NEYMAN_BUDGET} * CAST({wcol} AS DECIMAL(38,0)))"
                f" div (SUM(CAST({wcol} AS DECIMAL(38,0))) OVER ()) AS BIGINT)"
            ).alias("base"),
            F.expr(
                f"({NEYMAN_BUDGET} * CAST({wcol} AS DECIMAL(38,0)))"
                f" % (SUM(CAST({wcol} AS DECIMAL(38,0))) OVER ())"
            ).alias("rem"),
        )
        r = b.select(
            "event_type", "base", "rem",
            F.row_number()
            .over(Window.orderBy(F.col("rem").desc(), "event_type"))
            .alias("rk"),
            (F.lit(NEYMAN_BUDGET) - F.sum("base").over(Window.partitionBy()))
            .cast("long")
            .alias("leftover"),
        )
        return r.select(
            "event_type",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            ).cast("long").alias(out),
        )

    a1 = _alloc(m, "w_ney", "alloc_neyman")
    a2 = _alloc(m, "n", "alloc_proportional")
    return (
        m.join(a1, "event_type")
        .join(a2, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_rows"),
            F.round(sd, 6).alias("stddev_value"),
            "alloc_neyman",
            "alloc_proportional",
        )
    )


# ------------------------------------- cluster-validity indices (CH/DB)
# Shared construction with silhouette_by_label: ROUND(6) centroids,
# per-point squared distances quantized to 1e-9 BIGINT units before
# any distributed sum (accumulation-order-proof), cluster geometry on
# the k x dims / k x k frames.

_CHDB_CELLS = """
v AS (
    SELECT vec_id, label, i, CAST(e.x AS DOUBLE) AS x
    FROM (SELECT vec_id, label,
                 unnest(embedding) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings) e
),
cellsum AS (
    SELECT label AS l2, i, SUM(x) AS sx, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM v GROUP BY 1, 2
),
cent AS (
    SELECT l2, i, ROUND(sx / cnt, 6) AS c FROM cellsum
),
gmean AS (
    SELECT i, ROUND(SUM(sx) / SUM(cnt), 6) AS g FROM cellsum GROUP BY 1
),
own AS (
    SELECT v.vec_id, v.label,
           CAST(ROUND(SUM((v.x - cent.c) * (v.x - cent.c)) * 1e9) AS BIGINT)
               AS d2q
    FROM v JOIN cent ON v.label = cent.l2 AND v.i = cent.i
    GROUP BY 1, 2
),
wk AS (
    SELECT label, CAST(COUNT(*) AS BIGINT) AS nk,
           CAST(SUM(CAST(d2q AS HUGEINT)) AS HUGEINT) AS wq
    FROM own GROUP BY 1
),
bk AS (
    SELECT cent.l2 AS label,
           CAST(ROUND(SUM((cent.c - gmean.g) * (cent.c - gmean.g)) * 1e9)
                AS BIGINT) AS bq
    FROM cent JOIN gmean USING (i) GROUP BY 1
)
"""

_CH_ORACLE = f"""
WITH {_CHDB_CELLS}
SELECT CAST(SUM(nk) AS BIGINT) AS n_vectors,
       CAST(COUNT(*) AS BIGINT) AS k_labels,
       ROUND(SUM(CAST(wk.nk AS DOUBLE) * bk.bq / 1e9), 6) AS between_ss,
       ROUND(SUM(CAST(wk.wq AS DOUBLE) / 1e9), 6) AS within_ss,
       ROUND((SUM(CAST(wk.nk AS DOUBLE) * bk.bq / 1e9) / (COUNT(*) - 1))
             / (SUM(CAST(wk.wq AS DOUBLE) / 1e9)
                / (SUM(nk) - COUNT(*))), 6) AS ch_index
FROM wk JOIN bk USING (label)
"""


@query("calinski_harabasz_index", oracle=_CH_ORACLE)
def calinski_harabasz_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz variance-ratio cluster validity of the
    embedding label partition: (B/(k-1)) / (W/(n-k)) with B the
    centroid-to-grand-mean scatter weighted by cluster size and W the
    within-cluster scatter — the global companion to
    silhouette_by_label's per-point view (CH reads the partition as a
    whole; the silhouette localizes which points are misassigned).

    Determinism: ROUND(6) centroids and grand mean (the silhouette
    convention); every per-point and per-centroid squared distance is
    quantized to 1e-9 BIGINT units before the distributed sum, so
    accumulation order cannot move the readout.

    100 TB shape: one explode + (label, dim) aggregate (centroids),
    one more for the grand mean, one broadcast-centroid distance
    pass; everything after runs on k rows. O(n*dims), never n^2."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i0", "x"),
    ).withColumn("i", F.col("i0") + 1).drop("i0")
    # ONE (label, dim) sum frame feeds BOTH the centroids and the
    # grand mean (k x dims rows, checkpointed) — the raw explode is
    # scanned once for statistics, once more for the distance pass
    cellsum = v.groupBy(F.col("label").alias("l2"), "i").agg(
        F.sum("x").alias("sx"), F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint()
    cent = cellsum.select(
        F.col("l2").alias("lc"),
        F.col("i").alias("ic"),
        F.round(F.col("sx") / F.col("cnt"), 6).alias("c"),
    )
    gmean = cellsum.groupBy(F.col("i").alias("ig")).agg(
        F.round(F.sum("sx") / F.sum("cnt"), 6).alias("g")
    )
    own = (
        v.join(
            F.broadcast(cent),
            (F.col("label") == F.col("lc")) & (F.col("i") == F.col("ic")),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.expr(
                "CAST(ROUND(SUM((x - c) * (x - c)) * 1e9) AS BIGINT)"
            ).alias("d2q")
        )
    )
    wk = own.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sum(F.col("d2q").cast("decimal(38,0)")).alias("wq"),
    )
    bk = (
        cent.join(F.broadcast(gmean), F.col("ic") == F.col("ig"))
        .groupBy(F.col("lc").alias("label"))
        .agg(
            F.expr(
                "CAST(ROUND(SUM((c - g) * (c - g)) * 1e9) AS BIGINT)"
            ).alias("bq")
        )
    )
    j = wk.join(bk, "label")
    return j.agg(
        F.sum("nk").cast("long").alias("n_vectors"),
        F.count(F.lit(1)).cast("long").alias("k_labels"),
        F.round(
            F.sum(F.col("nk").cast("double") * F.col("bq") / 1e9), 6
        ).alias("between_ss"),
        F.round(F.sum(F.col("wq").cast("double") / 1e9), 6).alias("within_ss"),
        F.round(
            (F.sum(F.col("nk").cast("double") * F.col("bq") / 1e9)
             / (F.count(F.lit(1)) - 1))
            / (F.sum(F.col("wq").cast("double") / 1e9)
               / (F.sum("nk") - F.count(F.lit(1)))),
            6,
        ).alias("ch_index"),
    )


_DB_ORACLE = f"""
WITH {_CHDB_CELLS},
scat AS (
    SELECT label, nk, sqrt(CAST(wq AS DOUBLE) / 1e9 / nk) AS s FROM wk
),
cd AS (
    SELECT a.l2 AS la, b.l2 AS lb,
           sqrt(CAST(ROUND(SUM((a.c - b.c) * (a.c - b.c)) * 1e9) AS BIGINT)
                / 1e9) AS m
    FROM cent a JOIN cent b ON a.i = b.i AND a.l2 <> b.l2
    GROUP BY 1, 2
),
ratio AS (
    SELECT sa.label, sa.nk, sa.s,
           MAX((sa.s + sb.s) / cd.m) AS r_worst
    FROM scat sa
    JOIN cd ON cd.la = sa.label
    JOIN scat sb ON sb.label = cd.lb
    GROUP BY 1, 2, 3
),
idx AS (SELECT SUM(r_worst) / COUNT(*) AS db FROM ratio)
SELECT r.label, r.nk AS n_vectors,
       ROUND(r.s, 6) AS scatter,
       ROUND(r.r_worst, 6) AS worst_ratio,
       ROUND(idx.db, 6) AS db_index
FROM ratio r, idx
"""


@query("davies_bouldin_index", oracle=_DB_ORACLE)
def davies_bouldin_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin cluster validity per label: scatter s_k =
    sqrt(W_k/n_k), pairwise centroid separations M_ij, per-cluster
    worst ratio R_i = max_j (s_i+s_j)/M_ij, and the DB index (mean of
    R_i; lower = better-separated). The pairwise-cluster view CH's
    single global ratio collapses away — WHICH pair of labels
    bleeds into each other.

    Determinism: the CH/silhouette conventions — ROUND(6) centroids,
    squared distances quantized to 1e-9 BIGINT before sums; the k x k
    separation matrix is exact arithmetic over those integers.

    100 TB shape: identical passes to calinski_harabasz_index plus a
    k x k centroid cross — k^2 rows, data-size-independent."""
    v = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i0", "x"),
    ).withColumn("i", F.col("i0") + 1).drop("i0")
    cent = v.groupBy(
        F.col("label").alias("lc"), F.col("i").alias("ic")
    ).agg(
        F.round(F.sum("x") / F.count(F.lit(1)), 6).alias("c")
    ).localCheckpoint()  # k x dims, consumed by own + both cross sides
    own = (
        v.join(
            F.broadcast(cent),
            (F.col("label") == F.col("lc")) & (F.col("i") == F.col("ic")),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.expr(
                "CAST(ROUND(SUM((x - c) * (x - c)) * 1e9) AS BIGINT)"
            ).alias("d2q")
        )
    )
    scat = own.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("nk"),
        F.sqrt(
            F.sum(F.col("d2q").cast("decimal(38,0)")).cast("double")
            / 1e9
            / F.count(F.lit(1))
        ).alias("s"),
    ).localCheckpoint()  # k rows, both sides of the ratio join
    ca = cent.select(
        F.col("lc").alias("la"), F.col("ic").alias("i"), F.col("c").alias("cxa")
    )
    cb = cent.select(
        F.col("lc").alias("lb"), F.col("ic").alias("i"), F.col("c").alias("cxb")
    )
    cd = (
        ca.join(cb, ["i"])
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sqrt(
                F.expr(
                    "CAST(ROUND(SUM((cxa - cxb) * (cxa - cxb)) * 1e9)"
                    " AS BIGINT)"
                )
                / F.lit(1e9)
            ).alias("m")
        )
    )
    ratio = (
        scat.withColumnRenamed("label", "la_")
        .join(cd, F.col("la_") == F.col("la"))
        .join(
            scat.select(
                F.col("label").alias("lb"), F.col("s").alias("sb")
            ),
            "lb",
        )
        .groupBy(F.col("la_").alias("label"), "nk", "s")
        .agg(F.max((F.col("s") + F.col("sb")) / F.col("m")).alias("r_worst"))
    )
    idx = ratio.agg(
        (F.sum("r_worst") / F.count(F.lit(1))).alias("db")
    )
    return ratio.crossJoin(F.broadcast(idx)).select(
        "label",
        F.col("nk").alias("n_vectors"),
        F.round(F.col("s"), 6).alias("scatter"),
        F.round(F.col("r_worst"), 6).alias("worst_ratio"),
        F.round(F.col("db"), 6).alias("db_index"),
    )


# ------------------------------------------- Fisher's g periodicity
# Periodogram of the hourly mean-value series at the Fourier
# frequencies j = 1..(n-1)/2, with Fisher's g = max I_j / sum I_j and
# the peak period. Per-term (deviation x cos/sin) products are
# quantized to 1e-9 BIGINT before summation (the acf convention), so
# cross-engine libm ulp differences cannot smear the sums; the series
# itself is bounded by the TIME SPAN (hours), not by row count.

_FISHER_SERIES = f"""
series AS (
    SELECT ROW_NUMBER() OVER (ORDER BY bucket) - 1 AS idx,
           CAST(svq AS DOUBLE) / cnt / 1e6 AS y
    FROM (
        SELECT date_trunc('hour', {DUCK_TS}) AS bucket,
               CAST(SUM(CAST(ROUND(value * 1e6) AS BIGINT)) AS BIGINT) AS svq,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
    )
)
"""

_FISHER_ORACLE = f"""
WITH {_FISHER_SERIES},
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(y) / COUNT(*) AS ybar
    FROM series
),
freqs AS (
    SELECT unnest(generate_series(1, CAST((n - 1) // 2 AS INTEGER))) AS j, n
    FROM tot
),
terms AS (
    SELECT f.j,
           CAST(SUM(CAST(ROUND((s.y - t.ybar)
                * cos(2 * pi() * f.j * s.idx / f.n) * 1e9) AS BIGINT))
               AS HUGEINT) AS aq,
           CAST(SUM(CAST(ROUND((s.y - t.ybar)
                * sin(2 * pi() * f.j * s.idx / f.n) * 1e9) AS BIGINT))
               AS HUGEINT) AS bq
    FROM freqs f JOIN series s ON TRUE, tot t
    GROUP BY 1
),
pgram AS (
    SELECT j,
           CAST(aq AS DOUBLE) * CAST(aq AS DOUBLE)
             + CAST(bq AS DOUBLE) * CAST(bq AS DOUBLE) AS i_j
    FROM terms
),
top AS (
    SELECT j AS peak_j, i_j AS i_max FROM pgram
    ORDER BY i_j DESC, j LIMIT 1
)
SELECT t.n AS n_hours,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM pgram) AS n_freqs,
       CAST(top.peak_j AS BIGINT) AS peak_j,
       ROUND(CAST(t.n AS DOUBLE) / top.peak_j, 6) AS period_hours,
       ROUND(top.i_max / (SELECT SUM(i_j) FROM pgram), 6) AS fisher_g
FROM tot t, top
"""


@query("fisher_g_periodicity", oracle=_FISHER_ORACLE)
def fisher_g_periodicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's g test statistic for hidden periodicity in the hourly
    mean-value series: the periodogram over all Fourier frequencies,
    g = max I_j / sum I_j, plus the peak period in hours — the formal
    detector behind what harmonic_regression_daily ASSUMES (a 24 h
    cycle) and acf_pacf_hourly eyeballs; a g near 1/m says "no
    dominant cycle, don't fit one".

    Determinism: each (deviation x cos/sin) term is quantized to 1e-9
    BIGINT before the sums (the acf convention), so cross-engine libm
    ulp differences and accumulation order cannot move a_j/b_j; the
    peak pick breaks ties toward the lower frequency.

    100 TB shape: ONE map-side aggregate collapses the fact to the
    hourly series (bounded by the time span); the n x m term frame is
    hours x hours/2 — time-bounded, data-size-independent — and
    aggregates per frequency. At multi-year spans you band-limit j
    the same way acf caps its lags."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket")).agg(
        F.sum(F.expr("CAST(ROUND(value * 1e6) AS BIGINT)")).alias("svq"),
        F.count(F.lit(1)).alias("cnt"),
    )
    series = hourly.select(
        (F.row_number().over(Window.orderBy("bucket")) - 1).alias("idx"),
        (F.col("svq").cast("double") / F.col("cnt") / 1e6).alias("y"),
    ).localCheckpoint()  # time-bounded frame; the n x m term cross and
    # the totals all read it without replaying the fact scan
    tot = series.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("y") / F.count(F.lit(1))).alias("ybar"),
    )
    freqs = (
        # n >= 3 guard (ADVICE r11): Spark's sequence(1, 0) yields a
        # DESCENDING [1, 0] while DuckDB's generate_series(1, 0) is
        # empty — on a degenerate <=2-bucket span both engines must
        # produce the empty periodogram (and thus an empty result).
        tot.filter(F.col("n") >= 3).select(
            F.explode(F.sequence(F.lit(1), ((F.col("n") - 1) / 2).cast("int")))
            .alias("j"),
            "n",
        )
    )
    # r14 (guide §1.2): the n x m term aggregate used to be computed
    # TWICE (peak pick + totals) and the readout chained two broadcast
    # crossJoins; n rides the frequency aggregate (constant per group)
    # and peak/sum/count become one window pass over the m-row
    # periodogram — terms computed once, zero crossJoins.
    terms = (
        freqs.join(series)
        .crossJoin(F.broadcast(tot.select("ybar")))
        .select(
            "j",
            "n",
            F.expr(
                "CAST(ROUND((y - ybar) * cos(2 * pi() * j * idx / n) * 1e9)"
                " AS BIGINT)"
            ).alias("ca"),
            F.expr(
                "CAST(ROUND((y - ybar) * sin(2 * pi() * j * idx / n) * 1e9)"
                " AS BIGINT)"
            ).alias("cb"),
        )
        .groupBy("j")
        .agg(
            F.sum(F.col("ca").cast("decimal(38,0)")).alias("aq"),
            F.sum(F.col("cb").cast("decimal(38,0)")).alias("bq"),
            F.max("n").alias("n"),
        )
    )
    pgram = terms.select(
        "j",
        "n",
        (
            F.col("aq").cast("double") * F.col("aq").cast("double")
            + F.col("bq").cast("double") * F.col("bq").cast("double")
        ).alias("i_j"),
    )
    w_all = Window.partitionBy()
    pk = pgram.select(
        "j",
        "n",
        "i_j",
        F.sum("i_j").over(w_all).alias("si"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_freqs"),
        F.row_number()
        .over(Window.orderBy(F.col("i_j").desc(), "j"))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return pk.select(
        F.col("n").alias("n_hours"),
        "n_freqs",
        F.col("j").cast("long").alias("peak_j"),
        F.round(F.col("n").cast("double") / F.col("j"), 6).alias(
            "period_hours"
        ),
        F.round(F.col("i_j") / F.col("si"), 6).alias("fisher_g"),
    )


# ------------------------------------ Z-order layout pruning audit
# Data-layout effectiveness: model a 64-file table written two ways —
# time-range files (file = hour-range slice, what a time-partitioned
# table is) vs Z-order files (file = fixed-width range of the Morton
# interleave of RANGE-SCALED (user, day) coordinates) — and measure,
# for a point predicate user_id = u probed over EVERY distinct user,
# what fraction of files min/max statistics prune. Coordinates are
# scaled into 0..255 from the ACTUAL key domain (min/max broadcast) —
# what a real Z-order writer does; raw modulo coordinates would leave
# the high interleave bits constant on narrow domains and the code
# degenerate (caught by this round's literal-simulation pin).

ZORDER_FILES = 64

# Morton interleave of two 8-bit coordinates, u bits on odd positions.
_MORTON = " + ".join(
    f"(((u >> {i}) & 1) * {1 << (2 * i + 1)}) + (((d >> {i}) & 1) * {1 << (2 * i)})"
    for i in range(8)
)

_ZORDER_ORACLE = f"""
WITH raw AS (
    SELECT user_id,
           CAST(epoch_us(date_trunc('day', {DUCK_TS}))
                // 86400000000 AS BIGINT) AS dayi,
           CAST(epoch_us(date_trunc('hour', {DUCK_TS}))
                // 3600000000 AS BIGINT) AS h
    FROM events
),
span AS (
    SELECT MIN(h) AS h0, MAX(h) AS h1,
           MIN(user_id) AS u0, MAX(user_id) AS u1,
           MIN(dayi) AS d0, MAX(dayi) AS d1
    FROM raw
),
base AS (
    SELECT user_id,
           ((user_id - span.u0) * 256) // (span.u1 - span.u0 + 1) AS u,
           ((dayi - span.d0) * 256) // (span.d1 - span.d0 + 1) AS d,
           h, span.h0, span.h1
    FROM raw, span
),
rowsx AS (
    SELECT user_id,
           CAST(((h - h0) * {ZORDER_FILES}) // (h1 - h0 + 1) AS BIGINT)
               AS f_time,
           CAST(({_MORTON}) // {65536 // ZORDER_FILES} AS BIGINT) AS f_zorder
    FROM base
),
files AS (
    SELECT 'time_range' AS layout, f_time AS f,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(user_id) AS min_u, MAX(user_id) AS max_u
    FROM rowsx GROUP BY 2
    UNION ALL
    SELECT 'zorder' AS layout, f_zorder AS f,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(user_id) AS min_u, MAX(user_id) AS max_u
    FROM rowsx GROUP BY 2
),
probes AS (SELECT DISTINCT user_id AS pu FROM raw),
hit AS (
    SELECT f.layout, p.pu,
           CAST(SUM(CASE WHEN p.pu BETWEEN f.min_u AND f.max_u
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_scanned
    FROM files f CROSS JOIN probes p
    GROUP BY 1, 2
)
SELECT f.layout,
       CAST(COUNT(DISTINCT f.f) AS BIGINT) AS n_files,
       CAST(MAX(f.n_rows) AS BIGINT) AS max_file_rows,
       (SELECT ROUND(SUM(h.n_scanned) / CAST(COUNT(*) AS DOUBLE)
                     / COUNT(DISTINCT f2.f), 6)
        FROM hit h, (SELECT DISTINCT f AS f FROM files x
                     WHERE x.layout = f.layout) f2
        WHERE h.layout = f.layout) AS avg_scan_fraction
FROM files f
GROUP BY 1
"""


@query("zorder_pruning_audit", oracle=_ZORDER_ORACLE)
def zorder_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout effectiveness audit: the same fact written as
    {ZORDER_FILES} time-range files vs {ZORDER_FILES} Z-order files
    (Morton interleave of range-scaled user x day coordinates),
    scored by the fraction of files a point predicate
    ``user_id = u`` must scan under min/max file statistics, averaged
    over every distinct user. The quantitative backing for an
    OPTIMIZE ZORDER decision: time-range files carry every user in
    every file (scan fraction ~1), the Morton layout co-locates each
    user into a few code ranges.

    Determinism: coordinate scaling, the Morton code (an explicit
    shift-and-mask sum, identical text both engines), file stats, and
    probe hits are ALL integer arithmetic; the only double is the
    final averaged fraction. Coordinates scale into 0..255 from the
    broadcast key domain — raw modulo coordinates degenerate on
    narrow domains (high interleave bits constant; caught by the
    literal-simulation pin).

    100 TB shape: file assignment is MAP-SIDE math (fixed key-range
    files, the layout a range-partitioned writer produces — no global
    row_number); file stats are one {ZORDER_FILES}-cell aggregate;
    the probe matrix is distinct-users x {ZORDER_FILES} via a
    broadcast of the file-stats frame."""
    ev = load_table(spark, sf_dir, "events")
    raw = ev.select(
        "user_id",
        (F.unix_micros(F.date_trunc("day", F.col("ts"))) / 86400000000)
        .cast("long")
        .alias("dayi"),
        (F.unix_micros(F.date_trunc("hour", F.col("ts"))) / 3600000000)
        .cast("long")
        .alias("h"),
    )
    span = raw.agg(
        F.min("h").alias("h0"), F.max("h").alias("h1"),
        F.min("user_id").alias("u0"), F.max("user_id").alias("u1"),
        F.min("dayi").alias("d0"), F.max("dayi").alias("d1"),
    )
    base = raw.crossJoin(F.broadcast(span)).selectExpr(
        "user_id",
        "((user_id - u0) * 256) div (u1 - u0 + 1) AS u",
        "((dayi - d0) * 256) div (d1 - d0 + 1) AS d",
        "h", "h0", "h1",
    )
    rowsx = base.select(
        "user_id",
        F.expr(
            f"CAST(((h - h0) * {ZORDER_FILES}) div (h1 - h0 + 1) AS BIGINT)"
        ).alias("f_time"),
        F.expr(
            f"CAST(({_MORTON}) div {65536 // ZORDER_FILES} AS BIGINT)"
        ).alias("f_zorder"),
    )

    # ONE pass produces both layouts' file stats: each row explodes to
    # its (layout, file) pair, then a single 2x{ZORDER_FILES}-cell
    # aggregate; the 128-row result is checkpointed for the probe join
    files = (
        rowsx.select(
            "user_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit("time_range").alias("layout"),
                        F.col("f_time").alias("f"),
                    ),
                    F.struct(
                        F.lit("zorder").alias("layout"),
                        F.col("f_zorder").alias("f"),
                    ),
                )
            ).alias("lf"),
        )
        .groupBy(F.col("lf.layout").alias("layout"), F.col("lf.f").alias("f"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("user_id").alias("min_u"),
            F.max("user_id").alias("max_u"),
        )
        .localCheckpoint()
    )
    probes = raw.select(F.col("user_id").alias("pu")).distinct()
    hit = (
        probes.crossJoin(F.broadcast(files))
        .groupBy("layout", "pu")
        .agg(
            F.sum(
                (
                    (F.col("pu") >= F.col("min_u"))
                    & (F.col("pu") <= F.col("max_u"))
                ).cast("int")
            )
            .cast("long")
            .alias("n_scanned")
        )
    )
    fstats = files.groupBy("layout").agg(
        F.countDistinct("f").cast("long").alias("n_files"),
        F.max("n_rows").cast("long").alias("max_file_rows"),
    )
    frac = (
        hit.join(F.broadcast(fstats), "layout")
        .groupBy("layout")
        .agg(
            F.round(
                F.sum("n_scanned")
                / F.count(F.lit(1)).cast("double")
                / F.max("n_files"),
                6,
            ).alias("avg_scan_fraction")
        )
    )
    return fstats.join(frac, "layout").select(
        "layout", "n_files", "max_file_rows", "avg_scan_fraction"
    )


# ------------------------ RBP + ERR retrieval evaluation (label-judged)
# Completes the retrieval-metric lane past NDCG/MRR: RBP (Moffat &
# Zobel, persistence p = 0.8) models a user scanning down with
# probability p of continuing; ERR (Chapelle et al.) models a user
# stopping at the first satisfying hit. Same judged retriever as
# ndcg_label_retrieval (rounded-cosine ranking, label-match binary
# relevance, shared query set).
#
# EXACT integer terms on both engines:
# - RBP discount 1e9 * 0.8^(r-1) is an exact integer for r <= 10
#   (0.8^k * 1e9 = 4^k * 2^9 * 5^(9-k)), so no rounding tie exists;
#   RBP = (1-p) * sum(rel_r * disc_r) / 1e9.
# - ERR with binary relevance has R_i = 1/2 for relevant, 0 else, so
#   the stopping product prod(1 - R_i) over the prefix is 2^(-c) with
#   c = relevant hits before r — ERR terms are rel_r / (r * 2^(c+1)),
#   exact rationals quantized to 1e9 (ties impossible: denominators
#   are r * powers of 2).

RBP_P_NANO = {r: round(1_000_000_000 * 0.8 ** (r - 1)) for r in range(1, 11)}

_RBP_DISC_SQL = (
    "CAST(round(1000000000 * power(CAST(0.8 AS DOUBLE), rnk - 1)) AS BIGINT)"
)
_ERR_TERM_SQL = (
    "CAST(round(CAST(1000000000 AS DOUBLE) * rel"
    " / (rnk * power(CAST(2 AS DOUBLE), prev_rel + 1))) AS BIGINT)"
)

_RBP_ORACLE = f"""
WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
q AS (SELECT vec_id AS qid, label AS qlabel, emb AS qemb FROM v
      WHERE vec_id IN (0, 3, 7, 11, 19, 23, 42, 57)),
hits AS (
    SELECT qid, qlabel, rel, rnk FROM (
        SELECT q.qid, q.qlabel,
               CASE WHEN v.label = q.qlabel THEN 1 ELSE 0 END AS rel,
               ROW_NUMBER() OVER (
                   PARTITION BY q.qid
                   ORDER BY ROUND(list_inner_product(v.emb, q.qemb)
                                  / (sqrt(list_inner_product(v.emb, v.emb))
                                     * sqrt(list_inner_product(q.qemb, q.qemb))),
                            6) DESC, v.vec_id) AS rnk
        FROM v JOIN q ON v.vec_id <> q.qid
    ) WHERE rnk <= 10
),
terms AS (
    SELECT qid, qlabel, rel, rnk,
           CAST(COALESCE(SUM(rel) OVER (PARTITION BY qid ORDER BY rnk
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS prev_rel
    FROM hits
)
SELECT qid AS query_id, qlabel AS label,
       CAST(SUM(rel) AS BIGINT) AS n_rel,
       ROUND(0.2 * CAST(SUM(rel * {_RBP_DISC_SQL}) AS BIGINT) / 1e9, 6)
           AS rbp_08,
       ROUND(CAST(SUM({_ERR_TERM_SQL}) AS BIGINT) / 1e9, 6) AS err
FROM terms
GROUP BY 1, 2
"""


@query("rbp_err_retrieval_eval", oracle=_RBP_ORACLE)
def rbp_err_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RBP(p=0.8) and ERR retrieval evaluation over the judged cosine
    retriever — the two user models the eval lane lacked beside
    NDCG's positional discount and MRR's first-hit: RBP weights rank
    r by the chance a persistence-p scanner reaches it; ERR weights
    it by the chance every earlier relevant hit failed to satisfy.
    Same ranking contract and query set as ndcg_label_retrieval, so
    the three metrics grade the SAME lists.

    Determinism (module note): RBP discounts are exact nano integers
    (0.8^k * 1e9 has no fractional part for k <= 9); ERR's stopping
    product collapses to 2^(-prev_rel) under binary relevance, so
    every term is an exact rational quantized to 1e9 with no
    reachable rounding tie.

    100 TB shape: identical to ndcg_label_retrieval — broadcast 8-row
    query dim, scan-and-score, per-query windows over candidate sets;
    the ERR prefix count is a window over <= 10 rows per query."""
    from iot_etl_spark.plans.queries_embed import (
        NDCG_QUERY_IDS,
        _as_double,
        _dot,
        _norm,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double().alias("emb")
    )
    qv = emb.filter(F.col("vec_id").isin(*NDCG_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("emb").alias("qemb"),
    )
    scored = (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "qlabel", "vec_id",
            (F.col("label") == F.col("qlabel")).cast("int").alias("rel"),
            F.round(
                _dot(F.col("emb"), F.col("qemb"))
                / (_norm(F.col("emb")) * _norm(F.col("qemb"))), 6,
            ).alias("cos"),
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "vec_id")
    hits = (
        scored.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= 10)
        .select("qid", "qlabel", "rel", "rnk")
    )
    wprev = (
        Window.partitionBy("qid")
        .orderBy("rnk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    terms = hits.withColumn(
        "prev_rel",
        F.coalesce(F.sum("rel").over(wprev), F.lit(0)).cast("long"),
    )
    return terms.groupBy(
        F.col("qid").alias("query_id"), F.col("qlabel").alias("label")
    ).agg(
        F.sum("rel").cast("long").alias("n_rel"),
        F.round(
            0.2 * F.sum(F.col("rel") * F.expr(_RBP_DISC_SQL)).cast("long") / 1e9,
            6,
        ).alias("rbp_08"),
        F.round(
            F.sum(F.expr(_ERR_TERM_SQL)).cast("long") / 1e9, 6
        ).alias("err"),
    )


# ------------------------- content-defined chunk dedup (rsync / CDC)
# Chunk-level dedup: boundaries are decided by LOCAL CONTENT (the
# md5 hash of the 3-word window ending at each position, boundary
# when h % 64 == 0 — gear/Rabin-style content-defined chunking), so
# an insertion early in a document shifts at most one chunk instead
# of re-keying every fixed-width block. The modality the dedup family
# lacked: exact (whole doc), MinHash/SimHash (near-dup doc), n-gram
# (span) — CDC catches SHARED SUBSEQUENCES across different docs, the
# rsync/backup-dedup shape LLM corpora use for boilerplate stripping.

CDC_MASK = 64  # expected chunk length ~ CDC_MASK words


def _cdc_bounds_expr() -> str:
    """Per-word boundary flag: words i-2..i hash to 0 mod {CDC_MASK}
    (0 for i < 2 — a chunk never breaks inside the first 2 words)."""
    return (
        "transform(ws, (w, i) -> CASE WHEN i >= 2 AND "
        "cast(conv(substr(md5(concat_ws(' ', ws[i-2], ws[i-1], ws[i])), 1, 8),"
        f" 16, 10) AS BIGINT) % {CDC_MASK} = 0 THEN 1 ELSE 0 END)"
    )


_CDC_ORACLE = f"""
WITH w AS (
    SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
),
pos AS (
    SELECT doc_id, source, i, word,
           CASE WHEN i >= 3 AND
                ('0x' || substr(md5(ws[i-2] || ' ' || ws[i-1] || ' ' || ws[i]),
                                1, 8))::BIGINT % {CDC_MASK} = 0
                THEN 1 ELSE 0 END AS bnd
    FROM (
        SELECT doc_id, source, ws,
               unnest(ws) AS word,
               generate_subscripts(ws, 1) AS i
        FROM w
    )
),
chunked AS (
    SELECT doc_id, source, i, word,
           CAST(COALESCE(SUM(bnd) OVER (PARTITION BY doc_id ORDER BY i
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS chunk_id
    FROM pos
),
chunks AS (
    SELECT doc_id, source, chunk_id,
           md5(string_agg(word, ' ' ORDER BY i)) AS chash,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM chunked GROUP BY 1, 2, 3
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT chash) AS BIGINT) AS n_distinct_chunks,
       ROUND(1.0 - COUNT(DISTINCT chash) / CAST(COUNT(*) AS DOUBLE), 6)
           AS dup_chunk_rate,
       ROUND(SUM(n_words) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_chunk_words
FROM chunks
GROUP BY 1
"""


@query("cdc_chunk_dedup", oracle=_CDC_ORACLE)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING dedup audit per source: split every
    document at positions where the 3-word window hashes to
    0 mod {CDC_MASK} (expected chunk ~{CDC_MASK} words), fingerprint
    each chunk, and report the duplicate-chunk rate — the
    shift-resistant rsync/backup dedup modality the family lacked
    (exact = whole doc, MinHash/SimHash = near-dup doc, n-gram =
    fixed span; CDC finds shared SUBSEQUENCES and survives
    insertions, which re-key every fixed-width block).

    Determinism: boundaries and chunk ids are pure integer md5
    arithmetic; chunk fingerprints are md5 of the space-joined words
    with an explicit position order on both engines.

    100 TB shape: the boundary flags compute MAP-SIDE inside one
    higher-order expression over the word array (md5 once per
    position); the only shuffles are the per-doc chunk assembly
    (doc_id-keyed, bounded by words-per-doc) and the per-source
    distinct aggregate — the same two-shuffle budget as doc_chunks.
    In production the chunk table IS the dedup index: new corpus
    increments join it on chash."""
    # r14 (guide §2.4): the chunk assembly used to posexplode every
    # word, run a per-doc cumulative window over the word stream, and
    # collect_list each chunk back together — a full word-stream
    # shuffle plus sort for what is a per-row array slicing problem.
    # Now the boundary flags and the chunk slices compute MAP-SIDE in
    # one higher-order expression: starts = positions whose PREDECESSOR
    # word carries the boundary flag (identical to the old exclusive
    # prefix-sum chunk ids), each chunk is slice(ws, start, next-start)
    # joined with spaces — byte-identical md5 input to the old
    # order-reconstructed collect_list. The only shuffle left is the
    # per-source rollup. (split() never yields an empty array, so the
    # sequence(0, size-1) guard cases of the repo's descending-sequence
    # trap cannot arise.)
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("ws")
    ).withColumn("b", F.expr(_cdc_bounds_expr()))
    end_k = (
        "IF(k + 2 <= size(st), element_at(st, k + 2) - 1, size(ws) - 1)"
    )
    chunk_expr = (
        "flatten(transform(array(filter(sequence(0, size(ws) - 1), "
        "s -> s = 0 OR element_at(b, s) = 1)), "
        "st -> transform(st, (s, k) -> named_struct("
        f"'chash', md5(concat_ws(' ', slice(ws, s + 1, ({end_k}) - s + 1))), "
        f"'n_words', CAST(({end_k}) - s + 1 AS BIGINT)))))"
    )
    chunks = docs.select(
        "source", F.explode(F.expr(chunk_expr)).alias("c")
    ).select("source", F.col("c.chash").alias("chash"), F.col("c.n_words").alias("n_words"))
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.countDistinct("chash").cast("long").alias("n_distinct_chunks"),
        F.round(
            1.0 - F.countDistinct("chash") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("dup_chunk_rate"),
        F.round(
            F.sum("n_words") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_chunk_words"),
    )


# --------------------------------------------- G-test of independence
# Log-likelihood-ratio companion to chi2_type_dow over the SAME dense
# (type x dow) contingency: G = 2 * sum o * ln(o/e). G is additive
# under table partitions (the decomposition property chi2 lacks) and
# is the stat of choice when expected cells are small. Zero cells
# contribute 0 to G (lim o->0 of o ln o = 0) but their expected mass
# still shapes e through the margins — the densified grid matters.

_GTEST_ORACLE = """
WITH c AS (
    SELECT event_type, dayofweek(CAST(ts AS TIMESTAMP)) AS dw,
           CAST(COUNT(*) AS BIGINT) AS o
    FROM events GROUP BY 1, 2
),
grid AS (
    SELECT t.event_type, d.dw FROM (SELECT DISTINCT event_type FROM c) t
    CROSS JOIN (SELECT DISTINCT dw FROM c) d
),
dense AS (
    SELECT grid.event_type, grid.dw, COALESCE(c.o, 0) AS o
    FROM grid LEFT JOIN c USING (event_type, dw)
),
e AS (
    SELECT event_type, o,
           SUM(o) OVER (PARTITION BY event_type) AS rt,
           SUM(o) OVER (PARTITION BY dw) AS ct,
           SUM(o) OVER () AS n
    FROM dense
)
SELECT event_type,
       CAST(MAX(rt) AS BIGINT) AS n_rows,
       ROUND(2.0 * SUM(CASE WHEN o > 0 THEN
                 o * ln(o / (CAST(rt AS DOUBLE) * ct / n)) ELSE 0 END), 6)
           AS g_contrib
FROM e GROUP BY event_type
"""


@query("g_test_type_dow", oracle=_GTEST_ORACLE)
def g_test_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood ratio) of event_type x day-of-week
    independence, per-type contributions over the densified
    contingency — the additive companion to chi2_type_dow: G
    decomposes exactly across table partitions, so per-type
    contributions SUM to the table statistic (chi2's don't under
    pooling), and it behaves better when expected cells are small.

    Determinism: counts and margins are exact BIGINTs on the dense
    grid; each o*ln(o/e) term is one shared-verbatim double
    expression; per-type sums run over <= 7 cells. Day-of-week
    labels never leave the query, so the Spark/DuckDB numbering
    bijection is irrelevant (the chi2_type_dow argument).

    100 TB shape: one (type, dow) count shuffle — at most |types|*7
    cells regardless of row count; everything after runs on the
    dense grid."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type", F.dayofweek("ts").alias("dw")).agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    grid = c.select("event_type").distinct().crossJoin(
        c.select("dw").distinct()
    )
    dense = grid.join(c, ["event_type", "dw"], "left").withColumn(
        "o", F.coalesce("o", F.lit(0))
    )
    wt = Window.partitionBy("event_type")
    wd = Window.partitionBy("dw")
    wn = Window.partitionBy()
    e = dense.select(
        "event_type", "o",
        F.sum("o").over(wt).alias("rt"),
        F.sum("o").over(wd).alias("ct"),
        F.sum("o").over(wn).alias("n"),
    )
    term = F.when(
        F.col("o") > 0,
        F.col("o")
        * F.log(
            F.col("o")
            / (F.col("rt").cast("double") * F.col("ct") / F.col("n"))
        ),
    ).otherwise(0.0)
    return e.groupBy("event_type").agg(
        F.max("rt").cast("long").alias("n_rows"),
        F.round(2.0 * F.sum(term), 6).alias("g_contrib"),
    )


# --------------------------------------------- EWMA control chart
# Per-device EWMA (lambda = 1/4) over the DAILY-MEAN series with
# steady-state 3-sigma control limits — the drift detector between
# the z-score flaggers (memoryless) and CUSUM/Page-Hinkley (change
# accumulation): EWMA_t = sum_j lambda (1-lambda)^j x_{t-j} weights
# recent days geometrically. History is capped to the most recent
# {_EWMA_DAY_CAP} days (the kendall day-cap convention — the weight
# below the cap is (3/4)^64 ~ 1e-8, beneath the 1e-6 readout);
# each weighted term is quantized to its nearest integer micro-unit
# (acf convention), so accumulation order and libm pow ulps cannot
# move the sums. Weights follow the textbook recursion (x_1 keeps the
# full (1-lambda)^(t-1) residue), so weights sum to exactly 1.

_EWMA_LAMBDA_NUM, _EWMA_LAMBDA_DEN = 1, 4  # lambda = 1/4
_EWMA_DAY_CAP = 64

_EWMA_CHART_ORACLE = f"""
WITH d0 AS (
    SELECT user_id, epoch_us(date_trunc('day', CAST(ts AS TIMESTAMP)))
               // 86400000000 AS day,
           CAST(ROUND(SUM(CAST(ROUND(value * 1e6) AS BIGINT))
                      / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS mq
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
),
d AS (
    SELECT user_id, day, mq,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
    FROM (
        SELECT * FROM d0
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day DESC)
            <= {_EWMA_DAY_CAP}
    )
),
m AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days,
           SUM(CAST(mq AS HUGEINT)) AS s,
           SUM(CAST(mq AS HUGEINT) * mq) AS ss
    FROM d GROUP BY 1
),
ew AS (
    SELECT a.user_id, a.rn, a.day,
           CAST(SUM(CAST(ROUND(
               CASE WHEN b.rn = 1
                    THEN power(CAST(0.75 AS DOUBLE), a.rn - 1) * b.mq
                    ELSE 0.25 * power(CAST(0.75 AS DOUBLE), a.rn - b.rn)
                         * b.mq END) AS BIGINT)) AS HUGEINT) AS ewq
    FROM d a JOIN d b ON a.user_id = b.user_id AND b.rn <= a.rn
    GROUP BY 1, 2, 3
),
lim AS (
    SELECT m.user_id, m.n_days,
           CAST(m.s AS DOUBLE) / m.n_days AS mu,
           sqrt((CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n_days)
                / (m.n_days - 1)) AS sd
    FROM m WHERE m.n_days >= 2
),
flags AS (
    SELECT ew.user_id, lim.n_days,
           CASE WHEN ABS(CAST(ew.ewq AS DOUBLE) - lim.mu)
                     > 3.0 * lim.sd * sqrt(CAST(0.25 AS DOUBLE) / 1.75)
                THEN 1 ELSE 0 END AS ooc,
           ew.day, ew.rn
    FROM ew JOIN lim USING (user_id)
)
SELECT user_id, MAX(n_days) AS n_days,
       CAST(SUM(ooc) AS BIGINT) AS n_out_of_control,
       CAST(MIN(CASE WHEN ooc = 1 THEN day END) AS BIGINT)
           AS first_ooc_day_epoch
FROM flags
GROUP BY 1
"""


@query("ewma_control_chart", oracle=_EWMA_CHART_ORACLE)
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart per device over daily means: lambda = 1/4
    smoothing with steady-state 3-sigma limits
    mu +- 3 sd sqrt(lambda/(2-lambda)) — the small-persistent-shift
    detector between the memoryless z-score flaggers and the
    cumulative CUSUM/Page-Hinkley family; reports how many days sat
    out of control and the first such day.

    Determinism: the day grid and cap are integer; the expansion
    carries the TEXTBOOK recursion weights (x_1 keeps (1-lambda)^(t-1)
    — weights sum to exactly 1, so the naive literal recursion
    e_t = (1-l) e_{t-1} + l x_t reproduces it; the first draft's
    normalized-geometric form silently disagreed with the recursion
    at early t and the independence pin caught it); each term is
    quantized to the integer it rounds to BEFORE the per-day sum
    (the acf convention), and the limit is a shared-verbatim double
    over exact moments.

    100 TB shape: one (device, day) mean aggregate; the geometric
    expansion is a per-device self-join over the CAPPED day grid
    (<= {_EWMA_DAY_CAP}^2/2 pairs per device, the kendall bound);
    moments and flags are per-device aggregates on the same key."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    d0 = ev.groupBy(
        "user_id",
        F.expr(
            "unix_micros(date_trunc('day', ts)) div 86400000000"
        ).alias("day"),
    ).agg(
        F.round(
            F.sum(F.expr("CAST(ROUND(value * 1e6) AS BIGINT)"))
            / F.count(F.lit(1)).cast("double")
        )
        .cast("long")
        .alias("mq")
    )
    recent = Window.partitionBy("user_id").orderBy(F.col("day").desc())
    asc = Window.partitionBy("user_id").orderBy("day")
    d = (
        d0.withColumn("_r", F.row_number().over(recent))
        .filter(F.col("_r") <= _EWMA_DAY_CAP)
        .drop("_r")
        .withColumn("rn", F.row_number().over(asc))
        .localCheckpoint()  # capped day grid, consumed by m + both join sides
    )
    m = d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.col("mq").cast("decimal(38,0)")).alias("s"),
        F.sum(F.col("mq").cast("decimal(38,0)") * F.col("mq")).alias("ss"),
    ).filter(F.col("n_days") >= 2)
    a = d.select("user_id", F.col("rn").alias("ra"), F.col("day").alias("day"))
    b = d.select(
        F.col("user_id").alias("ub"), F.col("rn").alias("rb"),
        F.col("mq").alias("mqb"),
    )
    ew = (
        a.join(b, (F.col("user_id") == F.col("ub")) & (F.col("rb") <= F.col("ra")))
        .select(
            "user_id", "ra", "day",
            F.expr(
                "CAST(ROUND(CASE WHEN rb = 1"
                " THEN power(CAST(0.75 AS DOUBLE), ra - 1) * mqb"
                " ELSE 0.25 * power(CAST(0.75 AS DOUBLE), ra - rb) * mqb"
                " END) AS BIGINT)"
            ).alias("tq"),
        )
        .groupBy("user_id", "ra", "day")
        .agg(F.sum(F.col("tq").cast("decimal(38,0)")).alias("ewq"))
    )
    mu = F.col("s").cast("double") / F.col("n_days")
    sd = F.sqrt(
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n_days"))
        / (F.col("n_days") - 1)
    )
    lim = m.select("user_id", "n_days", mu.alias("mu"), sd.alias("sd"))
    flags = ew.join(lim, "user_id").select(
        "user_id", "n_days", "day",
        F.when(
            F.abs(F.col("ewq").cast("double") - F.col("mu"))
            > 3.0 * F.col("sd") * F.sqrt(F.lit(0.25) / F.lit(1.75)),
            1,
        )
        .otherwise(0)
        .alias("ooc"),
    )
    return flags.groupBy("user_id").agg(
        F.max("n_days").alias("n_days"),
        F.sum("ooc").cast("long").alias("n_out_of_control"),
        F.min(F.when(F.col("ooc") == 1, F.col("day"))).cast("long").alias(
            "first_ooc_day_epoch"
        ),
    )


# ------------------------------------------- partial correlation
# First-order partial correlation of value with hour-of-day,
# CONTROLLING for the day-of-week index: r_xy.z = (rxy - rxz rzy) /
# sqrt((1-rxz^2)(1-rzy^2)) — does the within-day cycle survive once
# the weekly cycle is partialled out? All three pairwise correlations
# come from ONE scan of exact integer moments.

_PCORR_MOMENTS = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
           SUM(CAST(z AS HUGEINT)) AS sz,
           SUM(CAST(x AS HUGEINT) * x) AS sxx,
           SUM(CAST(y AS HUGEINT) * y) AS syy,
           SUM(CAST(z AS HUGEINT) * z) AS szz,
           SUM(CAST(x AS HUGEINT) * y) AS sxy,
           SUM(CAST(x AS HUGEINT) * z) AS sxz,
           SUM(CAST(y AS HUGEINT) * z) AS syz
    FROM p
"""

_PCORR_R = (
    "((CAST(n AS DOUBLE) * {sab} - CAST({sa} AS DOUBLE) * {sb})"
    " / (sqrt(CAST(n AS DOUBLE) * {saa} - CAST({sa} AS DOUBLE) * {sa})"
    "    * sqrt(CAST(n AS DOUBLE) * {sbb} - CAST({sb} AS DOUBLE) * {sb})))"
)
_R_XY = _PCORR_R.format(sab="sxy", sa="sx", sb="sy", saa="sxx", sbb="syy")
_R_XZ = _PCORR_R.format(sab="sxz", sa="sx", sb="sz", saa="sxx", sbb="szz")
_R_YZ = _PCORR_R.format(sab="syz", sa="sy", sb="sz", saa="syy", sbb="szz")

_PCORR_ORACLE = f"""
WITH p AS (
    SELECT CAST(ROUND(value * 100) AS BIGINT) AS x,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS y,
           CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS z
    FROM events WHERE value IS NOT NULL
),
m AS ({_PCORR_MOMENTS}),
r AS (
    SELECT n, {_R_XY} AS rxy, {_R_XZ} AS rxz, {_R_YZ} AS ryz FROM m
)
SELECT n AS n_rows,
       ROUND(rxy, 6) AS r_value_hour,
       ROUND(rxz, 6) AS r_value_dow,
       ROUND(ryz, 6) AS r_hour_dow,
       ROUND((rxy - rxz * ryz)
             / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)
           AS partial_r_value_hour
FROM r
"""


@query("partial_corr_value_hour", oracle=_PCORR_ORACLE)
def partial_corr_value_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlation of value with hour-of-day
    controlling for day-of-week — does the daily cycle survive once
    the weekly cycle is partialled out, or was hour just a proxy for
    weekday? The confounder-adjusted companion to the raw
    correlation/regression family (value_time_correlation,
    regr_value_trend).

    Caveat in the contract: dayofweek is an ORDINAL index here (Spark
    1=Sunday; the oracle keeps DuckDB's 0=Sunday — correlations
    against an index shift by the relabeling only through the linear
    map, which leaves Pearson r INVARIANT because both engines' codes
    differ by a constant offset on the same day identities).

    Determinism: x is 100*value (exact), y/z are small integers; all
    ten moments are exact HUGEINT/DECIMAL(38,0) sums; every r is one
    shared-verbatim expression.

    100 TB shape: ONE scan into a 1-row moment aggregate, map-side
    combinable; the partial-r algebra is O(1)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dec = "decimal(38,0)"
    p = ev.select(
        F.expr("CAST(ROUND(value * 100) AS BIGINT)").cast(dec).alias("x"),
        F.hour("ts").cast(dec).alias("y"),
        F.dayofweek("ts").cast(dec).alias("z"),
    )
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"), F.sum("z").alias("sz"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("z") * F.col("z")).alias("szz"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("z")).alias("sxz"),
        F.sum(F.col("y") * F.col("z")).alias("syz"),
    )
    r = m.selectExpr(
        "n", f"{_R_XY} AS rxy", f"{_R_XZ} AS rxz", f"{_R_YZ} AS ryz"
    )
    return r.selectExpr(
        "n AS n_rows",
        "ROUND(rxy, 6) AS r_value_hour",
        "ROUND(rxz, 6) AS r_value_dow",
        "ROUND(ryz, 6) AS r_hour_dow",
        "ROUND((rxy - rxz * ryz)"
        " / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6)"
        " AS partial_r_value_hour",
    )


# ------------------------------------------------- Cochran's Q test
# Binary repeated measures over user blocks: x_ij = 1 iff type j is
# OVER-REPRESENTED in user i's activity relative to the user's own
# mean (c_ij * k > total_i — an exact integer compare, no division).
# The naive "did the user ever perform type j" response is degenerate
# here (every user hits every type, k*N - sum R_i^2 = 0); the
# over-representation response is the natural non-degenerate binary:
# Cochran asks whether some types are SYSTEMATICALLY above-average
# across users. Q = (k-1) (k sum C_j^2 - N^2) / (k N - sum R_i^2) —
# pure integer arithmetic until one final division (NULLIF-guarded on
# both engines).

_COCHRANQ_ORACLE = """
WITH c AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
),
k AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events),
u AS (SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS total FROM c GROUP BY 1),
x AS (
    SELECT c.user_id, c.event_type,
           CASE WHEN c.cnt * k.k > u.total THEN 1 ELSE 0 END AS x
    FROM c JOIN u USING (user_id), k
),
cj AS (
    SELECT event_type, CAST(SUM(x) AS BIGINT) AS c FROM x GROUP BY 1
),
ri AS (
    SELECT user_id, CAST(SUM(x) AS BIGINT) AS r FROM x GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(r) AS BIGINT) AS n, CAST(SUM(r * r) AS BIGINT) AS sr2,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM ri
),
kk AS (SELECT MAX(k.k) AS k, CAST(SUM(cj.c * cj.c) AS BIGINT) AS sc2
       FROM cj, k)
SELECT cj.event_type, cj.c AS n_users_over, tot.n_users,
       ROUND((kk.k - 1.0) * (kk.k * kk.sc2 - CAST(tot.n AS DOUBLE) * tot.n)
             / NULLIF(kk.k * CAST(tot.n AS DOUBLE) - tot.sr2, 0), 6)
           AS cochran_q
FROM cj, tot, kk
"""


@query("cochran_q_test", oracle=_COCHRANQ_ORACLE)
def cochran_q_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test across event types over user blocks, with the
    binary response "type j is over-represented in user i's activity
    relative to the user's own mean" (c_ij * k > total_i — exact
    integer compare). The binary repeated-measures companion to
    friedman_test_day_blocks and the k-treatment generalization of
    mcnemar_weekend_conversion. (The naive ever-performed response is
    degenerate in dense data — every block full, zero denominator —
    documented in the module note.)

    Determinism: the whole statistic is integer algebra with ONE
    final NULLIF-guarded double division, shared verbatim.

    100 TB shape: one (user, type) count aggregate (map-side
    combinable), a per-user total broadcast back implicitly via the
    same shuffle key, then per-type and per-user sums over the
    users x k cell frame — no window against the fact, no join
    explosion."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint()  # users x k cells, consumed by u and x
    # r14 (guide §2.4/§1.2): the per-user total was a separate
    # aggregate JOINED back (extra shuffle pair) — it is a window over
    # the same user key; sc2/k ride the k-row cj frame as a window
    # (bounded — the user-scaled frames never see a global window);
    # final readout is ONE broadcast crossJoin instead of three.
    k = c.agg(F.countDistinct("event_type").cast("long").alias("k"))
    x = (
        c.crossJoin(F.broadcast(k))
        .select(
            "user_id", "event_type", "k",
            (
                F.col("cnt") * F.col("k")
                > F.sum("cnt").over(Window.partitionBy("user_id")).cast("long")
            ).cast("int").alias("x"),
        )
    )
    cj = x.groupBy("event_type").agg(
        F.sum("x").cast("long").alias("c"), F.max("k").alias("k")
    )
    ri = x.groupBy("user_id").agg(F.sum("x").cast("long").alias("r"))
    tot = ri.agg(
        F.sum("r").cast("long").alias("n"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("sr2"),
        F.count(F.lit(1)).cast("long").alias("n_users"),
    )
    cj = cj.withColumn(
        "sc2",
        F.sum(F.col("c") * F.col("c"))
        .over(Window.partitionBy())
        .cast("long"),
    )
    return (
        cj.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("c").alias("n_users_over"),
            "n_users",
            F.round(
                (F.col("k") - 1.0)
                * (F.col("k") * F.col("sc2") - F.col("n").cast("double") * F.col("n"))
                / F.nullif(
                    F.col("k") * F.col("n").cast("double") - F.col("sr2"),
                    F.lit(0.0),
                ),
                6,
            ).alias("cochran_q"),
        )
    )


# -------------------------------------- MCC classifier evaluation
# Matthews correlation of the quality classifier's keep/drop gate
# against the lang == 'en' label — the single balanced-accuracy
# number beside the AUC (ranking quality), PR curve (threshold
# sweep), ECE (calibration) and Brier (score quality) legs. Composes
# VERBATIM over the classifier oracle; all four confusion cells are
# exact integers and MCC/F1/accuracy are shared-verbatim doubles.


def _mcc_oracle() -> str:
    from iot_etl_spark.plans.queries_mlprep import _CLASSIFIER_ORACLE

    return f"""
WITH cls AS ({_CLASSIFIER_ORACLE}),
c AS (
    SELECT CAST(SUM(CASE WHEN keep AND lang = 'en' THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN keep AND lang <> 'en' THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN NOT keep AND lang = 'en' THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN NOT keep AND lang <> 'en' THEN 1 ELSE 0 END)
                AS BIGINT) AS tn
    FROM cls
)
SELECT tp, fp, fn, tn,
       ROUND((CAST(tp AS DOUBLE) + tn) / (tp + fp + fn + tn), 6)
           AS accuracy,
       ROUND(CAST(2.0 AS DOUBLE) * tp / (CAST(2.0 AS DOUBLE) * tp + fp + fn), 6) AS f1,
       ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
             / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
                    * (CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn)),
             6) AS mcc
FROM c
"""


@query("mcc_classifier_eval", oracle=_mcc_oracle())
def mcc_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the quality classifier's
    keep gate against the English label, with accuracy and F1 from
    the same confusion counts — the class-imbalance-robust single
    number the classifier-eval lane lacked (AUC grades the RANKING,
    PR the threshold sweep, ECE the calibration; MCC grades the
    actual keep/drop decision).

    Determinism: the four confusion cells are exact integer counts
    over the hash-green classifier output; MCC/F1/accuracy are
    shared-verbatim double expressions of those integers.

    100 TB shape: the classifier runs at scan speed (zero shuffles,
    quality_classifier_score's plan); the eval adds ONE 4-cell
    aggregate."""
    from iot_etl_spark.plans.queries_mlprep import quality_classifier_score

    cls = quality_classifier_score(spark, sf_dir).select(
        "lang", "keep"
    )
    en = F.col("lang") == "en"
    c = cls.agg(
        F.sum((F.col("keep") & en).cast("int")).cast("long").alias("tp"),
        F.sum((F.col("keep") & ~en).cast("int")).cast("long").alias("fp"),
        F.sum((~F.col("keep") & en).cast("int")).cast("long").alias("fn"),
        F.sum((~F.col("keep") & ~en).cast("int")).cast("long").alias("tn"),
    )
    return c.selectExpr(
        "tp", "fp", "fn", "tn",
        "ROUND((CAST(tp AS DOUBLE) + tn) / (tp + fp + fn + tn), 6)"
        " AS accuracy",
        "ROUND(CAST(2.0 AS DOUBLE) * tp / (CAST(2.0 AS DOUBLE) * tp + fp + fn), 6) AS f1",
        "ROUND((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)"
        " / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)"
        "        * (CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn)),"
        " 6) AS mcc",
    )
