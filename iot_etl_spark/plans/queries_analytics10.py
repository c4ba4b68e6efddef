"""Round-13 analytics batch: circular goodness-of-fit (Kuiper),
nonparametric effect sizes (Cliff's delta / Vargha–Delaney A /
Cohen's d), rank-based scale testing (Mood), successive-difference
randomness (von Neumann ratio), sign-based trend (Cox–Stuart),
blocked rank testing (Quade), reliability (Cronbach's alpha, one-way
ICC), series complexity (permutation entropy, sample entropy),
omnibus normality (D'Agostino K²), classifier score separation (KS),
market concentration (Herfindahl–Hirschman), and two sketch audits
(KMV/theta distinct set operations, Bloom-filter FPR).

Reference parity: none exist in the reference (its analytics surface
is TimescaleDB SQL, ``analytical_queries.sql``); they extend the
established lanes — circular (rayleigh_event_times -> Kuiper's
rotation-invariant V), two-sample (cliff/VD-A effect sizes alongside
the ks/energy/CvM tests), scale (ansari_bradley -> Mood's squared
midrank deviations), randomness (runs/bartels -> von Neumann),
trend (mann_kendall/cox-stuart), blocked designs (friedman ->
Quade's range-weighted ranks), reliability (kendall_w -> Cronbach
alpha/ICC), complexity (spectral_entropy -> permutation/sample
entropy), normality (jarque_bera -> D'Agostino's transformed-moment
K²), model QA (classifier_lang_auc -> KS separation), concentration
(gini/theil -> HHI), and sketches (HLL/GK/CMS -> KMV set ops, Bloom).

Determinism (the SCALE.md conventions): 2-dp values quantize EXACTLY
to centi-unit BIGINT (vq = ROUND(value*100)); rank/score math runs on
bounded (value-cell / hour-cell / daily) frames via the
cumulative-cell device, never a global per-row sort; any
``Σx² − (Σx)²/n`` shape subtracts AS INTEGERS in
DECIMAL(38,0)/HUGEINT; hash arithmetic is md5-derived (bit-identical
across engines); every computed double is ROUND(x, 6) and
shared-verbatim across engines where an expression tree decides the
value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from iot_etl_spark.plans.registry import query, DUCK_TS
from iot_etl_spark.sources.tables import load_table

_DEC = "decimal(38,0)"

# --------------------------------------------------------------------
# Shared frames (the round-12 devices, rebuilt here so this module
# stays import-independent of queries_analytics9's private helpers).

_WE_CELLS_DUCK = f"""
cells AS (
    SELECT CAST(ROUND(value * 100) AS BIGINT) AS vq,
           CAST(SUM(CASE WHEN dayofweek({DUCK_TS}) IN (0, 6)
                         THEN 0 ELSE 1 END) AS BIGINT) AS cw,
           CAST(SUM(CASE WHEN dayofweek({DUCK_TS}) IN (0, 6)
                         THEN 1 ELSE 0 END) AS BIGINT) AS ce
    FROM events WHERE value IS NOT NULL
    GROUP BY 1
)
"""


def _we_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vq, cw, ce) weekend/weekday value cells — one map-side-combined
    aggregate bounded by the value domain (~33k cells). Spark
    dayofweek is 1=Sunday; DuckDB is 0=Sunday."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    we = F.dayofweek("ts").isin(1, 7).cast("int")
    return ev.groupBy(
        F.round(F.col("value") * 100).cast("long").alias("vq")
    ).agg(
        F.sum(1 - we).cast("long").alias("cw"),
        F.sum(we).cast("long").alias("ce"),
    )


# Daily totals of centi-quantized values: EXACT BIGINTs, so every
# statistic over the daily series (von Neumann, Cox-Stuart, Quade,
# permutation/sample entropy) ranks and differences integers — the
# sum-order nondeterminism of double accumulation never exists.
_DAILY_DUCK = f"""
daily AS (
    SELECT ROW_NUMBER() OVER (ORDER BY d) - 1 AS idx, tq
    FROM (
        SELECT date_trunc('day', {DUCK_TS}) AS d,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS tq
        FROM events WHERE value IS NOT NULL
        GROUP BY 1
    )
)
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(idx, tq): 0-based day index -> exact daily centi-unit total."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    day = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("tq")
    )
    return day.select(
        (F.row_number().over(Window.orderBy("d")) - 1).alias("idx"), "tq"
    )


# ------------------------------------------------ Kuiper test (hours)
# Kuiper's V over the hour-of-day distribution vs discrete uniform on
# 24 bins: V = D+ + D- with D+ = max_i(F_n(i) - i/24) and
# D- = max_i(i/24 - F_n(i-1)) over the 24 bin edges. The circular
# companion to rayleigh_event_times: Rayleigh only sees UNIMODAL
# departures from uniformity (its statistic is the resultant length);
# Kuiper's V is rotation-invariant and consistent against any
# departure, e.g. the bimodal morning+evening activity profile that
# cancels to a near-zero resultant.
#
# Determinism: with N total rows and cum_i the cumulative count
# through hour i, both sups are maxima of EXACT integers
# (24*cum_i - i*N and i*N - 24*cum_{i-1}) over 24 cells; V is one
# shared-verbatim double readout over the integer maxima.

_KUIPER_ORACLE = f"""
WITH hours AS (
    SELECT EXTRACT(hour FROM {DUCK_TS}) AS h,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1
),
grid AS (
    SELECT g.h, COALESCE(hours.c, 0) AS c
    FROM (SELECT unnest(generate_series(0, 23)) AS h) g
    LEFT JOIN hours ON hours.h = g.h
),
cum AS (
    SELECT h, c,
           CAST(SUM(c) OVER (ORDER BY h) AS BIGINT) AS cum,
           CAST(SUM(c) OVER (ORDER BY h) - c AS BIGINT) AS cumprev,
           CAST(SUM(c) OVER () AS BIGINT) AS n
    FROM grid
),
sups AS (
    SELECT MAX(24 * cum - (h + 1) * n) AS dplus24n,
           MAX((h + 1) * n - 24 * cumprev) AS dminus24n,
           MAX(n) AS n
    FROM cum
)
SELECT n AS n_events,
       ROUND(CAST(dplus24n AS DOUBLE) / (24.0 * n), 6) AS d_plus,
       ROUND(CAST(dminus24n AS DOUBLE) / (24.0 * n), 6) AS d_minus,
       ROUND((CAST(dplus24n AS DOUBLE) + dminus24n) / (24.0 * n), 6)
           AS kuiper_v,
       ROUND((CAST(dplus24n AS DOUBLE) + dminus24n) / (24.0 * n)
             * (SQRT(CAST(n AS DOUBLE)) + 0.155
                + 0.24 / SQRT(CAST(n AS DOUBLE))), 6) AS kuiper_vstar
FROM sups
"""


@query("kuiper_test_hours", oracle=_KUIPER_ORACLE)
def kuiper_test_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KUIPER's V test of the hour-of-day event distribution against
    the discrete uniform on 24 bins, with Stephens' finite-n
    modification V* = V(sqrt(n) + 0.155 + 0.24/sqrt(n)).

    Determinism: both one-sided sups are maxima of exact integers
    (24·cum_i − i·N, i·N − 24·cum_{i−1}) over a 24-cell grid (absent
    hours contribute 0 via the left join); V and V* are
    shared-verbatim double readouts.

    100 TB shape: one map-side hour-count aggregate (24 cells), one
    24-row window — the fact table is read once, nothing else scales
    with rows."""
    ev = load_table(spark, sf_dir, "events")
    hours = ev.groupBy(F.hour("ts").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grid = (
        ev.sparkSession.range(0, 24)
        .select(F.col("id").cast("int").alias("h"))
        .join(hours, "h", "left")
        .select("h", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    wcum = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "h", "c",
        F.sum("c").over(wcum).cast("long").alias("cum"),
        (F.sum("c").over(wcum) - F.col("c")).cast("long").alias("cumprev"),
        F.sum("c").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).cast("long").alias("n"),
    )
    sups = cum.agg(
        F.max(24 * F.col("cum") - (F.col("h") + 1) * F.col("n")).alias("dplus24n"),
        F.max((F.col("h") + 1) * F.col("n") - 24 * F.col("cumprev")).alias(
            "dminus24n"
        ),
        F.max("n").alias("n"),
    )
    nd = F.col("n").cast("double")
    v = (F.col("dplus24n").cast("double") + F.col("dminus24n")) / (24.0 * nd)
    return sups.select(
        F.col("n").alias("n_events"),
        F.round(F.col("dplus24n").cast("double") / (24.0 * nd), 6).alias("d_plus"),
        F.round(F.col("dminus24n").cast("double") / (24.0 * nd), 6).alias(
            "d_minus"
        ),
        F.round(v, 6).alias("kuiper_v"),
        F.round(v * (F.sqrt(nd) + 0.155 + 0.24 / F.sqrt(nd)), 6).alias(
            "kuiper_vstar"
        ),
    )


# --------------------------- Effect sizes: Cliff's delta / VD-A / d
# The magnitude companions to the weekend two-sample TEST battery:
# ks/energy/CvM say whether the weekend value distribution differs,
# these say by HOW MUCH on interpretable scales. Cliff's
# delta = P(E>W) − P(E<W) and Vargha–Delaney A = P(E>W) + P(E=W)/2
# are pure pair-count functionals — on the value-cell frame the
# greater/less/tie pair counts are exact integers via strictly-below
# cumulatives (gt = Σ ce_j·pw_j, ties = Σ ce_j·cw_j). Cohen's d and
# Hedges' g come from exact anchored integer moments (the jarque_bera
# device) with the pooled-variance denominator.

_CD_READ = {
    "delta": "((CAST(gt AS DOUBLE) - lt) / (CAST(n AS DOUBLE) * m))",
    "vda": "((CAST(gt AS DOUBLE) + 0.5 * eq) / (CAST(n AS DOUBLE) * m))",
    # pooled sample variance from per-side anchored moments (shared
    # anchor a): var_p = (ssqw + ssqe) / (n + m - 2), d = dmean/sd_p
    "dmean": "((CAST(sde AS DOUBLE) / m - CAST(sdw AS DOUBLE) / n) / 100)",
    "varw": "((CAST(sd2w AS DOUBLE) - CAST(sdw AS DOUBLE) * sdw / n) / 10000)",
    "vare": "((CAST(sd2e AS DOUBLE) - CAST(sde AS DOUBLE) * sde / m) / 10000)",
}
_CD_D = (
    f"({_CD_READ['dmean']} / SQRT(({_CD_READ['varw']} + {_CD_READ['vare']})"
    f" / (CAST(n AS DOUBLE) + m - 2)))"
)

_CLIFF_ORACLE = f"""
WITH {_WE_CELLS_DUCK},
anchor AS (
    SELECT CAST(SUM((cw + ce) * vq) // SUM(cw + ce) AS BIGINT) AS a
    FROM cells
),
cum AS (
    SELECT vq, cw, ce,
           CAST(COALESCE(SUM(cw) OVER w, 0) AS HUGEINT) AS pw
    FROM cells
    WINDOW w AS (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING)
),
sums AS (
    SELECT CAST(SUM(cw) AS BIGINT) AS n, CAST(SUM(ce) AS BIGINT) AS m,
           CAST(SUM(ce * pw) AS HUGEINT) AS gt,
           CAST(SUM(ce * cw) AS HUGEINT) AS eq,
           CAST(SUM(cw * (vq - a.a)) AS HUGEINT) AS sdw,
           CAST(SUM(ce * (vq - a.a)) AS HUGEINT) AS sde,
           CAST(SUM(cw * (vq - a.a) * (vq - a.a)) AS HUGEINT) AS sd2w,
           CAST(SUM(ce * (vq - a.a) * (vq - a.a)) AS HUGEINT) AS sd2e
    FROM cum, anchor a
),
fin AS (
    SELECT n, m, gt, eq,
           CAST(n AS HUGEINT) * m - gt - eq AS lt,
           sdw, sde, sd2w, sd2e
    FROM sums
)
SELECT n AS n_weekday, m AS n_weekend,
       ROUND({_CD_READ['delta']}, 6) AS cliffs_delta,
       ROUND({_CD_READ['vda']}, 6) AS vargha_delaney_a,
       ROUND({_CD_D}, 6) AS cohens_d,
       ROUND({_CD_D} * (1 - 3.0 / (4.0 * (n + m) - 9)), 6) AS hedges_g
FROM fin
"""


@query("cliffs_delta_weekend", oracle=_CLIFF_ORACLE)
def cliffs_delta_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric and parametric EFFECT SIZES for the weekend vs
    weekday value shift: Cliff's delta (P(E>W) − P(E<W)),
    Vargha–Delaney A (the CLES with half-credit ties), Cohen's d on
    the pooled sd, and the small-sample-corrected Hedges' g — the
    magnitude readouts beside the significance battery
    (ks/energy/cramer_von_mises).

    Determinism: the greater/tie/less pair counts are EXACT integers
    on the value-cell frame (gt = Σ ce·pw via the strictly-below
    cumulative; lt = nm − gt − ties by complement); means/variances
    come from exact anchored integer moments; all four readouts are
    shared-verbatim double expressions.

    100 TB shape: one map-side cell aggregate bounded by the value
    domain + one single-partition window over the bounded cell frame;
    the O(n·m) pair space is never expanded at any scale."""
    cells = _we_cells(spark, sf_dir).localCheckpoint()
    anchor = cells.agg(
        F.expr("CAST(sum((cw + ce) * vq) div sum(cw + ce) AS BIGINT)").alias("a")
    )
    wlt = Window.orderBy("vq").rowsBetween(Window.unboundedPreceding, -1)
    z = F.lit(0).cast("long")
    cum = cells.select(
        "vq", "cw", "ce",
        F.coalesce(F.sum("cw").over(wlt), z).cast(_DEC).alias("pw"),
    )
    d = F.col("vq") - F.col("a")
    sums = cum.join(F.broadcast(anchor)).agg(
        F.sum("cw").cast("long").alias("n"),
        F.sum("ce").cast("long").alias("m"),
        F.sum(F.col("ce").cast(_DEC) * F.col("pw")).alias("gt"),
        F.sum(F.col("ce").cast(_DEC) * F.col("cw").cast(_DEC)).alias("eq"),
        F.sum(F.col("cw").cast(_DEC) * d.cast(_DEC)).alias("sdw"),
        F.sum(F.col("ce").cast(_DEC) * d.cast(_DEC)).alias("sde"),
        F.sum(F.col("cw").cast(_DEC) * d.cast(_DEC) * d.cast(_DEC)).alias("sd2w"),
        F.sum(F.col("ce").cast(_DEC) * d.cast(_DEC) * d.cast(_DEC)).alias("sd2e"),
    )
    fin = sums.withColumn(
        "lt", F.col("n").cast(_DEC) * F.col("m").cast(_DEC) - F.col("gt") - F.col("eq")
    )
    return fin.select(
        F.col("n").alias("n_weekday"),
        F.col("m").alias("n_weekend"),
        F.round(F.expr(_CD_READ["delta"]), 6).alias("cliffs_delta"),
        F.round(F.expr(_CD_READ["vda"]), 6).alias("vargha_delaney_a"),
        F.round(F.expr(_CD_D), 6).alias("cohens_d"),
        F.round(
            F.expr(f"{_CD_D} * (1 - 3.0 / (4.0 * (n + m) - 9))"), 6
        ).alias("hedges_g"),
    )


# ----------------------------------------- Mood's scale test (weekend)
# Mood's SCALE statistic (not the median/location test, which the
# registry already has): T = Σ_{i∈weekday} (r_i − (N+1)/2)² over
# pooled midranks — squared deviations of one sample's ranks from the
# grand midpoint, sensitive to dispersion differences under equal
# medians. On the cell frame every weekday member of cell j shares
# the midrank R_j = P_j + (c_j+1)/2, so the cell's contribution
# carried ×4 is cw_j · (2P_j + c_j − N)², an exact integer.
# Moments under H0 (no-tie form, documented): E[T] = n(N²−1)/12,
# Var[T] = nm(N+1)(N²−4)/180.

_MOOD_SCALE_ORACLE = f"""
WITH {_WE_CELLS_DUCK},
cum AS (
    SELECT vq, cw, ce, cw + ce AS c,
           CAST(COALESCE(SUM(cw + ce) OVER w, 0) AS HUGEINT) AS p
    FROM cells
    WINDOW w AS (ORDER BY vq ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING)
),
tot AS (
    SELECT CAST(SUM(cw) AS BIGINT) AS n, CAST(SUM(ce) AS BIGINT) AS m,
           CAST(SUM(cw + ce) AS BIGINT) AS nn
    FROM cells
),
sums AS (
    SELECT t.n, t.m, t.nn,
           CAST(SUM(cw * (2 * p + c + 1 - (t.nn + 1))
                    * (2 * p + c + 1 - (t.nn + 1))) AS HUGEINT) AS t4
    FROM cum, tot t
    GROUP BY t.n, t.m, t.nn
)
SELECT n AS n_weekday, m AS n_weekend,
       ROUND(CAST(t4 AS DOUBLE) / 4, 6) AS mood_t,
       ROUND(CAST(n AS DOUBLE) * (CAST(nn AS DOUBLE) * nn - 1) / 12, 6)
           AS t_mean_h0,
       ROUND((CAST(t4 AS DOUBLE) / 4
              - CAST(n AS DOUBLE) * (CAST(nn AS DOUBLE) * nn - 1) / 12)
             / SQRT(CAST(n AS DOUBLE) * m * (nn + 1)
                    * (CAST(nn AS DOUBLE) * nn - 4) / 180), 6) AS z_stat
FROM sums
"""


@query("mood_scale_test", oracle=_MOOD_SCALE_ORACLE)
def mood_scale_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOOD's rank SCALE test of weekend vs weekday value dispersion:
    T = Σ (midrank − (N+1)/2)² over the weekday sample. The
    squared-deviation companion to ansari_bradley_scale (AB weights
    ranks linearly from both ends; Mood weights quadratically, so
    heavy-tail scale differences move it harder).

    Determinism: carried ×4, each value cell contributes the exact
    integer cw·(2P + c − N)² (all weekday members of a cell share one
    midrank); DECIMAL(38,0)/HUGEINT accumulation; T, its H0 mean, and
    the z readout are shared-verbatim doubles (H0 moments use the
    classical no-tie form — documented, both engines identical).

    100 TB shape: one map-side cell aggregate bounded by the value
    domain + one single-partition window over the bounded cell frame;
    no per-row rank, no sort."""
    cells = _we_cells(spark, sf_dir).localCheckpoint()
    wlt = Window.orderBy("vq").rowsBetween(Window.unboundedPreceding, -1)
    z = F.lit(0).cast("long")
    cum = cells.select(
        "cw", "ce", (F.col("cw") + F.col("ce")).alias("c"),
        F.coalesce(F.sum(F.col("cw") + F.col("ce")).over(wlt), z)
        .cast(_DEC).alias("p"),
    )
    tot = cells.agg(
        F.sum("cw").cast("long").alias("n"),
        F.sum("ce").cast("long").alias("m"),
        F.sum(F.col("cw") + F.col("ce")).cast("long").alias("nn"),
    )
    dev = (
        2 * F.col("p") + F.col("c").cast(_DEC) + 1
        - (F.col("nn").cast(_DEC) + 1)
    )
    sums = cum.join(F.broadcast(tot)).groupBy("n", "m", "nn").agg(
        F.sum(F.col("cw").cast(_DEC) * dev * dev).alias("t4")
    )
    return sums.select(
        F.col("n").alias("n_weekday"),
        F.col("m").alias("n_weekend"),
        F.round(F.expr("CAST(t4 AS DOUBLE) / 4"), 6).alias("mood_t"),
        F.round(
            F.expr("CAST(n AS DOUBLE) * (CAST(nn AS DOUBLE) * nn - 1) / 12"), 6
        ).alias("t_mean_h0"),
        F.round(
            F.expr(
                "(CAST(t4 AS DOUBLE) / 4"
                " - CAST(n AS DOUBLE) * (CAST(nn AS DOUBLE) * nn - 1) / 12)"
                " / SQRT(CAST(n AS DOUBLE) * m * (nn + 1)"
                "        * (CAST(nn AS DOUBLE) * nn - 4) / 180)"
            ),
            6,
        ).alias("z_stat"),
    )


# ------------------------------------- von Neumann ratio (daily totals)
# VN = Σ(x_{i+1} − x_i)² / Σ(x_i − x̄)², the successive-difference
# randomness ratio (≈2 under independence; <2 positive
# autocorrelation, >2 alternation). The un-regressed sibling of
# durbin_watson_per_device: DW tests RESIDUAL independence after a
# fit, VN tests the raw daily series. Abbenseth/von Neumann z uses
# Var[VN] = 4(n−2)/((n+1)(n−1)²) about mean 2n/(n-1) (documented
# asymptotic-mean-2 variant below).

_VN_ORACLE = f"""
WITH {_DAILY_DUCK},
diffs AS (
    SELECT CAST(SUM((b.tq - a.tq) * (b.tq - a.tq)) AS HUGEINT) AS num
    FROM daily a JOIN daily b ON b.idx = a.idx + 1
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(tq AS HUGEINT)) AS HUGEINT) AS s1,
           CAST(SUM(CAST(tq AS HUGEINT) * tq) AS HUGEINT) AS s2
    FROM daily
)
SELECT m.n AS n_days,
       ROUND(CAST(d.num AS DOUBLE) * m.n
             / (CAST(m.n AS DOUBLE) * m.s2 - CAST(m.s1 AS DOUBLE) * m.s1),
             6) AS von_neumann_ratio,
       ROUND((CAST(d.num AS DOUBLE) * m.n
              / (CAST(m.n AS DOUBLE) * m.s2 - CAST(m.s1 AS DOUBLE) * m.s1)
              - 2.0 * m.n / (m.n - 1))
             / SQRT(4.0 * (m.n - 2)
                    / ((CAST(m.n AS DOUBLE) + 1)
                       * (m.n - 1) * (m.n - 1))), 6) AS z_stat
FROM diffs d, mom m
"""


@query("von_neumann_ratio_daily", oracle=_VN_ORACLE)
def von_neumann_ratio_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VON NEUMANN successive-difference ratio on the exact daily
    centi-unit totals: VN = Σ(Δx)²/Σ(x−x̄)², with the finite-n z
    readout about E[VN] = 2n/(n−1). The raw-series randomness check
    beside runs_test_randomness (signs only) and
    bartels_rank_randomness (rank VN) — this is the PARAMETRIC von
    Neumann on magnitudes.

    Determinism: the daily series is exact BIGINT totals (centi-unit
    quantization, sum-order-free); numerator Σ(Δx)² and the
    n·Σx²−(Σx)² denominator are exact HUGEINT/DECIMAL(38,0) integers;
    VN and z are shared-verbatim double readouts.

    100 TB shape: one map-side daily aggregate (the frame is bounded
    by the DATE RANGE, not rows); the lag self-join and moment pass
    run over that bounded frame."""
    daily = _daily(spark, sf_dir).localCheckpoint()
    a = daily.select(F.col("idx").alias("ia"), F.col("tq").alias("ta"))
    b = daily.select(F.col("idx").alias("ib"), F.col("tq").alias("tb"))
    diffs = a.join(b, F.col("ib") == F.col("ia") + 1).agg(
        F.sum(
            (F.col("tb") - F.col("ta")).cast(_DEC)
            * (F.col("tb") - F.col("ta")).cast(_DEC)
        ).alias("num")
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("tq").cast(_DEC)).alias("s1"),
        F.sum(F.col("tq").cast(_DEC) * F.col("tq").cast(_DEC)).alias("s2"),
    )
    vn = (
        "CAST(num AS DOUBLE) * n"
        " / (CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
    )
    return diffs.join(mom).select(
        F.col("n").alias("n_days"),
        F.round(F.expr(vn), 6).alias("von_neumann_ratio"),
        F.round(
            F.expr(
                f"({vn} - 2.0 * n / (n - 1))"
                " / SQRT(4.0 * (n - 2)"
                "        / ((CAST(n AS DOUBLE) + 1) * (n - 1) * (n - 1)))"
            ),
            6,
        ).alias("z_stat"),
    )


# ------------------------------------------- Cox–Stuart trend (daily)
# Sign-based trend test on the exact daily totals: pair day i with
# day i + offset (offset = n − n div 2, skipping the middle day when
# n is odd), count strict sign changes, z with continuity correction.
# The assumption-free companion to mann_kendall_trend (MK uses all
# O(n²) pairs; Cox–Stuart uses n/2 independent pairs, so it stays
# valid under arbitrary within-half autocorrelation patterns that
# inflate MK's variance).

_COX_STUART_ORACLE = f"""
WITH {_DAILY_DUCK},
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
pairs AS (
    SELECT CAST(SUM(CASE WHEN b.tq > a.tq THEN 1 ELSE 0 END) AS BIGINT)
               AS plus,
           CAST(SUM(CASE WHEN b.tq < a.tq THEN 1 ELSE 0 END) AS BIGINT)
               AS minus
    FROM daily a JOIN daily b ON b.idx = a.idx + (SELECT n - n // 2 FROM n)
    WHERE a.idx < (SELECT n // 2 FROM n)
)
SELECT n.n AS n_days, p.plus AS n_plus, p.minus AS n_minus,
       ROUND(CASE WHEN p.plus + p.minus = 0 THEN 0
             ELSE (CASE WHEN p.plus >= p.minus THEN 1 ELSE -1 END)
                  * GREATEST(ABS(CAST(p.plus AS DOUBLE)
                                 - (p.plus + p.minus) / 2.0) - 0.5, 0)
                  / SQRT((p.plus + p.minus) / 4.0) + 0.0 END, 6) AS z_stat
FROM pairs p, n
"""


@query("cox_stuart_trend", oracle=_COX_STUART_ORACLE)
def cox_stuart_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COX–STUART sign test for monotone trend in the daily series:
    first-half days pair with second-half days (middle dropped when n
    is odd), S+ = #(later > earlier), z on the binomial sign count
    with continuity correction (the classical large-sample readout;
    ties drop, direction carried by the z sign).

    Determinism: the daily series is exact BIGINT centi-unit totals;
    the pair signs are integer comparisons; the z readout is one
    shared-verbatim double expression over the integer counts.

    100 TB shape: the frame is bounded by the date range; one
    map-side daily aggregate + one bounded-frame lag join."""
    daily = _daily(spark, sf_dir).localCheckpoint()
    n1 = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = daily.select(F.col("idx").alias("ia"), F.col("tq").alias("ta"))
    b = daily.select(F.col("idx").alias("ib"), F.col("tq").alias("tb"))
    pairs = (
        a.join(F.broadcast(n1))
        .filter(F.col("ia") < F.expr("n div 2"))
        .join(b, F.col("ib") == F.col("ia") + F.expr("n - n div 2"))
        .agg(
            F.sum((F.col("tb") > F.col("ta")).cast("long")).alias("plus"),
            F.sum((F.col("tb") < F.col("ta")).cast("long")).alias("minus"),
        )
    )
    return pairs.join(F.broadcast(n1)).select(
        F.col("n").alias("n_days"),
        F.col("plus").alias("n_plus"),
        F.col("minus").alias("n_minus"),
        F.round(
            F.expr(
                "CASE WHEN plus + minus = 0 THEN 0"
                " ELSE (CASE WHEN plus >= minus THEN 1 ELSE -1 END)"
                "  * GREATEST(ABS(CAST(plus AS DOUBLE)"
                "                 - (plus + minus) / 2.0) - 0.5, 0)"
                "  / SQRT((plus + minus) / 4.0) + 0.0 END"
            ),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------- Quade test (day blocks)
# Quade's range-weighted blocked rank test: days are blocks, event
# types are treatments, the observation is the day x type exact
# centi-unit total (absent combinations fill 0 so every block is
# complete). Within-block midranks r_ij and block-range midranks Q_b
# combine as S_ij = Q_b (r_ij - (k+1)/2); F = (b-1) B / (A - B) with
# A = ΣS², B = ΣS_j²/b. Friedman weights every block equally; Quade
# up-weights blocks with LARGE between-treatment spread, which is
# exactly where the treatment signal lives.
#
# Determinism: midranks carried x2 (2r = 2P + e + 1 via within-block
# pair counts over the bounded b x k grid), block-range ranks x2 the
# same way over the b-row frame; S carried x4 is exact integer, A and
# B numerators exact x16 integers; F = (b-1)·B16/(b·A16 - B16) is one
# shared-verbatim double readout.

_QUADE_ORACLE = f"""
WITH obs AS (
    SELECT date_trunc('day', {DUCK_TS}) AS d, event_type,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS tq
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
),
grid AS (
    SELECT dd.d, tt.event_type, COALESCE(obs.tq, 0) AS tq
    FROM (SELECT DISTINCT d FROM obs) dd
    CROSS JOIN (SELECT DISTINCT event_type FROM obs) tt
    LEFT JOIN obs ON obs.d = dd.d AND obs.event_type = tt.event_type
),
k AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k,
             CAST(COUNT(DISTINCT d) AS BIGINT) AS b FROM grid),
r2 AS (
    SELECT g1.d, g1.event_type,
           CAST(2 * SUM(CASE WHEN g2.tq < g1.tq THEN 1 ELSE 0 END)
                + SUM(CASE WHEN g2.tq = g1.tq THEN 1 ELSE 0 END) + 1
                AS BIGINT) AS r2
    FROM grid g1 JOIN grid g2 ON g1.d = g2.d
    GROUP BY 1, 2
),
rng AS (
    SELECT d, MAX(tq) - MIN(tq) AS rge FROM grid GROUP BY 1
),
q2 AS (
    SELECT a.d,
           CAST(2 * SUM(CASE WHEN c.rge < a.rge THEN 1 ELSE 0 END)
                + SUM(CASE WHEN c.rge = a.rge THEN 1 ELSE 0 END) + 1
                AS BIGINT) AS q2
    FROM rng a JOIN rng c ON TRUE
    GROUP BY 1, a.rge
),
s4 AS (
    SELECT r2.event_type,
           CAST(SUM(CAST(q2.q2 AS HUGEINT)
                    * (r2.r2 - (SELECT k + 1 FROM k))) AS HUGEINT) AS s4,
           CAST(SUM(CAST(q2.q2 AS HUGEINT) * q2.q2
                    * (r2.r2 - (SELECT k + 1 FROM k))
                    * (r2.r2 - (SELECT k + 1 FROM k))) AS HUGEINT) AS a16
    FROM r2 JOIN q2 ON r2.d = q2.d
    GROUP BY 1
),
fin AS (
    SELECT CAST(SUM(a16) AS HUGEINT) AS a16,
           CAST(SUM(s4 * s4) AS HUGEINT) AS b16b
    FROM s4
)
SELECT k.b AS n_blocks, k.k AS n_treatments,
       ROUND((CAST(k.b AS DOUBLE) - 1) * f.b16b
             / NULLIF(CAST(k.b AS DOUBLE) * f.a16 - CAST(f.b16b AS DOUBLE),
                      0), 6) AS quade_f
FROM fin f, k
"""


@query("quade_test_blocks", oracle=_QUADE_ORACLE)
def quade_test_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUADE test over day blocks x event-type treatments on the exact
    daily per-type centi-unit totals — the range-weighted alternative
    to friedman_test_day_blocks (Friedman discards between-block
    magnitude; Quade ranks blocks by their treatment RANGE and weights
    their rank signals by it).

    Determinism: every rank is a x2-carried midrank from integer pair
    counts over bounded frames (within-block: b·k² comparisons;
    block-range: b² comparisons); S carried x4, A and b·B carried x16
    stay exact HUGEINT/DECIMAL(38,0); the F statistic is one
    shared-verbatim double readout (NULLIF guards the degenerate
    all-equal case).

    100 TB shape: one map-side (day x type) aggregate; everything
    after runs on the b x k grid, bounded by date range x type
    cardinality, never by row count."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    obs = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("tq"))
    obs = obs.localCheckpoint()
    days = obs.select("d").distinct()
    types = obs.select("event_type").distinct()
    grid = (
        days.crossJoin(types)
        .join(obs, ["d", "event_type"], "left")
        .select("d", "event_type", F.coalesce("tq", F.lit(0)).cast("long").alias("tq"))
        .localCheckpoint()
    )
    kb = grid.agg(
        F.countDistinct("event_type").cast("long").alias("k"),
        F.countDistinct("d").cast("long").alias("b"),
    )
    g2 = grid.select(
        F.col("d").alias("d2"), F.col("tq").alias("tq2")
    )
    r2 = (
        grid.join(F.broadcast(g2), F.col("d") == F.col("d2"))
        .groupBy("d", "event_type", "tq")
        .agg(
            (
                2 * F.sum((F.col("tq2") < F.col("tq")).cast("long"))
                + F.sum((F.col("tq2") == F.col("tq")).cast("long"))
                + 1
            ).cast("long").alias("r2")
        )
        .select("d", "event_type", "r2")
    )
    rng = grid.groupBy("d").agg((F.max("tq") - F.min("tq")).alias("rge"))
    c = rng.select(F.col("rge").alias("rge2"))
    # broadcast the bounded b-row range frame: the pairwise midrank
    # comparison stays a BroadcastNestedLoopJoin, never a
    # CartesianProduct shuffle
    q2 = (
        rng.crossJoin(F.broadcast(c))
        .groupBy("d", "rge")
        .agg(
            (
                2 * F.sum((F.col("rge2") < F.col("rge")).cast("long"))
                + F.sum((F.col("rge2") == F.col("rge")).cast("long"))
                + 1
            ).cast("long").alias("q2")
        )
        .select("d", "q2")
    )
    j = r2.join(q2, "d").join(F.broadcast(kb))
    dev = F.col("r2").cast(_DEC) - (F.col("k").cast(_DEC) + 1)
    s4 = j.groupBy("event_type").agg(
        F.sum(F.col("q2").cast(_DEC) * dev).alias("s4"),
        F.sum(F.col("q2").cast(_DEC) * F.col("q2").cast(_DEC) * dev * dev).alias(
            "a16"
        ),
    )
    fin = s4.agg(
        F.sum("a16").alias("a16"),
        F.sum(F.col("s4") * F.col("s4")).alias("b16b"),
    )
    return fin.join(F.broadcast(kb)).select(
        F.col("b").alias("n_blocks"),
        F.col("k").alias("n_treatments"),
        F.round(
            F.expr(
                "(CAST(b AS DOUBLE) - 1) * b16b"
                " / NULLIF(CAST(b AS DOUBLE) * a16 - CAST(b16b AS DOUBLE), 0)"
            ),
            6,
        ).alias("quade_f"),
    )


# ------------------------------------ Cronbach's alpha (hourly items)
# Treat the 24 hours of day as ITEMS and days as CASES; the item score
# is the exact (day, hour) centi-unit total (0-filled). Cronbach's
# alpha = k/(k-1) (1 - Σ_h SS_h / SS_total) — the (n-1) variance
# denominators cancel, so alpha is a pure function of the exact
# integer sums-of-squares; the average inter-item correlation follows
# from the Spearman-Brown inversion r = alpha/(k - alpha(k-1)).

_CRONBACH_ORACLE = f"""
WITH cell AS (
    SELECT date_trunc('day', {DUCK_TS}) AS d,
           EXTRACT(hour FROM {DUCK_TS}) AS h,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
),
grid AS (
    SELECT dd.d, hh.h, COALESCE(cell.x, 0) AS x
    FROM (SELECT DISTINCT d FROM cell) dd
    CROSS JOIN (SELECT unnest(generate_series(0, 23)) AS h) hh
    LEFT JOIN cell ON cell.d = dd.d AND cell.h = hh.h
),
items AS (
    SELECT h,
           CAST(COUNT(*) AS BIGINT) AS b,
           CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
    FROM grid GROUP BY 1
),
ss_items AS (
    SELECT CAST(SUM(b * q - s * s) AS HUGEINT) AS ssh,
           CAST(MAX(b) AS BIGINT) AS b
    FROM items
),
totals AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS b,
           CAST(SUM(CAST(t AS HUGEINT)) AS HUGEINT) AS s,
           CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS q
    FROM (SELECT d, CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS t
          FROM grid GROUP BY 1)
),
alpha AS (
    SELECT i.b AS n_days, 24 AS n_items,
           24.0 / 23.0
           * (1 - CAST(i.ssh AS DOUBLE)
                  / NULLIF(CAST(t.b * t.q - t.s * t.s AS DOUBLE), 0))
               AS alpha
    FROM ss_items i, totals t
)
SELECT n_days, n_items, ROUND(alpha, 6) AS cronbach_alpha,
       ROUND(alpha / (24 - alpha * 23), 6) AS avg_interitem_r
FROM alpha
"""


@query("cronbach_alpha_hours", oracle=_CRONBACH_ORACLE)
def cronbach_alpha_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRONBACH's ALPHA internal-consistency coefficient treating the
    24 hour-of-day buckets as items scored per day (exact centi-unit
    totals, 0-filled) — "do the hours move together across days?".
    The variance-decomposition sibling of kendall_w_concordance (W
    asks it with ranks; alpha with covariances), plus the
    Spearman–Brown average inter-item correlation readout.

    Determinism: every SS is the exact integer b·Σx² − (Σx)² shape in
    HUGEINT/DECIMAL(38,0) (per item and for the day totals, whose
    item-sum is itself exact); alpha and r̄ are shared-verbatim
    double readouts (NULLIF guards a zero-variance total).

    100 TB shape: one map-side (day x hour) aggregate; the grid is
    bounded by date range x 24 — the fact table is read once and
    nothing downstream scales with rows."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cell = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), F.hour("ts").alias("h")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("x"))
    cell = cell.localCheckpoint()
    days = cell.select("d").distinct()
    hours = ev.sparkSession.range(0, 24).select(F.col("id").cast("int").alias("h"))
    grid = (
        days.crossJoin(hours)
        .join(cell, ["d", "h"], "left")
        .select("d", "h", F.coalesce("x", F.lit(0)).cast("long").alias("x"))
    ).localCheckpoint()
    items = grid.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("b"),
        F.sum(F.col("x").cast(_DEC)).alias("s"),
        F.sum(F.col("x").cast(_DEC) * F.col("x").cast(_DEC)).alias("q"),
    )
    ss_items = items.agg(
        F.sum(
            F.col("b").cast(_DEC) * F.col("q") - F.col("s") * F.col("s")
        ).alias("ssh"),
        F.max("b").cast("long").alias("b"),
    )
    totals = (
        grid.groupBy("d")
        .agg(F.sum(F.col("x").cast(_DEC)).alias("t"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("tb"),
            F.sum(F.col("t")).alias("ts"),
            F.sum(F.col("t") * F.col("t")).alias("tssq"),
        )
    )
    alpha = (
        "24.0 / 23.0 * (1 - CAST(ssh AS DOUBLE)"
        " / NULLIF(CAST(tb * tssq - ts * ts AS DOUBLE), 0))"
    )
    return ss_items.join(totals).select(
        F.col("b").alias("n_days"),
        F.lit(24).alias("n_items"),
        F.round(F.expr(alpha), 6).alias("cronbach_alpha"),
        F.round(F.expr(f"({alpha}) / (24 - ({alpha}) * 23)"), 6).alias(
            "avg_interitem_r"
        ),
    )


# ------------------------------------ one-way ICC (event-type groups)
# Intraclass correlation ICC(1) from the one-way random-effects
# decomposition over the k = #event_type groups (the anova_oneway
# moment device, micro-unit DECIMAL sums): with unbalanced groups the
# expected-mean-square coefficient is n0 = (N - Σn_i²/N)/(k-1) and
# ICC(1) = (MSB - MSW)/(MSB + (n0-1)·MSW). anova_oneway_value asks
# "do group means differ?"; ICC asks the reliability question "what
# share of total variance is BETWEEN groups?" on the same moments.

_ICC_MOMENTS = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(vq) AS s,
           SUM(vq * vq) AS ss
    FROM (
        SELECT event_type,
               CAST(CAST(ROUND(value * 1e6) AS BIGINT) AS DECIMAL(18,0))
                   AS vq
        FROM events WHERE value IS NOT NULL
    )
    GROUP BY 1
"""

_ICC_FINAL = """
SELECT k, n_total,
       ROUND(n0, 6) AS n0,
       ROUND((msb - msw) / NULLIF(msb + (n0 - 1) * msw, 0), 6) AS icc1
FROM (
    SELECT k, n_total, n0,
           btw / (k - 1) AS msb,
           win / (n_total - k) AS msw
    FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS n_total,
               (CAST(SUM(n) AS DOUBLE)
                - SUM(CAST(n AS DOUBLE) * n) / SUM(n))
                   / (COUNT(*) - 1) AS n0,
               SUM(CAST(s AS DOUBLE) * s / n)
                   - CAST(SUM(s) AS DOUBLE) * SUM(s) / SUM(n) AS btw,
               CAST(SUM(ss) AS DOUBLE)
                   - SUM(CAST(s AS DOUBLE) * s / n) AS win
        FROM g
    )
)
"""

_ICC_ORACLE = f"WITH g AS ({_ICC_MOMENTS})\n{_ICC_FINAL}"


@query("icc_oneway_types", oracle=_ICC_ORACLE)
def icc_oneway_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way INTRACLASS CORRELATION ICC(1) across event-type groups
    — the reliability readout of the anova_oneway_value decomposition
    (F asks "are the group means distinguishable?"; ICC answers "how
    much of a single observation's variance is the group effect?"),
    with the unbalanced-design coefficient n0 = (N − Σn²/N)/(k−1).

    Determinism: per-group micro-unit moments are exact DECIMAL sums
    (the anova_oneway device); the between/within SS doubles and the
    ICC ratio are shared-verbatim expression trees over the k=5-row
    moment frame; NULLIF guards the degenerate zero-denominator.

    100 TB shape: one map-side grouped moment aggregate (k rows) off
    a single fact scan, then O(k) arithmetic."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
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
            "(CAST(SUM(n) AS DOUBLE) - SUM(CAST(n AS DOUBLE) * n) / SUM(n))"
            " / (COUNT(*) - 1)"
        ).alias("n0"),
        F.expr(
            "SUM(CAST(s AS DOUBLE) * s / n)"
            " - CAST(SUM(s) AS DOUBLE) * SUM(s) / SUM(n)"
        ).alias("btw"),
        F.expr(
            "CAST(SUM(ss) AS DOUBLE) - SUM(CAST(s AS DOUBLE) * s / n)"
        ).alias("win"),
    )
    mid = inner.select(
        "k", "n_total", "n0",
        F.expr("btw / (k - 1)").alias("msb"),
        F.expr("win / (n_total - k)").alias("msw"),
    )
    return mid.select(
        "k", "n_total",
        F.round("n0", 6).alias("n0"),
        F.round(
            F.expr("(msb - msw) / NULLIF(msb + (n0 - 1) * msw, 0)"), 6
        ).alias("icc1"),
    )


# --------------------------------- permutation entropy (daily, m = 3)
# Bandt–Pompe ordinal-pattern entropy of the exact daily totals at
# embedding dimension 3: each consecutive triple maps to one of six
# order patterns via pairwise "strictly less" bits (ties resolve to
# the earlier position, the standard convention), H = −Σ p ln p
# normalized by ln 6. The ordinal companion to spectral_entropy_hourly
# (spectral sees periodic structure; permutation entropy sees
# monotone-run structure and is invariant to any monotone transform).
#
# Determinism: pattern ids are integer comparisons of exact BIGINTs;
# counts are integers; each −p ln p term quantizes to a 1e-12 grid
# BEFORE the sum over the (≤8-row) pattern frame, so engine-side
# accumulation order can never flip an ulp into the 6th decimal.

_PERM_ENT_ORACLE = f"""
WITH {_DAILY_DUCK},
pat AS (
    SELECT (CASE WHEN b.tq < a.tq THEN 4 ELSE 0 END)
           + (CASE WHEN c.tq < a.tq THEN 2 ELSE 0 END)
           + (CASE WHEN c.tq < b.tq THEN 1 ELSE 0 END) AS pid
    FROM daily a
    JOIN daily b ON b.idx = a.idx + 1
    JOIN daily c ON c.idx = a.idx + 2
),
cnt AS (
    SELECT pid, CAST(COUNT(*) AS BIGINT) AS c FROM pat GROUP BY 1
),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cnt),
terms AS (
    SELECT CAST(ROUND(-(CAST(c AS DOUBLE) / t.t)
                      * LN(CAST(c AS DOUBLE) / t.t) * 1e12) AS BIGINT) AS hq
    FROM cnt, tot t
)
SELECT t.t AS n_triples,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cnt) AS n_patterns,
       ROUND(CAST((SELECT SUM(hq) FROM terms) AS DOUBLE) / 1e12, 6)
           AS perm_entropy,
       ROUND(CAST((SELECT SUM(hq) FROM terms) AS DOUBLE) / 1e12
             / LN(6.0), 6) AS perm_entropy_norm
FROM tot t
"""


@query("permutation_entropy_daily", oracle=_PERM_ENT_ORACLE)
def permutation_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BANDT–POMPE PERMUTATION ENTROPY (m=3) of the exact daily
    centi-unit totals: consecutive day triples map to ordinal
    patterns (ties to the earlier position), H = −Σ p ln p with the
    ln 6 normalization. Low H = long monotone runs (trend/regime),
    high H = pattern-rich noise — the ordinal complexity gauge beside
    spectral_entropy_hourly's frequency-domain one.

    Determinism: pattern ids are integer comparisons of exact
    BIGINTs; each −p ln p term quantizes to a 1e-12 BIGINT grid
    before the ≤8-term sum (the per-term-quantization device), so
    accumulation order cannot move the 6-decimal readout.

    100 TB shape: the daily frame is bounded by the date range; the
    triple join and pattern histogram run on that bounded frame."""
    # r14 (guide §2.4/§1.2): idx is a contiguous row_number, so the
    # triple self-join (b = a+1, c = a+2) is exactly lead(tq, 1/2)
    # OVER (ORDER BY idx) — one pass, no checkpoint, no join; the
    # entropy readout folds into windows over the <=6-row pattern
    # histogram instead of two broadcast-join hops.
    daily = _daily(spark, sf_dir)
    w_lead = Window.orderBy("idx")
    pat = (
        daily.select(
            F.col("tq").alias("ta"),
            F.lead("tq", 1).over(w_lead).alias("tb"),
            F.lead("tq", 2).over(w_lead).alias("tc"),
        )
        .filter(F.col("tc").isNotNull())
        .select(
            (
                F.when(F.col("tb") < F.col("ta"), 4).otherwise(0)
                + F.when(F.col("tc") < F.col("ta"), 2).otherwise(0)
                + F.when(F.col("tc") < F.col("tb"), 1).otherwise(0)
            ).alias("pid")
        )
    )
    cnt = pat.groupBy("pid").agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_all = Window.partitionBy()
    terms = cnt.select(
        "c",
        F.sum("c").over(w_all).cast("long").alias("t"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n_patterns"),
    ).select(
        "t",
        "n_patterns",
        F.expr(
            "CAST(ROUND(-(CAST(c AS DOUBLE) / t)"
            " * LN(CAST(c AS DOUBLE) / t) * 1e12) AS BIGINT)"
        ).alias("hq"),
    )
    return terms.groupBy("t", "n_patterns").agg(
        F.sum("hq").cast("long").alias("hsum")
    ).select(
        F.col("t").alias("n_triples"),
        F.col("n_patterns"),
        F.round(F.expr("CAST(hsum AS DOUBLE) / 1e12"), 6).alias("perm_entropy"),
        F.round(F.expr("CAST(hsum AS DOUBLE) / 1e12 / LN(6.0)"), 6).alias(
            "perm_entropy_norm"
        ),
    )


# ------------------------------------ sample entropy (daily, m=2)
# Richman–Moorman SampEn(m=2, r=0.2·sd) on the exact daily totals:
# B = #template pairs of length 2 within Chebyshev tolerance r,
# A = the same at length 3, SampEn = −ln(A/B). The regularity gauge
# that (unlike approximate entropy) excludes self-matches and is
# duplication-consistent. r quantizes to an integer centi-unit
# tolerance ROUND(0.2·sd) — sd from the exact integer moment shape —
# so every |x−y| ≤ r comparison is pure integer arithmetic.

_SAMPEN_ORACLE = f"""
WITH {_DAILY_DUCK},
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(tq AS HUGEINT)) AS HUGEINT) AS s1,
           CAST(SUM(CAST(tq AS HUGEINT) * tq) AS HUGEINT) AS s2
    FROM daily
),
r AS (
    SELECT n, CAST(ROUND(0.2 * SQRT((CAST(n AS DOUBLE) * s2
                                     - CAST(s1 AS DOUBLE) * s1)
                                    / (CAST(n AS DOUBLE) * (n - 1))))
                   AS BIGINT) AS rq
    FROM mom
),
seq AS (
    SELECT a.idx, a.tq AS x0, b.tq AS x1, c.tq AS x2
    FROM daily a
    JOIN daily b ON b.idx = a.idx + 1
    LEFT JOIN daily c ON c.idx = a.idx + 2
),
pairs AS (
    SELECT CAST(SUM(CASE WHEN ABS(i.x0 - j.x0) <= r.rq
                          AND ABS(i.x1 - j.x1) <= r.rq
                         THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
           CAST(SUM(CASE WHEN i.x2 IS NOT NULL AND j.x2 IS NOT NULL
                          AND ABS(i.x0 - j.x0) <= r.rq
                          AND ABS(i.x1 - j.x1) <= r.rq
                          AND ABS(i.x2 - j.x2) <= r.rq
                         THEN 1 ELSE 0 END) AS BIGINT) AS a_cnt
    FROM seq i JOIN seq j ON i.idx < j.idx, r
)
SELECT r.n AS n_days, r.rq AS r_centi, p.b_cnt, p.a_cnt,
       ROUND(CASE WHEN p.a_cnt > 0 AND p.b_cnt > 0
                  THEN -LN(CAST(p.a_cnt AS DOUBLE) / p.b_cnt)
             END, 6) AS sampen
FROM pairs p, r
"""


@query("sample_entropy_daily", oracle=_SAMPEN_ORACLE)
def sample_entropy_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RICHMAN–MOORMAN SAMPLE ENTROPY (m=2, r=0.2·sd) of the exact
    daily centi-unit totals: −ln(A/B) over length-3 vs length-2
    template matches under Chebyshev tolerance (self-matches
    excluded). The regularity companion to permutation_entropy_daily
    — SampEn sees amplitude-scale recurrence, permutation entropy
    only order structure.

    Determinism: the tolerance quantizes to an integer centi-unit
    radius (ROUND of a sqrt over the exact integer moment shape —
    correctly-rounded sqrt on both engines); every template
    comparison is then pure integer arithmetic; −ln(A/B) is one
    shared-verbatim readout of an integer ratio (NULL when degenerate
    A=0 or B=0).

    100 TB shape: the O(n²) template-pair join runs on the daily
    frame, bounded by the DATE RANGE (a decade is ~3.7k rows), never
    by event count; the fact table is scanned once for the daily
    aggregate."""
    daily = _daily(spark, sf_dir).localCheckpoint()
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("tq").cast(_DEC)).alias("s1"),
        F.sum(F.col("tq").cast(_DEC) * F.col("tq").cast(_DEC)).alias("s2"),
    )
    r = mom.select(
        "n",
        F.expr(
            "CAST(ROUND(0.2 * SQRT((CAST(n AS DOUBLE) * s2"
            " - CAST(s1 AS DOUBLE) * s1)"
            " / (CAST(n AS DOUBLE) * (n - 1)))) AS BIGINT)"
        ).alias("rq"),
    )
    a = daily.select(F.col("idx").alias("i0"), F.col("tq").alias("x0"))
    b = daily.select(F.col("idx").alias("i1"), F.col("tq").alias("x1"))
    c = daily.select(F.col("idx").alias("i2"), F.col("tq").alias("x2"))
    seq = (
        a.join(b, F.col("i1") == F.col("i0") + 1)
        .join(c, F.col("i2") == F.col("i0") + 2, "left")
        .select(F.col("i0").alias("idx"), "x0", "x1", "x2")
        .localCheckpoint()
    )
    sj = seq.select(
        F.col("idx").alias("jdx"),
        F.col("x0").alias("y0"),
        F.col("x1").alias("y1"),
        F.col("x2").alias("y2"),
    )
    m2 = (
        (F.abs(F.col("x0") - F.col("y0")) <= F.col("rq"))
        & (F.abs(F.col("x1") - F.col("y1")) <= F.col("rq"))
    )
    m3 = (
        F.col("x2").isNotNull() & F.col("y2").isNotNull()
        & m2 & (F.abs(F.col("x2") - F.col("y2")) <= F.col("rq"))
    )
    # broadcast the bounded daily template frame: the i<j non-equi
    # self-join is a BroadcastNestedLoopJoin over the date-range-
    # bounded frame, never a CartesianProduct shuffle
    pairs = (
        seq.join(F.broadcast(sj), F.col("idx") < F.col("jdx"))
        .join(F.broadcast(r))
        .agg(
            F.sum(m2.cast("long")).cast("long").alias("b_cnt"),
            F.sum(m3.cast("long")).cast("long").alias("a_cnt"),
        )
    )
    return pairs.join(F.broadcast(r)).select(
        F.col("n").alias("n_days"),
        F.col("rq").alias("r_centi"),
        "b_cnt", "a_cnt",
        F.round(
            F.expr(
                "CASE WHEN a_cnt > 0 AND b_cnt > 0"
                " THEN -LN(CAST(a_cnt AS DOUBLE) / b_cnt) END"
            ),
            6,
        ).alias("sampen"),
    )


# --------------------------------- KMV / theta sketch set operations
# K-minimum-values distinct sketches over the corpus 3-gram shingle
# space, split by doc_id parity: keep the K smallest 48-bit md5
# hashes per side, estimate |A|, |B| as (K-1)/theta (theta = K-th
# minimum normalized to [0,1)), the union by merging the two K-min
# lists, and the intersection by inclusion-exclusion — beside the
# EXACT twins for all four cardinalities (the HLL/GK/CMS audit
# pattern: every sketch ships with its exact pin). This is the
# mergeable-sketch path for corpus-overlap questions ("how much of
# snapshot B is already in A?") where exact distinct at 100 TB means
# a full shuffle of the shingle space.

_KMV_K = 512
_KMV_NORM = 1 << 48  # 48-bit hash space; (K-1)*2^48 is double-exact (< 2^57)

# integer literals CAST AS DOUBLE — a bare float literal parses as
# DECIMAL in both engines (SCALE.md trap; observed live as a DuckDB
# DECIMAL(18) multiplication overflow on this very expression)
_KMV_EST = (
    "CASE WHEN {c} < {k} THEN CAST({c} AS DOUBLE)"
    " ELSE CAST({k} - 1 AS DOUBLE) * CAST({norm} AS DOUBLE) / {th} END"
).format
_KMV_DUCK_SIDE = """
    SELECT hv FROM hashes WHERE side = {side} ORDER BY hv LIMIT {k}
"""

_KMV_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
    SELECT doc_id % 2 AS side,
           unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(ws) - 2, 0)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
    FROM w
),
hashes AS (
    SELECT DISTINCT side, ('0x' || substr(md5(s), 1, 12))::BIGINT AS hv
    FROM sh
),
ska AS ({_KMV_DUCK_SIDE.format(side=0, k=_KMV_K)}),
skb AS ({_KMV_DUCK_SIDE.format(side=1, k=_KMV_K)}),
sku AS (
    SELECT hv FROM (SELECT hv FROM ska UNION SELECT hv FROM skb)
    ORDER BY hv LIMIT {_KMV_K}
),
stats AS (
    SELECT (SELECT COUNT(*) FROM ska) AS ca, (SELECT MAX(hv) FROM ska) AS ta,
           (SELECT COUNT(*) FROM skb) AS cb, (SELECT MAX(hv) FROM skb) AS tb,
           (SELECT COUNT(*) FROM sku) AS cu, (SELECT MAX(hv) FROM sku) AS tu,
           (SELECT COUNT(DISTINCT s) FROM sh WHERE side = 0) AS xa,
           (SELECT COUNT(DISTINCT s) FROM sh WHERE side = 1) AS xb,
           (SELECT COUNT(DISTINCT s) FROM sh) AS xu
),
est AS (
    SELECT xa AS n_a_exact, xb AS n_b_exact, xu AS n_union_exact,
           xa + xb - xu AS n_inter_exact,
           {_KMV_EST(c="ca", k=_KMV_K, norm=_KMV_NORM, th="ta")} AS ea,
           {_KMV_EST(c="cb", k=_KMV_K, norm=_KMV_NORM, th="tb")} AS eb,
           {_KMV_EST(c="cu", k=_KMV_K, norm=_KMV_NORM, th="tu")} AS eu
    FROM stats
)
SELECT {_KMV_K} AS k_param, n_a_exact, n_b_exact, n_union_exact,
       n_inter_exact,
       ROUND(ea, 6) AS est_a, ROUND(eb, 6) AS est_b,
       ROUND(eu, 6) AS est_union, ROUND(ea + eb - eu, 6) AS est_inter
FROM est
"""


@query("kmv_distinct_setops", oracle=_KMV_ORACLE)
def kmv_distinct_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (theta-style) DISTINCT SKETCH SET OPERATIONS over the
    corpus shingle space split by doc parity: per-side cardinality
    estimates from the K smallest 48-bit hashes, union by sketch
    merge, intersection by inclusion–exclusion — each beside its
    EXACT twin (the sketch-audit convention). The mergeable
    answer to "how much of corpus B is new vs corpus A?" without a
    distinct-shuffle of the full shingle space.

    Determinism: md5-derived 48-bit hashes are bit-identical across
    engines; each sketch is the exact K-smallest multiset (ORDER BY
    LIMIT with integer keys); estimates are shared-verbatim double
    readouts ((K−1)·2⁴⁸ is double-exact; the under-full CASE branch
    returns the exact count).

    100 TB shape: per-side sketches are TakeOrderedAndProject over a
    map-side-distinct hash stream (K=512 rows cross the wire per
    side); merge and estimates are O(K) driver-free algebra. The
    exact twins are the expensive distinct shuffles the sketch
    replaces — priced here as the audit, skipped in production."""
    from iot_etl_spark.plans.queries_text import _shingle_sets_cached

    # r14 (guide §2.4): the shingle stream used to be exploded and
    # distinct-shuffled THREE times (per-side hashes, per-side exact
    # counts, union exact count), with md5 computed per OCCURRENCE.
    # One explode -> one groupBy(shingle) with side-membership flags
    # gives a vocabulary-sized frame from which everything derives:
    # xa = SUM(h0), xb = SUM(h1), xu = COUNT(*) (exact set identities),
    # and the per-side hash streams are flag-filtered projections with
    # md5 computed once per DISTINCT shingle. The per-side DISTINCT on
    # hv is kept: two shingles can collide in the 48-bit space and the
    # sketch is defined on the distinct hash multiset.
    sh = (
        _shingle_sets_cached(spark, sf_dir)
        .select(
            (F.col("doc_id") % 2).alias("side"), F.explode("s").alias("s")
        )
    )
    g = (
        sh.groupBy("s")
        .agg(
            F.max((F.col("side") == 0).cast("int")).alias("h0"),
            F.max((F.col("side") == 1).cast("int")).alias("h1"),
        )
        .select(
            "h0",
            "h1",
            F.conv(F.substring(F.md5("s"), 1, 12), 16, 10)
            .cast("long")
            .alias("hv"),
        )
        .localCheckpoint()
    )

    def sketch(flag: str) -> DataFrame:
        return (
            g.filter(F.col(flag) == 1)
            .select("hv").distinct().orderBy("hv").limit(_KMV_K)
        )

    ska, skb = sketch("h0"), sketch("h1")
    sku = ska.union(skb).distinct().orderBy("hv").limit(_KMV_K)

    def stats(df: DataFrame, c: str, t: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias(c),
            F.max("hv").cast("long").alias(t),
        )

    exact = g.agg(
        F.sum("h0").cast("long").alias("xa"),
        F.sum("h1").cast("long").alias("xb"),
        F.count(F.lit(1)).cast("long").alias("xu"),
    )
    row = (
        stats(ska, "ca", "ta")
        .join(stats(skb, "cb", "tb"))
        .join(stats(sku, "cu", "tu"))
        .join(exact)
    )
    ea = _KMV_EST(c="ca", k=_KMV_K, norm=_KMV_NORM, th="ta")
    eb = _KMV_EST(c="cb", k=_KMV_K, norm=_KMV_NORM, th="tb")
    eu = _KMV_EST(c="cu", k=_KMV_K, norm=_KMV_NORM, th="tu")
    return row.select(
        F.lit(_KMV_K).cast("int").alias("k_param"),
        F.col("xa").alias("n_a_exact"),
        F.col("xb").alias("n_b_exact"),
        F.col("xu").alias("n_union_exact"),
        (F.col("xa") + F.col("xb") - F.col("xu")).alias("n_inter_exact"),
        F.round(F.expr(ea), 6).alias("est_a"),
        F.round(F.expr(eb), 6).alias("est_b"),
        F.round(F.expr(eu), 6).alias("est_union"),
        F.round(F.expr(f"({ea}) + ({eb}) - ({eu})"), 6).alias("est_inter"),
    )


# ---------------------------------------- Bloom filter FPR audit
# Build an m = 65536-bit, k = 3-hash Bloom filter over the even-side
# shingle set, probe it with the TRUE-NEGATIVE odd-side-only
# shingles, and report the observed false-positive rate against the
# theoretical (1 − e^{−kn/m})³ — the membership-sketch audit beside
# the cardinality (HLL/KMV), quantile (GK), and frequency (CMS)
# audits. At 100 TB the filter is the broadcast pre-join gate ("skip
# the shuffle for keys that cannot match"); this query prices its
# false-positive cost honestly.

_BLOOM_M = 65536
_BLOOM_POS = {
    "spark": lambda i: (
        f"cast(conv(substr(md5(s), {1 + 8 * i}, 8), 16, 10) AS BIGINT)"
        f" % {_BLOOM_M}"
    ),
    "duck": lambda i: (
        f"('0x' || substr(md5(s), {1 + 8 * i}, 8))::BIGINT % {_BLOOM_M}"
    ),
}

_BLOOM_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
    SELECT doc_id % 2 AS side,
           unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(ws) - 2, 0)),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
    FROM w
),
build AS (SELECT DISTINCT s FROM sh WHERE side = 0),
probe AS (
    SELECT DISTINCT s FROM sh WHERE side = 1
    AND s NOT IN (SELECT s FROM build)
),
bits AS (
    SELECT DISTINCT p FROM (
        SELECT {_BLOOM_POS['duck'](0)} AS p FROM build
        UNION ALL SELECT {_BLOOM_POS['duck'](1)} FROM build
        UNION ALL SELECT {_BLOOM_POS['duck'](2)} FROM build
    )
),
ppos AS (
    SELECT s, p FROM (
        SELECT DISTINCT s, {_BLOOM_POS['duck'](0)} AS p FROM probe
        UNION SELECT s, {_BLOOM_POS['duck'](1)} FROM probe
        UNION SELECT s, {_BLOOM_POS['duck'](2)} FROM probe
    )
),
hitcnt AS (
    SELECT ppos.s,
           COUNT(*) AS npos,
           COUNT(bits.p) AS nhit
    FROM ppos LEFT JOIN bits ON ppos.p = bits.p
    GROUP BY 1
),
agg AS (
    SELECT (SELECT COUNT(*) FROM build) AS n_build,
           (SELECT COUNT(*) FROM bits) AS bits_set,
           (SELECT COUNT(*) FROM hitcnt) AS n_probe_neg,
           (SELECT COUNT(*) FROM hitcnt WHERE nhit = npos) AS false_pos
)
SELECT {_BLOOM_M} AS m_bits, 3 AS k_hashes, n_build, bits_set,
       n_probe_neg, false_pos,
       ROUND(CAST(false_pos AS DOUBLE) / n_probe_neg, 6) AS fpr_observed,
       ROUND((1 - EXP(CAST(3 * n_build AS DOUBLE)
                      * LN(1 - 1 / CAST({_BLOOM_M} AS DOUBLE))))
             * (1 - EXP(CAST(3 * n_build AS DOUBLE)
                        * LN(1 - 1 / CAST({_BLOOM_M} AS DOUBLE))))
             * (1 - EXP(CAST(3 * n_build AS DOUBLE)
                        * LN(1 - 1 / CAST({_BLOOM_M} AS DOUBLE)))), 6)
           AS fpr_theoretical
FROM agg
"""


@query("bloom_filter_fpr_audit", oracle=_BLOOM_ORACLE)
def bloom_filter_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLOOM FILTER false-positive audit: an m=65536-bit, k=3 filter
    built from the even-side shingle set, probed with the odd-side
    TRUE NEGATIVES; observed FPR vs the theoretical (1−e^{−kn/m})³
    (cube written as y·y·y — POWER is the SCALE.md libm trap). The
    membership-sketch audit beside HLL (cardinality), GK (quantiles),
    and CMS (frequency).

    Determinism: bit positions are md5-slice integers mod m on both
    engines; membership/hit counts are exact integer joins; the only
    libm is the single EXP/LN theoretical readout (shared-verbatim).

    100 TB shape: the filter is a bounded 65536-row bit set
    (broadcastable by construction); probes explode to ≤3 positions
    and aggregate map-side. The string-level true-negative split is
    the audit's ground truth — production uses the bit test alone."""
    from iot_etl_spark.plans.queries_text import _shingle_sets_cached

    sh = (
        _shingle_sets_cached(spark, sf_dir)
        .select((F.col("doc_id") % 2).alias("side"), F.explode("s").alias("s"))
    )
    build = sh.filter(F.col("side") == 0).select("s").distinct().localCheckpoint()
    probe = (
        sh.filter(F.col("side") == 1).select("s").distinct()
        .join(build, "s", "left_anti")
    )
    pos = [F.expr(_BLOOM_POS["spark"](i)).alias("p") for i in range(3)]
    bits = (
        build.select(F.explode(F.array(*pos)).alias("p")).distinct()
        .localCheckpoint()
    )
    ppos = probe.select("s", F.explode(F.array(*pos)).alias("p")).distinct()
    hitcnt = (
        ppos.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "p", "left")
        .groupBy("s")
        .agg(
            F.count(F.lit(1)).cast("long").alias("npos"),
            F.count("hit").cast("long").alias("nhit"),
        )
    )
    agg = (
        hitcnt.agg(
            F.count(F.lit(1)).cast("long").alias("n_probe_neg"),
            F.sum((F.col("nhit") == F.col("npos")).cast("long"))
            .cast("long").alias("false_pos"),
        )
        .join(build.agg(F.count(F.lit(1)).cast("long").alias("n_build")))
        .join(bits.agg(F.count(F.lit(1)).cast("long").alias("bits_set")))
    )
    # CASTs keep the whole readout in doubles: bare `1.0` is DECIMAL
    # in Spark SQL and `1.0 / 65536` ran as decimal division (observed
    # live: fpr_theoretical diverged 0.6% from the oracle)
    theo_y = (
        "(1 - EXP(CAST(3 * n_build AS DOUBLE)"
        f" * LN(1 - 1 / CAST({_BLOOM_M} AS DOUBLE))))"
    )
    return agg.select(
        F.lit(_BLOOM_M).cast("int").alias("m_bits"),
        F.lit(3).cast("int").alias("k_hashes"),
        "n_build", "bits_set", "n_probe_neg", "false_pos",
        F.round(
            F.expr("CAST(false_pos AS DOUBLE) / n_probe_neg"), 6
        ).alias("fpr_observed"),
        F.round(
            F.expr(f"{theo_y} * {theo_y} * {theo_y}"), 6
        ).alias("fpr_theoretical"),
    )


# --------------------------- D'Agostino K² omnibus normality (types)
# The transformed-moment omnibus test per event type: skewness and
# kurtosis z-transforms (D'Agostino 1970 / Anscombe–Glynn 1983) and
# K² = Z1² + Z2². jarque_bera_by_type uses the same moments with
# asymptotic chi² scaling that converges slowly (n in the thousands
# still biased); the K² transforms are accurate from n ≈ 20 — this
# is the finite-sample normality gate. Moments come from the same
# anchored exact-integer device as JB (centered on the integer mean
# floor; scale cancels in b1 = m3/m2^1.5 and b2 = m4/m2²).

_DG_M1 = "(CAST(sd AS DOUBLE) / n)"
_DG_M2 = f"(CAST(sd2 AS DOUBLE) / n - {_DG_M1} * {_DG_M1})"
_DG_M3 = (
    f"(CAST(sd3 AS DOUBLE) / n - 3 * {_DG_M1} * (CAST(sd2 AS DOUBLE) / n)"
    f" + 2 * {_DG_M1} * {_DG_M1} * {_DG_M1})"
)
_DG_M4 = (
    f"(CAST(sd4 AS DOUBLE) / n - 4 * {_DG_M1} * (CAST(sd3 AS DOUBLE) / n)"
    f" + 6 * {_DG_M1} * {_DG_M1} * (CAST(sd2 AS DOUBLE) / n)"
    f" - 3 * {_DG_M1} * {_DG_M1} * {_DG_M1} * {_DG_M1})"
)

# chained per-stage expressions: each stage is a shared-verbatim
# string over the previous stage's columns, so both engines build
# identical expression trees (x^1.5 as x*SQRT(x); cube root as CBRT,
# never POWER — the SCALE.md libm traps).
_DG_STAGE1 = {
    "b1": f"({_DG_M3} / NULLIF({_DG_M2} * SQRT({_DG_M2}), 0))",
    "b2": f"({_DG_M4} / NULLIF({_DG_M2} * {_DG_M2}, 0))",
    "nd": "CAST(n AS DOUBLE)",
}
_DG_STAGE2 = {
    "y": "(b1 * SQRT((nd + 1) * (nd + 3) / (6 * (nd - 2))))",
    "w2": (
        "(-1 + SQRT(2 * (3 * (nd * nd + 27 * nd - 70) * (nd + 1) * (nd + 3)"
        " / ((nd - 2) * (nd + 5) * (nd + 7) * (nd + 9)) - 1)))"
    ),
    "ek": "(3 * (nd - 1) / (nd + 1))",
    "vk": (
        "(24 * nd * (nd - 2) * (nd - 3)"
        " / ((nd + 1) * (nd + 1) * (nd + 3) * (nd + 5)))"
    ),
    "sb1": (
        "(6 * (nd * nd - 5 * nd + 2) / ((nd + 7) * (nd + 9))"
        " * SQRT(6 * (nd + 3) * (nd + 5) / (nd * (nd - 2) * (nd - 3))))"
    ),
}
_DG_STAGE3 = {
    "alpha": "SQRT(2 / (w2 - 1))",
    "delta": "(1 / SQRT(0.5 * LN(w2)))",
    "xk": "((b2 - ek) / SQRT(vk))",
    "aa": "(6 + 8 / sb1 * (2 / sb1 + SQRT(1 + 4 / (sb1 * sb1))))",
}
_DG_STAGE4 = {
    "z1": "(delta * LN(y / alpha + SQRT((y / alpha) * (y / alpha) + 1)))",
    "z2": (
        "((1 - 2 / (9 * aa)"
        " - CBRT((1 - 2 / aa) / (1 + xk * SQRT(2 / (aa - 4)))))"
        " / SQRT(2 / (9 * aa)))"
    ),
}

_DG_SELECT = ",\n       ".join(
    f"{expr} AS {name}"
    for stage in (_DG_STAGE1, _DG_STAGE2, _DG_STAGE3, _DG_STAGE4)
    for name, expr in stage.items()
)

_DAGOSTINO_ORACLE = f"""
WITH cells AS (
    SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS vq,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events WHERE value IS NOT NULL
    GROUP BY 1, 2
),
anchor AS (
    SELECT event_type,
           CAST(SUM(c * vq) // SUM(c) AS BIGINT) AS a
    FROM cells GROUP BY 1
),
m AS (
    SELECT c.event_type,
           CAST(SUM(c.c) AS BIGINT) AS n,
           CAST(SUM(c.c * (c.vq - a.a)) AS HUGEINT) AS sd,
           CAST(SUM(c.c * (c.vq - a.a) * (c.vq - a.a)) AS HUGEINT) AS sd2,
           CAST(SUM(CAST(c.c AS HUGEINT) * (c.vq - a.a) * (c.vq - a.a)
                    * (c.vq - a.a)) AS HUGEINT) AS sd3,
           CAST(SUM(CAST(c.c AS HUGEINT) * ((c.vq - a.a) * (c.vq - a.a))
                    * ((c.vq - a.a) * (c.vq - a.a))) AS HUGEINT) AS sd4
    FROM cells c JOIN anchor a ON c.event_type = a.event_type
    GROUP BY 1
),
s1 AS (
    SELECT event_type, n, {_DG_STAGE1['b1']} AS b1,
           {_DG_STAGE1['b2']} AS b2, {_DG_STAGE1['nd']} AS nd
    FROM m
),
s2 AS (
    SELECT *, {_DG_STAGE2['y']} AS y, {_DG_STAGE2['w2']} AS w2,
           {_DG_STAGE2['ek']} AS ek, {_DG_STAGE2['vk']} AS vk,
           {_DG_STAGE2['sb1']} AS sb1
    FROM s1
),
s3 AS (
    SELECT *, {_DG_STAGE3['alpha']} AS alpha, {_DG_STAGE3['delta']} AS delta,
           {_DG_STAGE3['xk']} AS xk, {_DG_STAGE3['aa']} AS aa
    FROM s2
),
s4 AS (
    SELECT *, {_DG_STAGE4['z1']} AS z1, {_DG_STAGE4['z2']} AS z2
    FROM s3
)
SELECT event_type, n AS n_group,
       ROUND(b1, 6) AS skew_g1,
       ROUND(b2 - 3, 6) AS ex_kurtosis,
       ROUND(z1, 6) AS z_skew,
       ROUND(z2, 6) AS z_kurtosis,
       ROUND(z1 * z1 + z2 * z2, 6) AS k2_stat
FROM s4
"""


@query("dagostino_k2_normality", oracle=_DAGOSTINO_ORACLE)
def dagostino_k2_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'AGOSTINO K² omnibus normality test per event type: the
    skewness z (D'Agostino 1970 Johnson-SU transform) and kurtosis z
    (Anscombe–Glynn 1983 Wilson–Hilferty cube-root transform), with
    K² = Z1² + Z2². The finite-sample-calibrated companion to
    jarque_bera_by_type (JB's chi² asymptotics bias small-n
    p-values; the K² transforms are accurate from n≈20).

    Determinism: moments are the JB anchored exact-integer device;
    every downstream stage is a shared-verbatim double expression
    chained through named stage columns (identical trees both
    engines); x^1.5 is x·SQRT(x) and the cube root is CBRT — POWER
    never runs (the SCALE.md libm trap).

    100 TB shape: one map-side cell aggregate bounded by the value
    domain per type; anchor + moments are two aggregates over cells;
    the transform chain is O(k) row algebra."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cells = ev.groupBy(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("vq")
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).localCheckpoint()
    anchor = cells.groupBy("event_type").agg(
        F.expr("CAST(sum(c * vq) div sum(c) AS BIGINT)").alias("a")
    )
    d = F.col("vq") - F.col("a")
    d2 = (d * d).cast(_DEC)
    m = (
        cells.join(F.broadcast(anchor), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.col("c").cast(_DEC) * d.cast(_DEC)).alias("sd"),
            F.sum(F.col("c").cast(_DEC) * d2).alias("sd2"),
            F.sum(F.col("c").cast(_DEC) * d2 * d.cast(_DEC)).alias("sd3"),
            F.sum(F.col("c").cast(_DEC) * d2 * d2).alias("sd4"),
        )
    )
    out = m
    for stage in (_DG_STAGE1, _DG_STAGE2, _DG_STAGE3, _DG_STAGE4):
        for name, expr in stage.items():
            out = out.withColumn(name, F.expr(expr))
    return out.select(
        "event_type",
        F.col("n").alias("n_group"),
        F.round("b1", 6).alias("skew_g1"),
        F.round(F.expr("b2 - 3"), 6).alias("ex_kurtosis"),
        F.round("z1", 6).alias("z_skew"),
        F.round("z2", 6).alias("z_kurtosis"),
        F.round(F.expr("z1 * z1 + z2 * z2"), 6).alias("k2_stat"),
    )


# ----------------------- classifier KS separation (score-cell exact)
# Kolmogorov–Smirnov separation of the quality-classifier score
# distributions between English and other-language docs: the
# credit-scoring "KS statistic" = sup |F_pos − F_neg| over score
# cells, with the argmax threshold. classifier_lang_auc integrates
# the whole ROC into one number; KS reports the single best
# operating point and WHERE it sits — together they are the standard
# discrimination pair. Composes verbatim over the classifier score
# cells (ROUND(,6) logits, hash-identical on both engines).

_KS_SEP_CELLS = """
cells AS (
    SELECT quality_logit,
           CAST(COUNT(*) FILTER (lang = 'en') AS BIGINT) AS cp,
           CAST(COUNT(*) FILTER (lang <> 'en') AS BIGINT) AS cn
    FROM cls GROUP BY 1
),
cum AS (
    SELECT quality_logit,
           CAST(SUM(cp) OVER (ORDER BY quality_logit
                              ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cump,
           CAST(SUM(cn) OVER (ORDER BY quality_logit
                              ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cumn,
           CAST(SUM(cp) OVER () AS BIGINT) AS np,
           CAST(SUM(cn) OVER () AS BIGINT) AS nn
    FROM cells
),
gaps AS (
    SELECT quality_logit, np, nn,
           ABS(cump * nn - cumn * np) AS gap
    FROM cum
)
"""


@query(
    "classifier_ks_separation",
    oracle=None,  # set below after _CLASSIFIER_ORACLE import
)
def classifier_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSIFIER KS SEPARATION of the quality-score distributions
    (English vs other): KS = sup|F_en − F_other| over score cells
    plus the threshold logit achieving it (ties -> smallest logit) —
    the best-single-cutoff discrimination readout beside
    classifier_lang_auc's integrated one.

    Determinism: cells key on the ROUND(,6) logit (hash-identical
    since round 4); the sup is a max of EXACT integers
    |cumP·nn − cumN·np| (HUGEINT/DECIMAL(38,0)); the argmax
    tie-breaks on the logit; KS is one shared-verbatim division.

    100 TB shape: one cell aggregate over distinct scores (not
    docs), one bounded-cell window, one TakeOrderedAndProject row."""
    from iot_etl_spark.plans.queries_mlprep import quality_classifier_score

    cls = quality_classifier_score(spark, sf_dir)
    cells = cls.groupBy("quality_logit").agg(
        F.count(F.when(F.col("lang") == "en", 1)).cast("long").alias("cp"),
        F.count(F.when(F.col("lang") != "en", 1)).cast("long").alias("cn"),
    )
    wcum = Window.orderBy("quality_logit").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = cells.select(
        "quality_logit",
        F.sum("cp").over(wcum).cast(_DEC).alias("cump"),
        F.sum("cn").over(wcum).cast(_DEC).alias("cumn"),
        F.sum("cp").over(wall).cast("long").alias("np"),
        F.sum("cn").over(wall).cast("long").alias("nn"),
    )
    gaps = cum.select(
        "quality_logit", "np", "nn",
        F.abs(
            F.col("cump") * F.col("nn").cast(_DEC)
            - F.col("cumn") * F.col("np").cast(_DEC)
        ).alias("gap"),
    )
    return (
        gaps.orderBy(F.col("gap").desc(), "quality_logit")
        .limit(1)
        .select(
            F.col("np").alias("n_english"),
            F.col("nn").alias("n_other"),
            F.col("quality_logit").alias("ks_threshold"),
            F.round(
                F.expr("CAST(gap AS DOUBLE) / (CAST(np AS DOUBLE) * nn)"), 6
            ).alias("ks_stat"),
        )
    )


def _register_ks_sep_oracle() -> None:
    from iot_etl_spark.plans.registry import ORACLES
    from iot_etl_spark.plans.queries_mlprep import _CLASSIFIER_ORACLE

    ORACLES["classifier_ks_separation"] = f"""
WITH cls AS ({_CLASSIFIER_ORACLE}),
{_KS_SEP_CELLS}
SELECT np AS n_english, nn AS n_other,
       quality_logit AS ks_threshold,
       ROUND(CAST(gap AS DOUBLE) / (CAST(np AS DOUBLE) * nn), 6) AS ks_stat
FROM gaps
ORDER BY gap DESC, quality_logit
LIMIT 1
"""


_register_ks_sep_oracle()


# ------------------------- Herfindahl–Hirschman concentration (TPC-H)
# HHI of supplier revenue within each nation: Σ share_i² over the
# nation's suppliers, plus the normalized (HHI − 1/n)/(1 − 1/n).
# The antitrust-style concentration readout beside the inequality
# family (nation_revenue_gini ranks the whole distribution; Theil
# decomposes it; HHI is THE market-power number regulators quote).
# Revenue quantizes to exact centi-unit BIGINTs (the established
# TPC-H revenue convention), so Σr² / (Σr)² is exact-integer until
# one double division per nation.

_HHI_ORACLE = """
WITH srev AS (
    SELECT s.s_nationkey, l.l_suppkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                         AS BIGINT)) AS HUGEINT) AS revq
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
nat AS (
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(revq) AS HUGEINT) AS tot,
           CAST(SUM(revq * revq) AS HUGEINT) AS ssq
    FROM srev JOIN nation n ON srev.s_nationkey = n.n_nationkey
    GROUP BY 1
)
SELECT nation, n_suppliers,
       ROUND(CAST(tot AS DOUBLE) / 100, 2) AS total_revenue,
       ROUND(CAST(ssq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot), 6) AS hhi,
       ROUND((CAST(ssq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot)
              - 1.0 / n_suppliers)
             / NULLIF(1 - 1.0 / n_suppliers, 0), 6) AS hhi_normalized
FROM nat
ORDER BY nation
"""


@query("herfindahl_concentration", oracle=_HHI_ORACLE)
def herfindahl_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL–HIRSCHMAN INDEX of supplier revenue concentration
    per nation (Σ squared revenue shares, plus the 1/n-floor
    normalized variant; a monopoly nation reads 1.0, a perfectly
    split one 1/n). Completes the inequality lane:
    nation_revenue_gini orders, theil_inequality_decomposition
    splits within/between, HHI prices market power.

    Determinism: per-supplier revenue is the exact centi-unit BIGINT
    convention (queries_tpch); Σr² and (Σr)² stay exact
    HUGEINT/DECIMAL(38,0); HHI is one shared-verbatim double
    division per nation (NULLIF guards single-supplier nations).

    100 TB shape: one map-side (nation, supplier) revenue aggregate
    off the lineitem scan with the supplier/nation dims BROADCAST;
    the squares aggregate runs on the bounded supplier frame."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    srev = (
        li.join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)"
                    " AS BIGINT)"
                )
            ).cast(_DEC).alias("revq")
        )
    )
    natagg = (
        srev.join(
            F.broadcast(nat.select("n_nationkey", "n_name")),
            srev.s_nationkey == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum("revq").alias("tot"),
            F.sum(F.col("revq") * F.col("revq")).alias("ssq"),
        )
    )
    return natagg.select(
        "nation", "n_suppliers",
        F.round(F.expr("CAST(tot AS DOUBLE) / 100"), 2).alias("total_revenue"),
        F.round(
            F.expr("CAST(ssq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot)"), 6
        ).alias("hhi"),
        F.round(
            F.expr(
                "(CAST(ssq AS DOUBLE) / (CAST(tot AS DOUBLE) * tot)"
                " - 1.0 / n_suppliers) / NULLIF(1 - 1.0 / n_suppliers, 0)"
            ),
            6,
        ).alias("hhi_normalized"),
    )  # no driver-side ORDER BY: 25 rows, the compare sorts; a global
    # sort here would pin a rangepartitioning exchange for nothing
