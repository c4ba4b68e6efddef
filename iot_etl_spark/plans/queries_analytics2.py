"""Round-4 analytics: sequence/behavioral operators over ``events``
plus corpus/embedding additions over ``documents``/``embeddings``.

Everything here follows the registry conventions (registry.py):
epoch-second timestamps, ROUND(x, 6) on computed doubles on BOTH
sides, explicit BIGINT casts wherever DuckDB would widen to HUGEINT
(windowed sums, sums of counts — the dtype class guarded by
tests/test_oracle_dtypes.py), and a deterministic tiebreak on every
ORDER BY feeding a LIMIT.

Reference parity: these extend the reference's analytics surface
(warehouse/analytical_queries.sql) with the sequence-mining /
training-corpus operators a large-scale pipeline needs; each
docstring states the 100 TB shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from iot_etl_spark.plans.registry import query, DUCK_TS, DUCK_TS_EPOCH, duck_bucket_epoch
from iot_etl_spark.sources.tables import load_table

_EVT_ORDER = f"ORDER BY {DUCK_TS}, event_id"


def _evt_window() -> Window:
    return Window.partitionBy("user_id").orderBy("ts", "event_id")


# ------------------------------------------------- Markov transitions
_MARKOV_ORACLE = f"""
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id {_EVT_ORDER}) AS prev_type
    FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(COUNT(*) AS BIGINT) AS n_transitions,
       ROUND(COUNT(*)::DOUBLE / SUM(COUNT(*)) OVER (PARTITION BY prev_type), 6)
           AS transition_prob
FROM seq WHERE prev_type IS NOT NULL
GROUP BY 1, 2
"""


@query("markov_event_transitions", oracle=_MARKOV_ORACLE)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences: P(next | prev) with counts. Sequence-mining building
    block (what follows an error? what precedes churn?).

    100 TB shape: one window shuffle on user_id (sequences are
    per-user local), then a 25-key aggregate — the transition matrix
    is tiny regardless of corpus size, and the probability
    normalization is a window over that tiny matrix, not the data."""
    seq = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.lag("event_type").over(_evt_window()).alias("prev_type"),
    )
    counts = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type", "next_type", "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(w), 6
        ).alias("transition_prob"),
    )


# --------------------------------------------------- CUSUM changepoint
CUSUM_SIGMA = 3.0


_CUSUM_ORACLE = f"""
WITH q AS (
    SELECT user_id, {DUCK_TS} AS t, event_id,
           CAST(ROUND(value * 1000000) AS BIGINT) AS vq
    FROM events
),
w AS (
    SELECT user_id, vq,
           COUNT(*) OVER wp AS n,
           CAST(SUM(vq) OVER wp AS BIGINT) AS tot,
           SUM(vq * vq) OVER wp AS s2,
           CAST(SUM(vq) OVER wo AS BIGINT) AS pk,
           ROW_NUMBER() OVER wrk AS k
    FROM q
    WINDOW wp AS (PARTITION BY user_id),
           wo AS (PARTITION BY user_id ORDER BY t, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wrk AS (PARTITION BY user_id ORDER BY t, event_id)
),
f AS (
    SELECT user_id, n,
           ABS(n * pk - k * tot)::DOUBLE / n AS cu,
           (n::DOUBLE * s2::DOUBLE - tot::DOUBLE * tot::DOUBLE)
               / (n * (n - 1)) AS varu
    FROM w
)
SELECT user_id,
       CAST(MAX(n) AS BIGINT) AS n_events,
       ROUND(MAX(cu) / 1000000.0, 6) AS max_abs_cusum,
       CAST(SUM(CASE WHEN cu > {CUSUM_SIGMA} * sqrt(varu) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_exceedances
FROM f
GROUP BY 1
"""


@query("changepoint_cusum", oracle=_CUSUM_ORACLE)
def changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint screen per device: cumulative sum of
    mean-deviations in event order; a drifting mean makes the cusum
    walk away from zero, so max |cusum| and the count of
    |cusum| > 3*sigma excursions flag level shifts (Page's CUSUM, the
    standard sequential changepoint statistic).

    Exactness (the SCALE.md convention, applied after the sf0.1 sweep
    caught a 6th-decimal divergence in the double formulation):
    readings quantize to BIGINT micro-units, and the running deviation
    sum is the all-integer identity C_k = n*P_k - k*TOT (P_k =
    running sum, TOT/n = partition total/count) — no float
    accumulation anywhere in the trajectory, so engines agree bit-for-
    bit regardless of window-aggregation association order (DuckDB
    segment trees vs Spark running frames). The variance for the
    exceedance gate derives from the same exact integers (n*S2 -
    TOT^2) with IEEE ops applied in the identical sequence both
    sides.

    100 TB shape: the whole-partition count/total/S2 and the running
    sum ride the SAME single shuffle on user_id; output is one row
    per device."""
    events = load_table(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id")
    wo = _evt_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    q = events.select(
        "user_id", "ts", "event_id",
        F.expr("CAST(ROUND(value * 1000000) AS BIGINT)").alias("vq"),
    )
    w = q.select(
        "user_id",
        F.count(F.lit(1)).over(wp).alias("n"),
        F.sum("vq").over(wp).alias("tot"),
        F.sum((F.col("vq").cast("decimal(38,0)") * F.col("vq"))).over(wp).alias("s2"),
        F.sum("vq").over(wo).alias("pk"),
        F.row_number().over(_evt_window()).alias("k"),
    )
    f = w.select(
        "user_id", "n",
        (
            F.abs(F.col("n") * F.col("pk") - F.col("k") * F.col("tot"))
            .cast("double") / F.col("n")
        ).alias("cu"),
        (
            (
                F.col("n").cast("double") * F.col("s2").cast("double")
                - F.col("tot").cast("double") * F.col("tot").cast("double")
            )
            / (F.col("n") * (F.col("n") - 1))
        ).alias("varu"),
    )
    return f.groupBy("user_id").agg(
        F.max("n").cast("long").alias("n_events"),
        F.round(F.max("cu") / 1000000.0, 6).alias("max_abs_cusum"),
        F.sum(
            (F.col("cu") > CUSUM_SIGMA * F.sqrt("varu")).cast("long")
        ).alias("n_exceedances"),
    )


# -------------------------------------------- deterministic reservoir
RESERVOIR_K = 10

_RESERVOIR_ORACLE = f"""
SELECT event_type, event_id, CAST(rk AS BIGINT) AS sample_rank
FROM (
    SELECT event_type, event_id,
           ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
           ) AS rk
    FROM events
)
WHERE rk <= {RESERVOIR_K}
"""


@query("reservoir_sample_per_type", oracle=_RESERVOIR_ORACLE)
def reservoir_sample_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample (k={RESERVOIR_K}) per event
    type: rank rows by a content hash and keep the k smallest — the
    replayable equivalent of reservoir sampling (same corpus, same
    sample; no RNG state to coordinate across executors).

    100 TB shape: hash-rank is map-side; the per-type top-k is a
    TakeOrdered per group (partial top-k map-side, then one k-row
    merge per key) — never a full sort."""
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string").cast("binary")), "event_id"
    )
    return (
        load_table(spark, sf_dir, "events")
        .select("event_type", "event_id", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= RESERVOIR_K)
        .select("event_type", "event_id", F.col("sample_rank").cast("long"))
    )


# ------------------------------------------------- inter-arrival stats
_INTERARRIVAL_ORACLE = f"""
WITH g AS (
    SELECT user_id,
           {DUCK_TS_EPOCH} - LAG({DUCK_TS_EPOCH}) OVER (
               PARTITION BY user_id {_EVT_ORDER}
           ) AS gap
    FROM events
)
SELECT user_id,
       CAST(COUNT(gap) AS BIGINT) AS n_gaps,
       CAST(MIN(gap) AS BIGINT) AS min_gap_s,
       CAST(MAX(gap) AS BIGINT) AS max_gap_s,
       ROUND(AVG(gap), 6) AS avg_gap_s,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap), 6) AS p50_gap_s,
       ROUND(percentile_cont(0.95) WITHIN GROUP (ORDER BY gap), 6) AS p95_gap_s
FROM g WHERE gap IS NOT NULL
GROUP BY 1
"""


@query("inter_arrival_stats", oracle=_INTERARRIVAL_ORACLE)
def inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per device (seconds between
    consecutive events): min/max/avg plus exact p50/p95 — the
    heartbeat-health profile that feeds availability SLOs and
    sampling-rate audits.

    100 TB shape: one window shuffle on user_id computes the lag;
    the aggregate rides the same partitioning (no second shuffle)."""
    ep = F.unix_timestamp(F.col("ts")).cast("long")
    g = load_table(spark, sf_dir, "events").select(
        "user_id", (ep - F.lag(ep).over(_evt_window())).alias("gap")
    ).filter(F.col("gap").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap").alias("n_gaps"),
        F.min("gap").alias("min_gap_s"),
        F.max("gap").alias("max_gap_s"),
        F.round(F.avg("gap"), 6).alias("avg_gap_s"),
        F.round(F.percentile("gap", F.lit(0.5)), 6).alias("p50_gap_s"),
        F.round(F.percentile("gap", F.lit(0.95)), 6).alias("p95_gap_s"),
    )


# ------------------------------------------------------ burst detection
BURST_Z = 2.0

_BURST_ORACLE = f"""
WITH m AS (
    SELECT user_id, {duck_bucket_epoch('minute')} AS bucket_epoch,
           COUNT(*) AS c
    FROM events GROUP BY 1, 2
),
s AS (
    SELECT user_id, AVG(c) AS mu, STDDEV(c) AS sd FROM m GROUP BY 1
)
SELECT m.user_id, m.bucket_epoch,
       CAST(m.c AS BIGINT) AS n_events,
       ROUND((m.c - s.mu) / s.sd, 6) AS burst_z
FROM m JOIN s USING (user_id)
WHERE s.sd > 0 AND (m.c - s.mu) / s.sd > {BURST_Z}
"""


@query("burst_detection", oracle=_BURST_ORACLE)
def burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity bursts: minute buckets whose event count sits more
    than {BURST_Z} sigma above the device's own active-minute
    baseline — the rate-anomaly complement to the value-anomaly
    z-score (operators/anomaly.py).

    100 TB shape: the minute pre-aggregate shrinks the data ~events/
    minutes-fold BEFORE the per-device stats; baseline + join ride
    one shuffle on user_id (the baseline side is the tiny
    aggregate)."""
    events = load_table(spark, sf_dir, "events")
    m = (
        events.groupBy(
            "user_id",
            F.unix_timestamp(F.date_trunc("minute", F.col("ts"))).cast("long").alias(
                "bucket_epoch"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    wp = Window.partitionBy("user_id")
    z = m.select(
        "user_id", "bucket_epoch", "n_events",
        (
            (F.col("n_events") - F.avg("n_events").over(wp))
            / F.stddev("n_events").over(wp)
        ).alias("z"),
        F.stddev("n_events").over(wp).alias("sd"),
    )
    return (
        z.filter((F.col("sd") > 0) & (F.col("z") > BURST_Z))
        .select("user_id", "bucket_epoch", "n_events", F.round("z", 6).alias("burst_z"))
    )


# -------------------------------------------------- device co-occurrence
COOCCUR_MIN = 3

_COOCCUR_ORACLE = f"""
WITH a AS (
    SELECT DISTINCT {duck_bucket_epoch('minute')} AS b, user_id FROM events
),
p AS (
    SELECT x.user_id AS user_a, y.user_id AS user_b, COUNT(*) AS c
    FROM a x JOIN a y ON x.b = y.b AND x.user_id < y.user_id
    GROUP BY 1, 2
)
SELECT user_a, user_b, CAST(c AS BIGINT) AS n_cominutes
FROM p WHERE c >= {COOCCUR_MIN}
"""


def minute_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (minute-bucket, user) activity — the shared root of
    the co-activity graph family (cooccurrence / triangles /
    pagerank), served from the materialized stage
    (graphedges.exact_minute_activity)."""
    from iot_etl_spark.plans.graphedges import exact_minute_activity

    return exact_minute_activity(spark, sf_dir)


def _cooccurrence_from_activity(a: DataFrame) -> DataFrame:
    buckets = (
        a.groupBy("b")
        .agg(F.array_sort(F.collect_list("user_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(0, size(ids) - 2), i -> "
                "transform(sequence(i + 1, size(ids) - 1), j -> "
                "struct(ids[i] AS a, ids[j] AS b))))"
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.a").alias("user_a"), F.col("p.b").alias("user_b")
        )
        .agg(F.count(F.lit(1)).alias("n_cominutes"))
        .filter(F.col("n_cominutes") >= COOCCUR_MIN)
    )


@query("device_cooccurrence", oracle=_COOCCUR_ORACLE)
def device_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Device co-activity graph: pairs of devices active in the same
    minute bucket at least {COOCCUR_MIN} times — correlated-device
    discovery (shared gateway, duplicated stream, physical
    coupling).

    100 TB shape: NOT a self-join on the bucket key (a hot minute
    would square) — distinct (minute, device) rows group per minute
    into a sorted id array and pairs expand WITHIN the bucket, so
    cost is sum of per-minute-activity^2, bounded by concurrent
    activity, not corpus size; the pair aggregate is the only other
    shuffle. Same shape as the LSH band-bucket pair expansion
    (queries_text._band_candidate_pairs). A flash-crowd minute is
    still quadratic in ITS occupancy — the bounded-fan-out variant is
    device_cooccurrence_capped (plans/graphedges.py)."""
    return _cooccurrence_from_activity(minute_activity(spark, sf_dir))


from iot_etl_spark.plans.graphedges import (  # noqa: E402 - grouped section import
    COACT_BUCKET_CAP,
    cap_bucket_activity,
    duck_capped_activity,
)

_COOCCUR_CAPPED_ORACLE = f"""
WITH a AS (
    SELECT b, user_id FROM {duck_capped_activity(duck_bucket_epoch('minute'), COACT_BUCKET_CAP)}
),
p AS (
    SELECT x.user_id AS user_a, y.user_id AS user_b, COUNT(*) AS c
    FROM a x JOIN a y ON x.b = y.b AND x.user_id < y.user_id
    GROUP BY 1, 2
)
SELECT user_a, user_b, CAST(c AS BIGINT) AS n_cominutes
FROM p WHERE c >= {COOCCUR_MIN}
"""


@query("device_cooccurrence_capped", oracle=_COOCCUR_CAPPED_ORACLE)
def device_cooccurrence_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """device_cooccurrence with the hot-bucket guard as CODE (VERDICT
    r5 item 4): per minute bucket, only the {COACT_BUCKET_CAP}
    lowest-id active devices contribute pairs — per-bucket expansion
    is bounded at cap*(cap-1)/2 regardless of a flash crowd's size,
    so the plan survives a minute with 10^6 active devices. The cap is
    a per-bucket row_number (sort-based, spillable), applied BEFORE
    the collect/expand, and is non-binding at every test SF (max
    observed occupancy 12 at sf0.1, so output == exact twin; pinned
    by tests/test_graph_caps.py). Oracle applies the identical min-id
    cap. The capped activity frame is the stage-cached root shared
    with the other two capped twins
    (graphedges.capped_minute_activity)."""
    from iot_etl_spark.plans.graphedges import capped_minute_activity

    return _cooccurrence_from_activity(capped_minute_activity(spark, sf_dir))


# --------------------------------------------------- session path top-k
SESSION_GAP_S = 30 * 60
PATH_LEN = 3
PATH_TOPK = 10

_SESSION_PATH_ORACLE = f"""
WITH o AS (
    -- gaps on MICROSECOND epochs (the session_stats convention):
    -- second-truncated epochs shift true gaps of 1799.xx/1800.xx s
    -- across the boundary and split sessions differently from
    -- Spark's microsecond session_window (caught by the sf0.1 sweep)
    SELECT user_id, event_id, event_type, {DUCK_TS} AS t,
           CASE WHEN LAG(epoch_us({DUCK_TS})) OVER w IS NULL
                     OR epoch_us({DUCK_TS}) - LAG(epoch_us({DUCK_TS})) OVER w
                        >= {SESSION_GAP_S} * 1000000
                THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id {_EVT_ORDER})
),
s AS (
    SELECT user_id, event_type, t, event_id,
           SUM(new_s) OVER (
               PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_id
    FROM o
),
r AS (
    SELECT user_id, session_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, session_id ORDER BY t, event_id) AS rn
    FROM s
),
paths AS (
    SELECT user_id, session_id,
           STRING_AGG(event_type, '>' ORDER BY rn) AS path
    FROM r WHERE rn <= {PATH_LEN}
    GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT {PATH_TOPK}
"""


@query("session_path_topk", oracle=_SESSION_PATH_ORACLE)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common session-opening paths: sessionize at a 30-minute
    inactivity gap (same convention as session_stats), take each
    session's first {PATH_LEN} event types as a '>'-joined path,
    count paths, top {PATH_TOPK} with a path tiebreak — the
    behavioral-funnel complement to funnel_conversion.

    100 TB shape: session_window is the native streaming-ready
    sessionizer (one shuffle on user_id); path assembly sorts only
    WITHIN a session's collected head (bounded by session length);
    the path count is a tiny-key aggregate + global top-k
    (TakeOrderedAndProject)."""
    events = load_table(spark, sf_dir, "events")
    sess = (
        events.groupBy(F.session_window("ts", "30 minutes"), F.col("user_id"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("ts"), F.col("event_id"), F.col("event_type")))
            ).alias("evs")
        )
    )
    paths = sess.select(
        F.concat_ws(
            ">",
            F.expr(f"transform(slice(evs, 1, {PATH_LEN}), e -> e.event_type)"),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(PATH_TOPK)
    )


# --------------------------------------------------- lag-1 autocorrelation
_AUTOCORR_ORACLE = f"""
WITH l AS (
    SELECT user_id, value,
           LAG(value) OVER (PARTITION BY user_id {_EVT_ORDER}) AS pv
    FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CORR(value, pv), 6) AS lag1_autocorr
FROM l WHERE pv IS NOT NULL
GROUP BY 1
"""


@query("value_autocorr", oracle=_AUTOCORR_ORACLE)
def value_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the reading series per device
    (Pearson corr of value with its predecessor): near 1 = smooth
    drift, near 0 = noise, negative = oscillation — the cheapest
    signal-vs-noise triage there is.

    100 TB shape: lag + corr ride one shuffle on user_id; corr is a
    streaming moment aggregate (no second pass)."""
    l = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id", "value",
            F.lag("value").over(_evt_window()).alias("pv"),
        )
        .filter(F.col("pv").isNotNull())
    )
    return l.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.corr("value", "pv"), 6).alias("lag1_autocorr"),
    )


# ===================================================================
# documents / embeddings additions
# ===================================================================

from iot_etl_spark.plans.queries_text import (  # noqa: E402 - grouped section import
    _DUCK_SHINGLES,
    _MINHASH_CTES,
    _band_candidate_pairs,
    _band_sigs_cached,
    _shingle_sets_cached,
)


# ------------------------------------------------------ n-gram novelty
_NOVELTY_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS g FROM w),
f AS (SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
           AS novel_shingles,
       ROUND(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS novelty_fraction
FROM sh s JOIN f USING (g)
GROUP BY 1
"""


@query("ngram_novelty", oracle=_NOVELTY_ORACLE)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty in doc_id (ingestion) order: the
    fraction of a doc's distinct 3-gram shingles that no earlier doc
    contains — the streaming-dedup view of corpus growth (novelty ~ 0
    means the doc adds nothing; the curve over doc_id is the corpus
    saturation curve).

    100 TB shape: one shuffle groups the shingle stream by gram to
    find each gram's first doc (min doc_id, map-side combinable); the
    join back to the stream reuses the same gram partitioning. No
    per-doc state, no iteration."""
    sh = _shingle_sets_cached(spark, sf_dir).select(
        "doc_id", F.explode("s").alias("g")
    )
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    j = sh.join(first, "g")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
            "novel_shingles"
        ),
        F.round(
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            / F.count(F.lit(1)),
            6,
        ).alias("novelty_fraction"),
    )


# --------------------------------------------- length-bucket histogram
LENGTH_BUCKET = 100

_LENGTH_HIST_ORACLE = f"""
SELECT CAST(n_chars // {LENGTH_BUCKET} * {LENGTH_BUCKET} AS BIGINT) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM documents), 6) AS share
FROM documents
GROUP BY 1
"""


@query("length_bucket_histogram", oracle=_LENGTH_HIST_ORACLE)
def length_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in {LENGTH_BUCKET}-char buckets with
    corpus share — the first chart of any corpus audit (truncation
    spikes, boilerplate walls, length-filter sizing).

    100 TB shape: one tiny-key aggregate; the total for the share is
    a 1-row broadcast join-back (the TPC-H scalar-subquery
    convention), never a single-partition window."""
    docs = load_table(spark, sf_dir, "documents")
    hist = docs.groupBy(
        (F.floor(F.col("n_chars") / LENGTH_BUCKET) * LENGTH_BUCKET)
        .cast("long")
        .alias("bucket_lo")
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    total = docs.agg(F.count(F.lit(1)).alias("__total"))
    return hist.join(F.broadcast(total)).select(
        "bucket_lo", "n_docs",
        F.round(F.col("n_docs") / F.col("__total"), 6).alias("share"),
    )


# ----------------------------------------------- token entropy per doc
_TOKEN_ENTROPY_ORACLE = """
WITH wc AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
c AS (SELECT doc_id, w, COUNT(*) AS c FROM wc GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
       ROUND(ln(SUM(c)) - SUM(c::DOUBLE * ln(c::DOUBLE)) / SUM(c), 6)
           AS token_entropy,
       ROUND(COUNT(*)::DOUBLE / SUM(c), 6) AS distinct_ratio
FROM c
GROUP BY 1
"""


@query("token_entropy_stats", oracle=_TOKEN_ENTROPY_ORACLE)
def token_entropy_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution plus
    type-token ratio — the standard repetition/diversity quality
    signals (low entropy = keyword stuffing / boilerplate loops;
    they complement repetition_stats' surface-level counters).

    100 TB shape: two-level aggregate — (doc, word) counts with
    map-side combine, then a per-doc fold; both shuffles are on
    doc-scoped keys, state bounded by per-doc vocabulary. Entropy
    uses the one-pass identity H = ln(n) - sum(c*ln c)/n, so no
    window / second pass is needed on either engine."""
    wc = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    c = wc.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.sum(F.col("c") * F.log("c")).alias("_clnc"),
        )
        .select(
            "doc_id", "n_tokens", "n_distinct_tokens",
            F.round(
                F.log("n_tokens") - F.col("_clnc") / F.col("n_tokens"), 6
            ).alias("token_entropy"),
            F.round(F.col("n_distinct_tokens") / F.col("n_tokens"), 6).alias(
                "distinct_ratio"
            ),
        )
    )


# --------------------------------------------------- language mix per source
_LANG_MIX_ORACLE = """
WITH lc AS (SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
r AS (
    SELECT source, lang, c,
           SUM(c) OVER (PARTITION BY source) AS n,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rk
    FROM lc
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_langs,
       MIN(CASE WHEN rk = 1 THEN lang END) AS top_lang,
       ROUND(ln(SUM(c)) - SUM(c::DOUBLE * ln(c::DOUBLE)) / SUM(c), 6)
           AS lang_entropy
FROM r
GROUP BY 1
"""


@query("text_lang_mix", oracle=_LANG_MIX_ORACLE)
def text_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language mix per source: doc count, language count, dominant
    language (count-desc, lang-asc tiebreak), and the Shannon entropy
    of the language distribution — the corpus-composition dashboard
    row that mixture_sampling_weights consumes upstream.

    100 TB shape: everything happens on the (source, lang) aggregate
    (tens of rows); the only data-sized shuffle is the first
    map-side-combined count."""
    lc = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    rk = Window.partitionBy("source").orderBy(F.desc("c"), "lang")
    r = lc.select("source", "lang", "c", F.row_number().over(rk).alias("rk"))
    return r.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.min(F.when(F.col("rk") == 1, F.col("lang"))).alias("top_lang"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"), 6
        ).alias("lang_entropy"),
    )


# ------------------------------------------- embedding centroid drift
_CENTROID_DRIFT_ORACLE = """
WITH v AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
long AS (
    SELECT vec_id, label, generate_subscripts(emb, 1) AS i, unnest(emb) AS x
    FROM v
),
cent AS (
    SELECT label, i,
           AVG(CASE WHEN vec_id % 2 = 0 THEN x END) AS ca,
           AVG(CASE WHEN vec_id % 2 = 1 THEN x END) AS cb,
           COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS na,
           COUNT(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS nb
    FROM long GROUP BY 1, 2
)
SELECT label,
       CAST(MAX(na) AS BIGINT) AS n_even,
       CAST(MAX(nb) AS BIGINT) AS n_odd,
       ROUND(SUM(ca * cb) / (sqrt(SUM(ca * ca)) * sqrt(SUM(cb * cb))), 6)
           AS centroid_cosine
FROM cent
GROUP BY 1
"""


@query("embedding_centroid_drift", oracle=_CENTROID_DRIFT_ORACLE)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift check: split each label's vectors into two
    halves (vec_id parity standing in for time/shard), compute both
    half-centroids, and report their cosine — the monitoring query
    that catches encoder version skew or distribution shift between
    corpus slices (cosine ~ 1.0 means stable).

    100 TB shape: posexplode + ONE (label, dim) aggregate computes
    both half-centroids via conditional AVG in the same pass (no
    self-join of halves); the final per-label cosine folds 64-dim
    centroid rows. Shuffle volume is vectors x dims once, then
    centroids only."""
    from iot_etl_spark.plans.queries_embed import _as_double

    long = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.posexplode(_as_double()).alias("i", "x")
    )
    even = F.when(F.col("vec_id") % 2 == 0, F.col("x"))
    odd = F.when(F.col("vec_id") % 2 == 1, F.col("x"))
    cent = long.groupBy("label", "i").agg(
        F.avg(even).alias("ca"),
        F.avg(odd).alias("cb"),
        F.count(even).alias("na"),
        F.count(odd).alias("nb"),
    )
    return cent.groupBy("label").agg(
        F.max("na").alias("n_even"),
        F.max("nb").alias("n_odd"),
        F.round(
            F.sum(F.col("ca") * F.col("cb"))
            / (
                F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                * F.sqrt(F.sum(F.col("cb") * F.col("cb")))
            ),
            6,
        ).alias("centroid_cosine"),
    )


# --------------------------------------- per-doc dedup signature index
_DEDUP_SIGNATURES_ORACLE = f"""
WITH {_MINHASH_CTES},
partners AS (
    SELECT doc_id, COUNT(*) AS n FROM (
        SELECT doc_id_a AS doc_id FROM cand
        UNION ALL
        SELECT doc_id_b AS doc_id FROM cand
    ) GROUP BY 1
),
exact_flags AS (
    SELECT doc_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_exact_dup
    FROM documents
)
SELECT exact_flags.doc_id, exact_flags.is_exact_dup,
       CAST(COALESCE(partners.n, 0) AS BIGINT) AS n_lsh_partners
FROM exact_flags LEFT JOIN partners USING (doc_id)
"""


@query("dedup_family_signatures", oracle=_DEDUP_SIGNATURES_ORACLE)
def dedup_family_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document dedup signature index: exact-duplicate flag
    (content-digest grouping) plus the document's LSH candidate
    degree (how many near-dup partners the MinHash bands propose) —
    the per-doc triage view a dedup pipeline consults before deciding
    drop/keep/review.

    100 TB shape: the exact flag is one digest-keyed window; the LSH
    degree REUSES the materialized band-signature stage
    (plans/stagecache.py) shared with the rest of the dedup family,
    so this query adds only the pair expansion + a left join back to
    docs."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    wd = W.partitionBy(F.md5(F.col("text")))
    ex = docs.select(
        "doc_id",
        (F.col("doc_id") != F.min("doc_id").over(wd)).alias("is_exact_dup"),
    )
    cand = _band_candidate_pairs(_band_sigs_cached(spark, sf_dir))
    partners = (
        cand.select(F.col("doc_id_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return ex.join(partners, "doc_id", "left").select(
        "doc_id", "is_exact_dup",
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_lsh_partners"),
    )


# ------------------------------------------------ packing efficiency
from iot_etl_spark.plans.queries_corpus import (  # noqa: E402 - grouped section import
    _PACKING_ORACLE,
    SEQ_LEN,
    sequence_packing,
)

_PACK_EFFICIENCY_ORACLE = f"""
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n_packs,
       CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
       CAST(SUM(total_tokens) AS BIGINT) AS total_tokens,
       ROUND(SUM(total_tokens)::DOUBLE / (COUNT(*) * {SEQ_LEN}), 6)
           AS fill_efficiency
FROM ({_PACKING_ORACLE})
GROUP BY 1
"""


@query("pack_efficiency_stats", oracle=_PACK_EFFICIENCY_ORACLE)
def pack_efficiency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing efficiency per packing stream: how full the
    {SEQ_LEN}-token training sequences produced by sequence_packing
    actually are (fill = tokens / (packs x SEQ_LEN)) — THE metric a
    data-loader team watches, since every point of slack is paid GPU
    time.

    Composes directly over the registered sequence_packing query (one
    extra tiny-key aggregate), so the two stay consistent by
    construction."""
    return (
        sequence_packing(spark, sf_dir)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_packs"),
            F.sum("n_chunks").alias("total_chunks"),
            F.sum("total_tokens").alias("total_tokens"),
            F.round(
                F.sum("total_tokens") / (F.count(F.lit(1)) * SEQ_LEN), 6
            ).alias("fill_efficiency"),
        )
    )


# --------------------------------------------- quantile sketch audit
SKETCH_ACCURACY = 10_000

_SKETCH_AUDIT_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_values,
       ROUND(quantile_cont(value, 0.5), 6) AS p50_exact,
       ROUND(quantile_cont(value, 0.95), 6) AS p95_exact,
       TRUE AS p50_within_bound,
       TRUE AS p95_within_bound
FROM events
GROUP BY 1
"""


@query("quantile_sketch_audit", oracle=_SKETCH_AUDIT_ORACLE)
def quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the Greenwald-Khanna sketch path against the exact
    percentiles: per event type, exact p50/p95 plus a verified claim
    that `percentile_approx` (accuracy = SKETCH_ACCURACY) returned a
    value whose rank is within the algorithm's published bound
    (rank error <= n/accuracy, Greenwald & Khanna 2001).

    This puts the sketch (the documented 100 TB swap for exact
    percentile buffering) under the same DuckDB oracle gate as
    the exact operators: the oracle re-derives the exact quantiles and
    asserts the bound booleans — if the sketch ever drifts outside its
    guarantee the hash breaks.

    100 TB shape: the exact side is the test harness, not the scale
    path; the sketch side is a one-pass mergeable partial aggregate
    (fixed memory per group), and the rank probe joins the events scan
    against the broadcast 5-row sketch output — no extra shuffle."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    prof = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_values"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50_exact"),
        F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95_exact"),
        F.percentile_approx("value", F.lit(0.5), F.lit(SKETCH_ACCURACY)).alias("_a50"),
        F.percentile_approx("value", F.lit(0.95), F.lit(SKETCH_ACCURACY)).alias("_a95"),
    )
    # Possible ranks of the returned value v span
    # [count(< v) + 1, count(<= v)]; GK guarantees that interval
    # intersects [q*n - eps*n, q*n + eps*n] with eps = 1/accuracy
    # (+1 slack for the floor/ceil conventions at interval edges).
    ranks = (
        ev.join(F.broadcast(prof.select("event_type", "_a50", "_a95")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum((F.col("value") <= F.col("_a50")).cast("long")).alias("le50"),
            F.sum((F.col("value") < F.col("_a50")).cast("long")).alias("lt50"),
            F.sum((F.col("value") <= F.col("_a95")).cast("long")).alias("le95"),
            F.sum((F.col("value") < F.col("_a95")).cast("long")).alias("lt95"),
        )
    )
    eps_n = F.col("n_values") / SKETCH_ACCURACY + 1.0

    def within(q: float, le: str, lt: str):
        target = F.col("n_values") * q
        return (F.col(le) >= target - eps_n) & (F.col(lt) + 1 <= target + eps_n)

    return prof.join(ranks, "event_type").select(
        "event_type", "n_values", "p50_exact", "p95_exact",
        within(0.5, "le50", "lt50").alias("p50_within_bound"),
        within(0.95, "le95", "lt95").alias("p95_within_bound"),
    )


# ----------------------------------------------- schema drift audit
_DRIFT_NULL_JUMP = 0.01

_SCHEMA_DRIFT_ORACLE = f"""
WITH prof AS (
    SELECT {duck_bucket_epoch("week")} AS week_epoch,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           ROUND(1.0 - COUNT(value)::DOUBLE / COUNT(*), 6) AS null_value_rate,
           ROUND(1.0 - COUNT(props)::DOUBLE / COUNT(*), 6) AS null_props_rate,
           ROUND(MIN(value), 6) AS value_min,
           ROUND(MAX(value), 6) AS value_max
    FROM events
    GROUP BY 1
),
keysets AS (
    SELECT week_epoch, md5(string_agg(DISTINCT k, ',' ORDER BY k)) AS keyset_fingerprint
    FROM (
        SELECT {duck_bucket_epoch("week")} AS week_epoch,
               unnest(json_keys(props)) AS k
        FROM events WHERE props IS NOT NULL
    )
    GROUP BY 1
)
SELECT p.week_epoch, p.n_events, p.n_types, p.null_value_rate,
       p.null_props_rate, p.value_min, p.value_max,
       ks.keyset_fingerprint,
       COALESCE(ks.keyset_fingerprint <>
           LAG(ks.keyset_fingerprint) OVER (ORDER BY p.week_epoch), FALSE)
           AS keyset_changed,
       COALESCE(ABS(p.null_value_rate -
           LAG(p.null_value_rate) OVER (ORDER BY p.week_epoch)) > {_DRIFT_NULL_JUMP},
           FALSE) AS null_rate_jump
FROM prof p LEFT JOIN keysets ks ON p.week_epoch = ks.week_epoch
"""


@query("schema_drift_audit", oracle=_SCHEMA_DRIFT_ORACLE)
def schema_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly observed-schema / profile drift audit over the raw event
    feed: per ISO week, the event volume, the distinct-type count, the
    null rates of the payload columns, the value range, and a
    fingerprint of the set of JSON keys observed in `props` — plus
    week-over-week drift flags (key-set changed; null-rate jumped by
    more than 1 point). This is the ingestion-guard a pipeline runs
    BEFORE schema evolution (``TxTable.append(allow_evolution=True)``):
    upstream producers change payloads without notice, and the
    earliest signal is the observed key-set / null-profile moving.

    100 TB shape: everything reduces in ONE pass over the scan into a
    handful of weekly rows (the key explode is map-side; both
    aggregates share the week key), and the LAG comparisons run on the
    tiny weekly frame — a single-partition window over ~52 rows/year,
    not over the data."""
    ev = load_table(spark, sf_dir, "events")
    week = F.unix_timestamp(F.date_trunc("week", F.col("ts"))).alias("week_epoch")
    prof = ev.groupBy(week).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
        F.round(1.0 - F.count("value") / F.count(F.lit(1)), 6).alias("null_value_rate"),
        F.round(1.0 - F.count("props") / F.count(F.lit(1)), 6).alias("null_props_rate"),
        F.round(F.min("value"), 6).alias("value_min"),
        F.round(F.max("value"), 6).alias("value_max"),
    )
    keysets = (
        ev.filter(F.col("props").isNotNull())
        .select(week, F.explode(F.json_object_keys("props")).alias("k"))
        .groupBy("week_epoch")
        .agg(
            F.md5(F.concat_ws(",", F.array_sort(F.collect_set("k"))))
            .alias("keyset_fingerprint")
        )
    )
    w = Window.orderBy("week_epoch")
    joined = prof.join(keysets, "week_epoch", "left")
    return joined.select(
        "week_epoch", "n_events", "n_types", "null_value_rate",
        "null_props_rate", "value_min", "value_max", "keyset_fingerprint",
        F.coalesce(
            F.col("keyset_fingerprint")
            != F.lag("keyset_fingerprint").over(w),
            F.lit(False),
        ).alias("keyset_changed"),
        F.coalesce(
            F.abs(
                F.col("null_value_rate") - F.lag("null_value_rate").over(w)
            )
            > _DRIFT_NULL_JUMP,
            F.lit(False),
        ).alias("null_rate_jump"),
    )


# ------------------------------- multi-touch linear attribution
_MTA_ORACLE = f"""
WITH o AS (
    SELECT user_id, event_id, event_type, {DUCK_TS} AS t,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY {DUCK_TS}, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS conv_seq,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id
           ) AS n_conv
    FROM events
),
touches AS (
    SELECT user_id, event_type AS touch_type, conv_seq
    FROM o WHERE event_type <> 'purchase' AND conv_seq < n_conv
),
segs AS (
    SELECT user_id, conv_seq, COUNT(*) AS k
    FROM touches GROUP BY 1, 2
)
SELECT t.touch_type,
       CAST(s.k AS BIGINT) AS segment_size,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       ROUND(COUNT(*) / CAST(s.k AS DOUBLE), 6) AS attributed_conversions
FROM touches t JOIN segs s ON s.user_id = t.user_id AND s.conv_seq = t.conv_seq
GROUP BY t.touch_type, s.k
"""


@query("linear_attribution", oracle=_MTA_ORACLE)
def linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution: every non-purchase touch
    between two conversions shares the following conversion's credit
    equally (1/k to each of the k touches in the segment); touches
    after a user's last conversion earn nothing. Reported per
    (touch type, segment size) so every credit value in the output is
    ONE integer division — counts accumulate exactly as BIGINT and
    the only float appears per output row, so no distributed
    accumulation order can shift the 6th decimal (the same discipline
    as the PPS/HT and truncation audits).

    100 TB shape: one user-partitioned running-sum window assigns
    each touch its segment, one (user, segment) aggregate sizes the
    segments, one join back, one small final aggregate — all shuffles
    keyed, output cardinality is types x segment sizes."""
    ev = load_table(spark, sf_dir, "events")
    is_conv = (F.col("event_type") == "purchase").cast("int")
    wo = _evt_window().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wp = Window.partitionBy("user_id")
    o = ev.select(
        "user_id", "event_id", "event_type",
        F.sum(is_conv).over(wo).alias("conv_seq"),
        F.sum(is_conv).over(wp).alias("n_conv"),
    )
    touches = o.filter(
        (F.col("event_type") != "purchase") & (F.col("conv_seq") < F.col("n_conv"))
    ).select("user_id", F.col("event_type").alias("touch_type"), "conv_seq")
    segs = touches.groupBy("user_id", "conv_seq").agg(F.count(F.lit(1)).alias("k"))
    return (
        touches.join(segs, ["user_id", "conv_seq"])
        .groupBy("touch_type", F.col("k").cast("long").alias("segment_size"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_touches"))
        .select(
            "touch_type", "segment_size", "n_touches",
            F.round(
                F.col("n_touches") / F.col("segment_size").cast("double"), 6
            ).alias("attributed_conversions"),
        )
    )


# ------------------------------- Kaplan-Meier waiting-time survival
# Each hazard term ln(1 - d/n) is one double from two exact BIGINTs
# (identical IEEE both engines), quantized to nano-unit BIGINTs so
# the running product — accumulated as an integer log-sum in
# duration order — is immune to accumulation order; S(t) =
# EXP(cum/1e9) is one shared final expression. Same fixed-point
# device as pagerank / bm25_retrieval. Curve reported at whole-hour
# durations to keep the output a readable head.
_KM_SURV_SQL = "ROUND(EXP(CAST(cum_nano AS DOUBLE) / 1e9), 6)"

_KM_ORACLE = """
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
           CASE WHEN d = n THEN NULL
                WHEN d = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND(LN(1 - CAST(d AS DOUBLE) / n) * 1e9) AS BIGINT)
           END AS nano
    FROM risk
),
cum AS (
    SELECT *,
           CAST(COALESCE(SUM(nano) OVER (ORDER BY t_min
                                         ROWS UNBOUNDED PRECEDING), 0)
                AS BIGINT) AS cum_nano,
           CAST(COUNT(*) FILTER (nano IS NULL)
                OVER (ORDER BY t_min ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS died_out
    FROM terms
)
SELECT t_min, n AS n_at_risk, d AS n_ended,
       CASE WHEN died_out > 0 THEN 0.0 ELSE {SURV} END AS survival
FROM cum
WHERE d > 0 AND t_min % 60 = 0
""".replace("{SURV}", _KM_SURV_SQL)


@query("kaplan_meier_waits", oracle=_KM_ORACLE)
def kaplan_meier_waits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER SURVIVAL ESTIMATOR over inter-event waiting times
    — the product-limit curve with REAL right-censoring: every gap
    between a user's consecutive events is an observed spell (the
    wait ended in an event); the tail from each user's last event to
    the end of observation is a CENSORED spell (the wait was still
    running when the data stops). S(t) = prod over ended-spell
    durations t' <= t of (1 - d/n), censored spells leaving the risk
    set without contributing an end — the estimator that keeps
    "time until next activity" honest when the window truncates the
    longest waits. Curve sampled at whole-hour durations.

    Determinism: d and n are BIGINTs (cells per distinct duration
    minute; risk set = one descending running sum); each hazard
    log-term is one double from two integers, quantized to nano units
    BEFORE the running sum, so the product is an integer log-sum in
    duration order; the only unshared float op is the final
    shared-verbatim EXP. A d = n cell (all remaining spells end at
    once) pins survival to exactly 0 from that duration on.

    100 TB shape: one user_id shuffle for the LEAD spells, one cell
    aggregate whose key cardinality is bounded by the observation
    span in minutes (not by rows); both windows run over cells.
    Reference parity: none — growth-analytics extension of the
    DAU/streak/retention family (inter_arrival_stats reports moments;
    this reports the censoring-corrected distribution)."""
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
        F.when(F.col("d") == F.col("n"), F.lit(None))
        .when(F.col("d") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.round(
                F.log(1 - F.col("d").cast("double") / F.col("n")) * F.lit(1e9)
            ).cast("long")
        ),
    )
    w_asc = (
        Window.partitionBy()
        .orderBy("t_min")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = terms.withColumns(
        {
            "cum_nano": F.coalesce(F.sum("nano").over(w_asc), F.lit(0)).cast(
                "long"
            ),
            "died_out": F.count(
                F.when(F.col("nano").isNull(), 1)
            ).over(w_asc).cast("long"),
        }
    )
    return cum.filter((F.col("d") > 0) & (F.col("t_min") % 60 == 0)).select(
        "t_min",
        F.col("n").alias("n_at_risk"),
        F.col("d").alias("n_ended"),
        F.when(F.col("died_out") > 0, F.lit(0.0))
        .otherwise(F.expr(_KM_SURV_SQL))
        .alias("survival"),
    )


# --------------------- Markov backtest: top-1 next-event accuracy
_MARKOV_ACC_ORACLE = f"""
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id {_EVT_ORDER}) AS prev_type
    FROM events
),
cnt AS (
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY prev_type
                                 ORDER BY c DESC, next_type) AS rk
    FROM cnt
)
SELECT r.prev_type,
       CAST(SUM(r.c) AS BIGINT) AS n_transitions,
       MAX(CASE WHEN r.rk = 1 THEN r.next_type END) AS predicted_next,
       ROUND(SUM(CASE WHEN r.rk = 1 THEN r.c ELSE 0 END)::DOUBLE
             / SUM(r.c), 6) AS top1_accuracy
FROM ranked r GROUP BY 1
"""


@query("markov_prediction_accuracy", oracle=_MARKOV_ACC_ORACLE)
def markov_prediction_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BACKTEST of the first-order Markov model: for each context
    (prev_type), predict the argmax next type from the transition
    counts (count DESC, type tiebreak) and report the in-sample top-1
    accuracy — the evaluation leg markov_event_transitions was
    missing, and the number that says whether sequential structure
    exists at all (accuracy ≈ the majority-class rate means it
    doesn't). In-sample by design (the model IS the count matrix);
    a held-out variant splits by the group-k-fold hash first.

    Determinism: pure integer counts; the argmax is a row_number with
    a total tiebreak; accuracy is one final division.

    100 TB shape: identical to markov_event_transitions — one user_id
    window shuffle, then every later step runs on the |types|^2
    transition matrix. Reference parity: none — sequence-analytics
    extension."""
    seq = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.lag("event_type").over(_evt_window()).alias("prev_type"),
    )
    cnt = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = cnt.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("prev_type").orderBy(F.col("c").desc(), "next_type")
        ),
    )
    return ranked.groupBy("prev_type").agg(
        F.sum("c").cast("long").alias("n_transitions"),
        F.max(F.when(F.col("rk") == 1, F.col("next_type"))).alias("predicted_next"),
        F.round(
            F.sum(F.when(F.col("rk") == 1, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c"),
            6,
        ).alias("top1_accuracy"),
    )


# --------------------------- seasonal-naive backtest (forecast eval)
# Hour-of-week seasonal profile as the predictor, per-type mean as the
# baseline; in-sample MAE of both and the resulting skill score. All
# accumulation is micro-unit BIGINT (value quantized once), so no
# cross-engine summation order can move a digit; the only doubles are
# one division per reported number.
_SEASONAL_BT_ORACLE = f"""
WITH ev AS (
    SELECT event_type,
           dayofweek({DUCK_TS}) AS dow, hour({DUCK_TS}) AS hr,
           CAST(round(value * 1e6) AS BIGINT) AS vmic
    FROM events WHERE value IS NOT NULL
),
cells AS (
    SELECT event_type, dow, hr,
           CAST(SUM(vmic) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS c
    FROM ev GROUP BY 1, 2, 3
),
types AS (
    SELECT event_type,
           CAST(round(SUM(s)::DOUBLE / SUM(c)) AS BIGINT) AS pred_type
    FROM cells GROUP BY 1
),
scored AS (
    SELECT e.event_type,
           abs(e.vmic - CAST(round(cl.s::DOUBLE / cl.c) AS BIGINT)) AS err_s,
           abs(e.vmic - t.pred_type) AS err_n
    FROM ev e
    JOIN cells cl USING (event_type, dow, hr)
    JOIN types t USING (event_type)
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       ROUND(SUM(err_s)::DOUBLE / COUNT(*) / 1e6, 6) AS mae_seasonal,
       ROUND(SUM(err_n)::DOUBLE / COUNT(*) / 1e6, 6) AS mae_naive,
       ROUND(1.0 - SUM(err_s)::DOUBLE / SUM(err_n), 6) AS skill_score
FROM scored GROUP BY event_type
"""


@query("seasonal_naive_backtest", oracle=_SEASONAL_BT_ORACLE)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST-EVAL leg for the profile family: score the hour-of-week
    seasonal profile (the A10/A11 analytics everyone dashboards) as a
    PREDICTOR — in-sample MAE of the (type, dow, hour) cell mean vs the
    per-type global mean baseline, and the skill score 1 - MAE_s/MAE_n.
    Skill ~ 0 says the seasonal profile adds nothing over a flat mean
    (don't ship the fancier model); this is the same eval-leg pattern
    as markov_prediction_accuracy for sequences and holt_forecast's
    residuals for trends.

    Determinism: `value` is quantized to micro-unit BIGINT once; cell
    sums, predictions (one rounded division each) and absolute errors
    stay integers, so cross-engine float accumulation order cannot
    matter. Spark/DuckDB dayofweek encodings differ by a bijection —
    cells are identical sets either way, and the output rolls up over
    cells, so the encoding never leaks into the result.

    100 TB shape: ONE map-side-combined hash aggregation over the fact
    builds the cell frame (|types| x 168 rows); predictions derive from
    cells alone; the fact then takes two BROADCAST joins (cells, type
    totals) and a final per-type rollup — no window sort, no second
    fact shuffle. Reference parity: none — forecast-eval extension."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.dayofweek("ts").alias("dow"),
            F.hour("ts").alias("hr"),
            F.round(F.col("value") * 1e6).cast("long").alias("vmic"),
        )
    )
    cells = ev.groupBy("event_type", "dow", "hr").agg(
        F.sum("vmic").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    types = cells.groupBy("event_type").agg(
        F.round(F.sum("s").cast("double") / F.sum("c")).cast("long").alias("pred_type")
    )
    scored = (
        ev.join(F.broadcast(cells), ["event_type", "dow", "hr"])
        .join(F.broadcast(types), "event_type")
        .select(
            "event_type",
            F.abs(
                F.col("vmic")
                - F.round(F.col("s").cast("double") / F.col("c")).cast("long")
            ).alias("err_s"),
            F.abs(F.col("vmic") - F.col("pred_type")).alias("err_n"),
        )
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum("err_s").cast("double") / F.count(F.lit(1)) / 1e6, 6).alias(
            "mae_seasonal"
        ),
        F.round(F.sum("err_n").cast("double") / F.count(F.lit(1)) / 1e6, 6).alias(
            "mae_naive"
        ),
        F.round(
            1.0 - F.sum("err_s").cast("double") / F.sum("err_n"), 6
        ).alias("skill_score"),
    )
