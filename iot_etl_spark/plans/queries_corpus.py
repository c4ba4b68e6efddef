"""Training-corpus preparation operators over ``documents`` /
``embeddings`` (driver north star, SURVEY.md §7.1 M7) — the ops a
100 TB pretraining-data pipeline runs between raw crawl and tokenizer:
vocabulary/heavy-hitter profiling, context-window chunking, train/eval
decontamination, PII redaction, batched k-NN joins.

Every query has an exact DuckDB oracle twin (registry conventions:
epoch/BIGINT temporals, ROUND(x, 6) computed doubles, deterministic
tiebreaks on every ORDER BY .. LIMIT).

Scale notes (100 TB): chunking and redaction are pure map-side
(narrow, no shuffle); heavy hitters is the canonical skewed
aggregation and routes through salted two-phase combine; the
decontamination join broadcasts the (small) eval-side n-gram set; the
k-NN join broadcasts the query batch and computes per-query top-k with
a bounded window — no all-pairs materialization, no driver collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from iot_etl_spark.operators.skew import salted_aggregate
from iot_etl_spark.plans.queries_text import _DUCK_SHINGLES, _shingles_expr
from iot_etl_spark.plans.registry import query, spread_scan
from iot_etl_spark.sources.tables import load_table

# ------------------------------------------------------ heavy hitters

TOP_TOKENS = 25

_HEAVY_HITTERS_ORACLE = f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS token FROM documents
)
SELECT token, COUNT(*) AS occurrences
FROM tok
GROUP BY token
ORDER BY occurrences DESC, token
LIMIT {TOP_TOKENS}
"""


@query("token_heavy_hitters", oracle=_HEAVY_HITTERS_ORACLE)
def token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide token frequency top-k — the vocabulary/stopword
    profile every tokenizer build starts from, and the textbook skewed
    aggregation at 100 TB (token frequency is Zipfian: the hottest
    token appears in nearly every document, so a naive groupBy sends
    one reducer the whole head of the distribution).

    Runs as salted two-phase combine (``operators/skew.py``): partial
    counts on (token, salt) spread the head tokens over 16 reducers,
    final sum on token. Top-k compiles to TakeOrderedAndProject — no
    global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(F.explode(F.split("text", " ")).alias("token"))
    counts = salted_aggregate(
        tokens,
        keys=["token"],
        aggs=[F.count(F.lit(1)).alias("c")],
        final_aggs=[F.sum("c").alias("occurrences")],
    )
    return counts.orderBy(F.col("occurrences").desc(), "token").limit(TOP_TOKENS)


# ---------------------------------------------------------- chunking

CHUNK_TOKENS = 32  # context-window size in tokens
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks

_DOC_CHUNKS_ORACLE = f"""
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
)
SELECT doc_id,
       k AS chunk_id,
       least({CHUNK_TOKENS}, len(ws) - k * {CHUNK_STRIDE}) AS chunk_tokens,
       array_to_string(ws[k * {CHUNK_STRIDE} + 1 : k * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')
           AS chunk_text
FROM w, UNNEST(generate_series(0, (len(ws) - 1) // {CHUNK_STRIDE})) AS t(k)
"""


@query("doc_chunks", oracle=_DOC_CHUNKS_ORACLE)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping context-window chunking: split each
    document into {CHUNK_TOKENS}-token windows advancing by
    {CHUNK_STRIDE} tokens (8-token overlap), the standard prep step
    between cleaned text and a sequence-packing/tokenizer stage.

    Pure map-side: split -> posexplode of the chunk-start sequence ->
    slice. No shuffle, no UDF — at 100 TB this runs at scan speed and
    the output partitioning inherits the input's, ready for a
    partitioned write. A doc with n tokens emits ceil(n/stride) chunks
    (k while k*stride < n); the final chunk is short, not padded.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            "ws",
            F.posexplode(
                F.expr(f"sequence(0, CAST((size(ws) - 1) / {CHUNK_STRIDE} AS INT))")
            ).alias("chunk_id", "k"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("long").alias("chunk_id"),
            F.least(
                F.lit(CHUNK_TOKENS), F.size("ws") - F.col("k") * CHUNK_STRIDE
            ).cast("long").alias("chunk_tokens"),
            F.concat_ws(
                " ", F.slice(F.col("ws"), F.col("k") * CHUNK_STRIDE + 1, CHUNK_TOKENS)
            ).alias("chunk_text"),
        )
    )


# --------------------------------------------------- decontamination

# Eval split: every 10th doc_id. Deterministic, replayable, and the
# realistic shape — eval/benchmark sets are orders of magnitude smaller
# than the training corpus, which is what makes the broadcast valid.
_EVAL_PRED_SPARK = "doc_id % 10 = 0"
_EVAL_PRED_DUCK = "doc_id % 10 = 0"
CONTAMINATION_PCT = 50.0

_DECONTAMINATE_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, {_DUCK_SHINGLES} AS s
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
eval_grams AS (
    SELECT DISTINCT unnest(s) AS g FROM sh WHERE {_EVAL_PRED_DUCK}
),
train AS (
    SELECT doc_id, len(s) AS n_shingles, unnest(s) AS g
    FROM sh WHERE NOT ({_EVAL_PRED_DUCK})
)
SELECT t.doc_id,
       CAST(MAX(t.n_shingles) AS BIGINT) AS n_shingles,
       CAST(COUNT(e.g) AS BIGINT) AS overlap_shingles,
       ROUND(100.0 * COUNT(e.g) / MAX(t.n_shingles), 6) AS contamination_pct,
       100.0 * COUNT(e.g) / MAX(t.n_shingles) > {CONTAMINATION_PCT} AS is_contaminated
FROM train t LEFT JOIN eval_grams e ON t.g = e.g
GROUP BY t.doc_id
"""


@query("decontaminate_overlap", oracle=_DECONTAMINATE_ORACLE)
def decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination by 3-gram overlap: for every training
    document, the fraction of its distinct word 3-grams that appear
    anywhere in the eval split (doc_id % 10 = 0 here; in production the
    benchmark suites). Docs above {CONTAMINATION_PCT}% overlap are
    flagged for removal — the standard guard against benchmark leakage
    into pretraining data.

    Scale design: the eval n-gram set is DISTINCT-ed and broadcast
    (eval corpora are MBs against 100 TB of train), so the whole op is
    one broadcast hash join + one aggregation on doc_id — the train
    side never shuffles its shingles. Shingling reuses the guarded
    3-gram expression from queries_text (empty for <3-word docs on
    both engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", F.split("text", " ").alias("ws")).select(
        "doc_id", F.expr(_shingles_expr()).alias("s")
    )
    is_eval = F.expr(_EVAL_PRED_SPARK)
    eval_grams = (
        sh.filter(is_eval).select(F.explode("s").alias("g")).distinct()
        .withColumnRenamed("g", "eg")
    )
    train = sh.filter(~is_eval).select(
        "doc_id", F.size("s").alias("n_shingles"), F.explode_outer("s").alias("g")
    )
    joined = train.join(F.broadcast(eval_grams), train.g == eval_grams.eg, "left")
    pct = 100.0 * F.count("eg") / F.max("n_shingles")
    return joined.groupBy("doc_id").agg(
        F.max("n_shingles").cast("long").alias("n_shingles"),
        F.count("eg").alias("overlap_shingles"),
        F.round(pct, 6).alias("contamination_pct"),
        (pct > CONTAMINATION_PCT).alias("is_contaminated"),
    )


# ------------------------------------------------------ PII redaction

# The synthetic corpus is PII-free word soup, so the op is exercised on
# a deterministically augmented payload: docs with doc_id % 3 = 0 carry
# an email, % 5 = 0 a phone number (both derived from doc_id). The
# regexes are written in the RE2-compatible subset so the Java and
# DuckDB engines agree.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+1-555-[0-9]{4}"

_PII_PAYLOAD_DUCK = """
    text
    || CASE WHEN doc_id % 3 = 0
            THEN ' contact user' || doc_id || '@example.com'
            ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            ELSE '' END
"""

_PII_ORACLE = f"""
WITH p AS (SELECT doc_id, {_PII_PAYLOAD_DUCK} AS payload FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(payload, '{_EMAIL_RE}')) AS BIGINT) AS email_count,
       CAST(len(regexp_extract_all(payload, '{_PHONE_RE}')) AS BIGINT) AS phone_count,
       CAST(length(regexp_replace(regexp_replace(payload, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                                  '{_PHONE_RE}', '[PHONE]', 'g')) AS BIGINT) AS redacted_len,
       len(regexp_extract_all(payload, '{_EMAIL_RE}')) +
       len(regexp_extract_all(payload, '{_PHONE_RE}')) > 0 AS has_pii
FROM p
"""


@query("pii_redaction_stats", oracle=_PII_ORACLE)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction audit: count email/phone matches per
    document, replace them with [EMAIL]/[PHONE] placeholders, report
    redacted length — the scrubbing pass every distributable training
    corpus runs. Regexes stay in the RE2-compatible subset (character
    classes, bounded repetition; no backrefs/lookaround) so the same
    pattern runs identically in Spark's Java regex, DuckDB, and RE2-
    based scanners.

    Pure map-side (regexp_count/regexp_replace are codegen'd JVM
    expressions — no Python): at 100 TB this runs at scan speed with
    zero shuffle. The redacted text itself would be the written output;
    the query returns the audit columns.
    """
    docs = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" call +1-555-"), F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")),
        ).otherwise(""),
    )
    p = docs.select("doc_id", payload.alias("payload"))
    emails = F.regexp_count("payload", F.lit(_EMAIL_RE))
    phones = F.regexp_count("payload", F.lit(_PHONE_RE))
    redacted = F.regexp_replace(
        F.regexp_replace("payload", _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return p.select(
        "doc_id",
        emails.cast("long").alias("email_count"),
        phones.cast("long").alias("phone_count"),
        F.length(redacted).cast("long").alias("redacted_len"),
        (emails + phones > 0).alias("has_pii"),
    )


# ------------------------------------------------------- k-NN join

KNN_BATCH = 10  # query vectors: vec_id 0..9
KNN_K = 5

_KNN_JOIN_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
q AS (SELECT vec_id AS q_id, emb AS qemb FROM v WHERE vec_id < {KNN_BATCH}),
scored AS (
    SELECT q.q_id, v.vec_id,
           ROUND(list_inner_product(v.emb, q.qemb)
                 / (sqrt(list_inner_product(v.emb, v.emb))
                    * sqrt(list_inner_product(q.qemb, q.qemb))), 6) AS cosine
    FROM v, q
    WHERE v.vec_id <> q.q_id
)
SELECT q_id, vec_id, cosine,
       CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT)
           AS rank
FROM scored
QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) <= {KNN_K}
"""


@query("knn_join", oracle=_KNN_JOIN_ORACLE)
def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched k-NN join: top-{KNN_K} cosine neighbors for each of a
    {KNN_BATCH}-vector query batch in ONE pass over the corpus —
    retrieval-style similarity search (RAG candidate generation,
    near-dup mining against a seed set), generalizing the single-query
    ``embedding_cosine_topk``.

    Scale design: the query batch broadcasts (batches are thousands of
    rows against billions of corpus vectors), every corpus partition
    scores its rows against all queries locally, and per-query top-k is
    one window bounded by q_id — a single shuffle on the (small)
    q_id key, never materializing all pairs downstream.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x AS DOUBLE))").alias("emb")
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = lambda a: F.sqrt(dot(a, a))  # noqa: E731
    qv = emb.filter(F.col("vec_id") < KNN_BATCH).select(
        F.col("vec_id").alias("q_id"), F.col("emb").alias("qemb")
    )
    scored = (
        emb.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(
                dot(F.col("emb"), F.col("qemb"))
                / (norm(F.col("emb")) * norm(F.col("qemb"))),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= KNN_K)
    )


# ------------------------------------------------- repetition quality

# Gopher-rule style thresholds (Rae et al. 2021, table A1 uses 0.2 for
# top-2-gram char fraction; we apply the count fraction analogue).
TOP_BIGRAM_MAX_FRACTION = 0.20
DUP_BIGRAM_MAX_FRACTION = 0.30

_REPETITION_ORACLE = f"""
WITH base AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
bg AS (
    SELECT doc_id,
           len(ws) AS n_words,
           len(list_distinct(ws)) AS n_distinct_words,
           unnest(list_transform(generate_series(1, len(ws) - 1),
                                 i -> ws[i] || ' ' || ws[i+1])) AS bigram
    FROM base WHERE len(ws) >= 2
),
cnt AS (
    SELECT doc_id, ANY_VALUE(n_words) AS n_words,
           ANY_VALUE(n_distinct_words) AS n_distinct_words,
           bigram, COUNT(*) AS c
    FROM bg GROUP BY doc_id, bigram
)
SELECT doc_id,
       ANY_VALUE(n_words) AS n_words,
       ROUND(CAST(ANY_VALUE(n_distinct_words) AS DOUBLE) / ANY_VALUE(n_words), 6)
           AS distinct_word_ratio,
       CAST(SUM(c) AS BIGINT) AS total_bigrams,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS dup_bigram_fraction,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_fraction,
       CAST(MAX(c) AS DOUBLE) / SUM(c) > {TOP_BIGRAM_MAX_FRACTION}
           OR 1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(c) > {DUP_BIGRAM_MAX_FRACTION}
           AS is_repetitive
FROM cnt GROUP BY doc_id
"""


def _repetition_stats_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile (Gopher-style quality rules,
    Rae et al. 2021 §A1.1): distinct-word ratio, duplicate-bigram
    fraction, top-bigram fraction, and the resulting repetitive-doc
    flag — the filter that strips boilerplate/spam before pretraining.

    SHUFFLE-FREE (round 6 rewrite, measured 3.2 s -> 1.0 s warm at
    sf0.1): sort each document's bigram array once and fold it
    counting RUNS — in a sorted array, the number of runs IS the
    distinct-bigram count and the longest run IS the top bigram's
    count, so the whole profile is a per-row O(n log n) map with no
    exchange anywhere (doc_id is the output grain; the previous
    explode -> two-level hash aggregate shuffled the full bigram
    stream to compute what each row already contains). Per-row state
    is the document's own bigram array — the same bound as the
    aggregate's per-doc hash state; for pathological 100M-token
    single documents the explode+aggregate shape (this function's
    git history) remains the spill-friendly fallback. The fold is
    guarded for single-bigram docs: Spark's ``sequence(1, 0)`` is a
    DESCENDING [1, 0], not empty (the _shingles_expr trap), so the
    CASE is required, not defensive. Docs with <2 words have no
    bigrams and are excluded by contract on both sides."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    d = docs.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct_words"),
        F.expr(
            "array_sort(transform(sequence(1, size(ws) - 1), "
            "i -> concat_ws(' ', ws[i-1], ws[i])))"
        ).alias("bg"),
    )
    run_state = F.expr(
        """
        CASE WHEN size(bg) >= 2 THEN
          aggregate(
            sequence(1, size(bg) - 1),
            named_struct('runs', 1, 'cur', 1, 'mx', 1),
            (acc, i) -> IF(bg[i] = bg[i-1],
               named_struct('runs', acc.runs,
                            'cur', acc.cur + 1,
                            'mx', greatest(acc.mx, acc.cur + 1)),
               named_struct('runs', acc.runs + 1, 'cur', 1, 'mx', acc.mx)),
            acc -> acc)
        ELSE named_struct('runs', 1, 'cur', 1, 'mx', 1) END
        """
    )
    d = d.select(
        "doc_id", "n_words", "n_distinct_words",
        F.size("bg").alias("nbg"), run_state.alias("s"),
    )
    total = F.col("nbg")
    distinct_bg = F.col("s.runs")
    mx = F.col("s.mx")
    return d.select(
        "doc_id",
        "n_words",
        F.round(F.col("n_distinct_words").cast("double") / F.col("n_words"), 6)
            .alias("distinct_word_ratio"),
        total.cast("long").alias("total_bigrams"),
        F.round(1.0 - distinct_bg.cast("double") / total, 6)
            .alias("dup_bigram_fraction"),
        F.round(mx.cast("double") / total, 6).alias("top_bigram_fraction"),
        (
            (mx.cast("double") / total > TOP_BIGRAM_MAX_FRACTION)
            | (1.0 - distinct_bg.cast("double") / total > DUP_BIGRAM_MAX_FRACTION)
        ).alias("is_repetitive"),
    )


@query("repetition_stats", oracle=_REPETITION_ORACLE)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile (Gopher-style rules; see
    _repetition_stats_build for the shuffle-free run-fold shape).
    MATERIALIZED via the stage cache (r14): three registered queries
    consume the per-doc frame (this one, corpus_keep_verdict,
    cohens_kappa_quality), each of which used to re-run the full
    bigram sort+fold scan (~0.7 s at sf0.1). The mint lands in the
    bench's cold pass via the round's cache eviction."""
    from iot_etl_spark.plans.stagecache import cached_stage

    return cached_stage(
        spark, "rep_profile", sf_dir, ("documents",),
        lambda: _repetition_stats_build(spark, sf_dir),
        code_deps=(_repetition_stats_build,),
    )


# -------------------------------------------- unigram LM quality score

_LOGPROB_ORACLE = """
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
vocab AS (
    SELECT token, COUNT(*) AS c FROM tok GROUP BY token
),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS t FROM vocab)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       ROUND(AVG(ln(c / t)), 6) AS mean_logprob,
       ROUND(MIN(ln(c / t)), 6) AS min_logprob
FROM tok JOIN vocab USING (token), tot
GROUP BY doc_id
"""


@query("unigram_logprob_score", oracle=_LOGPROB_ORACLE)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's
    own unigram LM — the cheap perplexity proxy used as a CCNet-style
    quality filter (docs full of rare/garbage tokens score low,
    boilerplate scores high). Two passes: (1) token histogram
    (map-side-combining hash aggregate), (2) tokens joined back to
    the histogram. The vocabulary is the SMALL side (sublinear in
    corpus size; ~millions of entries at 100 TB), so pass 2 is a
    broadcast join — no shuffle of the token stream, and Zipf-head
    token skew is irrelevant because nothing repartitions by token.
    The corpus-total normalizer is a window over the already-tiny
    vocab, not a driver collect."""
    tok = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    vocab = vocab.withColumn(
        "logprob", F.log(F.col("c") / F.sum("c").over(Window.partitionBy()))
    )
    scored = tok.join(F.broadcast(vocab.select("token", "logprob")), "token")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("logprob"), 6).alias("mean_logprob"),
        F.round(F.min("logprob"), 6).alias("min_logprob"),
    )


# ---------------------------------------------------- sequence packing

SEQ_LEN = 128       # training sequence length in tokens
PACK_BUCKETS = 32   # independent packing streams (parallelism unit)

_PACKING_ORACLE = f"""
WITH w AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
chunks AS (
    SELECT doc_id,
           k AS chunk_id,
           least({CHUNK_TOKENS}, len(ws) - k * {CHUNK_STRIDE}) AS chunk_tokens
    FROM w, UNNEST(generate_series(0, (len(ws) - 1) // {CHUNK_STRIDE})) AS t(k)
),
placed AS (
    SELECT doc_id % {PACK_BUCKETS} AS bucket,
           doc_id, chunk_id, chunk_tokens,
           SUM(chunk_tokens) OVER (
               PARTITION BY doc_id % {PACK_BUCKETS}
               ORDER BY doc_id, chunk_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - chunk_tokens AS start_offset
    FROM chunks
)
SELECT bucket,
       CAST(start_offset // {SEQ_LEN} AS BIGINT) AS pack_id,
       COUNT(*) AS n_chunks,
       COUNT(DISTINCT doc_id) AS n_docs,
       CAST(SUM(chunk_tokens) AS BIGINT) AS total_tokens
FROM placed
GROUP BY bucket, CAST(start_offset // {SEQ_LEN} AS BIGINT)
"""


@query("sequence_packing", oracle=_PACKING_ORACLE)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign context-window chunks to fixed-length
    ({SEQ_LEN}-token) training sequences — the step between chunking
    and the data loader. Contiguous-fill discipline: within a packing
    stream, chunks are laid end-to-end in (doc_id, chunk_id) order and
    a chunk belongs to the pack where it STARTS (cumulative-offset div
    {SEQ_LEN}); emitted per pack: chunk/doc counts and fill tokens.

    Packing is inherently sequential, which is why it's usually a
    driver-side bottleneck; here the corpus is split into
    {PACK_BUCKETS} independent packing streams (doc_id mod bucket), so
    the running-offset window parallelizes per stream — at 100 TB,
    raise PACK_BUCKETS to O(cores) and each stream stays a local sort
    + running sum. Deterministic and replayable: same corpus, same
    packs. All-integer arithmetic, engine-identical."""
    chunks = doc_chunks(spark, sf_dir).select("doc_id", "chunk_id", "chunk_tokens")
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = (
        chunks.withColumn("bucket", (F.col("doc_id") % PACK_BUCKETS))
        .withColumn(
            "start_offset",
            F.sum("chunk_tokens").over(w) - F.col("chunk_tokens"),
        )
    )
    return (
        placed.groupBy(
            "bucket",
            (F.col("start_offset") / SEQ_LEN).cast("long").alias("pack_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("chunk_tokens").cast("long").alias("total_tokens"),
        )
    )


# ------------------------------------------------ boilerplate shingles

BOILERPLATE_MIN_DOCS = 2  # shingle appearing in >= N distinct docs

_BOILERPLATE_ORACLE = f"""
WITH sh AS (
    SELECT doc_id, unnest({_DUCK_SHINGLES}) AS g
    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
),
hot AS (
    SELECT g FROM sh GROUP BY g HAVING COUNT(DISTINCT doc_id) >= {BOILERPLATE_MIN_DOCS}
)
SELECT s.doc_id,
       COUNT(*) AS n_shingles,
       CAST(COUNT(h.g) AS BIGINT) AS boilerplate_shingles,
       ROUND(CAST(COUNT(h.g) AS DOUBLE) / COUNT(*), 6) AS boilerplate_fraction
FROM sh s LEFT JOIN hot h ON s.g = h.g
GROUP BY s.doc_id
"""


def _boilerplate_stats_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection (RefinedWeb/CCNet-style): shingles whose
    document frequency reaches {BOILERPLATE_MIN_DOCS} docs are
    cross-document boilerplate (headers, navigation, license text);
    each document reports what fraction of its shingles are
    boilerplate — high-fraction docs are template spam.

    Scale: the shingle stream is exploded ONCE and reduced to distinct
    (doc_id, shingle) pairs with occurrence counts; document frequency
    is then a count-over-window on the shingle key (wide key space, no
    skew at 3-gram granularity), and the per-doc rollup is one more
    hash aggregate. No broadcast anywhere — with the df threshold as low as 2
    the "hot" set is NOT small at corpus scale (most cross-site
    shingles repeat), so a broadcast-the-hot-set design would collapse
    at 100 TB; the window form keeps every stage a bounded shuffle."""
    sh = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("ws"))
        .select("doc_id", F.explode(F.expr(_shingles_expr())).alias("g"))
    )
    occ = sh.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    # rows of `occ` are distinct per (doc, shingle) => count over the
    # shingle partition IS the document frequency.
    doc_freq = F.count(F.lit(1)).over(Window.partitionBy("g"))
    hot_cnt = F.when(F.col("df") >= BOILERPLATE_MIN_DOCS, F.col("cnt")).otherwise(
        F.lit(0)
    )
    return (
        occ.withColumn("df", doc_freq)
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_shingles"),
            F.sum(hot_cnt).alias("boilerplate_shingles"),
            F.round(F.sum(hot_cnt).cast("double") / F.sum("cnt"), 6)
                .alias("boilerplate_fraction"),
        )
    )


@query("boilerplate_stats", oracle=_BOILERPLATE_ORACLE)
def boilerplate_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate fraction per document (RefinedWeb/CCNet-style; see
    _boilerplate_stats_build for the window-over-shingle-key shape).
    MATERIALIZED via the stage cache (r14): three registered queries
    consume the per-doc frame (this one, corpus_keep_verdict,
    cohens_kappa_quality), each of which used to re-run the shingle
    explode + document-frequency window (~1.2 s at sf0.1). The mint
    lands in the bench's cold pass via the round's cache eviction."""
    from iot_etl_spark.plans.stagecache import cached_stage

    return cached_stage(
        spark, "bp_profile", sf_dir, ("documents",),
        lambda: _boilerplate_stats_build(spark, sf_dir),
        code_deps=(_boilerplate_stats_build, _shingles_expr),
    )


# ------------------------------------------------ corpus keep verdict

BOILERPLATE_MAX_FRACTION = 0.5

_VERDICT_ORACLE = f"""
WITH dup AS ({{dedup_oracle}}),
rep AS ({_REPETITION_ORACLE}),
bp AS ({_BOILERPLATE_ORACLE})
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN dup.is_duplicate THEN 1 ELSE 0 END) AS BIGINT) AS n_duplicate,
       CAST(SUM(CASE WHEN COALESCE(rep.is_repetitive, FALSE) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_repetitive,
       CAST(SUM(CASE WHEN COALESCE(bp.boilerplate_fraction, 0) > {BOILERPLATE_MAX_FRACTION}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
       CAST(SUM(CASE WHEN NOT dup.is_duplicate
                      AND NOT COALESCE(rep.is_repetitive, FALSE)
                      AND COALESCE(bp.boilerplate_fraction, 0) <= {BOILERPLATE_MAX_FRACTION}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(CASE WHEN NOT dup.is_duplicate
                            AND NOT COALESCE(rep.is_repetitive, FALSE)
                            AND COALESCE(bp.boilerplate_fraction, 0) <= {BOILERPLATE_MAX_FRACTION}
                      THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS keep_rate
FROM documents d
JOIN dup ON dup.doc_id = d.doc_id
LEFT JOIN rep ON rep.doc_id = d.doc_id
LEFT JOIN bp ON bp.doc_id = d.doc_id
GROUP BY d.source
"""


def _verdict_oracle() -> str:
    from iot_etl_spark.plans.queries_text import _DEDUP_EXACT_ORACLE

    return _VERDICT_ORACLE.format(dedup_oracle=_DEDUP_EXACT_ORACLE)


@query("corpus_keep_verdict", oracle=_verdict_oracle())
def corpus_keep_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone filter pass a corpus pipeline runs before
    tokenization: per-source survival accounting after composing the
    independent quality signals — exact-dup canonical election,
    Gopher repetition rules, boilerplate fraction. Each signal is the
    SAME registry builder users run standalone (composability is the
    point: signals are per-doc frames joined on doc_id), and the
    oracle composes the same three oracle SQL texts as CTEs, so the
    composition itself is hash-verified. Scale: all three signal
    frames and the join are keyed on doc_id — after the first
    shuffle the joins are co-partitioned (exchange reuse), and the
    final per-source rollup is a tiny aggregate. LEFT joins + COALESCE
    keep short docs (no bigrams/shingles) in the denominator."""
    from iot_etl_spark.plans.queries_text import dedup_exact

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    dup = dedup_exact(spark, sf_dir).select("doc_id", "is_duplicate")
    rep = repetition_stats(spark, sf_dir).select("doc_id", "is_repetitive")
    bp = boilerplate_stats(spark, sf_dir).select("doc_id", "boilerplate_fraction")
    joined = (
        docs.join(dup, "doc_id")
        .join(rep, "doc_id", "left")
        .join(bp, "doc_id", "left")
        .select(
            "source",
            F.col("is_duplicate"),
            F.coalesce("is_repetitive", F.lit(False)).alias("is_repetitive"),
            F.coalesce("boilerplate_fraction", F.lit(0.0)).alias("bp_frac"),
        )
    )
    keep = (
        ~F.col("is_duplicate")
        & ~F.col("is_repetitive")
        & (F.col("bp_frac") <= BOILERPLATE_MAX_FRACTION)
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("is_duplicate").cast("int")).cast("long").alias("n_duplicate"),
        F.sum(F.col("is_repetitive").cast("int")).cast("long").alias("n_repetitive"),
        F.sum((F.col("bp_frac") > BOILERPLATE_MAX_FRACTION).cast("int")).cast("long")
            .alias("n_boilerplate"),
        F.sum(keep.cast("int")).cast("long").alias("n_kept"),
        F.round(F.sum(keep.cast("int")).cast("double") / F.count(F.lit(1)), 6)
            .alias("keep_rate"),
    )


# --------------------------------------------------- TF-IDF keywords

TFIDF_TOP_K = 3

_TFIDF_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2
),
df AS (
    SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, CAST(tf.tf AS BIGINT) AS tf,
           ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0), 6) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, tfidf, CAST(rk AS BIGINT) AS rk
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                 ORDER BY tfidf DESC, term) AS rk
    FROM scored
)
WHERE rk <= {TFIDF_TOP_K}
"""


@query("tfidf_top_terms", oracle=_TFIDF_ORACLE)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_K} TF-IDF keywords per document (smoothed
    sklearn-style idf: ln((N+1)/(df+1)) + 1): the classic
    keyword-extraction / topic-drift signal a corpus pipeline derives
    alongside quality scores. Scores are rounded to 6 places BEFORE
    ranking on both engines so the tie-break (term ascending) fires on
    identical values — the same log-determinism convention as
    unigram_logprob_score.

    Scale: document frequency is vocabulary-grained (sublinear in
    corpus size) and broadcast; the token stream aggregates once on
    (doc_id, term) and the per-doc top-k window runs on that already-
    aggregated frame, partitioned by doc_id — nothing quadratic, no
    global sort. A Zipf-head hot TERM never skews: the window key is
    doc_id, and the tf aggregate's map-side combine absorbs the head."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n))
        .select(
            "doc_id", "term", "tf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "term", "tf", "tfidf", "rk")
    )


# ------------------------------------------- PMI word co-occurrence

PMI_WINDOW = 2      # pair words up to this many positions apart
PMI_MIN_COUNT = 5   # drop pairs rarer than this
PMI_TOP_K = 20

_PMI_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
pos AS (
    SELECT doc_id, unnest(ws) AS term, generate_subscripts(ws, 1) AS pos
    FROM tok
),
pairs AS (
    SELECT LEAST(a.term, b.term) AS w1, GREATEST(a.term, b.term) AS w2
    FROM pos a
    JOIN pos b ON a.doc_id = b.doc_id
              AND b.pos > a.pos AND b.pos <= a.pos + {PMI_WINDOW}
),
pc AS (
    SELECT w1, w2, COUNT(*) AS c_ab FROM pairs GROUP BY 1, 2
),
uc AS (
    SELECT term, COUNT(*) AS c FROM pos GROUP BY 1
),
tot AS (
    SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM pos) AS t_tokens,
           (SELECT CAST(COUNT(*) AS DOUBLE) FROM pairs) AS t_pairs
)
SELECT pc.w1, pc.w2, CAST(pc.c_ab AS BIGINT) AS pair_count,
       ROUND(LN((CAST(pc.c_ab AS DOUBLE) * t.t_tokens * t.t_tokens)
                / (t.t_pairs * u1.c * u2.c)), 6) AS pmi
FROM pc
JOIN uc u1 ON pc.w1 = u1.term
JOIN uc u2 ON pc.w2 = u2.term
CROSS JOIN tot t
WHERE pc.c_ab >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, w1, w2
LIMIT {PMI_TOP_K}
"""


@query("pmi_cooccurrence", oracle=_PMI_ORACLE)
def pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP_K} word pairs by pointwise mutual information
    within a +-{PMI_WINDOW}-token window — the collocation statistic
    behind phrase mining and word-association features. Pairs are
    canonicalized (lexicographic least/greatest) so (a,b) and (b,a)
    accumulate together; the PMI expression multiplies and divides in
    ONE fixed order on both engines, so the doubles agree bit-for-bit
    before the shared ROUND.

    Scale: the oracle's positional SELF-JOIN is the textbook
    formulation; the Spark side instead generates each position's
    <= {PMI_WINDOW} forward pairs MAP-SIDE inside one higher-order
    expression (no join, no shuffle of the token stream) — pair counts
    then aggregate with map-side combine, and the vocabulary-grained
    unigram counts and 1-row totals broadcast back. Nothing scales
    with corpus size except the two hash aggs."""
    # SPREAD THE PAIR GENERATION (registry.spread_scan, guide §2.5):
    # documents.parquet is one scan split, so the map-side windowed
    # pair fan-out and the token explode ran serially. Gated no-op at
    # production split counts.
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", F.split("text", " ").alias("ws")
        ),
        "doc_id",
    )
    pair_expr = f"""
        flatten(transform(ws, (w, i) ->
            filter(transform(sequence(1, {PMI_WINDOW}), d ->
                CASE WHEN i + d < size(ws)
                     THEN struct(least(w, ws[i + d]) AS w1,
                                 greatest(w, ws[i + d]) AS w2)
                END), p -> p IS NOT NULL)))
    """
    pairs = docs.select(F.explode(F.expr(pair_expr)).alias("p")).select("p.w1", "p.w2")
    # Each aggregated frame feeds TWO consumers (the PMI join and its
    # own total); without materialization Spark replays the full
    # explode+agg lineage per consumer — 5 corpus scans instead of 2.
    # Both frames are vocabulary-grained (sublinear in corpus size),
    # so caching them is the correct 100 TB trade.
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab")).cache()
    tok = docs.select(F.explode("ws").alias("term"))
    uc = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c")).cache()
    totals = uc.agg(F.sum("c").cast("double").alias("t_tokens")).join(
        pc.agg(F.sum("c_ab").cast("double").alias("t_pairs"))
    )
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") * F.col("t_tokens") * F.col("t_tokens"))
            / (F.col("t_pairs") * F.col("u1c") * F.col("u2c"))
        ),
        6,
    )
    return (
        pc.filter(F.col("c_ab") >= PMI_MIN_COUNT)
        .join(F.broadcast(uc.select(F.col("term").alias("w1"), F.col("c").alias("u1c"))), "w1")
        .join(F.broadcast(uc.select(F.col("term").alias("w2"), F.col("c").alias("u2c"))), "w2")
        .join(F.broadcast(totals))
        .select("w1", "w2", F.col("c_ab").alias("pair_count"), pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
    )


# -------------------------------------------- mixture sampling weights

MIX_ALPHA = 0.3  # temperature: 1.0 = proportional, 0 = uniform

_MIXTURE_ORACLE = f"""
WITH src AS (
    SELECT source,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS t FROM src),
p AS (
    SELECT source, n_tokens,
           POWER(n_tokens / t.t, {MIX_ALPHA}) AS p_alpha
    FROM src CROSS JOIN tot t
),
z AS (SELECT SUM(p_alpha) AS z FROM p)
SELECT p.source, p.n_tokens,
       ROUND(p.p_alpha / z.z, 6) AS sample_weight,
       ROUND((p.p_alpha / z.z) / (p.n_tokens / t.t), 6) AS upsample_factor
FROM p CROSS JOIN z CROSS JOIN tot t
ORDER BY p.source
"""


@query("mixture_sampling_weights", oracle=_MIXTURE_ORACLE)
def mixture_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source mixing weights (the multilingual-
    pretraining recipe: sample source i with probability proportional
    to p_i^alpha, alpha={MIX_ALPHA}) plus each source's implied
    up/down-sampling factor — the numbers a data-loading curriculum
    consumes, derived from the corpus itself. Pairs with
    `sample_stratified` (which APPLIES per-source rates) by computing
    WHAT the rates should be.

    Scale: per-source token counts are one hash aggregate (sources are
    few); everything after is arithmetic over a source-cardinality
    frame with two 1-row broadcast totals. POWER stays within 1 ulp
    across libm implementations — ROUND(,6) over source-cardinality
    cells absorbs it (the unigram_logprob_score convention)."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens")
    )
    tot = src.agg(F.sum("n_tokens").cast("double").alias("t"))
    p = src.join(F.broadcast(tot)).withColumn(
        "p_alpha", F.pow(F.col("n_tokens") / F.col("t"), F.lit(MIX_ALPHA))
    )
    z = p.agg(F.sum("p_alpha").alias("z"))
    return (
        p.join(F.broadcast(z))
        .select(
            "source", "n_tokens",
            F.round(F.col("p_alpha") / F.col("z"), 6).alias("sample_weight"),
            F.round(
                (F.col("p_alpha") / F.col("z")) / (F.col("n_tokens") / F.col("t")), 6
            ).alias("upsample_factor"),
        )
        .orderBy("source")
    )


# ------------------------- PPS sampling + Horvitz-Thompson estimation
PPS_K = 8           # expected sample size per source
PPS_U_GRAIN = 1_000_000  # deterministic uniform lattice 1e-6

_PPS_ORACLE = f"""
WITH d AS (
    SELECT source, doc_id, n_chars,
           (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % {PPS_U_GRAIN}) / {PPS_U_GRAIN}.0 AS u
    FROM documents
),
w AS (
    SELECT source, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(*) AS n_docs
    FROM d GROUP BY 1
),
p AS (
    SELECT d.source, d.n_chars, d.u,
           LEAST(1.0, {PPS_K} * d.n_chars / CAST(w.total_chars AS DOUBLE)) AS pi
    FROM d JOIN w ON w.source = d.source
)
SELECT p.source,
       CAST(w.n_docs AS BIGINT) AS n_docs,
       w.total_chars AS true_chars,
       CAST(SUM(CASE WHEN u < pi THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(SUM(CASE WHEN u < pi
                     THEN CAST(ROUND(n_chars / pi) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS ht_estimate_chars,
       ROUND((SUM(CASE WHEN u < pi
                       THEN CAST(ROUND(n_chars / pi) AS BIGINT)
                       ELSE 0 END) - w.total_chars)
             / CAST(w.total_chars AS DOUBLE), 6) AS rel_err
FROM p JOIN w ON w.source = p.source
GROUP BY 1, 2, 3
"""


@query("pps_sample_estimate", oracle=_PPS_ORACLE)
def pps_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size (PPS/Poisson) sampling with
    the Horvitz-Thompson total estimator, per source: each document
    enters the sample with probability pi = min(1, K * size / total),
    and the HT estimate sum(size_i / pi_i) over the sample is
    design-unbiased for the true total — reported next to the truth
    so the row IS the estimator-error audit (the survey-sampling twin
    of the HLL/MinHash estimator audits). PPS is how a corpus
    pipeline draws budget-bounded eval/inspection samples that still
    estimate corpus-level statistics.

    Determinism: the "uniform" is md5(doc_id) reduced to a 1e-6
    lattice (the hash convention every dedup operator shares), so the
    sample is replayable on any engine; pi and each HT term are the
    identical double expressions both sides, and each term quantizes
    to BIGINT before the distributed SUM (no accumulation-order
    noise).

    100 TB shape: one pass for per-source totals (broadcast back),
    one map-side inclusion test — no shuffle beyond the two
    aggregates; sample size concentrates around K per source
    regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars",
        (
            (
                F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
                .cast("long") % PPS_U_GRAIN
            )
            / float(PPS_U_GRAIN)
        ).alias("u"),
    )
    w = d.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    p = d.join(F.broadcast(w), "source").withColumn(
        "pi",
        F.least(
            F.lit(1.0),
            PPS_K * F.col("n_chars") / F.col("total_chars").cast("double"),
        ),
    )
    sampled = F.col("u") < F.col("pi")
    ht_term = F.when(
        sampled, F.round(F.col("n_chars") / F.col("pi")).cast("long")
    ).otherwise(F.lit(0))
    return p.groupBy("source", "n_docs", "total_chars").agg(
        F.sum(sampled.cast("int")).cast("long").alias("n_sampled"),
        F.sum(ht_term).cast("long").alias("ht_estimate_chars"),
    ).select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("total_chars").alias("true_chars"),
        "n_sampled",
        "ht_estimate_chars",
        F.round(
            (F.col("ht_estimate_chars") - F.col("total_chars"))
            / F.col("total_chars").cast("double"),
            6,
        ).alias("rel_err"),
    )


# --------------- Jensen-Shannon divergence between source token mixes
# The corpus-mix drift audit in BITS: PSI (psi_value_drift) is
# bin-dependent and asymmetric-unstable at zero cells; JS is bounded
# [0,1] (log2), symmetric, and defined wherever either side has mass —
# the measure mixture-rebalance recipes actually threshold on.
JS_VOCAB = 500

_JS_HALF = (
    "CASE WHEN {c} > 0 THEN CAST(0.5 AS DOUBLE) * (CAST({c} AS DOUBLE) / {n}) "
    "* log2(CAST(2 AS DOUBLE) * (CAST({c} AS DOUBLE) / {n}) "
    "/ ((CAST(ca AS DOUBLE) / na) + (CAST(cb AS DOUBLE) / nb))) "
    "ELSE CAST(0 AS DOUBLE) END"
)
_JS_TERM_SQL = (
    "CAST(round(("
    + _JS_HALF.format(c="ca", n="na")
    + " + "
    + _JS_HALF.format(c="cb", n="nb")
    + ") * 1000000000) AS BIGINT)"
)

_JS_ORACLE = f"""
WITH tok AS (
    SELECT source, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t
    FROM documents
),
tk AS (SELECT source, t FROM tok WHERE t <> ''),
vocab AS (
    SELECT t FROM (
        SELECT t, COUNT(*) AS c,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS rk
        FROM tk GROUP BY t
    ) WHERE rk <= {JS_VOCAB}
),
mapped AS (
    SELECT tk.source,
           CASE WHEN vocab.t IS NULL THEN '<oov>' ELSE tk.t END AS t
    FROM tk LEFT JOIN vocab ON vocab.t = tk.t
),
cnt AS (SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
        FROM mapped GROUP BY 1, 2),
tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
grid AS (
    SELECT s.source, v.t, COALESCE(cnt.c, 0) AS c, tot.n
    FROM (SELECT DISTINCT source FROM cnt) s
    CROSS JOIN (SELECT DISTINCT t FROM cnt) v
    LEFT JOIN cnt ON cnt.source = s.source AND cnt.t = v.t
    JOIN tot ON tot.source = s.source
),
pairs AS (
    SELECT a.source AS src_a, b.source AS src_b,
           a.c AS ca, a.n AS na, b.c AS cb, b.n AS nb
    FROM grid a JOIN grid b ON a.t = b.t AND a.source < b.source
)
SELECT src_a, src_b,
       CAST(MAX(na) AS BIGINT) AS n_tokens_a,
       CAST(MAX(nb) AS BIGINT) AS n_tokens_b,
       ROUND(SUM({_JS_TERM_SQL}) / 1e9, 6) AS js_bits
FROM pairs GROUP BY 1, 2
"""


@query("js_divergence_sources", oracle=_JS_ORACLE)
def js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise JENSEN-SHANNON DIVERGENCE between the sources' token
    distributions over the global top-{JS_VOCAB} vocabulary (all rarer
    tokens pooled into one '<oov>' cell — the bounded-support device
    that keeps the statistic's cell table at |sources| x {JS_VOCAB}+1
    regardless of corpus size). JS = 0 identical mixes, 1 disjoint;
    the number a mixture-rebalancing recipe thresholds on before
    reweighting sources (mixture_sampling_weights).

    Determinism: counts and totals are exact BIGINTs; each cell's
    contribution is ONE shared-verbatim double expression (explicit
    DOUBLE casts everywhere per the SCALE.md trap-#7 convention)
    quantized to nano-unit BIGINTs before the per-pair sum; zero cells
    contribute exactly 0 through the CASE guards.

    100 TB shape: one token-keyed count shuffle (map-side combined),
    vocabulary = top-k of the token counts (TakeOrdered, broadcast
    back), then all work happens on the dense |sources| x vocab grid —
    pair expansion is over SOURCES (a handful), never documents or
    tokens. Reference parity: none — corpus-curation extension."""
    # r14 (guide §2.4/§1.2): the tokenize explode used to run TWICE
    # (vocab build + the mapped recount) and the cell frame was
    # re-derived four times (tot, both distinct sides, the densify
    # join). One (source, token) count — map-side combinable,
    # vocabulary-scaled — is pinned once; the global vocab ranks on
    # SUM of its per-source counts (identical to the old token-stream
    # COUNT(*)), the mapped recount is a re-aggregate of the same
    # frame, and the per-source totals become a window on the bounded
    # dense grid instead of an aggregate + broadcast join.
    docs = load_table(spark, sf_dir, "documents")
    tk = (
        docs.select(
            "source",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    stc = (
        tk.groupBy("source", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    vocab = (
        stc.groupBy("t").agg(F.sum("c").alias("c"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy().orderBy(F.col("c").desc(), "t")
            ),
        )
        .filter(F.col("rk") <= JS_VOCAB)
        .select("t", F.lit(True).alias("_inv"))
    )
    cnt = (
        stc.join(F.broadcast(vocab), "t", "left")
        .groupBy(
            "source",
            F.when(F.col("_inv").isNull(), F.lit("<oov>"))
            .otherwise(F.col("t"))
            .alias("t"),
        )
        .agg(F.sum("c").cast("long").alias("c"))
        .localCheckpoint()  # |sources| x (vocab+1) cells, read 3x below
    )
    grid = (
        cnt.select("source").distinct()
        .crossJoin(cnt.select("t").distinct())
        .join(cnt, ["source", "t"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .withColumn(
            "n", F.sum("c").over(Window.partitionBy("source")).cast("long")
        )
    )
    a = grid.select(
        F.col("source").alias("src_a"), "t",
        F.col("c").alias("ca"), F.col("n").alias("na"),
    )
    b = grid.select(
        F.col("source").alias("src_b"), F.col("t").alias("tb"),
        F.col("c").alias("cb"), F.col("n").alias("nb"),
    )
    pairs = a.join(b, (a.t == b.tb) & (a.src_a < b.src_b))
    return pairs.groupBy("src_a", "src_b").agg(
        F.max("na").cast("long").alias("n_tokens_a"),
        F.max("nb").cast("long").alias("n_tokens_b"),
        F.round(F.sum(F.expr(_JS_TERM_SQL)) / F.lit(1e9), 6).alias("js_bits"),
    )
