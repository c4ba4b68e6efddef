"""LLM-data-pipeline text operators over ``documents`` (driver north
star, SURVEY.md §7.1 M7): exact + fuzzy dedup (shingle Jaccard,
MinHash-LSH, SimHash), text quality / token statistics, language-ID
heuristic, document fingerprinting, multimodal byte plumbing.

All hash arithmetic is md5-derived integers (identical in Spark and
DuckDB — verified ``conv(substr(md5(x),1,8),16,10)`` ==
``('0x'||substr(md5(x),1,8))::BIGINT``) so every operator has an exact
oracle twin.

Scale notes (100 TB): NO operator in this module self-joins on raw
shingles or scans all pairs. Fuzzy dedup routes through MinHash-LSH
band candidates (join key = (band, signature)) with exact Jaccard
rescore of candidates only; SimHash near-pairs join on 5 x 12-bit
fingerprint blocks (Manku et al. WWW'07 — lossless for Hamming <= 4
by pigeonhole) with exact Hamming rescore. No driver-side collects
anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from iot_etl_spark.plans.registry import query, spread_scan
from iot_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------- helpers

# MinHash parameters: 16 universal-hash permutations over 32-bit
# shingle hashes; prime just above 2^32; a < 2^16 keeps a*h in 2^48.
MINHASH_P = 4294967311
MINHASH_A = [15485863, 32452843, 49979687, 67867967, 86028121, 104395301,
             122949823, 141650939, 160481183, 179424673, 198491317, 217645177,
             236887691, 256203161, 275604541, 295075147]
MINHASH_A = [a % 65536 | 1 for a in MINHASH_A]  # odd, < 2^16
MINHASH_B = [982451653 % MINHASH_P * (i + 1) % MINHASH_P for i in range(16)]
MINHASH_BANDS = 4  # 4 bands x 4 rows

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_STOP_SQL = "('the','a','of','and','to','in','is','it')"


def _words(col: str = "text"):
    return F.split(F.col(col), " ")


def _shingles_expr() -> str:
    """3-gram word shingles, distinct (0-indexed Spark arrays).

    Guarded with CASE, not ``greatest(size-2, 0)``: Spark's
    ``sequence(1, 0)`` yields a DESCENDING [1, 0] (not empty like
    DuckDB's ``generate_series``), so a <3-word doc would fabricate
    bogus shingles and silently diverge from the oracle."""
    return (
        "CASE WHEN size(ws) >= 3 THEN "
        "array_distinct(transform(sequence(1, size(ws) - 2), "
        "i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )


_DUCK_SHINGLES = (
    "list_distinct(list_transform(generate_series(1, greatest(len(ws) - 2, 0)), "
    "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))"
)

_H32_SPARK = lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")  # noqa: E731


def _duck_h32(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 8))::BIGINT"


# ---------------------------------------------------------- exact dedup
_DEDUP_EXACT_ORACLE = """
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc_id,
       doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_duplicate
FROM documents
ORDER BY doc_id
"""


@query("dedup_exact", oracle=_DEDUP_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-group on content digest, keep the min doc_id
    as canonical. At 100 TB this is one shuffle on a 128-bit key with
    map-side combine — the standard first pass of any corpus dedup."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(F.col("text")))
    return (
        docs.select(
            "doc_id",
            F.min("doc_id").over(w).alias("canonical_doc_id"),
            (F.col("doc_id") != F.min("doc_id").over(w)).alias("is_duplicate"),
        )
    )


# ---------------------------------------------------- MinHash machinery
# Shared by minhash_lsh_candidates (candidate surface) and
# dedup_ngram_jaccard (candidates -> exact rescore): the scale design is
# that NOTHING ever self-joins on raw shingles — the join key is always
# (band, signature), whose bucket sizes are bounded by true collisions.


def _shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", _words().alias("ws")).select(
        "doc_id", F.expr(_shingles_expr()).alias("s")
    )


def _shingle_sets_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc distinct shingle arrays, materialized once per
    (documents parquet, stage code) — the split/shingle/distinct
    lineage is string-heavy and consumed by the exact-rescore side of
    dedup_ngram_jaccard, dedup_clusters, the signature index, and the
    prefix-filter join (queries_mlprep.setsim_prefix_join), each of
    which otherwise re-parses every document."""
    from iot_etl_spark.plans.stagecache import cached_stage

    return cached_stage(
        spark, "shingle_sets", sf_dir, ("documents",),
        lambda: _shingle_sets(spark, sf_dir),
        code_deps=(_shingle_sets, _shingles_expr, _words),
    )


def _minhash_band_sigs(spark: SparkSession, sh: DataFrame) -> DataFrame:
    """(doc_id, band, sig): MinHash(16 perms) grouped into 4 bands x 4
    rows, signature = '|'-joined row minima.

    The whole signature pipeline is ONE ``aggregate()`` expression —
    a single fold over the shingle array computing all 16 permutation
    minima at once, with the band structs built in the finish lambda.
    One narrow map stage, no explode/crossJoin/groupBy (the round-1
    shape shuffled 16x-exploded shingle rows twice), and — critically —
    md5 runs ONCE per shingle: lambda-bound values (``acc``, ``h``)
    are evaluated once at runtime, unlike projected columns, which
    Catalyst's CollapseProject inlines into every consumer expression
    (16 textual references to a projected hash array = 16x md5; that
    cost 4s/5k docs). Empty shingle sets are filtered (docs under 3
    words have no signature — same as the oracle, where unnest of an
    empty list yields no rows)."""
    rows_per_band = 16 // MINHASH_BANDS

    def _min_sql(i: int) -> str:
        # one pass over the lambda-bound hash array per permutation;
        # a, b, P are inlined literals (no per-element object churn)
        return (
            f"cast(array_min(transform(hs, h -> "
            f"(h * {MINHASH_A[i]}L + {MINHASH_B[i]}L) % {MINHASH_P}L)) AS STRING)"
        )

    band_structs = ", ".join(
        "struct({b} AS band, concat_ws('|', {mins}) AS sig)".format(
            b=b,
            mins=", ".join(_min_sql(b * rows_per_band + r) for r in range(rows_per_band)),
        )
        for b in range(MINHASH_BANDS)
    )
    # transform over a 1-element array is the expression-level let:
    # `hs` (md5 per shingle, computed ONCE) is a lambda-bound VALUE,
    # so its 16 consumers don't re-trigger the hash the way projected
    # columns do under CollapseProject inlining.
    sig_expr = f"""
    transform(
      array(transform(s, x -> cast(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT))),
      hs -> array({band_structs})
    )[0]
    """
    # The empty-shingle guard must sit ABOVE the Generate: a pre-explode
    # filter(size(s) > 0) gets substituted through the projection into
    # an INTERPRETED parquet-scan DataFilter carrying the entire
    # shingle expression — measured 10x slower than the codegen'd
    # projection. Above the explode it's a trivial check on the
    # computed sig (array_min of an empty array is null; concat_ws
    # skips nulls, so shingle-less docs yield sig = '').
    return (
        sh.select("doc_id", F.explode(F.expr(sig_expr)).alias("bs"))
        .select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
        .filter(F.col("sig") != "")
    )


def _band_sigs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash band signatures, materialized once per (documents
    parquet, stage code) and shared by the three consumers
    (minhash_lsh_candidates, dedup_ngram_jaccard, dedup_clusters) —
    the signature fold is the family's dominant cost, and its output
    (4 short rows per doc) is tiny on disk."""
    from iot_etl_spark.plans.stagecache import cached_stage

    return cached_stage(
        spark, "minhash_band_sigs", sf_dir, ("documents",),
        lambda: _minhash_band_sigs(spark, _shingle_sets(spark, sf_dir)),
        code_deps=(_minhash_band_sigs, _shingle_sets, _shingles_expr, _words),
    )


def _band_candidate_pairs(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (a, b) id pairs sharing any (band, sig) bucket.

    Shaped as groupBy-bucket + within-bucket pair expansion rather
    than a self-join: a self-join recomputes the (expensive) signature
    lineage once per side, this computes it ONCE and shuffles once.
    Within-bucket expansion is quadratic in bucket size by definition
    of LSH output — buckets are near-dup clusters, so their size is
    bounded by true duplication, not corpus size."""
    buckets = (
        sig.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
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
    return pairs.select(
        F.col("p.a").alias(f"{id_col}_a"), F.col("p.b").alias(f"{id_col}_b")
    ).distinct()


def _duck_minhash_perms() -> str:
    rows = ", ".join(
        f"({i}, {MINHASH_A[i]}, {MINHASH_B[i]})" for i in range(16)
    )
    return f"(VALUES {rows}) AS perms(perm, pa, pb)"


_MINHASH_CTES = f"""
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS s FROM w),
ex AS (SELECT doc_id, {_duck_h32('unnest(s)')} AS h FROM sh),
mh AS (
    SELECT doc_id, perm, MIN((pa * h + pb) % {MINHASH_P}) AS mh
    FROM ex, {_duck_minhash_perms()}
    GROUP BY doc_id, perm
),
sig AS (
    SELECT doc_id, perm // {MINHASH_BANDS} AS band,
           string_agg(CAST(mh AS VARCHAR), '|' ORDER BY perm) AS sig
    FROM mh GROUP BY doc_id, perm // {MINHASH_BANDS}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM sig a JOIN sig b
      ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
)
"""


# ------------------------------------------- n-gram Jaccard near-dedup
_NGRAM_JACCARD_ORACLE = f"""
WITH {_MINHASH_CTES}
SELECT doc_id_a, doc_id_b,
       ROUND(len(list_intersect(x.s, y.s))::DOUBLE
             / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))), 6) AS jaccard
FROM cand
JOIN sh x ON x.doc_id = doc_id_a
JOIN sh y ON y.doc_id = doc_id_b
WHERE len(list_intersect(x.s, y.s))::DOUBLE
      / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.8
"""


@query("dedup_ngram_jaccard", oracle=_NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs at 3-gram shingle Jaccard >= 0.8: MinHash-LSH
    band candidates, then EXACT Jaccard rescore (array_intersect) on
    the candidate pairs only. Replaces the round-1 posting-list
    self-join whose candidate set exploded on common shingles — here
    the only pair join is on (band, signature), and the exact-rescore
    fan-in is bounded by the LSH collision count, which is the
    standard 100 TB corpus-dedup shape (recall at s=0.8 with 4 bands x
    4 rows is 1-(1-0.8^4)^4 ~ 0.88; raise bands for higher recall).
    Oracle replicates the identical candidate+rescore pipeline."""
    sh = _shingle_sets_cached(spark, sf_dir)
    cand = _band_candidate_pairs(_band_sigs_cached(spark, sf_dir))
    j = (
        cand.join(sh.select(F.col("doc_id").alias("doc_id_a"), F.col("s").alias("sa")), "doc_id_a")
        .join(sh.select(F.col("doc_id").alias("doc_id_b"), F.col("s").alias("sb")), "doc_id_b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn("jac", F.col("inter") / (F.size("sa") + F.size("sb") - F.col("inter")))
        .filter(F.col("jac") >= 0.8)
    )
    return j.select("doc_id_a", "doc_id_b", F.round("jac", 6).alias("jaccard"))


# ---------------------------------------------------- MinHash-LSH dedup
_MINHASH_ORACLE = f"""
WITH {_MINHASH_CTES}
SELECT doc_id_a, doc_id_b FROM cand
"""


@query("minhash_lsh_candidates", oracle=_MINHASH_ORACLE)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH banding (4 bands x 4 rows): candidate
    near-dup pairs join on (band, signature) instead of raw shingles —
    the scale path for fuzzy dedup (candidate count is bounded by true
    collisions, not posting-list squares)."""
    return _band_candidate_pairs(_band_sigs_cached(spark, sf_dir))


# --------------------------------------------------------------- SimHash
# 60-bit fingerprint (15 hex chars of md5 per word): wide enough that
# Hamming <= 4 means real near-duplication (the round-1 32-bit variant
# was collision soup), and 60 = 5 x 12 splits evenly into the block keys
# below while staying clear of BIGINT sign trouble.
SIMHASH_BITS = 60
SIMHASH_BLOCKS = 5  # Manku et al. (WWW'07): d+1 blocks guarantee recall at Hamming <= d
SIMHASH_HAMMING = 4
_SIMHASH_BLOCK_BITS = SIMHASH_BITS // SIMHASH_BLOCKS  # 12
_SIMHASH_BLOCK_MASK = (1 << _SIMHASH_BLOCK_BITS) - 1  # 0xFFF

_H60_SPARK = lambda c: F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")  # noqa: E731


def _duck_h60(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


_SIMHASH_CTE = f"""
w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
wc AS (SELECT doc_id, unnest(ws) AS word FROM w),
cnt AS (SELECT doc_id, word, COUNT(*) AS c FROM wc GROUP BY 1, 2),
hb AS (
    SELECT doc_id, c, {_duck_h60('word')} AS h FROM cnt
),
bits AS (
    SELECT doc_id, b,
           SUM(CASE WHEN (h >> b) & 1 = 1 THEN c ELSE -c END) AS score
    FROM hb, generate_series(0, {SIMHASH_BITS - 1}) AS t(b)
    GROUP BY 1, 2
),
fp AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN score > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY 1
)
"""

_SIMHASH_ORACLE = f"""
WITH {_SIMHASH_CTE}
SELECT doc_id, simhash FROM fp
"""


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select("doc_id", F.explode(_words()).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("h", _H60_SPARK(F.col("word")))
    )
    bits = (
        cnt.select(
            "doc_id", "c", "h",
            F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
        )
        .groupBy("doc_id", "b")
        .agg(
            F.sum(
                F.expr("CASE WHEN shiftright(h, cast(b AS INT)) & 1 = 1 THEN c ELSE -c END")
            ).alias("score")
        )
    )
    return (
        bits.groupBy("doc_id")
        .agg(
            F.sum(
                F.expr("CASE WHEN score > 0 THEN shiftleft(1L, cast(b AS INT)) ELSE 0L END")
            ).cast("long").alias("simhash")
        )
    )


def _simhash_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints, materialized once per (documents parquet,
    stage code): one BIGINT per doc shared by simhash_fingerprint and
    simhash_near_pairs."""
    from iot_etl_spark.plans.stagecache import cached_stage

    return cached_stage(
        spark, "simhash_fp", sf_dir, ("documents",),
        lambda: _simhash_df(spark, sf_dir),
        code_deps=(_simhash_df, _words),
    )


@query("simhash_fingerprint", oracle=_SIMHASH_ORACLE)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document from md5-derived word hashes weighted
    by term frequency — one BIGINT per doc; near-dups differ in few bits."""
    return _simhash_cached(spark, sf_dir).select("doc_id", "simhash")


_SIMHASH_PAIRS_ORACLE = f"""
WITH {_SIMHASH_CTE}
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING}
"""


@query("simhash_near_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming <= 4, found WITHOUT an
    all-pairs scan: split the 60-bit fingerprint into 5 x 12-bit
    blocks and join on (block_index, block_value) — by pigeonhole any
    pair differing in <= 4 bits agrees on at least one of 5 blocks
    (Manku et al., WWW'07), so banded candidates + exact Hamming
    rescore is LOSSLESS. The oracle is the exact all-pairs scan;
    hash-equality proves the banding drops nothing. At 100 TB each
    block bucket holds ~N/2^12 docs per block key (and truly hot
    buckets are themselves near-dup clusters), vs the round-1 plan's
    O(5)-cardinality language blocking."""
    fp = _simhash_cached(spark, sf_dir)
    chunks = fp.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BLOCKS - 1))).alias("j"),
    ).withColumn(
        "cv",
        F.expr(
            f"shiftright(simhash, cast({_SIMHASH_BLOCK_BITS} * j AS INT))"
            f" & {_SIMHASH_BLOCK_MASK}"
        ),
    )
    # Bucket + expand (not a self-join): computes the fingerprint
    # lineage once; see _band_candidate_pairs for the rationale.
    buckets = (
        chunks.groupBy("j", "cv")
        .agg(F.array_sort(F.collect_list(F.struct("doc_id", "simhash"))).alias("items"))
        .filter(F.size("items") >= 2)
    )
    cand = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(items) - 2), i -> "
                    "transform(sequence(i + 1, size(items) - 1), j2 -> "
                    "struct(items[i].doc_id AS doc_id_a, items[j2].doc_id AS doc_id_b, "
                    "items[i].simhash AS sa, items[j2].simhash AS sb))))"
                )
            ).alias("p")
        )
        .select("p.*")
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int")
    # r14 (guide §2.3): rescore BEFORE the pair dedup — the Hamming
    # gate commutes with DISTINCT and is selective, so the dedup
    # shuffle carries only surviving (a, b, hamming) triples instead
    # of every multi-block collision with both 64-bit fingerprints.
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= SIMHASH_HAMMING)
        .select("doc_id_a", "doc_id_b", "hamming")
        .distinct()
    )


# ------------------------------------------------- text quality / tokens
_TEXT_STATS_ORACLE = f"""
WITH w AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS ws FROM documents)
SELECT doc_id, lang, n_chars,
       len(ws) AS n_words,
       len(list_distinct(ws)) AS n_distinct_words,
       ROUND(list_aggregate(list_transform(ws, x -> len(x)), 'sum')::DOUBLE / len(ws), 6)
           AS avg_word_len,
       ROUND(len(list_filter(ws, x -> x IN {_STOP_SQL}))::DOUBLE / len(ws), 6)
           AS stopword_ratio,
       ROUND(len(list_distinct(ws))::DOUBLE / len(ws), 6) AS ttr
FROM w
ORDER BY doc_id
"""


@query("text_quality_stats", oracle=_TEXT_STATS_ORACLE)
def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: word/distinct-word counts, average
    word length, stopword ratio, type-token ratio — the standard
    pre-training quality-filter features. Pure higher-order-function
    columns (no UDF, fully codegen)."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", "lang", "n_chars", _words().alias("ws"))
    n = F.size("ws")
    stop_arr = ", ".join(f"'{s}'" for s in _STOPWORDS)
    return w.select(
        "doc_id", "lang", "n_chars",
        n.alias("n_words"),
        F.size(F.array_distinct("ws")).alias("n_distinct_words"),
        F.round(
            F.expr("aggregate(transform(ws, x -> length(x)), 0L, (acc, x) -> acc + x)")
            .cast("double") / n, 6,
        ).alias("avg_word_len"),
        F.round(
            F.expr(f"size(filter(ws, x -> x IN ({stop_arr})))").cast("double") / n, 6
        ).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct("ws")).cast("double") / n, 6).alias("ttr"),
    )


_TOKEN_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS total_tokens,
       ROUND(SUM(len(regexp_extract_all(text, '[a-z0-9]+')))::DOUBLE / COUNT(*), 6)
           AS avg_tokens_per_doc
FROM documents
GROUP BY lang
ORDER BY lang
"""


@query("token_count_by_lang", oracle=_TOKEN_ORACLE)
def token_count_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex token counting (BPE-ish pre-tokenizer: alnum runs)
    aggregated per language — corpus sizing for training-data budgets."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.regexp_count(F.col("text"), F.lit("[a-z0-9]+"))
    return (
        docs.withColumn("ntok", ntok)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").cast("long").alias("total_tokens"),
            F.round(F.sum("ntok").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_tokens_per_doc"
            ),
        )
        .orderBy("lang")
    )


# ------------------------------------------------------- language ID
_LANG_SETS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "das"),
    "es": ("el", "los", "las"),
    "fr": ("le", "les", "des"),
}


def _duck_langcount(lang: str) -> str:
    s = ", ".join(f"'{w}'" for w in _LANG_SETS[lang])
    return f"len(list_filter(ws, x -> x IN ({s})))"


_LANGID_ORACLE = f"""
WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
sc AS (
    SELECT doc_id, lang,
           {_duck_langcount('en')} AS c_en,
           {_duck_langcount('de')} AS c_de,
           {_duck_langcount('es')} AS c_es,
           {_duck_langcount('fr')} AS c_fr
    FROM w
),
pred AS (
    SELECT lang,
           CASE WHEN c_en > c_de AND c_en > c_es AND c_en > c_fr THEN 'en'
                WHEN c_de > c_en AND c_de > c_es AND c_de > c_fr THEN 'de'
                WHEN c_es > c_en AND c_es > c_de AND c_es > c_fr THEN 'es'
                WHEN c_fr > c_en AND c_fr > c_de AND c_fr > c_es THEN 'fr'
                ELSE 'unknown' END AS predicted_lang
    FROM sc
)
SELECT lang, predicted_lang, COUNT(*) AS n_docs
FROM pred GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("langid_confusion", oracle=_LANGID_ORACLE)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language-ID heuristic with a strict-argmax CASE
    chain (ties -> 'unknown'), reported as a (true lang x predicted)
    confusion matrix."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select("doc_id", "lang", _words().alias("ws"))
    cols = {}
    for lg, ws_ in _LANG_SETS.items():
        s = ", ".join(f"'{x}'" for x in ws_)
        cols[lg] = F.expr(f"size(filter(ws, x -> x IN ({s})))")
    c_en, c_de, c_es, c_fr = cols["en"], cols["de"], cols["es"], cols["fr"]
    pred = (
        F.when((c_en > c_de) & (c_en > c_es) & (c_en > c_fr), "en")
        .when((c_de > c_en) & (c_de > c_es) & (c_de > c_fr), "de")
        .when((c_es > c_en) & (c_es > c_de) & (c_es > c_fr), "es")
        .when((c_fr > c_en) & (c_fr > c_de) & (c_fr > c_es), "fr")
        .otherwise("unknown")
    )
    return (
        w.withColumn("predicted_lang", pred)
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted_lang")
    )


# --------------------------------------------- rolling-hash fingerprint
_FINGERPRINT_ORACLE = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS s FROM w),
ex AS (SELECT doc_id, {_duck_h32('unnest(s)')} AS h FROM sh)
SELECT doc_id, COUNT(*) AS n_shingles,
       MIN(h) AS min_shingle_hash, MAX(h) AS max_shingle_hash
FROM ex GROUP BY doc_id ORDER BY doc_id
"""


@query("doc_fingerprint", oracle=_FINGERPRINT_ORACLE)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: min/max over rolling
    3-gram hashes (the min-hash of the shingle stream) + shingle count."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", _words().alias("ws")).select(
        "doc_id", F.expr(_shingles_expr()).alias("s")
    )
    ex = sh.select("doc_id", F.explode("s").alias("shingle")).select(
        "doc_id", _H32_SPARK(F.col("shingle")).alias("h")
    )
    return (
        ex.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.min("h").alias("min_shingle_hash"),
            F.max("h").alias("max_shingle_hash"),
        )
    )


# ----------------------------------------------- multimodal byte plumbing
_BYTES_ORACLE = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS digest
FROM documents
ORDER BY doc_id
"""


@query("multimodal_bytes_stats", oracle=_BYTES_ORACLE)
def multimodal_bytes_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary plumbing exercised on real data: treat text bytes
    as a binary payload (the testdata ships no media table), compute
    size + content digest."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).cast("long").alias("n_bytes"),
        F.md5(payload).alias("digest"),
    )


# ------------------------------------------- near-dup cluster resolution
def _min_label_components(edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """Connected components over an (a, b) SYMMETRIC edge set by
    iterative min-label propagation, restricted to edge-endpoint
    nodes. Returns (doc_id, label) for those nodes only — callers
    treat absent nodes as isolated (label = own id). Each round is a
    neighbor-min join + a pointer-jumping hop (label := label of
    label), so convergence is O(log diameter) rounds — a path graph
    of a million near-identical docs converges in ~20 rounds where
    plain propagation needs a million. The driver loop checks only a
    scalar convergence witness. Raises if ``max_iters`` rounds were
    not enough (ADVICE r2: silently-unconverged labels would keep
    multiple 'canonical' docs per duplicate cluster with no signal).
    The same loop IS the standard large-scale CC shape (label
    propagation a la large-star/small-star)."""
    labels = (
        edges.groupBy(F.col("a").alias("doc_id"))
        .agg(F.min("b").alias("nmin"))
        .select("doc_id", F.least("doc_id", "nmin").alias("label"))
        .cache()
    )
    # labels only ever DECREASE, so sum(label) is a monotone
    # convergence witness: one aggregate per round instead of a
    # join+count diff against the previous labels.
    prev_sum = labels.agg(F.sum("label")).first()[0]
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("doc_id", "b"), "b")
            .groupBy(F.col("a").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id", F.least("label", "nlabel").alias("label")
        )
        # pointer jumping: follow the label one more hop through the
        # label table itself (labels are doc_ids of endpoint nodes),
        # halving the remaining path each round.
        parent = stepped.select(
            F.col("doc_id").alias("label"), F.col("label").alias("_plabel")
        )
        # localCheckpoint, not cache: each round references labels 4x
        # and edges 2x, so an un-truncated logical plan grows 4^k —
        # rendering its tree string for the cache name OOMs a
        # default-heap driver by ~round 7 (hit by grid_density_
        # clusters in the vanilla driver session). Checkpointing
        # truncates lineage to a LogicalRDD: plan size stays O(1) per
        # round, and the loop materializes every round anyway via the
        # convergence witness.
        new_labels = (
            stepped.join(parent, "label", "left")
            .select("doc_id", F.least("label", "_plabel").alias("label"))
        ).localCheckpoint()
        cur_sum = new_labels.agg(F.sum("label")).first()[0]
        # No unpersist: checkpointed frames are not in the cache
        # manager (DataFrame.unpersist is a no-op on them); the
        # superseded round's blocks are reclaimed by RDD GC once
        # `labels` is rebound. Bounded: <= max_iters tiny label
        # frames outstanding, each O(n_docs) rows.
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected-components did not converge in {max_iters} rounds "
            "(component diameter > 2^rounds is implausible for near-dup "
            "clusters — inspect the edge set, or raise max_iters)"
        )
    return labels


# shared with the cluster-size histogram (queries_audit.py)
_CLUSTERS_CTES = f"""{_MINHASH_CTES},
jac AS (
    SELECT doc_id_a, doc_id_b
    FROM cand
    JOIN sh x ON x.doc_id = doc_id_a
    JOIN sh y ON y.doc_id = doc_id_b
    WHERE len(list_intersect(x.s, y.s))::DOUBLE
          / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.8
),
edges AS (
    SELECT doc_id_a AS a, doc_id_b AS b FROM jac
    UNION ALL SELECT doc_id_b, doc_id_a FROM jac
),
walk(doc_id, r) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.a, walk.r FROM edges e JOIN walk ON e.b = walk.doc_id
)"""

_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_CLUSTERS_CTES}
SELECT doc_id, MIN(r) AS cluster_id, doc_id = MIN(r) AS is_canonical
FROM walk GROUP BY doc_id
"""


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every document: connected components
    over the Jaccard>=0.8 edge set via min-label propagation."""
    sh = _shingle_sets_cached(spark, sf_dir)
    cand = _band_candidate_pairs(_band_sigs_cached(spark, sf_dir))
    jac = (
        cand.join(sh.select(F.col("doc_id").alias("doc_id_a"), F.col("s").alias("sa")), "doc_id_a")
        .join(sh.select(F.col("doc_id").alias("doc_id_b"), F.col("s").alias("sb")), "doc_id_b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .filter(F.col("inter") / (F.size("sa") + F.size("sb") - F.col("inter")) >= 0.8)
        .select("doc_id_a", "doc_id_b")
    )
    edges = jac.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b")).unionAll(
        jac.select(F.col("doc_id_b").alias("a"), F.col("doc_id_a").alias("b"))
    )
    edges = edges.cache()
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # Iterate ONLY over edge-endpoint nodes: isolated docs (the vast
    # majority of any corpus — everything without a near-dup) keep
    # label == doc_id by construction, so propagating over them each
    # round is pure wasted shuffle. At 100 TB the edge subgraph is
    # orders of magnitude smaller than the corpus; the full-corpus
    # join happens exactly once, after convergence.
    comp = _min_label_components(edges)
    out = (
        docs.join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").alias("cluster_id"),
        )
    )
    edges.unpersist()
    return out


def _cluster_labels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labels, materialized once per (documents parquet, stage
    code) — the iterative CC is the registry's most expensive stage
    and has two consumers (dedup_clusters, dedup_cluster_size_hist);
    its output is two BIGINTs per doc."""
    from iot_etl_spark.plans.stagecache import cached_stage

    return cached_stage(
        spark, "cluster_labels", sf_dir, ("documents",),
        lambda: _cluster_labels(spark, sf_dir),
        code_deps=(_cluster_labels, _min_label_components, _band_candidate_pairs,
                   _minhash_band_sigs, _shingle_sets, _shingles_expr, _words),
    )


@query("dedup_clusters", oracle=_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution — the step after pair generation in
    a corpus-dedup pipeline: connected components over the Jaccard>=0.8
    edge set, cluster id = min doc_id in the component, one canonical
    doc per cluster (keep-canonical + drop-rest is then a filter).

    Distributed algorithm: iterative min-label propagation — each
    round, every node takes the min of its own label and its
    neighbors' labels (one join + one groupBy per round), converging
    in O(component diameter) rounds; the driver loop only checks a
    scalar convergence count, no data is collected. Near-dup
    components are overwhelmingly tiny (dup clusters), so 2-3 rounds
    suffice; the same loop IS the standard large-scale CC shape
    (label propagation a la large-star/small-star) at 100 TB. Oracle:
    DuckDB recursive-CTE transitive closure of the identical edge set.
    The label table is a materialized shared stage (stagecache) — the
    cluster-size histogram reads the same physical rows."""
    return _cluster_labels_cached(spark, sf_dir).withColumn(
        "is_canonical", F.col("doc_id") == F.col("cluster_id")
    )


# ------------------------------------- deterministic stratified sampling
# Per-source keep rates: the mixture specification of a training-data
# pipeline ("2 parts src0 : 1 part src1 : ...") expressed as Bernoulli
# rates. Sampling is by content-independent hash of the doc id, so it
# is (a) deterministic and replayable across runs AND engines, (b) a
# pure map-side filter — no shuffle, no state, embarrassingly parallel
# at 100 TB, (c) composable: re-running with a higher rate yields a
# superset (hash threshold monotonicity).
_SAMPLE_RATES = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25}
_SAMPLE_DEFAULT_RATE = 0.1
_SAMPLE_SALT = "sample:"  # distinct hash stream from the minhash/simhash ones

_DUCK_SAMPLE_FRAC = (
    f"('0x' || substr(md5('{_SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT"
    " / 4294967296.0"
)
_DUCK_SAMPLE_RATE = (
    "CASE source "
    + " ".join(f"WHEN '{s}' THEN {r}" for s, r in _SAMPLE_RATES.items())
    + f" ELSE {_SAMPLE_DEFAULT_RATE} END"
)


def _spark_sample_keep():
    frac = _H32_SPARK(
        F.concat(F.lit(_SAMPLE_SALT), F.col("doc_id").cast("string"))
    ) / F.lit(4294967296.0)
    rate = F.lit(_SAMPLE_DEFAULT_RATE)
    for s, r in reversed(_SAMPLE_RATES.items()):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    return frac < rate


_SAMPLE_ORACLE = f"""
SELECT doc_id, source, lang, n_chars
FROM documents
WHERE {_DUCK_SAMPLE_FRAC} < {_DUCK_SAMPLE_RATE}
"""


@query("sample_stratified", oracle=_SAMPLE_ORACLE)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source Bernoulli sampling (hash-threshold on
    md5 of the doc id): the data-mixing primitive of a training
    pipeline. Unlike TABLESAMPLE / df.sample, the kept SET is a pure
    function of (id, rate table) — reproducible across engines (the
    oracle computes the identical predicate), incremental-friendly
    (supersets under rate increases), and map-side only. The reference
    has no sampling operator; capability extension."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(_spark_sample_keep()).select("doc_id", "source", "lang", "n_chars")


_MIX_ORACLE = f"""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN {_DUCK_SAMPLE_FRAC} < {_DUCK_SAMPLE_RATE}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND({_DUCK_SAMPLE_RATE}, 6) AS target_rate,
       ROUND(SUM(CASE WHEN {_DUCK_SAMPLE_FRAC} < {_DUCK_SAMPLE_RATE}
                      THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS realized_rate
FROM documents GROUP BY source
"""


@query("sample_mix_summary", oracle=_MIX_ORACLE)
def sample_mix_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture audit for sample_stratified: per-source totals, kept
    counts, target vs realized rate — the report a data-mixing run
    ships with its output manifest."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.lit(_SAMPLE_DEFAULT_RATE)
    for s, r in reversed(_SAMPLE_RATES.items()):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    keep = _spark_sample_keep().cast("int")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(keep).cast("long").alias("n_kept"),
        F.round(F.first(rate), 6).alias("target_rate"),
        F.round(F.sum(keep) / F.count(F.lit(1)), 6).alias("realized_rate"),
    )


# ------------------------------------------- percentile quality gating
# Keep the top quartile of each source by a quality score — the
# distribution-relative filter step of a curation pipeline (absolute
# thresholds drift across sources; percentile gates don't). The score
# here is the doc's word count; any numeric signal slots in.
QUALITY_GATE_CDF = 0.75

_GATE_ORACLE = f"""
WITH s AS (
    SELECT doc_id, source, len(string_split(text, ' ')) AS n_words
    FROM documents
)
SELECT doc_id, source, n_words,
       ROUND(cume_dist() OVER (PARTITION BY source ORDER BY n_words), 6) AS cdf,
       cume_dist() OVER (PARTITION BY source ORDER BY n_words) >= {QUALITY_GATE_CDF}
           AS kept
FROM s
"""


@query("quality_percentile_gate", oracle=_GATE_ORACLE)
def quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile gate: CUME_DIST of the quality score
    within each source stratum, keep docs at or above the 75th
    percentile. CUME_DIST is tie-stable (equal scores share a value),
    so the gate is deterministic without a tiebreak — unlike a
    row_number cut, identical-quality docs are kept or dropped
    together.

    Scale: one shuffle on source (the stratum key); each partition
    sorts locally. Sources are few and large at 100 TB, so skew is the
    hazard — the EXECUTABLE swap is quality_percentile_gate_approx
    (approx_percentile per source, cut points broadcast back, gate
    map-side; provably the same kept set, pinned in
    test_approx_twins.py)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", F.size(_words()).cast("long").alias("n_words")
    )
    w = Window.partitionBy("source").orderBy("n_words")
    cdf = F.cume_dist().over(w)
    return scored.select(
        "doc_id", "source", "n_words",
        F.round(cdf, 6).alias("cdf"),
        (cdf >= QUALITY_GATE_CDF).alias("kept"),
    )


# ------------------------------- percentile gate, approx cut points
# The executable 100 TB swap the exact twin's docstring promises
# (VERDICT r4 item 3): one grouped approx_percentile reduce gives the
# per-source 75th-percentile cut, broadcast-joined back; the gate is
# then a map-side comparison — the per-row CUME_DIST window is gone.
# Provably the SAME kept set when the sketch is exact:
# cume_dist(v) >= p  <=>  v >= quantile_disc(p), since quantile_disc
# returns the smallest element whose CDF reaches p.
# The cut is the element at 1-indexed rank CEIL(p * n) computed in
# IEEE DOUBLE — exactly the rank an exact GK sketch answers with (see
# queries_audit._disc_cut_cols for why quantile_disc can differ at
# near-integer p*n products).
_GATE_APPROX_ORACLE = f"""
WITH s AS (
    SELECT doc_id, source, len(string_split(text, ' ')) AS n_words
    FROM documents
),
rk AS (
    SELECT source, n_words,
           row_number() OVER (PARTITION BY source ORDER BY n_words) AS rn,
           COUNT(*) OVER (PARTITION BY source) AS n
    FROM s
),
cuts AS (
    SELECT source,
           MAX(CASE WHEN rn = CAST(CEIL(CAST({QUALITY_GATE_CDF!r} AS DOUBLE) * n)
                                   AS BIGINT)
                    THEN n_words END) AS q75
    FROM rk GROUP BY source
)
SELECT doc_id, s.source, n_words, q75, n_words >= q75 AS kept
FROM s JOIN cuts USING (source)
"""


@query("quality_percentile_gate_approx", oracle=_GATE_APPROX_ORACLE)
def quality_percentile_gate_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile gate via APPROX cut points — the scalable
    twin of quality_percentile_gate: approx_percentile per source (GK
    sketch, mergeable), cut points broadcast back (one tiny frame, a
    handful of sources), kept = n_words >= cut computed map-side. The
    plan has NO WindowExec (pytest-pinned) and no per-source sort —
    the skewed-stratum hazard of the CUME_DIST version is gone.

    Equivalence: with an exact sketch (accuracy=1e6 >= stratum size at
    test scale) the kept set is IDENTICAL to the exact twin's
    cume_dist >= 0.75 gate — pinned by pytest at sf0.1."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", F.size(_words()).cast("long").alias("n_words")
    )
    from iot_etl_spark.plans.queries_audit import APPROX_CUT_ACCURACY

    cuts = scored.groupBy("source").agg(
        F.approx_percentile(
            "n_words", F.lit(QUALITY_GATE_CDF), F.lit(APPROX_CUT_ACCURACY)
        ).alias("q75")
    )
    return scored.join(F.broadcast(cuts), "source").select(
        "doc_id",
        "source",
        "n_words",
        "q75",
        (F.col("n_words") >= F.col("q75")).alias("kept"),
    )


# ---------------------------------------------- BPE-style token counting
# A GPT-2-ish pre-tokenizer regex (letter runs | digit runs | punct
# runs), ASCII classes only so Java regex (Spark) and RE2 (DuckDB)
# agree byte-for-byte. Word-split counting (token_count_by_lang)
# undercounts punctuation-heavy text; this is the budget number a
# tokenizer actually sees (~1 BPE token per regex piece, pre-merges).
_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\r\\n]+"

_BPE_ORACLE = f"""
WITH t AS (
    SELECT doc_id, lang,
           regexp_extract_all(text, '{_BPE_PATTERN}') AS toks
    FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
       ROUND(AVG(len(toks)), 6) AS avg_tokens_per_doc,
       ROUND(SUM(list_sum(list_transform(toks, x -> len(x)))::DOUBLE)
             / SUM(len(toks)), 6) AS avg_token_len
FROM t GROUP BY lang ORDER BY lang
"""


@query("bpe_token_stats", oracle=_BPE_ORACLE)
def bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-facing budget stats: pre-tokenize with the BPE-style
    regex, count tokens + mean token length per language. One
    regexp_extract_all per doc, then a hash aggregate — map-side
    partials, no shuffle beyond the 5-row lang key; runs at scan speed
    at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.expr(f"regexp_extract_all(text, '{_BPE_PATTERN}', 0)").alias("toks")
    ).select(
        "lang",
        F.size("toks").cast("long").alias("n_toks"),
        F.aggregate(
            F.transform(F.col("toks"), lambda x: F.length(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("tok_chars"),
    )
    return (
        toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.round(F.avg("n_toks"), 6).alias("avg_tokens_per_doc"),
            F.round(F.sum("tok_chars") / F.sum("n_toks"), 6).alias("avg_token_len"),
        )
        .orderBy("lang")
    )


# ------------------------------------------------- text normalization
_NORM_ORACLE = """
WITH n AS (
    SELECT doc_id, n_chars,
           trim(regexp_replace(text, '[ \\t\\r\\n]+', ' ', 'g')) AS norm
    FROM documents
)
SELECT doc_id, n_chars,
       len(norm) AS norm_chars,
       len(norm) <> n_chars AS changed,
       md5(norm) AS norm_digest
FROM n
"""


@query("text_normalize_stats", oracle=_NORM_ORACLE)
def text_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace canonicalization (collapse runs -> single space,
    trim) with a content digest of the normalized form — the cleanup
    pass that runs BEFORE exact dedup so cosmetic whitespace diffs
    don't defeat the digest key. Pure per-row column ops, zero
    shuffle; the explicit [ \\t\\r\\n] class sidesteps the one place
    Java regex and RE2 disagree on \\s (vertical tab)."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.col("text"), "[ \\t\\r\\n]+", " "))
    # expression-let: digest + length both consume norm; bind once
    return docs.select(
        "doc_id",
        "n_chars",
        F.length(norm).cast("long").alias("norm_chars"),
        (F.length(norm) != F.col("n_chars")).alias("changed"),
        F.md5(norm).alias("norm_digest"),
    )


# --------------------------------------- keep-best dedup resolution
# Policy layer on top of cluster resolution: within each near-dup
# cluster keep the single BEST document (longest by n_chars, doc_id
# tiebreak) instead of the arbitrary min-id canonical — the selection
# rule an LLM-corpus dedup actually ships (drop the truncated mirror,
# keep the full article). Composes the materialized cluster-label
# stage with a per-cluster top-1 window (partitioned by cluster,
# frames are cluster-sized — bounded by the dedup family's own
# guarantees, never corpus-sized), then rolls up the keep/drop
# decision per source for the run report.
def _keep_best_oracle() -> str:
    from iot_etl_spark.plans.queries_text import _CLUSTERS_CTES  # self-import safe

    return f"""
WITH RECURSIVE {_CLUSTERS_CTES},
labels AS (SELECT doc_id, MIN(r) AS cluster_id FROM walk GROUP BY doc_id),
ranked AS (
    SELECT d.source, d.n_chars, l.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY l.cluster_id
                              ORDER BY d.n_chars DESC, d.doc_id) AS rk
    FROM documents d JOIN labels l ON l.doc_id = d.doc_id
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN rk = 1 THEN n_chars ELSE 0 END) AS BIGINT)
           AS kept_chars,
       ROUND(SUM(CASE WHEN rk = 1 THEN n_chars ELSE 0 END)::DOUBLE
             / SUM(n_chars), 6) AS kept_char_share
FROM ranked GROUP BY source
"""


@query("dedup_keep_best", oracle=_keep_best_oracle())
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See module notes above: best-doc-per-cluster dedup resolution
    (n_chars DESC, doc_id tiebreak), reported per source."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    labels = _cluster_labels_cached(spark, sf_dir)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    ranked = (
        docs.join(labels, "doc_id")
        .withColumn("rk", F.row_number().over(w))
    )
    kept = (F.col("rk") == 1).cast("int")
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).cast("long").alias("n_kept"),
        F.sum(1 - kept).cast("long").alias("n_dropped"),
        F.sum(F.when(F.col("rk") == 1, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
        F.round(
            F.sum(F.when(F.col("rk") == 1, F.col("n_chars")).otherwise(0))
            / F.sum("n_chars"),
            6,
        ).alias("kept_char_share"),
    )


# ------------------------------------------ containment (subset) pairs
CONTAIN_TAU = 0.7

_CONTAIN_ORACLE = f"""
WITH {_MINHASH_CTES}
SELECT doc_id_a, doc_id_b,
       ROUND(len(list_intersect(x.s, y.s))::DOUBLE / len(x.s), 6)
           AS containment_a_in_b,
       ROUND(len(list_intersect(x.s, y.s))::DOUBLE / len(y.s), 6)
           AS containment_b_in_a
FROM cand
JOIN sh x ON x.doc_id = doc_id_a
JOIN sh y ON y.doc_id = doc_id_b
WHERE len(x.s) > 0 AND len(y.s) > 0
  AND GREATEST(len(list_intersect(x.s, y.s))::DOUBLE / len(x.s),
               len(list_intersect(x.s, y.s))::DOUBLE / len(y.s))
      >= {CONTAIN_TAU}
"""


@query("containment_pairs", oracle=_CONTAIN_ORACLE)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: shingle CONTAINMENT |A∩B|/|A| (and the
    reverse) over the shared LSH candidate pairs — the measure Jaccard
    misses. A short document wholly embedded in a long one (quote
    farm, boilerplate wrapper, excerpt page) has high containment but
    LOW Jaccard (the union is dominated by the long side), so a
    Jaccard-only dedup keeps both; containment >= {CONTAIN_TAU} on
    EITHER side flags subset-duplication for the keep-longest /
    strip-wrapper policies a training-corpus pipeline applies.

    Scale: identical shape to dedup_ngram_jaccard — stage-cached
    shingle sets + (band, signature) candidates, exact intersection
    rescore only on candidates; both containment directions come from
    the ONE intersection count. Caveat (documented): LSH banding
    targets Jaccard, so recall for high-containment/low-Jaccard pairs
    falls with the length ratio — the production fix is a second
    band family on the shorter side's shingles; at test SF the
    candidate set covers every qualifying pair, which the oracle's
    identical pipeline verifies."""
    sh = _shingle_sets_cached(spark, sf_dir)
    cand = _band_candidate_pairs(_band_sigs_cached(spark, sf_dir))
    j = (
        cand.join(sh.select(F.col("doc_id").alias("doc_id_a"), F.col("s").alias("sa")), "doc_id_a")
        .join(sh.select(F.col("doc_id").alias("doc_id_b"), F.col("s").alias("sb")), "doc_id_b")
        .filter((F.size("sa") > 0) & (F.size("sb") > 0))
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .withColumn("ca", F.col("inter") / F.size("sa"))
        .withColumn("cb", F.col("inter") / F.size("sb"))
        .filter(F.greatest("ca", "cb") >= CONTAIN_TAU)
    )
    return j.select(
        "doc_id_a", "doc_id_b",
        F.round("ca", 6).alias("containment_a_in_b"),
        F.round("cb", 6).alias("containment_b_in_a"),
    )


# ------------------------------------------------- BM25 retrieval
# Every per-term score is ONE double expression over five exact
# BIGINTs (tf, df, dl, n_docs, total_len), shared VERBATIM between
# F.expr and the oracle; terms are quantized to nano-unit BIGINTs
# BEFORE the per-document sum, so the cross-term accumulation — and
# therefore the ranking — is integer-exact on both engines (same
# device as pagerank's 1e-9 rank units). k1=1.2, b=0.75 (the Lucene
# defaults); idf is the Robertson/Lucene LN(1 + ...) form, always
# positive.
BM25_QUERY_IDS = (0, 7, 42)
BM25_TOP = 10
_BM25_QIDS_SQL = ", ".join(str(q) for q in BM25_QUERY_IDS)

_BM25_TERM_SQL = (
    "LN(1 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))"
    " * (CAST(tf AS DOUBLE) * 2.2)"
    " / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(total_len AS DOUBLE) / n_docs)))"
)


def _bm25_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document term frequencies (doc_id, tok, tf) — the postings
    frame bm25_retrieval references five ways and rbo_rank_agreement's
    lexical ranker re-derives. Deliberately NOT a materialized stage:
    an r14 interleaved A/B measured the stage read-back (six scans of
    a ~1 MB 32-file parquet) consistently ~0.5 s SLOWER than simply
    re-running the tokenize subtrees at bench scale — the tokenize is
    cheap vectorized compute spread across the scan fan-out, while the
    tiny-file read-back serializes into open-cost-packed single-task
    scans (guide §1: measure, keep the loser out). At a corpus scale
    where the tokenize dominates, a stage (with production-sized
    files) becomes the right trade; the seam is this one function."""
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    return tok.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )

_BM25_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        FROM documents
    ) WHERE tok <> ''
),
tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
st AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_len
    FROM dl
),
dfx AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
qt AS (SELECT DISTINCT doc_id AS qid, tok FROM tf
       WHERE doc_id IN ({_BM25_QIDS_SQL})),
terms AS (
    SELECT qt.qid, t.doc_id,
           CAST(ROUND(({_BM25_TERM_SQL}) * 1e9) AS BIGINT) AS nano
    FROM qt
    JOIN tf t ON t.tok = qt.tok AND t.doc_id <> qt.qid
    JOIN dfx ON dfx.tok = qt.tok
    JOIN dl ON dl.doc_id = t.doc_id, st
),
sc AS (
    SELECT qid, doc_id, CAST(SUM(nano) AS BIGINT) AS nano
    FROM terms GROUP BY 1, 2
)
SELECT qid AS query_id, doc_id, rnk,
       ROUND(nano / 1e9, 6) AS bm25_score
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY nano DESC, doc_id) AS rnk
    FROM sc
) WHERE rnk <= {BM25_TOP}
"""


@query("bm25_retrieval", oracle=_BM25_ORACLE)
def bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 LEXICAL RETRIEVAL (Robertson et al.; the Lucene/default
    Elasticsearch scorer) — top {BM25_TOP} documents per query doc by
    idf-weighted, length-normalized term frequency; upgrades the raw
    token-overlap retriever rrf_hybrid_retrieval fuses with. k1=1.2,
    b=0.75; idf = LN(1 + (N - df + 0.5)/(df + 0.5)), always positive.

    Rank determinism: each per-term score is one shared-verbatim
    double expression over five exact BIGINTs, quantized to nano
    units BEFORE the per-doc sum — the ranking orders an INTEGER, so
    no cross-engine accumulation order can reorder the head (the same
    1e-9 fixed-point device as pagerank's rank trajectory).

    100 TB shape: postings (doc, term, tf) shuffle once on the term
    key and serve document frequencies AND the candidate join; the
    query side (3 docs' distinct terms, with their df) broadcasts;
    candidates are bounded by documents sharing a query term;
    doc-length joins ride the doc_id key. A production index would
    bucket the postings by term — the query plan is unchanged.
    Reference parity: none — the reference has no retrieval layer;
    LLM-pipeline (RAG) extension."""
    from pyspark.sql import Window

    # SPREAD THE TOKENIZE (registry.spread_scan, guide §2.5):
    # documents.parquet is one scan split, and the tf lineage re-runs
    # the tokenize + count per reference — serially without the
    # fan-out. Measured 1.3-1.7 -> 1.1-1.4 s steady. A materialized
    # postings stage AND a localCheckpoint both re-measured SLOWER
    # (see _bm25_tf), so the plan stays lazy.
    tf = _bm25_tf(spark, sf_dir)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    st = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_len"),
    )
    dfx = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    qt = (
        tf.filter(F.col("doc_id").isin(*BM25_QUERY_IDS))
        .select(F.col("doc_id").alias("qid"), "tok")
        .distinct()
    )
    # df restricted to query terms (values unchanged) so the idf side
    # broadcasts instead of shuffling the full vocabulary.
    qdf = dfx.join(F.broadcast(qt.select("tok").distinct()), "tok")
    terms = (
        tf.join(F.broadcast(qt), "tok")
        .filter(F.col("doc_id") != F.col("qid"))
        .join(F.broadcast(qdf), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(st))
        .select(
            "qid",
            "doc_id",
            F.round(F.expr(_BM25_TERM_SQL) * F.lit(1e9))
            .cast("long")
            .alias("nano"),
        )
    )
    sc = terms.groupBy("qid", "doc_id").agg(
        F.sum("nano").cast("long").alias("nano")
    )
    w = Window.partitionBy("qid").orderBy(F.col("nano").desc(), "doc_id")
    return (
        sc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= BM25_TOP)
        .select(
            F.col("qid").alias("query_id"),
            "doc_id",
            "rnk",
            F.round(F.col("nano") / F.lit(1e9), 6).alias("bm25_score"),
        )
    )


# --------------------- duplication-weighted token budget (soft dedup)
# The OTHER dedup resolution policy: dedup_keep_best drops mirrors
# outright; large-corpus recipes often instead DOWN-WEIGHT duplicates
# (each member of a size-c cluster sampled at 1/c), preserving
# coverage while neutralizing over-represented content. This query
# reports the resulting per-source token budget: raw tokens, the
# duplication-weighted effective tokens, and the inflation ratio a
# mixing plan must correct for.
_TOKINF_EFF_SQL = "CAST(round(src_tokens * 1000000000.0 / csize) AS BIGINT)"

_TOKINF_ORACLE = f"""
WITH RECURSIVE {_CLUSTERS_CTES},
labels AS (SELECT doc_id, MIN(r) AS cluster_id FROM walk GROUP BY doc_id),
toks AS (
    SELECT d.doc_id, d.source, l.cluster_id,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks
    FROM documents d JOIN labels l ON l.doc_id = d.doc_id
),
csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS csize
        FROM labels GROUP BY 1),
sc AS (
    SELECT t.source, t.cluster_id, csz.csize,
           CAST(SUM(t.n_toks) AS BIGINT) AS src_tokens
    FROM toks t JOIN csz ON csz.cluster_id = t.cluster_id
    GROUP BY 1, 2, 3
)
SELECT source,
       CAST(SUM(src_tokens) AS BIGINT) AS total_tokens,
       ROUND(SUM({_TOKINF_EFF_SQL}) / 1e9, 6) AS effective_tokens,
       ROUND(SUM(src_tokens) * 1e9 / SUM({_TOKINF_EFF_SQL}), 6)
           AS inflation_ratio
FROM sc GROUP BY source
"""


@query("dedup_token_inflation", oracle=_TOKINF_ORACLE)
def dedup_token_inflation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT-DEDUP TOKEN BUDGET per source (see module note above):
    every doc in a size-c near-dup cluster contributes tokens/c to
    the effective budget; inflation_ratio = raw / effective is the
    factor by which duplication overstates a source's contribution.

    Determinism: per-(source, cluster) token sums are BIGINTs; the
    fractional 1/c weighting is quantized to nano-unit BIGINTs with a
    shared-verbatim expression BEFORE the per-source sum, so both
    engines sum the same integers; the two reported doubles are final
    single divisions.

    100 TB shape: composes the materialized cluster-label stage
    (_cluster_labels_cached — the SAME artifact dedup_clusters /
    dedup_keep_best consume, built once per corpus fingerprint); the
    new work is one cluster-size aggregate over the labels frame
    (bounded by n_docs) and one (source, cluster) shuffle — no pair
    expansion anywhere. Reference parity: none — corpus-curation
    extension (duplication-aware mixing, the WebText/CCNet weighting
    shape)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_toks")
    )
    labels = _cluster_labels_cached(spark, sf_dir)
    csz = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("csize")
    )
    sc = (
        docs.join(labels, "doc_id")
        .groupBy("source", "cluster_id")
        .agg(F.sum("n_toks").cast("long").alias("src_tokens"))
        .join(csz, "cluster_id")
    )
    eff = F.expr(_TOKINF_EFF_SQL)
    return sc.groupBy("source").agg(
        F.sum("src_tokens").cast("long").alias("total_tokens"),
        F.round(F.sum(eff) / F.lit(1e9), 6).alias("effective_tokens"),
        F.round(
            F.sum("src_tokens") * F.lit(1e9) / F.sum(eff), 6
        ).alias("inflation_ratio"),
    )


# ------------------------- cross-source near-dup overlap matrix
# "Which sources mirror each other" — the curation audit that decides
# whether two crawls/dumps should be deduplicated jointly or one
# dropped wholesale. Cells are the Jaccard>=0.8 near-dup pairs
# (the dedup_ngram_jaccard contract) bucketed by the UNORDERED source
# pair; n_docs counts the distinct documents involved in the cell.
_SRC_OVERLAP_ORACLE = f"""
WITH {_MINHASH_CTES},
jac AS (
    SELECT doc_id_a, doc_id_b
    FROM cand
    JOIN sh x ON x.doc_id = doc_id_a
    JOIN sh y ON y.doc_id = doc_id_b
    WHERE len(list_intersect(x.s, y.s))::DOUBLE
          / (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s))) >= 0.8
),
cells AS (
    SELECT LEAST(da.source, db.source) AS src_lo,
           GREATEST(da.source, db.source) AS src_hi,
           j.doc_id_a, j.doc_id_b
    FROM jac j
    JOIN documents da ON da.doc_id = j.doc_id_a
    JOIN documents db ON db.doc_id = j.doc_id_b
)
SELECT src_lo, src_hi,
       CAST(COUNT(*) // 2 AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM (
    SELECT src_lo, src_hi, doc_id_a AS doc_id, doc_id_b AS other
    FROM cells
    UNION ALL
    SELECT src_lo, src_hi, doc_id_b, doc_id_a FROM cells
)
GROUP BY 1, 2
"""


@query("source_overlap_matrix", oracle=_SRC_OVERLAP_ORACLE)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE NEAR-DUP OVERLAP MATRIX (see note above): the
    near-dup pairs of dedup_ngram_jaccard rolled up by unordered
    source pair — diagonal cells are within-source duplication,
    off-diagonal cells are mirrored content between sources.
    n_pairs double-counts nothing (each pair lands in exactly one
    unordered cell); n_docs is the distinct document count touched by
    the cell's pairs. Counting convention is pinned by the UNION-ALL
    doubling: COUNT(*) over the doubled frame is 2*n_pairs, so the
    query counts pairs pre-doubling — both engines share the shape.

    100 TB shape: composes the stage-cached shingle sets + LSH band
    candidates (the SAME artifacts every dedup-family query reuses);
    the source lookup is two joins back to the documents dim on
    doc_id; the final aggregate has at most |sources|^2 cells.
    Reference parity: none — corpus-curation extension."""
    sh = _shingle_sets_cached(spark, sf_dir)
    cand = _band_candidate_pairs(_band_sigs_cached(spark, sf_dir))
    jac = (
        cand.join(sh.select(F.col("doc_id").alias("doc_id_a"), F.col("s").alias("sa")), "doc_id_a")
        .join(sh.select(F.col("doc_id").alias("doc_id_b"), F.col("s").alias("sb")), "doc_id_b")
        .withColumn("inter", F.size(F.array_intersect("sa", "sb")))
        .filter(
            F.col("inter") / (F.size("sa") + F.size("sb") - F.col("inter")) >= 0.8
        )
        .select("doc_id_a", "doc_id_b")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    cells = (
        jac.join(
            docs.select(F.col("doc_id").alias("doc_id_a"), F.col("source").alias("src_a")),
            "doc_id_a",
        )
        .join(
            docs.select(F.col("doc_id").alias("doc_id_b"), F.col("source").alias("src_b")),
            "doc_id_b",
        )
        .select(
            F.least("src_a", "src_b").alias("src_lo"),
            F.greatest("src_a", "src_b").alias("src_hi"),
            "doc_id_a", "doc_id_b",
        )
    )
    # r14 (guide §2.4): the unionAll doubling computed the whole
    # Jaccard-rescore subtree TWICE (plan audit: 20 stage scans / 16
    # broadcasts); exploding the two endpoints doubles rows inside ONE
    # subtree — identical doubled multiset, half the plan.
    doubled = cells.select(
        "src_lo", "src_hi",
        F.explode(F.array("doc_id_a", "doc_id_b")).alias("doc_id"),
    )
    return doubled.groupBy("src_lo", "src_hi").agg(
        (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
        F.count_distinct("doc_id").alias("n_docs"),
    )


# ------------------------------- readability grading (Flesch family)
# Shared-verbatim double expressions over the three per-doc integer
# counts (words, sentences, syllable groups). Literals are explicitly
# CAST to DOUBLE: bare decimal literals are DECIMAL in Spark's parser
# and decimal arithmetic truncates (SCALE.md Catalyst trap #7).
_WPS_SQL = "(CAST(w AS DOUBLE) / CAST(s AS DOUBLE))"
_SPW_SQL = "(CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))"
_FRE_SQL = (
    f"CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * {_WPS_SQL}"
    f" - CAST(84.6 AS DOUBLE) * {_SPW_SQL}"
)
_FKG_SQL = (
    f"CAST(0.39 AS DOUBLE) * {_WPS_SQL}"
    f" + CAST(11.8 AS DOUBLE) * {_SPW_SQL} - CAST(15.59 AS DOUBLE)"
)

_READABILITY_ORACLE = f"""
WITH c AS (
    SELECT lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS w0,
           CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                AS BIGINT) AS s,
           CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                AS BIGINT) AS syl0
    FROM documents
),
d AS (
    SELECT lang, w0 AS w, s, greatest(syl0, w0) AS syl FROM c
),
q AS (
    SELECT lang, w, s,
           CAST(round(({_FRE_SQL}) * 1e6) AS BIGINT) AS fre_mic,
           CAST(round(({_FKG_SQL}) * 1e6) AS BIGINT) AS fkg_mic,
           CAST(round({_WPS_SQL} * 1e6) AS BIGINT) AS wps_mic
    FROM d
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(w) AS BIGINT) AS total_words,
       ROUND(SUM(wps_mic)::DOUBLE / COUNT(*) / 1e6, 6) AS avg_words_per_sentence,
       ROUND(SUM(fre_mic)::DOUBLE / COUNT(*) / 1e6, 6) AS avg_flesch_ease,
       ROUND(SUM(fkg_mic)::DOUBLE / COUNT(*) / 1e6, 6) AS avg_fk_grade
FROM q GROUP BY lang
"""


@query("readability_grade", oracle=_READABILITY_ORACLE)
def readability_grade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """READABILITY scoring per language: Flesch reading ease and
    Flesch-Kincaid grade level from three per-doc integer counts —
    space-split words (the module's token convention), sentence count
    as [.!?]+ runs (min 1), syllables as [aeiouy]+ vowel groups
    clamped to >= words (every word has at least one syllable). The
    classic pretraining-corpus quality facet the Gopher-style
    text_quality_stats rules don't capture: reading-grade mix drives
    curriculum and mixture decisions alongside quality scores.

    Determinism: counts are integers from identical regexes (both
    engines' dialects treat '[.!?]+'/'[aeiouy]+' identically); the
    Flesch formulas are shared-verbatim double expressions with every
    literal CAST to DOUBLE, quantized to micro-units per doc before
    summation, so accumulation order cannot move a digit.

    100 TB shape: pure per-row map work (regex counts + arithmetic,
    whole-stage codegen) into one map-side-combined hash aggregate on
    lang — the cheapest possible distributed shape; no window, no
    join, no Python. Reference parity: none — LLM-pipeline
    extension."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("w0"),
        F.greatest(
            F.expr("size(regexp_extract_all(text, '[.!?]+', 0))"), F.lit(1)
        ).cast("long").alias("s"),
        F.expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))")
        .cast("long")
        .alias("syl0"),
    )
    d = d.select(
        "lang",
        F.col("w0").alias("w"),
        "s",
        F.greatest(F.col("syl0"), F.col("w0")).alias("syl"),
    )
    q = d.select(
        "lang",
        "w",
        F.expr(f"CAST(round(({_FRE_SQL}) * 1e6) AS BIGINT)").alias("fre_mic"),
        F.expr(f"CAST(round(({_FKG_SQL}) * 1e6) AS BIGINT)").alias("fkg_mic"),
        F.expr(f"CAST(round({_WPS_SQL} * 1e6) AS BIGINT)").alias("wps_mic"),
    )
    n = F.count(F.lit(1))
    return q.groupBy("lang").agg(
        n.cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("total_words"),
        F.round(F.sum("wps_mic").cast("double") / n / 1e6, 6).alias(
            "avg_words_per_sentence"
        ),
        F.round(F.sum("fre_mic").cast("double") / n / 1e6, 6).alias(
            "avg_flesch_ease"
        ),
        F.round(F.sum("fkg_mic").cast("double") / n / 1e6, 6).alias(
            "avg_fk_grade"
        ),
    )


# ----------------------------------- Heaps' law vocabulary-growth curve
# Incremental log-log slope between adjacent checkpoints, shared
# verbatim so the IEEE tree is engine-identical.
_HEAPS_BETA_SQL = (
    "CASE WHEN pv IS NOT NULL"
    " AND ln(CAST(cum_tokens AS DOUBLE)) > ln(CAST(pn AS DOUBLE))"
    " THEN round((ln(CAST(vocab_size AS DOUBLE)) - ln(CAST(pv AS DOUBLE)))"
    " / (ln(CAST(cum_tokens AS DOUBLE)) - ln(CAST(pn AS DOUBLE))), 6)"
    " END"
)

_HEAPS_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, tok FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        FROM documents
    ) WHERE tok <> ''
),
firstseen AS (SELECT tok, MIN(doc_id) AS first_doc FROM tok GROUP BY tok),
dt AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS BIGINT) AS n_toks
    FROM documents
),
b AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
chk AS (
    SELECT i, mn + CAST(floor(CAST((mx - mn) * i AS DOUBLE)
                              / CAST(10 AS DOUBLE)) AS BIGINT) AS th
    FROM b, generate_series(1, 10) AS g(i)
),
cum AS (
    SELECT chk.i, chk.th,
           CAST(COUNT(*) AS BIGINT) AS n_docs_cum,
           CAST(SUM(dt.n_toks) AS BIGINT) AS cum_tokens
    FROM dt JOIN chk ON dt.doc_id <= chk.th GROUP BY 1, 2
),
voc AS (
    SELECT chk.i, CAST(COUNT(*) AS BIGINT) AS vocab_size
    FROM firstseen JOIN chk ON firstseen.first_doc <= chk.th GROUP BY 1
),
curve AS (
    SELECT cum.i AS checkpoint, cum.th AS doc_id_threshold,
           cum.n_docs_cum, cum.cum_tokens, voc.vocab_size,
           LAG(voc.vocab_size) OVER (ORDER BY cum.i) AS pv,
           LAG(cum.cum_tokens) OVER (ORDER BY cum.i) AS pn
    FROM cum JOIN voc ON cum.i = voc.i
)
SELECT checkpoint, doc_id_threshold, n_docs_cum, cum_tokens, vocab_size,
       {_HEAPS_BETA_SQL} AS heaps_beta
FROM curve
"""


@query("heaps_law_curve", oracle=_HEAPS_ORACLE)
def heaps_law_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HEAPS'-LAW vocabulary-growth curve: V(n) ~ K * n^beta — how fast
    the distinct-token vocabulary grows as the corpus is consumed in
    doc_id order, sampled at 10 id-range checkpoints, with the
    incremental log-log slope (the empirical beta, typically 0.4-0.6
    for natural text) between adjacent checkpoints. The corpus-scaling
    dual of zipf_slope_audit's frequency law: beta near 1 means the
    corpus keeps minting novel tokens (OCR noise, ids, boilerplate
    churn — tokenizer-hostile); beta collapsing toward 0 means new data
    is lexically exhausted (diminishing returns for vocab building).

    Cumulative-distinct without a global window: each token's FIRST
    doc_id (one hash aggregate on the token key) turns "distinct seen
    by checkpoint" into a plain count of first_doc <= threshold — no
    running set, no global ordering structure.

    Determinism: checkpoints are exact integer id-range cuts from
    min/max; all counts/sums are BIGINT; the only doubles are the
    shared-verbatim log-ratio with its guard.

    100 TB shape: one token-keyed hash aggregate (the vocabulary
    frame) and one per-doc map-side count; both then join a BROADCAST
    10-row checkpoint frame (bounded <= 10x expansion of the small
    frames, never the raw token stream) into tiny rollups. The final
    lag window orders 10 rows. Reference parity: none — corpus-
    analytics extension."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    firstseen = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    dt = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.lower("text"), "[^a-z0-9]+"), lambda x: x != "")
        ).cast("long").alias("n_toks"),
    )
    b = docs.agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
    chk = b.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("i"), "mn", "mx"
    ).select(
        "i",
        F.expr(
            "mn + CAST(floor(CAST((mx - mn) * i AS DOUBLE)"
            " / CAST(10 AS DOUBLE)) AS BIGINT)"
        ).alias("th"),
    )
    cum = (
        dt.join(F.broadcast(chk), dt.doc_id <= chk.th)
        .groupBy("i", "th")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_cum"),
            F.sum("n_toks").cast("long").alias("cum_tokens"),
        )
    )
    voc = (
        firstseen.join(F.broadcast(chk), firstseen.first_doc <= chk.th)
        .groupBy("i")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab_size"))
    )
    curve = (
        cum.join(voc, "i")
        .select(
            F.col("i").alias("checkpoint"),
            F.col("th").alias("doc_id_threshold"),
            "n_docs_cum", "cum_tokens", "vocab_size",
            F.lag("vocab_size").over(
                Window.orderBy("i")
            ).alias("pv"),
            F.lag("cum_tokens").over(
                Window.orderBy("i")
            ).alias("pn"),
        )
    )
    return curve.select(
        "checkpoint", "doc_id_threshold", "n_docs_cum", "cum_tokens",
        "vocab_size",
        F.expr(_HEAPS_BETA_SQL).alias("heaps_beta"),
    )


# ------------------------------------------- LSH band-tuning curve
# (b bands) x (r rows) configs over the same 16 permutations; the
# S-curve estimate 1 - (1 - s^r)^b is computed in PYTHON and inlined
# as a literal on both engines, so the only cross-engine surface is
# integer pair counting.
LSH_TUNE_CONFIGS = ((2, 8), (4, 4), (8, 2))
LSH_TUNE_S = 0.8


def _minhash_minima_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, mins: array<bigint>[16]) — all 16 permutation minima
    in ONE fold over the shingle array (the _minhash_band_sigs md5-
    once trick, minus the band grouping), staged once and shared by
    every banding configuration."""
    from iot_etl_spark.plans.stagecache import cached_stage

    def build() -> DataFrame:
        mins = ", ".join(
            f"array_min(transform(hs, h -> "
            f"(h * {MINHASH_A[i]}L + {MINHASH_B[i]}L) % {MINHASH_P}L))"
            for i in range(16)
        )
        expr = (
            "transform(array(transform(s, x -> "
            "cast(conv(substr(md5(x), 1, 8), 16, 10) AS BIGINT))), "
            f"hs -> array({mins}))[0]"
        )
        sh = _shingle_sets(spark, sf_dir)
        return sh.filter(F.size("s") > 0).select(
            "doc_id", F.expr(expr).alias("mins")
        )

    return cached_stage(
        spark, "minhash_minima", sf_dir, ("documents",), build,
        code_deps=(_shingle_sets, _shingles_expr, _words),
    )


def _lsh_tune_oracle() -> str:
    branches = []
    for b, r in LSH_TUNE_CONFIGS:
        est = round(1.0 - (1.0 - LSH_TUNE_S**r) ** b, 6)
        branches.append(f"""
SELECT {b} AS bands, {r} AS rows_per_band,
       CAST((SELECT COUNT(*) FROM (
           SELECT DISTINCT a.doc_id, b.doc_id
           FROM sig_{b}x{r} a JOIN sig_{b}x{r} b
             ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       )) AS BIGINT) AS n_candidate_pairs,
       CAST({est!r} AS DOUBLE) AS est_recall_at_08""")
    sigs = ",\n".join(
        f"""sig_{b}x{r} AS (
    SELECT doc_id, perm // {r} AS band,
           string_agg(CAST(mh AS VARCHAR), '|' ORDER BY perm) AS sig
    FROM mh GROUP BY doc_id, perm // {r}
)"""
        for b, r in LSH_TUNE_CONFIGS
    )
    return (
        f"WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),\n"
        f"sh AS (SELECT doc_id, {_DUCK_SHINGLES} AS s FROM w),\n"
        f"ex AS (SELECT doc_id, {_duck_h32('unnest(s)')} AS h FROM sh),\n"
        f"mh AS (\n"
        f"    SELECT doc_id, perm, MIN((pa * h + pb) % {MINHASH_P}) AS mh\n"
        f"    FROM ex, {_duck_minhash_perms()}\n"
        f"    GROUP BY doc_id, perm\n"
        f"),\n{sigs}\n"
        + "\nUNION ALL\n".join(branches)
    )


@query("lsh_band_tuning_curve", oracle=_lsh_tune_oracle())
def lsh_band_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH precision/recall dial, MEASURED: candidate-pair counts
    for three bandings of the same 16-permutation MinHash —
    2x8 (high precision), 4x4 (the production setting), 8x2 (high
    recall) — beside the analytic S-curve recall estimate at
    s={LSH_TUNE_S}. With lsh_recall_audit (measured recall of 4x4)
    this closes the loop: the curve says what the knob trades, the
    audit says what you actually got.

    Determinism: pair counting is integer; the recall estimate is a
    Python-computed literal inlined on both engines (no cross-engine
    float algebra at all).

    100 TB shape: the 16 minima fold ONCE per doc through the staged
    (doc, mins[16]) frame (md5 runs once per shingle — the
    _minhash_band_sigs trick); each config derives its band keys by
    SLICING that array map-side, then counts pairs with the standard
    bucket-grouped expansion (never a posting self-join). Cost is
    3 bucket shuffles over 2-8 short rows per doc, not 3 re-hashes
    of the corpus."""
    minima = _minhash_minima_cached(spark, sf_dir)
    out = None
    for b, r in LSH_TUNE_CONFIGS:
        est = round(1.0 - (1.0 - LSH_TUNE_S**r) ** b, 6)
        bands = minima.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(band).alias("band"),
                            F.concat_ws(
                                "|",
                                *[
                                    F.element_at("mins", band * r + i + 1)
                                    .cast("string")
                                    for i in range(r)
                                ],
                            ).alias("sig"),
                        )
                        for band in range(b)
                    ]
                )
            ).alias("bs"),
        ).select("doc_id", "bs.band", "bs.sig")
        n_pairs = _band_candidate_pairs(bands).agg(
            F.count(F.lit(1)).cast("long").alias("n_candidate_pairs")
        )
        row = n_pairs.select(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            "n_candidate_pairs",
            F.lit(est).cast("double").alias("est_recall_at_08"),
        )
        out = row if out is None else out.unionAll(row)
    return out


# --------------------------- capture-recapture dedup-recall estimate
# Dual-system (Chapman) estimation of the TRUE near-dup pair
# population from two independent-ish capture lists: the MinHash band
# candidates and the SimHash block candidates. Both CTE chains are
# reused verbatim from their own queries; `w` (the word split) is
# shared, so the SimHash chain drops its duplicate definition.
_SIM_TAIL_FOR_CRC = _SIMHASH_CTE.replace(
    "\nw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),",
    "",
    1,
)
assert _SIM_TAIL_FOR_CRC != _SIMHASH_CTE  # the shared `w` CTE must strip

# Shared-verbatim readout: Chapman's nearly-unbiased estimator
# N = (n1+1)(n2+1)/(m+1) - 1 and the two implied coverage rates.
_CHAPMAN_SQL = "(CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1"

_CRC_ORACLE = f"""
WITH {_MINHASH_CTES},
{_SIM_TAIL_FOR_CRC},
sp AS (
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING}
),
c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM cand),
c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM sp),
cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m
       FROM cand JOIN sp USING (doc_id_a, doc_id_b))
SELECT n1 AS n_minhash_pairs, n2 AS n_simhash_pairs, m AS n_overlap,
       ROUND({_CHAPMAN_SQL}, 6) AS chapman_total_est,
       ROUND(n1 / ({_CHAPMAN_SQL}), 6) AS minhash_coverage_est,
       ROUND(n2 / ({_CHAPMAN_SQL}), 6) AS simhash_coverage_est
FROM c1, c2, cm
"""


@query("capture_recapture_dedup", oracle=_CRC_ORACLE)
def capture_recapture_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPTURE-RECAPTURE (dual-system, Chapman) estimate of the true
    near-duplicate pair population — WITHOUT ground-truth labels: the
    MinHash band candidates and the SimHash block candidates are two
    capture lists over the same latent dup population; from n1, n2,
    and the overlap m, Chapman's N = (n1+1)(n2+1)/(m+1) - 1 estimates
    the total, and n_i/N the per-method coverage (recall). The
    label-free cross-check on lsh_recall_audit (which measures recall
    against an exact rescore at ONE threshold) — record-linkage's
    dual-system estimation applied to corpus dedup QA.

    Honest caveat, in the contract: the two captures are positively
    correlated (both key on lexical similarity — shingles vs word
    hashes), so m is inflated and Chapman UNDERESTIMATES the
    population; read chapman_total_est as a lower bound and the
    coverage columns as upper bounds. That directional read is still
    the operationally useful one ("at least X% of what either method
    can see is caught").

    100 TB shape: both capture lists come from their families' banded
    candidate machinery (bucket-keyed, never all-pairs — the MinHash
    (band, sig) join and the Manku block join); the overlap is one
    equi-join of two bounded pair lists; the readout is one row from
    three counts. The Spark side reuses the MATERIALIZED band-sig and
    fingerprint stages, so this audit adds zero signature recomputes."""
    # r14 (guide §2.4): n1, n2 and the overlap m used to be three
    # separate subtrees — the band-candidate expansion and the SimHash
    # pair join were each computed TWICE (once for their count, once
    # for the overlap join), stitched with two crossJoins. Both pair
    # frames are DISTINCT by construction (cand ends in .distinct();
    # sp is one row per fingerprint pair), so a single union tagged by
    # origin, one (a, b) aggregate, and one 1-row rollup produce all
    # three counts with each capture list computed exactly once.
    cand1 = _band_candidate_pairs(_band_sigs_cached(spark, sf_dir))
    sp = simhash_near_pairs(spark, sf_dir).select("doc_id_a", "doc_id_b")
    tagged = cand1.select(
        "doc_id_a", "doc_id_b", F.lit(1).alias("i1"), F.lit(0).alias("i2")
    ).unionAll(
        sp.select(
            "doc_id_a", "doc_id_b", F.lit(0).alias("i1"), F.lit(1).alias("i2")
        )
    )
    flags = tagged.groupBy("doc_id_a", "doc_id_b").agg(
        F.max("i1").alias("i1"), F.max("i2").alias("i2")
    )
    stats = flags.agg(
        F.sum("i1").cast("long").alias("n1"),
        F.sum("i2").cast("long").alias("n2"),
        F.sum(F.col("i1") * F.col("i2")).cast("long").alias("m"),
    )
    return (
        stats
        .select(
            F.col("n1").alias("n_minhash_pairs"),
            F.col("n2").alias("n_simhash_pairs"),
            F.col("m").alias("n_overlap"),
            F.round(F.expr(_CHAPMAN_SQL), 6).alias("chapman_total_est"),
            F.round(F.expr(f"n1 / ({_CHAPMAN_SQL})"), 6).alias(
                "minhash_coverage_est"
            ),
            F.round(F.expr(f"n2 / ({_CHAPMAN_SQL})"), 6).alias(
                "simhash_coverage_est"
            ),
        )
    )
