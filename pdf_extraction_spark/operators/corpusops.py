"""Corpus-curation operators a pretraining-data pipeline runs at 100 TB.

Four first-class stages beyond the reference's own inventory (SURVEY.md §2
"LLM-data-pipeline" block): benchmark decontamination, per-domain cap
sampling, duplicated-span fraction (C4-style span dedup signal), and
Gopher-style repetition scoring.

All four are pure ``pyspark.sql.functions`` column algebra — JVM-side,
whole-stage-codegen'd, no Python UDFs. Shuffle shapes (the 100 TB story):

- decontaminate: the benchmark n-gram set is tiny (benchmarks are MBs) →
  broadcast hash join against exploded document n-gram *hashes* (8-byte
  xxhash64 through the exchange, never the gram string).
- domain_cap: one hash-partitioned window keyed by domain. A single hot
  domain serializes its own partition only; for the pathological one-domain
  corpus, pre-aggregate counts per (domain, salt) first.
- span_dup_fraction: two shuffles keyed by the 8-byte gram hash, both
  map-side combinable.
- repetition_score: one shuffle keyed by (doc_id, gram-hash) — bounded per
  doc, no corpus-wide hot key possible.

Each operator has a DuckDB oracle twin (SQL_*) computing identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..corpus import doc_url, spread_docs
from ..pipeline import META_SCHEMA, extract_stage, fanout
from .common import tbl
from .textops import QUALITY_EXPR_SQL


def _word_ngrams(docs: DataFrame, n: int, out: str = "gram") -> DataFrame:
    """One row per word n-gram (1-indexed positions, order preserved)."""
    w = F.split(F.col("text"), " ")
    return (
        docs.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - (n - 1))).alias("i"),
            "w",
        )
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.try_element_at("w", F.col("i") + j) for j in range(n)]
            ).alias(out),
        )
    )


def _ngrams_sql(src: str, n: int, out: str = "gram") -> str:
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return f"""
  SELECT doc_id, {parts} AS {out}
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {src}),
       LATERAL (SELECT unnest(generate_series(1, len(w) - {n - 1})) AS i)
  WHERE len(w) >= {n}
"""


# -- benchmark decontamination ----------------------------------------------------------

DECON_N = 8          # n-gram length of the contamination probe
BENCH_MOD = 41       # doc_id % BENCH_MOD == 0 -> member of the "benchmark" set
DECON_OFFSET = 4_000_000


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    8-gram with a held-out benchmark set, reporting per-doc collision counts.

    The benchmark set here is a deterministic slice of ``documents``
    (``doc_id % 41 == 0``); deterministic contaminated mutants (a benchmark
    tail spliced onto a training doc) are unioned in so the probe provably
    fires. Scale shape: ``distinct`` benchmark gram hashes are broadcast
    (real benchmark suites are MBs against a 100 TB corpus); the training
    side ships only ``xxhash64(gram)`` through the plan.
    """
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % BENCH_MOD != 0)
    # splice the last DECON_N words of a benchmark doc onto a training doc.
    # Clamped positive start (not slice(w, -N, N)): Spark's negative-start
    # slice returns [] when the doc has fewer than N words, while the
    # oracle's list_slice(w, -N, -1) clamps to the whole list — the clamp
    # below reproduces DuckDB's semantics exactly.
    bench_w = F.split(F.col("text"), " ")
    tail = F.concat_ws(
        " ",
        F.slice(
            bench_w,
            F.greatest(F.size(bench_w) - (DECON_N - 1), F.lit(1)),
            DECON_N,
        ),
    )
    bench_tails = bench.select((F.col("doc_id") % 7).alias("k"), tail.alias("tail")).groupBy(
        "k"
    ).agg(F.min("tail").alias("tail"))
    contaminated = (
        train.filter(F.col("doc_id") % 10 == 3)
        .withColumn("k", F.col("doc_id") % 7)
        .join(F.broadcast(bench_tails), "k")
        .select(
            (F.col("doc_id") + DECON_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" "), F.col("tail")).alias("text"),
        )
    )
    train_all = train.unionByName(contaminated)
    bench_grams = (
        _word_ngrams(bench, DECON_N)
        .select(F.xxhash64("gram").alias("gh"))
        .distinct()
    )
    train_grams = _word_ngrams(train_all, DECON_N).select(
        "doc_id", F.xxhash64("gram").alias("gh")
    )
    hits = (
        train_grams.join(F.broadcast(bench_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        train_all.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) > 0).cast("int").alias("contaminated"),
        )
    )


SQL_DECONTAMINATE = f"""
WITH docs AS (SELECT doc_id, text FROM documents),
bench AS (SELECT * FROM docs WHERE doc_id % {BENCH_MOD} = 0),
train AS (SELECT * FROM docs WHERE doc_id % {BENCH_MOD} <> 0),
bench_tails AS (
  SELECT doc_id % 7 AS k,
         min(array_to_string(list_slice(string_split(text, ' '), -{DECON_N}, -1), ' ')) AS tail
  FROM bench GROUP BY 1
),
contaminated AS (
  SELECT t.doc_id + {DECON_OFFSET} AS doc_id, t.text || ' ' || b.tail AS text
  FROM train t JOIN bench_tails b ON t.doc_id % 7 = b.k
  WHERE t.doc_id % 10 = 3
),
train_all AS (SELECT * FROM train UNION ALL SELECT * FROM contaminated),
bench_grams AS (
  SELECT DISTINCT gram FROM ({_ngrams_sql('bench', DECON_N)})
),
train_grams AS ({_ngrams_sql('train_all', DECON_N)}),
hits AS (
  SELECT t.doc_id, count(*) AS n_hits
  FROM train_grams t JOIN bench_grams b USING (gram)
  GROUP BY 1
)
SELECT a.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) > 0 AS INT) AS contaminated
FROM train_all a LEFT JOIN hits h ON a.doc_id = h.doc_id
"""


# -- per-domain cap sampling ------------------------------------------------------------

DOMAIN_CAP = 20


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (the Common-Crawl "no domain dominates the
    mix" stage): keep at most ``DOMAIN_CAP`` docs per source, deterministic
    keep-lowest-doc_id order, and report kept/total per domain. One
    hash-partitioned window keyed by domain."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy("doc_id")
    ranked = docs.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_total"),
        F.sum(F.when(F.col("rn") <= DOMAIN_CAP, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.max(F.when(F.col("rn") <= DOMAIN_CAP, F.col("doc_id")))
        .cast("long")
        .alias("last_kept_id"),
    )


SQL_DOMAIN_CAP = f"""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN rn <= {DOMAIN_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(max(CASE WHEN rn <= {DOMAIN_CAP} THEN doc_id END) AS BIGINT) AS last_kept_id
FROM ranked GROUP BY source
"""


# -- duplicated-span fraction (C4-style span dedup signal) ------------------------------

SPAN_N = 5


def q_span_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-span signal (the C4 "remove any span occurring
    elsewhere" stage, reported as a per-doc fraction): for every word
    5-gram, count the documents containing it; a doc's score is the fraction
    of its 5-grams that also occur in some other document.

    Deterministic clones (``doc_id%10==0`` + offset) are unioned in so
    shared spans exist. Both shuffles key on the 8-byte gram hash with
    map-side combine."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    all_docs = docs.unionAll(clones)
    grams = (
        _word_ngrams(all_docs, SPAN_N)
        .select("doc_id", F.xxhash64("gram").alias("gh"))
        .distinct()
    )
    gram_docs = grams.groupBy("gh").agg(F.count("*").alias("n_docs"))
    return (
        grams.join(gram_docs, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") / F.col("n_spans"), 4).alias("dup_frac"),
        )
    )


SQL_SPAN_DUP_FRACTION = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
),
grams AS (
  SELECT DISTINCT doc_id, gram FROM ({_ngrams_sql('all_docs', SPAN_N)})
),
gram_docs AS (SELECT gram, count(*) AS n_docs FROM grams GROUP BY 1)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       round(sum(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) /
             CAST(count(*) AS DOUBLE), 4) AS dup_frac
FROM grams g JOIN gram_docs d USING (gram)
GROUP BY g.doc_id
"""


# -- Gopher-style repetition scoring ----------------------------------------------------


def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filters (the Gopher quality rules, made
    integer-exact): per doc, the count of the most frequent word 2-gram, the
    fraction of 2-gram instances belonging to it, and the distinct-word
    ratio. One shuffle keyed by (doc_id, gram hash) — bounded per doc."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    grams = _word_ngrams(docs, 2)
    per_gram = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
    top2 = per_gram.groupBy("doc_id").agg(
        F.max("c").cast("long").alias("top_bigram_count"),
        F.sum("c").cast("long").alias("n_bigrams"),
    )
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    wstats = words.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.countDistinct("word").cast("long").alias("n_distinct"),
    )
    return (
        top2.join(wstats, "doc_id")
        .select(
            "doc_id",
            "top_bigram_count",
            "n_bigrams",
            F.round(F.col("top_bigram_count") / F.col("n_bigrams"), 4).alias(
                "top_bigram_frac"
            ),
            "n_words",
            "n_distinct",
            F.round(F.col("n_distinct") / F.col("n_words"), 4).alias("distinct_ratio"),
        )
    )


SQL_REPETITION_SCORE = f"""
WITH grams AS ({_ngrams_sql('documents', 2)}),
per_gram AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2),
top2 AS (
  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_count,
         CAST(sum(c) AS BIGINT) AS n_bigrams
  FROM per_gram GROUP BY 1
),
words AS (
  SELECT doc_id, t.word
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       LATERAL (SELECT unnest(w) AS word) t
  WHERE t.word <> ''
),
wstats AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         CAST(count(DISTINCT word) AS BIGINT) AS n_distinct
  FROM words GROUP BY 1
)
SELECT t.doc_id, t.top_bigram_count, t.n_bigrams,
       round(t.top_bigram_count / CAST(t.n_bigrams AS DOUBLE), 4) AS top_bigram_frac,
       w.n_words, w.n_distinct,
       round(w.n_distinct / CAST(w.n_words AS DOUBLE), 4) AS distinct_ratio
FROM top2 t JOIN wstats w USING (doc_id)
"""


# -- curation filter funnel -------------------------------------------------------------

FUNNEL_MIN_WORDS = 20
FUNNEL_MAX_WORDS = 1000
FUNNEL_MIN_DISTINCT_RATIO = 0.5
FUNNEL_MIN_STOP_HITS = 1


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel a pretraining pipeline applies before
    tokenization (FineWeb/Gopher-style), reported as per-stage survivor
    counts: language gate → word-count band → distinct-word ratio →
    stopword evidence. Gates evaluate in one pass over one scan (no
    per-stage jobs); the funnel is a conditional-aggregation rollup —
    exactly one shuffle of 4 counter rows per partition."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    n_distinct = F.array_size(F.array_distinct(toks))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(["the", "a", "of", "and", "to"])))
    g1 = F.col("lang") == "en"
    g2 = g1 & n_words.between(FUNNEL_MIN_WORDS, FUNNEL_MAX_WORDS)
    g3 = g2 & (n_distinct / n_words >= FUNNEL_MIN_DISTINCT_RATIO)
    g4 = g3 & (stop_hits >= FUNNEL_MIN_STOP_HITS)
    flags = docs.select(
        g1.cast("int").alias("s1"), g2.cast("int").alias("s2"),
        g3.cast("int").alias("s3"), g4.cast("int").alias("s4"),
    )
    agg = flags.agg(
        F.count("*").alias("n_docs"),
        F.sum("s1").alias("k1"), F.sum("s2").alias("k2"),
        F.sum("s3").alias("k3"), F.sum("s4").alias("k4"),
    )
    stages = agg.select(
        F.explode(
            F.array(
                F.struct(F.lit(1).alias("stage"), F.lit("lang_en").alias("gate"),
                         F.col("n_docs").alias("n_in"), F.col("k1").alias("n_out")),
                F.struct(F.lit(2).alias("stage"), F.lit("word_band").alias("gate"),
                         F.col("k1").alias("n_in"), F.col("k2").alias("n_out")),
                F.struct(F.lit(3).alias("stage"), F.lit("distinct_ratio").alias("gate"),
                         F.col("k2").alias("n_in"), F.col("k3").alias("n_out")),
                F.struct(F.lit(4).alias("stage"), F.lit("stopword_evidence").alias("gate"),
                         F.col("k3").alias("n_in"), F.col("k4").alias("n_out")),
            )
        ).alias("s")
    )
    return stages.select(
        F.col("s.stage").alias("stage"), F.col("s.gate").alias("gate"),
        F.col("s.n_in").cast("long").alias("n_in"),
        F.col("s.n_out").cast("long").alias("n_out"),
    )


SQL_FILTER_FUNNEL = f"""
WITH f AS (
  SELECT lang = 'en' AS g1,
         len(string_split(text, ' ')) AS n_words,
         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','of','and','to'))) AS stop_hits
  FROM documents
),
g AS (
  SELECT g1,
         g1 AND n_words BETWEEN {FUNNEL_MIN_WORDS} AND {FUNNEL_MAX_WORDS} AS g2,
         g1 AND n_words BETWEEN {FUNNEL_MIN_WORDS} AND {FUNNEL_MAX_WORDS}
            AND n_distinct / CAST(n_words AS DOUBLE) >= {FUNNEL_MIN_DISTINCT_RATIO} AS g3,
         g1 AND n_words BETWEEN {FUNNEL_MIN_WORDS} AND {FUNNEL_MAX_WORDS}
            AND n_distinct / CAST(n_words AS DOUBLE) >= {FUNNEL_MIN_DISTINCT_RATIO}
            AND stop_hits >= {FUNNEL_MIN_STOP_HITS} AS g4
  FROM f
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
         CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
         CAST(sum(CASE WHEN g4 THEN 1 ELSE 0 END) AS BIGINT) AS k4
  FROM g
)
SELECT 1 AS stage, 'lang_en' AS gate, n_docs AS n_in, k1 AS n_out FROM agg
UNION ALL SELECT 2, 'word_band', k1, k2 FROM agg
UNION ALL SELECT 3, 'distinct_ratio', k2, k3 FROM agg
UNION ALL SELECT 4, 'stopword_evidence', k3, k4 FROM agg
"""


# -- URL canonicalization + URL-level dedup ---------------------------------------------

_TRACKING_PARAM = "^(utm_[a-z]+|fbclid|gclid)="


def _messy_urls(docs: DataFrame) -> DataFrame:
    """Deterministic messy-URL fixture column: four wire-form variants per
    doc (tracking params, fragments, uppercase WWW host + explicit :443,
    trailing slash) that all collapse under canonicalization. Path modulus 10
    forces real cross-doc collisions."""
    m = F.col("doc_id") % 4
    path = F.concat(F.lit("/a/"), (F.col("doc_id") % 10).cast("string"))
    url = (
        F.when(m == 0, F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"), path,
            F.lit("?utm_source=feed&q=1&utm_campaign=x"),
        ))
        .when(m == 1, F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"), path,
            F.lit("#section-2"),
        ))
        .when(m == 2, F.concat(
            F.lit("HTTPS://WWW."), F.upper("source"), F.lit(".EXAMPLE.COM:443"), path,
        ))
        .otherwise(F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com"), path, F.lit("/"),
        ))
    )
    return docs.select("doc_id", url.alias("url"))


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (the Common-Crawl "same page
    fetched many ways" stage): lowercase scheme/host, strip ``www.`` and
    default ports, drop fragments and tracking query params
    (``utm_*``/``fbclid``/``gclid``), trim trailing slashes, then keep the
    lowest doc_id per canonical URL.

    All string algebra is JVM-side (``split_part``/``regexp_replace``/
    lambda filters — no Python). Scale shape: one narrow canonicalization
    map, then a single window shuffle keyed by the canonical URL — the same
    shape as ``domain_cap``; duplicates of one hot URL land in one
    partition's window, which is exactly the cap semantics."""
    docs = _messy_urls(tbl(spark, sf_dir, "documents").select("doc_id", "source"))
    no_frag = F.split_part(F.col("url"), F.lit("#"), F.lit(1))
    scheme = F.lower(F.split_part(no_frag, F.lit("://"), F.lit(1)))
    rest = F.split_part(no_frag, F.lit("://"), F.lit(2))
    hostport = F.split_part(F.split_part(rest, F.lit("/"), F.lit(1)), F.lit("?"), F.lit(1))
    host = F.regexp_replace(
        F.regexp_replace(F.lower(hostport), F.lit("^www\\."), F.lit("")),
        F.lit(":(80|443)$"), F.lit(""),
    )
    pathq = F.substring(rest, F.length(hostport) + 1, 1_000_000)
    path = F.regexp_replace(
        F.split_part(pathq, F.lit("?"), F.lit(1)), F.lit("/+$"), F.lit("")
    )
    query = F.when(
        pathq.contains("?"), F.split_part(pathq, F.lit("?"), F.lit(2))
    ).otherwise(F.lit(""))
    clean_q = F.array_join(
        F.filter(F.split(query, "&"), lambda p: ~p.rlike(_TRACKING_PARAM)), "&"
    )
    canon = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(clean_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), clean_q)),
    )
    canonical = docs.select("doc_id", "url", canon.alias("canon_url"))
    w = Window.partitionBy("canon_url").orderBy("doc_id")
    return canonical.withColumn(
        "is_canonical", (F.row_number().over(w) == 1).cast("int")
    ).select("doc_id", "url", "canon_url", "is_canonical")


SQL_URL_DEDUP = """
WITH messy AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://' || source || '.example.com/a/' || (doc_id % 10)
                       || '?utm_source=feed&q=1&utm_campaign=x'
           WHEN 1 THEN 'https://' || source || '.example.com/a/' || (doc_id % 10)
                       || '#section-2'
           WHEN 2 THEN 'HTTPS://WWW.' || upper(source) || '.EXAMPLE.COM:443/a/'
                       || (doc_id % 10)
           ELSE 'https://' || source || '.example.com/a/' || (doc_id % 10) || '/'
         END AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
         lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
         split_part(split_part(url, '#', 1), '://', 2) AS rest
  FROM messy
),
hp AS (
  SELECT *, split_part(split_part(rest, '/', 1), '?', 1) AS hostport FROM parts
),
norm AS (
  SELECT doc_id, url, scheme,
         regexp_replace(regexp_replace(lower(hostport), '^www\\.', ''),
                        ':(80|443)$', '') AS host,
         regexp_replace(split_part(substr(rest, length(hostport) + 1), '?', 1),
                        '/+$', '') AS path,
         CASE WHEN contains(substr(rest, length(hostport) + 1), '?')
              THEN split_part(substr(rest, length(hostport) + 1), '?', 2)
              ELSE '' END AS query
  FROM hp
),
canon AS (
  SELECT doc_id, url,
         scheme || '://' || host || path ||
         CASE WHEN cq = '' THEN '' ELSE '?' || cq END AS canon_url
  FROM (
    SELECT *, array_to_string(
             list_filter(string_split(query, '&'),
                         p -> NOT regexp_matches(p, '^(utm_[a-z]+|fbclid|gclid)=')),
             '&') AS cq
    FROM norm
  )
)
SELECT doc_id, url, canon_url,
       CAST(row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) = 1 AS INT)
         AS is_canonical
FROM canon
"""


# -- deterministic stratified sampling --------------------------------------------------

# per-stratum keep rates (percent): reproducible hash-threshold sampling,
# the standard replacement for rand() in pipelines that must re-run
# byte-identically (resharding, lineage replay, A/B ablations)
STRATUM_RATES = {"en": 80, "de": 50, "fr": 50}
DEFAULT_RATE = 25


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: each document hashes to a bucket
    in [0, 100) (md5 of its text — content-addressed, so the decision
    survives doc_id reassignment) and is kept iff bucket < its language
    stratum's rate. Stateless narrow map — no shuffle, no RNG state; at
    100 TB this is the only sampler whose output is reproducible across
    retries, speculative tasks, and cluster sizes. The bucket takes the
    first 32 bits of the digest (2^32 % 100 bias is ~2e-8), so realized
    keep rates track the configured ones — two hex chars (256 values) had
    a several-percent systematic skew."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    bucket = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 100
    rate = F.lit(DEFAULT_RATE)
    for lang, r in STRATUM_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    return docs.select(
        "doc_id",
        "lang",
        bucket.cast("int").alias("bucket"),
        rate.cast("int").alias("rate"),
        (bucket < rate).cast("int").alias("kept"),
    )


_RATE_SQL = " ".join(
    f"WHEN '{lang}' THEN {r}" for lang, r in STRATUM_RATES.items()
)

SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang,
       CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS INT)
         AS bucket,
       CAST(CASE lang {_RATE_SQL} ELSE {DEFAULT_RATE} END AS INT) AS rate,
       CAST(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100
            < CASE lang {_RATE_SQL} ELSE {DEFAULT_RATE} END AS INT) AS kept
FROM documents
"""


# -- maximal duplicated-span extraction -------------------------------------------------

DUPSPAN_OFFSET = 5_000_000  # clone ids (same construction as span_dup_fraction)


def _word_ngrams_pos(docs: DataFrame, n: int) -> DataFrame:
    """Like :func:`_word_ngrams` but keeps the 1-indexed word position."""
    w = F.split(F.col("text"), " ")
    return (
        docs.select("doc_id", w.alias("w"))
        .filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("w") - (n - 1))).alias("i"),
            "w",
        )
        .select(
            "doc_id",
            "i",
            F.concat_ws(
                " ", *[F.try_element_at("w", F.col("i") + j) for j in range(n)]
            ).alias("gram"),
        )
    )


def q_dup_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-span extraction — the actionable form of exact
    substring dedup (Lee et al. 2021's "dedup the span, not the doc",
    re-expressed relationally): every word 5-gram occurring in more than one
    document marks its positions; runs of consecutive marked positions merge
    into maximal spans ``[span_start, span_end]`` (word-indexed, 1-based)
    via a gaps-and-islands window. Downstream, these spans are what a
    curation pass actually cuts.

    Scale shape: two gram-hash-keyed shuffles (both map-side combinable) +
    one per-doc window — same budget as ``span_dup_fraction``; the islands
    window is keyed by doc_id so no corpus-wide hot key exists."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    clones = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + DUPSPAN_OFFSET).alias("doc_id"), "text"
    )
    all_docs = docs.unionAll(clones)
    grams = _word_ngrams_pos(all_docs, SPAN_N).select(
        "doc_id", "i", F.xxhash64("gram").alias("gh")
    )
    gram_docs = (
        grams.select("doc_id", "gh").distinct()
        .groupBy("gh").agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > 1)
    )
    marked = grams.join(gram_docs, "gh").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    islands = marked.withColumn(
        "island", F.col("i") - F.row_number().over(w)
    )
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("i").cast("long").alias("span_start"),
            (F.max("i") + (SPAN_N - 1)).cast("long").alias("span_end"),
        )
        .select(
            "doc_id", "span_start", "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("n_words"),
        )
    )


SQL_DUP_SPAN_EXTRACT = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DUPSPAN_OFFSET} AS doc_id, text FROM documents WHERE doc_id % 10 = 0
),
grams AS (
  SELECT doc_id, i, {" || ' ' || ".join(f"w[i+{j}]" for j in range(SPAN_N))} AS gram
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM all_docs),
       LATERAL (SELECT unnest(generate_series(1, len(w) - {SPAN_N - 1})) AS i)
  WHERE len(w) >= {SPAN_N}
),
gram_docs AS (
  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM grams)
  GROUP BY gram HAVING count(*) > 1
),
marked AS (
  SELECT g.doc_id, g.i FROM grams g JOIN gram_docs d USING (gram)
),
islands AS (
  SELECT doc_id, i,
         i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM marked
)
SELECT doc_id,
       CAST(min(i) AS BIGINT) AS span_start,
       CAST(max(i) + {SPAN_N - 1} AS BIGINT) AS span_end,
       CAST(max(i) + {SPAN_N - 1} - min(i) + 1 AS BIGINT) AS n_words
FROM islands GROUP BY doc_id, island
"""


# -- CCNet-style unigram log-prob quality scoring ---------------------------------------


def q_ccnet_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality scoring, with the LM built from
    the corpus itself: unigram probabilities ``p(w) = count(w) / total``
    over the whole corpus, and each document scored by its mean negative
    log-probability (low = fluent/common text, high = rare/garbled). CCNet
    buckets Common Crawl into head/middle/tail thirds by exactly this kind
    of score; the bucket thresholds here are fixed nats so the output is
    deterministic.

    Scale shape: one word-keyed groupBy (map-side combinable) builds the
    LM; at 100 TB you'd broadcast a *fixed* pretrained LM instead — the
    per-doc scoring join is the same either way. The corpus-LM variant here
    shuffles words twice; no hot key beyond natural word skew, which the
    partial aggregation absorbs."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    freq = words.groupBy("word").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("total"))
    from .textops import _HALF_AWAY_DIV

    # the bm25 libm discipline: -ln(p) is the only libm call, pre-rounded
    # to 1e6 micro-nats PER TOKEN (one value per distinct word — a 1-ulp
    # libm difference between engines vanishes in the rounding), then the
    # per-doc mean is an order-independent BIGINT sum with one exact 4dp
    # rounding. avg(double)+round was the quality_score fragility class.
    scored = (
        words.join(freq, "word")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            F.round(-F.log(F.col("c") / F.col("total")) * 1_000_000)
            .cast("long")
            .alias("nll_u"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("nll_u").alias("s_u"),
        )
        .select(
            "doc_id",
            "n_words",
            (F.expr(_HALF_AWAY_DIV.format(t="s_u", d="100 * n_words"))
             / 10000.0).alias("nll"),
        )
    )
    return scored.select(
        "doc_id",
        "n_words",
        "nll",
        F.when(F.col("nll") < 6.0, "head")
        .when(F.col("nll") < 7.0, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


SQL_CCNET_PERPLEXITY = """
WITH words AS (
  SELECT doc_id, t.word
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       LATERAL (SELECT unnest(w) AS word) t
  WHERE t.word <> ''
),
freq AS (SELECT word, count(*) AS c FROM words GROUP BY 1),
total AS (SELECT sum(c) AS total FROM freq)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_words,
       -- per-token micro-nat pre-rounding + integer mean (see Spark side)
       CASE WHEN (100 * count(*)) = 0 THEN NULL WHEN (sum(CAST(round(-ln(c / CAST(total AS DOUBLE)) * 1000000) AS BIGINT))) >= 0 THEN (2 * (sum(CAST(round(-ln(c / CAST(total AS DOUBLE)) * 1000000) AS BIGINT))) + (100 * count(*))) // (2 * (100 * count(*))) ELSE -((2 * (-(sum(CAST(round(-ln(c / CAST(total AS DOUBLE)) * 1000000) AS BIGINT)))) + (100 * count(*))) // (2 * (100 * count(*)))) END / 10000.0 AS nll,
       CASE WHEN CASE WHEN (100 * count(*)) = 0 THEN NULL WHEN (sum(CAST(round(-ln(c / CAST(total AS DOUBLE)) * 1000000) AS BIGINT))) >= 0 THEN (2 * (sum(CAST(round(-ln(c / CAST(total AS DOUBLE)) * 1000000) AS BIGINT))) + (100 * count(*))) // (2 * (100 * count(*))) ELSE -((2 * (-(sum(CAST(round(-ln(c / CAST(total AS DOUBLE)) * 1000000) AS BIGINT)))) + (100 * count(*))) // (2 * (100 * count(*)))) END / 10000.0 < 6.0 THEN 'head'
            WHEN CASE WHEN (100 * count(*)) = 0 THEN NULL WHEN (sum(CAST(round(-ln(c / CAST(total AS DOUBLE)) * 1000000) AS BIGINT))) >= 0 THEN (2 * (sum(CAST(round(-ln(c / CAST(total AS DOUBLE)) * 1000000) AS BIGINT))) + (100 * count(*))) // (2 * (100 * count(*))) ELSE -((2 * (-(sum(CAST(round(-ln(c / CAST(total AS DOUBLE)) * 1000000) AS BIGINT)))) + (100 * count(*))) // (2 * (100 * count(*)))) END / 10000.0 < 7.0 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM words JOIN freq USING (word) CROSS JOIN total
GROUP BY doc_id
"""


# -- paragraph-level dedup (CCNet) ------------------------------------------------


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph/line-level dedup signal (Wenzek et al. 2020
    dedupe normalized paragraphs across shards before LM filtering): split
    each document into sentence-ish units, normalize (trim + lowercase),
    and report per doc how many of its distinct units also occur in some
    OTHER document.

    Scale shape: the cross-doc occurrence count groups on
    ``xxhash64(unit)`` — an 8-byte combinable shuffle key, never the
    string; per-doc rollup groups on doc_id. No window, no driver state.
    The oracle groups on the unit string itself — the surfaced values are
    counts, so both groupings agree exactly.
    """
    docs = tbl(spark, sf_dir, "documents")
    units = (
        docs.select(
            "doc_id",
            F.explode(F.split("text", r"\. ")).alias("u"),
        )
        .select("doc_id", F.lower(F.trim("u")).alias("u"))
        .filter(F.length("u") >= 20)
        .select("doc_id", F.xxhash64("u").alias("uh"))
        .distinct()
    )
    freq = units.groupBy("uh").agg(F.count(F.lit(1)).alias("n_docs"))
    per_doc = (
        units.join(freq, "uh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_units"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_dup_units"),
        )
        .select(
            "doc_id",
            "n_units",
            "n_dup_units",
            F.round(F.col("n_dup_units") / F.col("n_units"), 6).alias("dup_frac"),
        )
    )
    return per_doc


SQL_PARAGRAPH_DEDUP = """
WITH units AS (
  SELECT DISTINCT doc_id, lower(trim(u)) AS u
  FROM (SELECT doc_id, unnest(string_split_regex(text, '\\. ')) AS u
        FROM documents)
  WHERE length(lower(trim(u))) >= 20
), freq AS (
  SELECT u, count(*) AS n_docs FROM units GROUP BY u
)
SELECT un.doc_id,
       count(*) AS n_units,
       CAST(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_units,
       round(sum(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS dup_frac
FROM units un JOIN freq f ON un.u = f.u
GROUP BY un.doc_id
"""


def q_indexable_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-policy curation gate: the two signals crawl pipelines honor
    before a page may enter a corpus — ``<meta name=robots>`` noindex and
    rel=canonical pointing elsewhere (the shell page collapses onto its
    canonical target; only the canonical copy is kept). The head page and
    the verdict are JVM column algebra around the extraction stage's
    ``meta`` column, so at 10^12 docs this is a narrow map with zero
    shuffle."""
    docs = spread_docs(tbl(spark, sf_dir, "documents")).select(
        "doc_id", "source"
    )
    i = F.col("doc_id")
    head = (
        F.when(i % 5 == 0, F.lit("<meta name='robots' content='noindex, follow'>"))
        .when(i % 7 == 0, F.lit("<link rel='canonical' href='/other'>"))
        .otherwise(F.concat(F.lit("<link rel='canonical' href='/doc/"),
                            i.cast("string"), F.lit("'>")))
    )
    html = F.concat(F.lit("<html><head>"), head,
                    F.lit("</head><body><p>x</p></body></html>"))
    pages = docs.select(doc_url().alias("url"), F.encode(html, "UTF-8").alias("html"), "doc_id")
    m = extract_stage(pages, META_SCHEMA, keep_cols=("doc_id",))
    noindex = F.coalesce(F.col("meta.robots"), F.lit("")).contains("noindex")
    non_canon = F.col("meta.canonical").isNotNull() & (
        F.col("meta.canonical") != F.col("url")
    )
    return m.select(
        "doc_id",
        F.when(noindex, F.lit("noindex"))
        .when(non_canon, F.lit("non_canonical"))
        .otherwise(F.lit("ok"))
        .alias("reason"),
        (~noindex & ~non_canon).alias("indexable"),
    )


SQL_INDEXABLE_FILTER = """
SELECT doc_id,
       CASE WHEN doc_id % 5 = 0 THEN 'noindex'
            WHEN doc_id % 7 = 0 THEN 'non_canonical'
            ELSE 'ok' END AS reason,
       doc_id % 5 <> 0 AND doc_id % 7 <> 0 AS indexable
FROM documents
"""


def q_host_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level quality prior: per-source doc count, mean quality score,
    and exact-duplicate fraction — the host rollup curation pipelines use
    to drop whole low-quality domains before per-doc filtering (host
    blocklists, FineWeb-style domain priors). One combinable groupBy whose
    key space is the host vocabulary, sub-linear in corpus size."""
    from .textops import _HALF_AWAY_DIV, q_quality_score

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # per-doc quality is integer-exact micro-units / 10000.0 (see
    # q_quality_score); recover the integers (round is exact here) and
    # average THEM, so the mean is an order-independent BIGINT sum + one
    # exact rounding — round(avg(double),4) would reintroduce the decimal
    # -midpoint fragility at the aggregate level. dup_fraction is a single
    # correctly-rounded division of small exact ints, safe as a double.
    q = q_quality_score(spark, sf_dir).select(
        "doc_id", F.round(F.col("quality") * 10000).cast("long").alias("q_u")
    )
    j = docs.join(q, "doc_id")
    dup = F.count(F.lit(1)) - F.countDistinct(F.md5("text"))
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("q_u").alias("sum_qu"),
            F.round(dup / F.count(F.lit(1)), 4).alias("dup_fraction"),
        )
        .select(
            "source",
            "n_docs",
            (F.expr(_HALF_AWAY_DIV.format(t="sum_qu", d="n_docs")) / 10000.0)
            .alias("mean_quality"),
            "dup_fraction",
        )
    )


SQL_HOST_QUALITY = f"""
WITH q AS (
  SELECT doc_id, source, text, {QUALITY_EXPR_SQL} AS quality
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       -- integer-exact mean: sum the per-doc micro-units (order-free
       -- BIGINT) and round the rational once, like the Spark side
       CASE WHEN (count(*)) = 0 THEN NULL WHEN (sum(CAST(round(quality * 10000) AS BIGINT))) >= 0 THEN (2 * (sum(CAST(round(quality * 10000) AS BIGINT))) + (count(*))) // (2 * (count(*))) ELSE -((2 * (-(sum(CAST(round(quality * 10000) AS BIGINT)))) + (count(*))) // (2 * (count(*)))) END / 10000.0 AS mean_quality,
       round((count(*) - count(DISTINCT md5(text))) / CAST(count(*) AS DOUBLE), 4) AS dup_fraction
FROM q
GROUP BY source
ORDER BY source
"""


def q_warc_http_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP envelope curation signals out of real WARC bytes: per document
    a response record is serialized (status/content-type varied by doc_id),
    run back through the WARC record parser, and the (status, mime,
    fetch-allowed) verdict is value-checked — the non-200 / non-text gate
    every crawl pipeline applies before extraction. One Arrow pass."""
    import io

    from ..sources.warc import http_envelope_meta, iter_warc_records

    docs = spread_docs(tbl(spark, sf_dir, "documents")).select("doc_id", "source")

    def envelope(i, source):
        status = 404 if i % 4 == 0 else 200
        ctype = "application/pdf" if i % 5 == 0 else "text/html"
        body = b"<html><body>x</body></html>"
        http = (
            b"HTTP/1.1 %d X\r\nContent-Type: %s; charset=utf-8\r\n\r\n"
            % (status, ctype.encode())
        ) + body
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            b"WARC-Record-ID: <urn:uuid:%032d>\r\n"
            b"WARC-Date: 2025-01-01T00:00:00Z\r\n"
            b"WARC-Target-URI: https://%s.example.com/doc/%d\r\n"
            b"Content-Length: %d\r\n\r\n"
            % (i, str(source).encode(), i, len(http))
        ) + http + b"\r\n\r\n"
        for _headers, payload in iter_warc_records(io.BytesIO(rec)):
            st, ct = http_envelope_meta(payload)
            yield i, st, ct, st == 200 and ct == "text/html"

    return fanout(
        docs, envelope, "doc_id long, status int, content_type string, keep boolean"
    )


SQL_WARC_HTTP_META = """
SELECT doc_id,
       CAST(CASE WHEN doc_id % 4 = 0 THEN 404 ELSE 200 END AS INT) AS status,
       CASE WHEN doc_id % 5 = 0 THEN 'application/pdf' ELSE 'text/html' END
           AS content_type,
       doc_id % 4 <> 0 AND doc_id % 5 <> 0 AS keep
FROM documents
"""


# -- output sharding ---------------------------------------------------------------

N_SHARDS = 64  # content-addressed output shards (training-data file targets)


def q_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed output sharding + balance report: every document
    is assigned ``shard = md5(url) mod N_SHARDS`` and the query returns one
    row per shard with its document count and byte mass. This is the write
    layout of a training-data export (shard files of near-equal mass, not
    partition-ordinal files): the md5 key is reproducible across retries,
    speculative tasks, and cluster sizes — repartition-by-ordinal is none
    of those — and the per-shard histogram IS the skew evidence a 100 TB
    run records before committing the layout (the same first-32-bit slice
    as :func:`q_stratified_sample`, modulo bias ~2e-8). One combinable
    groupBy on a 64-value key; no sort, no driver collection."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    shard = (
        F.conv(F.substring(F.md5(doc_url()), 1, 8), 16, 10).cast("long") % N_SHARDS
    ).cast("int")
    return (
        docs.select(shard.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars_total"),
        )
    )


SQL_SHARD_BALANCE = f"""
SELECT CAST(CAST(('0x' || substr(md5('https://' || source || '.example.com/doc/'
                                 || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % {N_SHARDS} AS INT) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
FROM documents
GROUP BY 1
"""


def q_host_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host document-length quantiles (median / p90 of ``n_chars``,
    exact linear interpolation) — the data-mixture designer's first look at
    a new crawl slice: hosts whose length distribution collapses are
    template farms; heavy tails are concatenation bugs. Exact
    ``percentile`` (not ``percentile_approx``) so the number is
    reproducible and oracle-checkable; the group-by key is the host
    vocabulary, so even at 10^12 docs the state is per-host, and exactness
    costs a per-host sort of doc lengths only (at larger per-host counts a
    production run flips to ``percentile_approx`` and stops being
    oracle-exact). Interpolation arithmetic is the same IEEE formula in
    Spark and DuckDB (``quantile_cont``) over integer inputs, so the
    doubles agree bit-for-bit."""
    docs = tbl(spark, sf_dir, "documents").select("source", "n_chars")
    return (
        docs.groupBy(F.col("source").alias("host"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
            F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
        )
    )


SQL_HOST_LENGTH_QUANTILES = """
SELECT source AS host,
       COUNT(*) AS n_docs,
       quantile_cont(n_chars, 0.5) AS p50_chars,
       quantile_cont(n_chars, 0.9) AS p90_chars
FROM documents
GROUP BY source
"""
