"""Consolidated oracle suites (VERDICT r3 item 2).

The driver's correctness run checks the FIRST 50 registered queries; round 3
had 74 registered, so 24 rotated out of the driver artifact. These suites
fold the narrow single-operator demonstration queries into three combined
queries — every part keeps full value-level verification, just unpivoted
into a shared shape so heterogeneous results can union:

    (part string, k string, v_str string, v_num double)

``k`` is ``key1|key2|column`` (keys NULL-coalesced to '∅'); string/boolean
values go through ``v_str`` (both engines CAST booleans to 'true'/'false'),
every numeric through ``v_num`` as DOUBLE on BOTH sides (the driver hashes
ints and floats differently, and floats through a 6-decimal round — a
shared DOUBLE lane keeps the hash engine-stable). The DuckDB side is
GENERATED from the same per-part metadata as the Spark side, so the two
unpivots cannot drift.

The underlying operators are unchanged and still individually importable
(tests/test_plan_quality.py gates their plans one by one); only the driver
registration is consolidated.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import corpusops, docmeta, links, multimodal, relational

NUM = "num"
STR = "str"

# part tables: (part_name, spark_fn, oracle_sql, key_cols, [(val_col, kind)])

RELATIONAL_PARTS = (
    ("pricing_summary", relational.q_pricing_summary, relational.SQL_PRICING_SUMMARY,
     ["l_returnflag", "l_linestatus"],
     [("sum_qty", NUM), ("revenue", NUM), ("avg_disc", NUM), ("n_rows", NUM)]),
    ("group_median", relational.q_group_median, relational.SQL_GROUP_MEDIAN,
     ["l_returnflag"],
     [("median_qty", NUM), ("title_threshold", NUM), ("max_qty", NUM)]),
    ("sessionize_events", relational.q_sessionize_events, relational.SQL_SESSIONIZE_EVENTS,
     ["user_id"],
     [("n_sessions", NUM), ("max_session_events", NUM), ("n_events", NUM)]),
    ("theta_selfjoin", relational.q_theta_selfjoin, relational.SQL_THETA_SELFJOIN,
     ["relation"], [("n_pairs", NUM)]),
    ("semi_join_validation", relational.q_semi_join_validation,
     relational.SQL_SEMI_JOIN_VALIDATION, ["o_orderstatus"],
     [("n_orders", NUM), ("total", NUM)]),
    ("band_join", relational.q_band_join, relational.SQL_BAND_JOIN,
     ["user_id"], [("n_pairs", NUM)]),
    ("asof_nearest_prior", relational.q_asof_nearest_prior, relational.SQL_ASOF_NEAREST_PRIOR,
     ["event_id"],
     [("user_id", NUM), ("prev_view_t", NUM), ("gap_s", NUM)]),
    ("interval_overlap_dedup", relational.q_interval_overlap_dedup,
     relational.SQL_INTERVAL_OVERLAP_DEDUP, ["event_type"],
     [("n_kept", NUM), ("first_kept", NUM)]),
    ("grid_cluster_1d", relational.q_grid_cluster_1d, relational.SQL_GRID_CLUSTER_1D,
     ["p_brand"],
     [("n_clusters", NUM), ("grid_score", NUM), ("n_sizes", NUM)]),
    ("top_orders", relational.q_top_orders, relational.SQL_TOP_ORDERS,
     ["o_orderkey"], [("o_totalprice", NUM)]),
    ("rollup_counts", relational.q_rollup_counts, relational.SQL_ROLLUP_COUNTS,
     ["l_returnflag", "l_linestatus"], [("n", NUM), ("qty", NUM)]),
    ("broadcast_dim_join", relational.q_broadcast_dim_join,
     relational.SQL_BROADCAST_DIM_JOIN, ["r_name"],
     [("n_customers", NUM), ("total_balance", NUM)]),
    ("evidence_classifier", relational.q_evidence_classifier,
     relational.SQL_EVIDENCE_CLASSIFIER, ["user_id"],
     [("evidence_score", NUM), ("label", STR)]),
)

DOCMETA_PARTS = (
    ("html_head_meta", docmeta.q_html_head_meta, docmeta.SQL_HTML_HEAD_META,
     ["url"],
     [("title", STR), ("author", STR), ("robots", STR), ("canonical", STR)]),
    ("pdf_info_meta", docmeta.q_pdf_info_meta, docmeta.SQL_PDF_INFO_META,
     ["url"],
     [("title", STR), ("author", STR), ("robots", STR), ("canonical", STR)]),
    ("pdf_toc", docmeta.q_pdf_toc, docmeta.SQL_PDF_TOC,
     ["doc_id", "pos"], [("level", NUM), ("title", STR), ("page", NUM)]),
    ("html_toc", docmeta.q_html_toc, docmeta.SQL_HTML_TOC,
     ["doc_id", "pos"], [("level", NUM), ("title", STR)]),
    ("jsonld_meta", docmeta.q_jsonld_meta, docmeta.SQL_JSONLD_META,
     ["doc_id"],
     [("ld_type", STR), ("headline", STR), ("author_name", STR),
      ("date_published", STR)]),
    ("opengraph_cards", docmeta.q_opengraph_cards, docmeta.SQL_OPENGRAPH_CARDS,
     ["doc_id"],
     [("og_title", STR), ("og_type", STR), ("og_image", STR), ("og_url", STR)]),
    ("pdf_attachments", docmeta.q_pdf_attachments, docmeta.SQL_PDF_ATTACHMENTS,
     ["doc_id", "pos"],
     [("filename", STR), ("size", NUM), ("content", STR)]),
    ("pdf_form_fields", docmeta.q_pdf_form_fields, docmeta.SQL_PDF_FORM_FIELDS,
     ["doc_id", "pos"], [("name", STR), ("value", STR)]),
    # multimodal plumbing folded in r5 (driver-window headroom, VERDICT r4):
    # same one-Arrow-pass zero-shuffle shape as the other docmeta parts
    ("multimodal_meta", multimodal.q_multimodal_meta,
     multimodal.SQL_MULTIMODAL_META, ["doc_id"],
     [("n_bytes", NUM), ("width", NUM), ("height", NUM), ("sample_rate", NUM),
      ("channels", NUM), ("duration_ms", NUM), ("fmt", STR)]),
    ("multimodal_framesample", multimodal.q_multimodal_framesample,
     multimodal.SQL_MULTIMODAL_FRAMESAMPLE, ["doc_id", "frame_idx"],
     [("frame_off", NUM), ("frame_sig", STR)]),
    # undeclared EUC-KR / Shift-JIS / GBK / cp1252 / EUC-JP / ISO-2022-JP
    # byte-pattern probe under the value-level gate (VERDICT r4 item 3 +
    # the late-r5 Japanese rungs)
    ("charset_sniff", docmeta.q_charset_sniff, docmeta.SQL_CHARSET_SNIFF,
     ["doc_id"], [("charset", STR), ("extracted", STR)]),
    # PDF figure→caption multimodal pairs with intrinsic pixel dims parsed
    # from the DCT payload's JPEG header (VERDICT r4 item 5)
    ("pdf_image_pairs", docmeta.q_pdf_image_pairs, docmeta.SQL_PDF_IMAGE_PAIRS,
     ["doc_id"],
     [("width", NUM), ("height", NUM), ("fmt", STR), ("caption", STR),
      ("x0", NUM), ("y0", NUM), ("x1", NUM), ("y1", NUM)]),
    # rel=canonical dedup clusters off the real head parse (final session)
    ("canonical_cluster", docmeta.q_canonical_cluster,
     docmeta.SQL_CANONICAL_CLUSTER, ["canonical"],
     [("n_docs", NUM), ("keeper_url", STR)]),
)

CRAWL_PARTS = (
    ("sitemap_urls", links.q_sitemap_urls, links.SQL_SITEMAP_URLS,
     ["doc_id", "pos"],
     [("loc", STR), ("lastmod", STR), ("priority", NUM)]),
    ("robots_allowed", links.q_robots_allowed, links.SQL_ROBOTS_ALLOWED,
     ["doc_id", "pos"], [("path", STR), ("allowed", STR)]),
    ("feed_entries", links.q_feed_entries, links.SQL_FEED_ENTRIES,
     ["doc_id", "pos"], [("kind", STR), ("title", STR), ("link", STR)]),
    ("feed_discovery", links.q_feed_discovery, links.SQL_FEED_DISCOVERY,
     ["doc_id", "pos"], [("feed_url", STR), ("kind", STR)]),
    ("crawl_frontier", links.q_crawl_frontier, links.SQL_CRAWL_FRONTIER,
     ["target"], [("first_discoverer", NUM)]),
    ("warc_http_meta", corpusops.q_warc_http_meta, corpusops.SQL_WARC_HTTP_META,
     ["doc_id"],
     [("status", NUM), ("content_type", STR), ("keep", STR)]),
    ("meta_refresh", links.q_meta_refresh, links.SQL_META_REFRESH,
     ["doc_id"], [("delay_s", NUM), ("target", STR)]),
    ("image_alt_pairs", links.q_image_alt_pairs, links.SQL_IMAGE_ALT_PAIRS,
     ["doc_id", "pos"],
     [("src", STR), ("alt", STR), ("chrome", STR), ("srcset_n", NUM)]),
    ("anchor_text_rollup", links.q_anchor_text_rollup,
     links.SQL_ANCHOR_TEXT_ROLLUP, ["resolved", "anchor"],
     [("n_links", NUM), ("n_sources", NUM)]),
    ("robots_crawl_delay", links.q_robots_crawl_delay,
     links.SQL_ROBOTS_CRAWL_DELAY, ["host"],
     [("crawl_delay", NUM), ("n_sitemaps", NUM)]),
    # 3xx Location edges out of real WARC bytes, relative lane resolved
    # against the record's Target-URI (final session)
    ("redirect_map", links.q_redirect_map, links.SQL_REDIRECT_MAP,
     ["doc_id"], [("status", NUM), ("target", STR)]),
)


def _unpivot(df: DataFrame, parts) -> DataFrame:
    """Unpivot the value columns of one or more ``(part, keys, vals)`` parts
    out of ONE DataFrame in a single explode of an in-row (part, column,
    v_str, v_num) struct array. All parts share the key columns.

    A union branch per value column would re-execute the subtree once per
    column, and the shuffle-free Python parts (the extraction stage and the
    docmeta/crawl ``fanout`` stages, one ``mapInArrow`` each) have no
    exchange for Spark to reuse, so full document extraction would run 2-4x
    per part; parts derived from the same expensive subtree (one
    HTML extraction pass) likewise cost one execution, not one per part."""
    keys = parts[0][1]
    key = F.concat_ws(
        "|", *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in keys]
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(part).alias("part"),
                F.lit(c).alias("c"),
                (
                    F.col(c).cast("string")
                    if kind == STR
                    else F.lit(None).cast("string")
                ).alias("vs"),
                (
                    F.col(c).cast("double")
                    if kind == NUM
                    else F.lit(None).cast("double")
                ).alias("vn"),
            )
            for part, _keys, vals in parts
            for c, kind in vals
        ]
    )
    return (
        df.select(key.alias("k0"), F.explode(cells).alias("p"))
        .select(
            F.col("p.part").alias("part"),
            F.concat_ws("|", F.col("k0"), F.col("p.c")).alias("k"),
            F.col("p.vs").alias("v_str"),
            F.col("p.vn").alias("v_num"),
        )
    )


def make_suite(parts):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        dfs = [
            _unpivot(fn(spark, sf_dir), [(name, keys, vals)])
            for name, fn, _sql, keys, vals in parts
        ]
        return reduce(lambda a, b: a.unionByName(b), dfs)

    return q


def make_suite_sql(parts) -> str:
    branches = []
    for name, _fn, sql, keys, vals in parts:
        key = "concat_ws('|', " + ", ".join(
            f"coalesce(CAST({c} AS VARCHAR), '∅')" for c in keys
        ) + ")"
        for c, kind in vals:
            v_str = (
                f"CAST({c} AS VARCHAR)" if kind == STR else "CAST(NULL AS VARCHAR)"
            )
            v_num = (
                f"CAST({c} AS DOUBLE)" if kind == NUM else "CAST(NULL AS DOUBLE)"
            )
            branches.append(
                f"SELECT '{name}' AS part, {key} || '|{c}' AS k,\n"
                f"       {v_str} AS v_str, {v_num} AS v_num\n"
                f"FROM ({sql})"
            )
    return "\nUNION ALL\n".join(branches)


q_relational_suite = make_suite(RELATIONAL_PARTS)
q_docmeta_suite = make_suite(DOCMETA_PARTS)
q_crawl_suite = make_suite(CRAWL_PARTS)

SQL_RELATIONAL_SUITE = make_suite_sql(RELATIONAL_PARTS)
SQL_DOCMETA_SUITE = make_suite_sql(DOCMETA_PARTS)
SQL_CRAWL_SUITE = make_suite_sql(CRAWL_PARTS)
