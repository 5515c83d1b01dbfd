"""Physical-plan quality gates: the optimizations SURVEY.md §4 claims must
actually appear in the executed plans (broadcast, pushdown, partial agg,
whole-stage codegen). These catch regressions where a refactor silently
turns a broadcast join into a shuffle or drops a pushed filter."""

import pytest

from pdf_extraction_spark.operators import dedup, relational, similarity

SF = "/root/testdata/sf0.001"


def plan_of(df, execute: bool = False) -> str:
    if execute:
        df.collect()  # finalize AQE so codegen spans appear in the plan
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_join_broadcasts(spark):
    plan = plan_of(relational.q_broadcast_dim_join(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pricing_summary_partial_agg_and_pushdown(spark):
    plan = plan_of(relational.q_pricing_summary(spark, SF), execute=True)
    # partial (map-side) aggregation before the shuffle
    assert "partial_" in plan
    # the shipdate filter reaches the parquet scan
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # hot path is codegen'd ("*(n)" spans in the final adaptive plan)
    assert "*(" in plan


def test_theta_selfjoin_equi_part_is_hash_shuffled(spark):
    """The J1 self-join must shuffle on the equi key (orderkey) and evaluate
    only the theta part post-shuffle — never a cartesian."""
    plan = plan_of(relational.q_theta_selfjoin(spark, SF), execute=True)
    # an equi hash join on the orderkey — AQE may legitimately broadcast the
    # tiny sf0.001 side; what must NEVER appear is a nested-loop over pairs
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_semi_join_stays_semi(spark):
    plan = plan_of(relational.q_semi_join_validation(spark, SF))
    assert "LeftSemi" in plan


def test_interval_dedup_no_cartesian(spark):
    plan = plan_of(relational.q_interval_overlap_dedup(spark, SF))
    assert "CartesianProduct" not in plan


def test_window_ops_single_shuffle(spark):
    """Sessionization: lag + running sum share one window partitioning —
    exactly one exchange on user_id before both window operators."""
    plan = plan_of(relational.q_sessionize_events(spark, SF))
    assert plan.count("Exchange hashpartitioning(user_id") <= 1


def test_minhash_no_python_udf_in_shingle_path(spark):
    """Dedup MinHash stage must stay JVM-side (built-in functions), no
    row-at-a-time PythonUDF nodes."""
    plan = plan_of(dedup.q_dedup_minhash_lsh(spark, SF))
    assert "BatchEvalPython" not in plan  # row-at-a-time python


def test_dedup_verify_joins_never_cartesian(spark):
    """The set-based exact-Jaccard verify must stay an equi-join against the
    per-doc shingle-set relation — a refactor that degrades it to a nested
    loop over pairs would be quadratic at corpus scale."""
    for q in (dedup.q_dedup_minhash_lsh, dedup.q_dedup_ngram_jaccard):
        plan = plan_of(q(spark, SF))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_ann_topk_partial_agg(spark):
    plan = plan_of(similarity.q_ann_topk_cosine(spark, SF))
    assert "CartesianProduct" not in plan or "Broadcast" in plan


def test_ann_topk_broadcasts_query_side(spark):
    """The 10-row query side must be broadcast BY CONSTRUCTION
    (BroadcastNestedLoopJoin), not left to AQE's estimator, which may flip
    to a shuffled cartesian at 100x the data (VERDICT r2 item 5)."""
    plan = plan_of(similarity.q_ann_topk_cosine(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_job_output_hash_is_distributed():
    """The cross-parallelism equality hash must never collect document rows
    to the driver (VERDICT r1: a driver-side collect of the output table is
    a 100 TB driver-OOM). job.py combines per-row xxhash64 with commutative
    aggregates instead."""
    import pathlib

    src = (pathlib.Path(__file__).parent.parent / "job.py").read_text()
    assert ".collect()" not in src
    assert "xxhash64" in src and "bit_xor" in src


def test_host_quality_partial_agg_no_sort(spark):
    """Host rollup: map-side partial aggregation before the host shuffle,
    and no global sort anywhere (the output is host-vocabulary-sized but a
    sort would still be a needless extra exchange at scale)."""
    from pdf_extraction_spark.operators import corpusops

    plan = plan_of(corpusops.q_host_quality(spark, SF), execute=True)
    assert "partial_" in plan
    assert "Sort [source" not in plan


def test_keep_best_no_cartesian_no_python(spark):
    """Canonical-doc selection: quality join + per-cluster window must stay
    relational — no cartesian pairs, no Python in the plan."""
    plan = plan_of(dedup.q_dedup_keep_best(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_crawl_frontier_anti_join_no_cartesian(spark):
    """Frontier composition: the already-crawled exclusion must be an
    anti-join (no cartesian, no Python), the robots-policy intersection a
    BROADCAST join (the per-host verdict table must never shuffle the
    frontier side), and the per-target dedup a window — all relational."""
    from pdf_extraction_spark.operators import links

    plan = plan_of(links.q_crawl_frontier(spark, SF))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan  # robots policy rides a broadcast
    assert "CartesianProduct" not in plan


def test_relational_suite_stays_jvm_side(spark):
    """The r4 suite unpivot (operators/suites.py) must add zero Python to
    its parts' plans: no row-at-a-time eval, no pandas stage — lit/cast/
    concat_ws columns only."""
    from pdf_extraction_spark.operators import suites

    plan = plan_of(suites.q_relational_suite(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Union" in plan


def test_canonical_cluster_partial_agg_single_shuffle(spark):
    """Canonical dedup clusters: ONE combinable groupBy on the canonical
    target after the Arrow head-parse stage — map-side partial agg present,
    no second Exchange, no row-at-a-time Python."""
    from pdf_extraction_spark.operators import docmeta

    plan = plan_of(docmeta.q_canonical_cluster(spark, SF))
    assert "partial_" in plan
    assert "BatchEvalPython" not in plan
    # exactly one requirement-driven shuffle (the canonical-key agg); the
    # only other Exchange allowed is spread_docs' explicit build-side
    # rebalance of the single-file test scan (REPARTITION_BY_NUM)
    assert plan.count("ENSURE_REQUIREMENTS") == 1
    assert "Exchange hashpartitioning(canonical" in plan


def test_redirect_map_zero_shuffle(spark):
    """Redirect-edge extraction is a narrow map over the capture scan —
    no requirement-driven shuffle anywhere (the only Exchange permitted is
    spread_docs' explicit rebalance of the single-file test scan), and the
    only Python stage is the one Arrow pass."""
    from pdf_extraction_spark.operators import links

    plan = plan_of(links.q_redirect_map(spark, SF))
    assert "BatchEvalPython" not in plan
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "ENSURE_REQUIREMENTS" not in plan


def _lineage_rows(spark, tmp_path):
    import datetime

    from pdf_extraction_spark import lineage
    from pdf_extraction_spark.pipeline import local_df

    ts = datetime.datetime.now(datetime.timezone.utc)
    return local_df(
        spark, [("r", 0, "pending", 1, 8, None, None, None, None, ts)],
        lineage.LINEAGE_SCHEMA,
    )


def _stopwords(spark, tmp_path):
    from pdf_extraction_spark.operators import textops

    return textops._stopword_df(spark)


def _warc_paths(spark, tmp_path):
    from pdf_extraction_spark.sources import warc

    path = str(tmp_path / "one.warc")
    warc.write_warc([], path)
    return warc.read_warc(spark, [path])


@pytest.mark.parametrize(
    "build", [_lineage_rows, _stopwords, _warc_paths], ids=lambda f: f.__name__.strip("_")
)
def test_driver_rows_are_local_relations(spark, tmp_path, build):
    """Rows built on the driver (lineage appends, the stopword dimension,
    connector path lists) reach the JVM as a ``LocalTableScan`` — never a
    parallelized ``PythonRDD`` (``Scan ExistingRDD``), whose Python worker
    tasks are a fixed cost on every call."""
    plan = plan_of(build(spark, tmp_path))
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert "PythonRDD" not in plan


def _kernel_plan_queries():
    from pdf_extraction_spark.operators import corpusops, docmeta, links

    return [links.q_extract_outlinks, docmeta.q_html_head_meta,
            docmeta.q_canonical_cluster, corpusops.q_indexable_filter,
            links.q_meta_refresh, docmeta.q_pdf_info_meta]


@pytest.mark.parametrize("q", _kernel_plan_queries(), ids=lambda q: q.__name__)
def test_link_and_meta_queries_project_the_extraction_stage(spark, q):
    """Outlinks and head/document meta are projections of the one Arrow
    extraction stage: exactly one ``MapInArrow`` and no pandas generator
    stage of their own. The PDF corpus builder's ``ArrowEvalPython``
    (the deterministic writer UDF) is the only other Python node allowed,
    and only on ``q_pdf_info_meta``."""
    plan = plan_of(q(spark, SF))
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan
    if q.__name__ != "q_pdf_info_meta":
        assert "ArrowEvalPython" not in plan
