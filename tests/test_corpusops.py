"""Corpus-curation operators: behavioral invariants + physical-plan gates.

Value-level correctness is pinned by the DuckDB oracles
(tools/check_oracles.py); these tests assert the behavior the oracle hash
can't express directly (probe actually fires, cap actually caps) and the
plan shapes the 100 TB design depends on (broadcast benchmark set, no
Python UDFs anywhere in the module)."""

from pyspark.sql import functions as F

from pdf_extraction_spark.operators import corpusops

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_decontaminate_probe_fires(spark):
    rows = corpusops.q_decontaminate(spark, SF).collect()
    flagged = [r for r in rows if r.contaminated == 1]
    clean = [r for r in rows if r.contaminated == 0]
    assert flagged and clean
    # every spliced mutant (offset ids) must be flagged; a few natural
    # 8-gram overlaps with the benchmark slice may legitimately flag too
    mutants = [r for r in rows if r.doc_id >= corpusops.DECON_OFFSET]
    assert mutants
    assert all(r.contaminated == 1 and r.n_hits > 0 for r in mutants)
    assert all(r.n_hits > 0 for r in flagged)
    assert all(r.n_hits == 0 for r in clean)


def test_decontaminate_benchmark_set_is_broadcast(spark):
    plan = plan_of(corpusops.q_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_domain_cap_caps(spark):
    rows = corpusops.q_domain_cap(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_kept <= corpusops.DOMAIN_CAP
        assert r.n_kept <= r.n_total


def test_span_dup_fraction_clones_fully_duplicated(spark):
    rows = {r.doc_id: r for r in corpusops.q_span_dup_fraction(spark, SF).collect()}
    clones = [r for i, r in rows.items() if i >= 5_000_000]
    assert clones
    for clone in clones:
        # every span of a clone also lives in its original -> dup_frac 1.0
        assert clone.dup_frac == 1.0
        original = rows[clone.doc_id - 5_000_000]
        assert original.dup_frac == 1.0
        assert original.n_spans == clone.n_spans


def test_repetition_score_bounds(spark):
    rows = corpusops.q_repetition_score(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 < r.top_bigram_frac <= 1.0
        assert 0 < r.distinct_ratio <= 1.0
        assert r.top_bigram_count <= r.n_bigrams
        assert r.n_distinct <= r.n_words


def test_url_dedup_canonicalizes_all_wire_forms(spark):
    rows = corpusops.q_url_dedup(spark, SF).collect()
    assert rows
    for r in rows:
        # every messy artifact is stripped from the canonical form
        assert "#" not in r.canon_url
        assert "utm_" not in r.canon_url and "fbclid" not in r.canon_url
        assert "WWW" not in r.canon_url and ":443" not in r.canon_url
        assert not r.canon_url.endswith("/")
        assert r.canon_url.startswith("https://")
        # meaningful query params survive the tracking-param filter
        if r.doc_id % 4 == 0:
            assert r.canon_url.endswith("?q=1")
    # the fixture forces collisions: dedup must actually drop rows
    canon = {}
    for r in rows:
        canon.setdefault(r.canon_url, []).append(r)
    assert any(len(v) > 1 for v in canon.values())
    for group in canon.values():
        keepers = [r for r in group if r.is_canonical == 1]
        assert len(keepers) == 1
        assert keepers[0].doc_id == min(r.doc_id for r in group)


def test_stratified_sample_deterministic_and_rate_bounded(spark):
    rows = corpusops.q_stratified_sample(spark, SF).collect()
    again = corpusops.q_stratified_sample(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))  # no RNG state
    by_lang: dict[str, list] = {}
    for r in rows:
        assert 0 <= r.bucket < 100
        assert r.kept == (1 if r.bucket < r.rate else 0)
        by_lang.setdefault(r.lang, []).append(r)
    for lang, group in by_lang.items():
        expected = corpusops.STRATUM_RATES.get(lang, corpusops.DEFAULT_RATE)
        assert all(r.rate == expected for r in group)


def test_dup_span_extract_clone_spans_cover_whole_doc(spark):
    rows = corpusops.q_dup_span_extract(spark, SF).collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        assert r.span_start >= 1
        assert r.span_end >= r.span_start + (corpusops.SPAN_N - 1)
        assert r.n_words == r.span_end - r.span_start + 1
        by_doc.setdefault(r.doc_id, []).append(r)
    # a cloned doc is duplicated wall-to-wall: exactly one maximal span
    # starting at word 1, and its islands never overlap
    clone_ids = [i for i in by_doc if i >= corpusops.DUPSPAN_OFFSET]
    assert clone_ids
    for cid in clone_ids:
        spans = sorted(by_doc[cid], key=lambda r: r.span_start)
        assert spans[0].span_start == 1
        assert by_doc[cid - corpusops.DUPSPAN_OFFSET]  # original marked too
    for spans in by_doc.values():
        spans = sorted(spans, key=lambda r: r.span_start)
        for a, b in zip(spans, spans[1:]):
            assert b.span_start > a.span_start  # islands are disjoint starts


def test_ccnet_perplexity_orders_fluency(spark):
    rows = corpusops.q_ccnet_perplexity(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.n_words > 0
        assert r.nll > 0
        assert r.bucket in ("head", "middle", "tail")
        if r.nll < 6.0:
            assert r.bucket == "head"
        elif r.nll < 7.0:
            assert r.bucket == "middle"
        else:
            assert r.bucket == "tail"


def test_module_stays_jvm_side(spark):
    for q in (
        corpusops.q_domain_cap,
        corpusops.q_span_dup_fraction,
        corpusops.q_repetition_score,
        corpusops.q_url_dedup,
        corpusops.q_stratified_sample,
        corpusops.q_dup_span_extract,
        corpusops.q_ccnet_perplexity,
    ):
        assert "BatchEvalPython" not in plan_of(q(spark, SF))


def test_crawl_frontier_respects_robots_policy(spark):
    """Even-suffixed hosts disallow /about (per-host RFC 9309 verdicts,
    broadcast-joined into the frontier); odd hosts keep both targets and
    every host keeps its root."""
    from pdf_extraction_spark.operators import links

    rows = links.q_crawl_frontier(spark, "/root/testdata/sf0.001").collect()
    targets = {r["target"] for r in rows}
    assert "https://src1.example.com/about" in targets
    assert "https://src2.example.com/about" not in targets  # disallowed
    assert "https://src2.example.com/" in targets  # root always allowed


# -- round-5 additions: pagerank / sharding / quantiles ----------------------------


def test_host_pagerank_integer_mass_conservation(spark):
    from pdf_extraction_spark.operators import links

    rows = links.q_host_pagerank(spark, SF).collect()
    assert len(rows) == 20  # the host vocabulary
    total = sum(r.rank_micro for r in rows)
    # each integer DIV loses < 1 micro-unit per term; mass stays within
    # rounding dust of the exact 1.0
    assert 0.98 * links.PR_SCALE < total <= links.PR_SCALE


def test_host_pagerank_sinks_get_exactly_teleport(spark):
    from pdf_extraction_spark.operators import links

    rows = {r.host: r.rank_micro for r in links.q_host_pagerank(spark, SF).collect()}
    # edges only ever point at src0..src9, so src10..src19 receive no link
    # mass: their rank is EXACTLY the teleport share — integer arithmetic
    # makes this an equality, not a tolerance
    teleport = links.PR_TELEPORT_NUM // 20
    for i in range(10, 20):
        assert rows[f"src{i}"] == teleport
    for i in range(10):
        assert rows[f"src{i}"] > teleport


def test_host_pagerank_no_python_stages(spark):
    from pdf_extraction_spark.operators import links

    plan = plan_of(links.q_host_pagerank(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_shard_balance_partitions_the_corpus(spark):
    import duckdb

    rows = corpusops.q_shard_balance(spark, SF).collect()
    n_docs = duckdb.connect().execute(
        f"select count(*), sum(n_chars) from read_parquet('{SF}/documents.parquet')"
    ).fetchone()
    assert sum(r.n_docs for r in rows) == n_docs[0]
    assert sum(r.n_chars_total for r in rows) == n_docs[1]
    assert all(0 <= r.shard < corpusops.N_SHARDS for r in rows)
    # content-addressing spreads 500 docs across nearly all 64 shards
    assert len(rows) > corpusops.N_SHARDS * 0.8


def test_shard_balance_plan_is_one_combinable_agg(spark):
    plan = plan_of(corpusops.q_shard_balance(spark, SF))
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "BatchEvalPython" not in plan


def test_host_length_quantiles_bounds(spark):
    rows = corpusops.q_host_length_quantiles(spark, SF).collect()
    assert len(rows) == 20
    for r in rows:
        assert r.p50_chars <= r.p90_chars
        assert r.n_docs > 0


def test_cdx_index_surt_groups_hosts(spark):
    from pdf_extraction_spark.operators import links

    df = links.q_cdx_index(spark, SF)
    plan = plan_of(df)
    # a capture index is a narrow map: no shuffle, no Python stage
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    rows = df.collect()
    assert len(rows) == 500
    # SURT property: sorting by key groups every capture of a host together
    ordered = sorted(rows, key=lambda r: r.surt_key)
    hosts = [r.url.split("/")[2] for r in ordered]
    seen, prev = set(), None
    for h in hosts:
        if h != prev:
            assert h not in seen, f"host {h} split into non-contiguous runs"
            seen.add(h)
            prev = h
    assert all(r.surt_key.startswith("com,example,") for r in rows)
    assert all(len(r.digest) == 32 for r in rows)


def test_cdx_from_sink_shapes_real_urls(spark):
    from pdf_extraction_spark.operators import links

    rows = spark.createDataFrame(
        [
            ("https://news.example.co.uk/world/2025/story?id=7", "Body text"),
            ("https://example.com/", ""),
            ("http://a.b/x", "zz"),
        ],
        "url string, extracted_text string",
    )
    out = {r.url: r for r in links.cdx_from_sink(rows).collect()}
    r = out["https://news.example.co.uk/world/2025/story?id=7"]
    assert r.surt_key == "uk,co,example,news)/world/2025/story?id=7"
    assert r.length == len("Body text")
    assert out["https://example.com/"].surt_key == "com,example)/"
    assert out["http://a.b/x"].surt_key == "b,a)/x"
    import hashlib
    assert r.digest == hashlib.md5(b"Body text").hexdigest()


def test_robots_digit_parity_on_exotic_hosts(spark, tmp_path):
    """Spark and the DuckDB oracle must agree on hosts the synthetic
    corpus never produces (review finding): multiple digit runs ('a1b2'
    must read its FIRST run on both sides) and digitless sources (the
    oracle used to raise on CAST('' AS BIGINT))."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extraction_spark.operators import links

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": [0, 1, 2, 3],
            "text": ["alpha beta gamma", "w x y z q", "a b c d e", "m n o p q"],
            "lang": ["en"] * 4,
            "source": ["a1b2", "news", "src3", "x10y"],
            "n_chars": [16, 9, 9, 7],
        }),
        sf / "documents.parquet",
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    for fn, sql, key in [
        (links.q_robots_crawl_delay, links.SQL_ROBOTS_CRAWL_DELAY, "host"),
        (links.q_crawl_frontier, links.SQL_CRAWL_FRONTIER, "target"),
    ]:
        srows = {tuple(r) for r in fn(spark, str(sf)).collect()}
        orows = {tuple(r) for r in con.execute(sql).fetchall()}
        assert srows == orows, f"{key}: {srows ^ orows}"
    # 'a1b2' first run = 1 (odd) -> /about allowed into the frontier
    targets = {r.target for r in links.q_crawl_frontier(spark, str(sf)).collect()}
    assert "https://a1b2.example.com/about" in targets
    # 'x10y' first run = 10 (even) -> /about robots-disallowed
    assert "https://x10y.example.com/about" not in targets


def _charset_sniff_rows(spark, tmp_path, texts):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extraction_spark.operators import docmeta

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["src0"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }),
        sf / "documents.parquet",
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    srows = {tuple(r) for r in docmeta.q_charset_sniff(spark, str(sf)).collect()}
    orows = {tuple(r) for r in con.execute(docmeta.SQL_CHARSET_SNIFF).fetchall()}
    return srows, orows


def test_charset_sniff_parity_on_short_docs(spark, tmp_path):
    """Docs with <4 words: the oracle's old 'w[1]||…||w[4]' concat
    NULL-propagated while the kernel truncates (review finding); both
    sides must now truncate identically."""
    srows, orows = _charset_sniff_rows(
        spark, tmp_path, ["solo", "two words", "three little words", "now four words here"]
    )
    assert srows == orows, srows ^ orows
    assert all(r[2] is not None for r in orows)


def test_charset_sniff_parity_on_markup_and_control_chars(spark, tmp_path):
    """Kept words ending in a tab (DuckDB's rtrim strips only spaces, and
    the kernel folds control whitespace) or carrying '<' / '&' (element
    content the kernel parses as markup) give the same row on both engines,
    in every charset lane (doc_id % 7)."""
    texts = [
        "tail\t", "a<b c&d", "x\ty &amp; <p>", "\t only", "q&lt;r\r\n",
        "<", "fine words here", "end\t\t", "&", "a<\tb",
        "w1 w2 w3 w4\t", "\x0bvt", "lt< gt>", "amp& tab\t",
    ]
    srows, orows = _charset_sniff_rows(spark, tmp_path, texts)
    assert srows == orows, srows ^ orows
    assert {r[2].rsplit(" ", 1)[-1] for r in orows if r[0] in (0, 1)} == {"tail", "c&d"}


def test_canonical_keeper_orders_like_duckdb_on_astral_urls(spark):
    """The canonical-cluster keeper is the min url in UTF-8 byte order on
    both engines, including url pairs whose UTF-16 code-unit order is the
    reverse (an astral-plane character against one in U+E000-U+FFFF)."""
    import duckdb

    from pdf_extraction_spark.operators import docmeta

    pairs = [("\uff5e", "\U0001f600"), ("\ue000", "\U00010000")]
    rows = []
    for i, (bmp, astral) in enumerate(pairs):
        assert bmp.encode("utf-8") < astral.encode("utf-8")
        assert astral.encode("utf-16-be") < bmp.encode("utf-16-be")
        canon = f"https://h{i}.example.com/canonical"
        rows += [(f"https://h{i}.example.com/d/{c}", canon) for c in (astral, bmp)]
    meta = spark.createDataFrame(rows, "url string, canonical string")
    srows = sorted(tuple(r) for r in docmeta.canonical_clusters(meta).collect())
    orows = sorted(duckdb.connect().execute(
        "SELECT canonical, count(*), min(url) FROM "
        "(SELECT unnest(?) AS url, unnest(?) AS canonical) GROUP BY canonical",
        [[u for u, _ in rows], [c for _, c in rows]],
    ).fetchall())
    assert srows == orows
    assert [r[2][-1] for r in srows] == [bmp for bmp, _ in pairs]


def test_decontaminate_tail_parity_on_short_benchmark_docs(spark, tmp_path):
    """Benchmark docs with fewer than DECON_N words (review finding):
    Spark's slice(w, -N, N) returned an EMPTY array for them while the
    oracle's list_slice(w, -N, -1) clamps to the whole list, so the two
    engines spliced different mutant texts. The clamped positive-start
    slice must now reproduce DuckDB's semantics row-for-row."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extraction_spark.operators import corpusops

    sf = tmp_path / "sf"
    sf.mkdir()
    # doc 0: benchmark (0 % 41 == 0) with only 5 words — the divergence
    # trigger; doc 41: a long benchmark doc; doc 63 (% 10 == 3, k = 0)
    # splices doc 0's SHORT tail; doc 13 (k = 6) splices doc 41's tail.
    rows = {
        0: "tiny bench doc five",          # 4 words < DECON_N
        41: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        63: "train doc sixty three body words here",
        13: "another train doc body with some words",
        7: "plain train doc never contaminated at all",
        24: "more filler training text with enough words",
    }
    ids = sorted(rows)
    pq.write_table(
        pa.table({
            "doc_id": ids,
            "text": [rows[i] for i in ids],
            "lang": ["en"] * len(ids),
            "source": ["src"] * len(ids),
            "n_chars": [len(rows[i]) for i in ids],
        }),
        sf / "documents.parquet",
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    srows = {tuple(r) for r in corpusops.q_decontaminate(spark, str(sf)).collect()}
    orows = {tuple(r) for r in con.execute(corpusops.SQL_DECONTAMINATE).fetchall()}
    assert srows == orows, srows ^ orows
    # the mutant spliced from the SHORT benchmark tail exists on both sides
    assert any(r[0] == 63 + corpusops.DECON_OFFSET for r in srows)


def test_quality_score_exact_at_decimal_midpoint(spark, tmp_path):
    """The quality score must be integer-exact at 4dp decimal midpoints.
    A 32-char single word with one punctuation char puts the true rational
    at exactly -262.5 micro-units (min(1,100)/200 - 1/32 = -0.02625);
    rounding the double representation instead left the two engines one
    ulp apart across the boundary (hypothesis finding). Half-away-from-
    zero rounding of the exact BIGINT rational gives -0.0263 on BOTH."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_extraction_spark.operators import textops

    text = "a" * 31 + "."
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table({"doc_id": [0], "text": [text], "lang": ["en"],
                  "source": ["s"], "n_chars": [len(text)]}),
        sf / "documents.parquet",
    )
    srow = textops.q_quality_score(spark, str(sf)).collect()[0]
    assert srow["quality"] == -0.0263
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf}/documents.parquet')"
    )
    orow = con.execute(textops.SQL_QUALITY_SCORE).fetchall()[0]
    assert orow[-1] == -0.0263
    assert tuple(srow) == orow
