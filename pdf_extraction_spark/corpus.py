"""Deterministic synthetic fixture corpus (FIXTURES.md §1).

Input-table shape fixed by BASELINE.json input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Two builders:

* :func:`synth_rows` — pure-Python row list (seeded, no Spark) covering all
  HTML/PDF payload variants, with a Zipf-skewed host pool and one
  pathological heavy host (~30% of rows) so the salted-repartition logic is
  exercised (SURVEY.md §4 "Skew handling").
* :func:`corpus_from_documents` — Spark-side builder that wraps the driver's
  ``documents.parquet`` text in the standard article template with pure JVM
  ``concat`` (no Python in the hot path); extraction must recover
  ``documents.text`` byte-identically, which gives the oracle-checkable
  round-trip queries in ``__spark_entry__.py``.
"""

from __future__ import annotations

import datetime
import random

import pandas as pd

from .kernels import pdf_write
from .kernels.dispatch import extract_document
from .operators.common import tbl

# ~50 synthetic hosts; host[0] is the pathological heavy one (~30% of rows).
HOSTS = ["heavy-portal.example.com"] + [f"site-{i:02d}.example.org" for i in range(1, 50)]
LANGS = ("en", "ko", "de")

_WORDS = (
    "data spark table scan filter join merge sort window batch stream row "
    "column key value hash group query order part line agg fast slow small "
    "big vector customer dup the a"
).split()

_KO_WORDS = ("데이터 분석 추출 문서 표 그림 수식 제목 단락 목록").split()
# kana-dominant on purpose: the undeclared-EUC-JP lane must clear the
# probe's 1/3 kana core gate the way real Japanese prose does (pure-kanji
# strings are Chinese-shaped at the byte level); all chars JIS X 0208
_JA_WORDS = ("データ ぶんせき 抽出 ぶんしょ ひょう 図 すうしき だいもく "
             "だんらく もくろく").split()

EPOCH = datetime.datetime(2025, 1, 1, 0, 0, 0)


def _sentence(rng: random.Random, n: int, lang: str) -> str:
    pool = _JA_WORDS if lang == "ja" else _KO_WORDS if lang == "ko" else _WORDS
    return " ".join(rng.choice(pool) for _ in range(n))


# -- HTML templates (variants 1-6 of FIXTURES.md) -------------------------------

_CHROME = (
    "<header><div class='logo'>SiteName</div>"
    "<nav><a href='/'>Home</a> <a href='/about'>About</a> <a href='/contact' rel='nofollow'>Contact</a></nav>"
    "</header>"
)
_FOOTER = "<footer><p>Copyright 2025 SiteName. All rights reserved.</p></footer>"
_SIDEBAR = (
    "<aside class='sidebar'><ul>"
    + "".join(f"<li><a href='/l{i}'>link {i}</a></li>" for i in range(12))
    + "</ul></aside>"
)


def render_article(title: str | None, paragraphs: list[str], variant: int = 1) -> str:
    """Deterministic HTML page around the given content blocks."""
    body = []
    body.append(_CHROME)
    if variant == 2:
        body.append(_SIDEBAR)
    main = []
    if title:
        main.append(f"<h1>{title}</h1>")
    if variant == 3:
        main.append("<h2>Section One</h2>")
    for i, p in enumerate(paragraphs):
        main.append(f"<p>{p}</p>")
    if variant == 4:
        main.append(
            "<table><tr><td>alpha cell data</td><td>beta cell data</td></tr>"
            "<tr><td>gamma cell data</td><td>delta cell data</td></tr></table>"
            "<figure><img src='f.png'/><figcaption>Figure 1: synthetic caption</figcaption></figure>"
        )
    if variant == 5:
        main.append("<script>var x=1;</script><!-- comment --><style>p{color:red}</style>")
        main.append("<p>&amp; entity &lt;test&gt; multibyte 한국어 텍스트 블록</p>")
    body.append("<main>" + "".join(main) + "</main>")
    body.append(_FOOTER)
    html = "<!DOCTYPE html><html><head><title>t</title></head><body>" + "".join(body) + "</body></html>"
    if variant == 6:  # malformed: truncate mid-tag
        html = html[: int(len(html) * 0.7)]
    return html


def synth_rows(n: int, seed: int = 42, pdf_fraction: float = 0.10) -> list[dict]:
    """Generate n deterministic corpus rows (pure Python, no Spark)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        # skewed host draw: 30% heavy host, rest Zipf-ish over the pool
        if rng.random() < 0.30:
            host = HOSTS[0]
        else:
            r = rng.random()
            host = HOSTS[1 + min(int(r * r * (len(HOSTS) - 1)), len(HOSTS) - 2)]
        url = f"https://{host}/page/{i}"
        lang = LANGS[i % len(LANGS)]
        # every 10th doc is Japanese (stolen evenly from the base rotation;
        # the word-pool swap leaves the rng call sequence untouched, so no
        # other row's draws move) — half its HTML pages ship as UNDECLARED
        # EUC-JP below, the round-5 probe rung
        if i % 10 == 5:
            lang = "ja"
        warc_ts = EPOCH + datetime.timedelta(minutes=i)
        title = _sentence(rng, 4, lang).title()
        paras = [_sentence(rng, rng.randint(20, 60), lang) for _ in range(rng.randint(1, 5))]
        is_pdf = rng.random() < pdf_fraction
        if is_pdf:
            body_text = " ".join(paras)
            variant = i % 8
            # every 4th PDF swaps space glyphs for TJ kern-offset word gaps
            # (justified/subset-font layout); every 5th is a scanned-style
            # /Rotate page; every 6th paints through a Form XObject — all
            # orthogonal to the variants
            kern = i % 4 == 0
            rot = (90, 180, 270)[i % 3] if i % 5 == 0 else 0
            form = i % 6 == 0
            # every 9th splits lines into metric-advanced run fragments
            split = i % 9 == 0
            # unembedded-width core-font rotation (simple-encoding variants
            # only; type0/differences emit their own /Widths): the reader
            # must advance by the family AFM table, not Helvetica's
            bfont = ("Times-Roman", "Helvetica", "Courier",
                     "Helvetica", "Symbol", "Helvetica", "Helvetica")[i % 7]
            if variant == 0:
                payload = pdf_write.build_pdf(
                    body_text, title=title, tj_kerning=kern, rotate=rot, form_xobject=form, split_runs=split,
                    base_font=bfont,
                )
            elif variant == 1:
                payload = pdf_write.build_pdf(
                    body_text, columns=2, title=title, tj_kerning=kern, rotate=rot, form_xobject=form, split_runs=split,
                    base_font=bfont,
                )
            elif variant == 2:
                payload = pdf_write.build_pdf(
                    body_text, compress=True, xref_stream=True, tj_kerning=kern,
                    rotate=rot, form_xobject=form, base_font=bfont,
                )
            elif variant == 3:
                payload = pdf_write.build_pdf(
                    "", table_rows=[["name", "value"], ["alpha", "one"], ["beta", "two"]]
                )
            elif variant == 4:
                # subset-font emulation: Identity-H glyph codes; every other
                # one drops /ToUnicode and carries an embedded FontFile2 whose
                # own cmap is the only way back to Unicode (VERDICT r4 item 4)
                enc4 = "type0-ttf" if (i // 8) % 2 == 1 else "type0"
                payload = pdf_write.build_pdf(
                    body_text, title=title, compress=True, encoding=enc4,
                    tj_kerning=kern, rotate=rot, form_xobject=form, split_runs=split,
                )
            elif variant == 5:
                # remapped simple fonts, rotating where the remap lives:
                # the font dict (/Differences), the embedded Type1 program's
                # cleartext built-in /Encoding vector, an embedded bare-CFF's
                # binary Encoding + charset, or the same CFF wrapped in an
                # OTTO sfnt (no /Differences, no /ToUnicode in any of the
                # embedded lanes — VERDICT r4 "missing" item 2)
                enc5 = ("differences", "type1-builtin",
                        "type1c", "type1c-otf")[(i // 8) % 4]
                payload = pdf_write.build_pdf(
                    body_text, title=title, encoding=enc5, tj_kerning=kern,
                    rotate=rot, form_xobject=form,
                )
            elif variant == 6:
                # standard security handler, empty user password (AES-128)
                payload = pdf_write.build_pdf(
                    body_text, title=title, compress=True, encrypt="aes-128",
                    tj_kerning=kern, rotate=rot, form_xobject=form, split_runs=split,
                )
            else:
                payload = pdf_write.build_truncated_pdf(body_text)
            raw_text = body_text
        else:
            variant = 1 + (i % 6)
            # every 10th non-Korean HTML page ships as undeclared
            # windows-1252 (the WHATWG legacy default for pages with no BOM
            # and no <meta charset>) with cp1252-only punctuation — the
            # charset sniff must recover it without mojibake (VERDICT r3
            # item 4). Variant 5 carries Korean text, so it stays UTF-8.
            legacy = lang != "ko" and variant != 5 and i % 10 == 7
            if legacy:
                paras.append("café crème — déjà vu € naïve ±façade")
            html = render_article(title, paras, variant=variant)
            # every 10th Korean page ships as UNDECLARED cp949 (no BOM, no
            # <meta charset> — the template carries none) so the goldens and
            # the verify-drive corpus exercise the CJK byte-pattern probe
            # (scalebench builds its HTML directly from the template in
            # UTF-8 — its timings do NOT include this lane)
            # (VERDICT r4 item 3); the truncated variant 6 stays UTF-8 (a
            # mid-pair cut is a different degrade path, tested separately)
            legacy_kr = lang == "ko" and variant != 6 and i % 10 == 3
            # every other Japanese page ships as UNDECLARED EUC-JP (round-5
            # probe rung; the rest stay UTF-8 so both decode paths run).
            # Variant 5 is excluded because its fixed block carries Hangul,
            # which JIS X 0208 cannot encode; variant 6 stays UTF-8 like
            # the Korean lane (mid-pair truncation is tested separately).
            legacy_ja = lang == "ja" and variant not in (5, 6) and i % 20 == 5
            # …and a quarter as UNDECLARED 7-bit ISO-2022-JP (escape-shifted
            # JIS — valid ASCII, so the sniff must catch it on the
            # strict-UTF-8 SUCCESS path, not the high-byte ladder). These
            # pages carried UTF-8 before the lane, so the pipeline output
            # hash is UNCHANGED iff the sniff recovers identical text.
            iso_ja = (lang == "ja" and variant not in (5, 6)
                      and i % 40 == 15)
            payload = html.encode(
                "cp1252" if legacy else
                ("cp949" if legacy_kr else
                 ("euc-jp" if legacy_ja else
                  ("iso-2022-jp" if iso_ja else "utf-8")))
            )
            raw_text = " ".join([title] + paras)
        rows.append(
            {"url": url, "warc_ts": warc_ts, "html": payload, "text": raw_text, "lang": lang}
        )
    return rows


def compute_goldens(rows: list[dict]) -> list[dict]:
    """Single-threaded ground truth: run the kernels directly (FIXTURES.md §2).

    The Spark pipeline must reproduce these byte-identically at every
    parallelism level.
    """
    out = []
    for r in rows:
        res = extract_document(r["html"])
        out.append(
            {
                "url": r["url"],
                "extracted_text": res["text"],
                "spans": res["spans"],
                "n_elements": res["n_elements"],
                "method": res["method"],
            }
        )
    return out


# -- Spark-side corpus from the driver's documents table -------------------------

ARTICLE_PREFIX = (
    "<!DOCTYPE html><html><head><title>t</title>"
    "<link rel='canonical' href='/canonical'></head><body>"
    + _CHROME
    + "<main><p>"
)
ARTICLE_SUFFIX = "</p></main>" + _FOOTER + "</body></html>"


def spread_docs(docs):
    """Hash-spread a small-file ``documents`` scan across all cores BEFORE
    the payload-generation / extraction stages that hang off it.

    The oracle corpora are synthesized from ``documents.parquet``; at
    sf ≤ 1 that is a single file under ``maxPartitionBytes``, so the scan
    yields ONE partition and every expensive Arrow stage downstream (the
    deterministic PDF writer UDF, the extraction kernels) serializes on one
    core — observed as 83–123 s single-task stages per elements query at
    sf1. Repartitioning the pre-payload TEXT rows by ``doc_id`` hash
    spreads that work for the cost of shuffling kilobyte text rows; the
    generated binary payloads themselves still never shuffle (the oracle
    queries run ``extract_stage``, which has no shuffle). At production
    scale the scan arrives pre-parallel from thousands of files, so the
    shuffle is SKIPPED there (guarded on the scan's actual partition
    count) — forcing a full text shuffle on an already-parallel 100 TB
    scan would be pure waste. No downstream query depends on row order
    (per-doc aggregates only, and the driver comparator sorts).
    """
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() >= parallelism:
        return docs
    return docs.repartition(parallelism, "doc_id")


def doc_url():
    """``'https://' || source || '.example.com/doc/' || doc_id``: the url of
    a ``documents`` row, as the DuckDB oracles reconstruct it."""
    from pyspark.sql import functions as F

    return F.concat(F.lit("https://"), F.col("source"), F.lit(".example.com/doc/"),
                    F.col("doc_id").cast("string"))


def corpus_from_documents(spark, sf_dir: str, payload: str = "html"):
    """Build the corpus table from ``{sf_dir}/documents.parquet``.

    HTML payloads are built with JVM-side ``concat`` (zero Python); PDF
    payloads via an Arrow-batched pandas UDF around the deterministic writer.
    ``url = 'https://' || source || '.example.com/doc/' || doc_id`` so the
    DuckDB oracle can reconstruct it with string concatenation.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    docs = spread_docs(tbl(spark, sf_dir, "documents"))
    base = docs.select(
        doc_url().alias("url"),
        F.to_timestamp(F.lit("2025-01-01 00:00:00")).alias("warc_ts"),
        F.col("text"),
        F.col("lang"),
        F.col("doc_id"),
    )
    if payload == "html":
        page = F.concat(F.lit(ARTICLE_PREFIX), F.col("text"), F.lit(ARTICLE_SUFFIX))
        # every 10th latin-1-encodable doc ships as undeclared ISO-8859-1
        # bytes (no BOM, no <meta charset>) with non-ASCII chrome (© / é in
        # the stripped footer, so the payload is genuinely invalid UTF-8):
        # the WHATWG sniff must decode windows-1252 and the roundtrip
        # oracle still requires byte-identical text back, so the guard
        # admits only code points where latin-1 and cp1252 agree: C1
        # controls U+0080-U+009F are EXCLUDED (latin-1 encodes them to
        # 0x80-0x9F, which cp1252 decodes to smart quotes/€/undefined —
        # a doc carrying one would fail the byte-identity gate)
        legacy_page = F.concat(
            F.lit(ARTICLE_PREFIX), F.col("text"),
            F.lit(ARTICLE_SUFFIX.replace(
                "Copyright 2025 SiteName",
                "Copyright © 2025 Société Générale du Café",
            )),
        )
        legacy = (F.col("doc_id") % 10 == 7) & F.col("text").rlike(
            "^[\\x00-\\x7f\\xa0-\\xff]*$"
        )
        html = F.when(legacy, F.encode(legacy_page, "ISO-8859-1")).otherwise(
            F.encode(page, "UTF-8")
        ).alias("html")
        return base.select("url", "warc_ts", html, "text", "lang")

    if payload == "pdf":

        @F.pandas_udf(T.BinaryType())
        def make_pdf(text: pd.Series, doc_id: pd.Series) -> pd.Series:
            out = []
            for t, i in zip(text, doc_id):
                i = int(i)
                cols = 2 if i % 3 == 0 else 1
                compress = i % 2 == 0
                # every 7th doc a Type0/Identity-H subset font, every 11th a
                # /Differences remap, every 13th AES-128-encrypted — so the
                # DuckDB-checked roundtrip oracle exercises CMap decoding and
                # empty-password decryption end-to-end (VERDICT r2 items 1, 6)
                # every other type0 doc swaps the ToUnicode CMap for an
                # embedded FontFile2 cmap (no /ToUnicode — VERDICT r4 item 4);
                # differences docs rotate the remap into embedded font
                # programs: Type1 cleartext /Encoding (i%22), bare-CFF
                # binary Encoding+charset (i%33), or sfnt-wrapped CFF
                # (i%44) — r4 item 2
                encoding = (
                    ("type0-ttf" if i % 14 == 0 else "type0") if i % 7 == 0
                    else (("type1c-otf" if i % 44 == 0 else
                           "type1c" if i % 33 == 0 else
                           "type1-builtin" if i % 22 == 0 else "differences")
                          if i % 11 == 0 else "simple")
                )
                encrypt = "aes-128" if i % 13 == 0 else None
                out.append(
                    pdf_write.build_pdf(t, columns=cols, compress=compress,
                                        xref_stream=(i % 5 == 0),
                                        encoding=encoding, encrypt=encrypt,
                                        tj_kerning=(i % 17 == 0),
                                        rotate=(90, 180, 270)[i % 3]
                                        if i % 19 == 0 else 0,
                                        form_xobject=(i % 23 == 0),
                                        split_runs=(i % 29 == 0),
                                        # unembedded-width core fonts: the
                                        # roundtrip oracle pins the family
                                        # AFM advance path end-to-end
                                        base_font="Times-Roman"
                                        if i % 31 == 0 else
                                        ("Courier" if i % 37 == 0
                                         else "Helvetica"),
                                        info={"Title": "Doc %d" % i,
                                              "Author": "synthcorp"})
                )
            return pd.Series(out)

        return base.select(
            "url", "warc_ts", make_pdf("text", "doc_id").alias("html"), "text", "lang"
        )
    raise ValueError(f"unknown payload kind: {payload}")
