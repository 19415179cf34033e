"""Query catalog: every operator exposed through the driver contract.

Each entry pairs a PySpark implementation (spark, sf_dir) -> DataFrame
with a DuckDB oracle SQL string of IDENTICAL semantics and column names
(the driver compares row-count + schema + order-insensitive value hash).

Three families:
1. Extraction ops (SURVEY.md §2.2): html payloads are CONSTRUCTED from
   base columns, so ground truth is computable in plain SQL — the oracle
   checks the whole tokenizer/XPath/CSS/beautifier path byte-for-byte.
2. Relational pipeline ops (SURVEY.md §2.4): filters, top-k, dedup,
   lineage, joins, windowed aggregates.
3. Training-data ops: dedup (exact, MinHash+LSH, n-gram Jaccard),
   similarity search (brute-force + IVF-by-label ANN), text analysis
   (lang-id, quality, token counts, fingerprints), multimodal stubs.
"""

from __future__ import annotations

import logging

import numpy as np
import pandas as pd
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from xqspark.udfs import list_parts, map_arrow, map_docs

_LOG = logging.getLogger("xqspark")


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive input spread (opt guide §2.5 "input skew": one
    huge unsplittable file -> repartition immediately after the read).

    The bench corpora are single-file single-ROW-GROUP parquet, so the
    scan is ONE task no matter how the split configs are set (a row
    group is the atomic parquet read unit) — without this, every
    downstream map-only projection runs on 1 of the machine's cores
    (measured r6: simhash 17.0 s -> ~1 s at sf1.0 on local[32]).

    The repartition fires ONLY when the scan's actual partition count
    cannot fill the machine, so it is derived from the input layout,
    not a local[32] constant: a production corpus has >= cores splits
    (many files / many row groups), the condition is false, and the
    read stays exchange-free exactly where the 100 TB map-only plan
    claims need it to be. When it does fire, the one round-robin
    exchange carries the raw input once (column pruning and pushed
    filters still land below it), which is the guide's prescription
    for an under-parallel source.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n_scan = df._jdf.rdd().getNumPartitions()
    except Exception:  # defensive: never let introspection block a read
        return df
    if n_scan < target:
        # exactly one wave (r6 second pass): round-robin distributes
        # rows evenly, so 2x-granularity straggler smoothing bought
        # nothing and paid double task-scheduling cost — measured
        # target*2 -> target: simhash 1.6 -> 1.4 s at 10x sf0.1,
        # 0.67 -> 0.47 s at sf0.1 (same direction on every spread query)
        return df.repartition(target)
    return df


def _explode_nonempty(df: DataFrame, arr, *names: str, keep=()) -> DataFrame:
    """One row per element of the computed array ``arr``, carrying the
    ``keep`` columns: ``explode`` for one name, ``posexplode`` for two
    (position, element). Rows whose array is NULL or empty yield none.

    The one guard against a Catalyst hazard: over a plain generator
    the optimizer infers ``size(arr) > 0 AND isnotnull(arr)`` and
    pushes it below the input spread, where it inlines the whole
    expression that builds ``arr`` and evaluates it a second time on
    the scan's task. Measured: link_graph and sitemap_urls got a second
    ``ArrowEvalPython`` over their parse UDF (sitemap_urls
    10.5 -> 1.3 s at 10x sf0.1); winnow_pairs' inlined window lambda
    re-ran the k-gram md5 per window (59 -> 1.3 s at sf0.01). The
    ``_outer`` generator infers no filter, and the null filter on the
    first output column drops the one row it emits for an empty or
    NULL array, so the result is the plain generator's (a one-name
    explode also drops NULL elements; no caller's array holds any).
    Generators over a fixed-length ``F.array(...)`` literal need no
    guard: Spark infers nothing there. ``tests/test_plans.py`` audits
    every catalog plan for the inferred filter and for a UDF evaluated
    twice."""
    gen = F.posexplode_outer(arr) if len(names) == 2 else F.explode_outer(arr)
    return df.select(*keep, gen.alias(*names)).filter(
        F.col(names[0]).isNotNull()
    )


def _tokens(col: str = "text"):
    """The catalog's one tokenizer: the whitespace-separated tokens of
    ``col``, as the oracles' ``regexp_extract_all(trim(text), '\\S+')``.
    ``F.trim`` strips spaces only and ``split`` keeps the empty strings
    at a leading or trailing newline/tab (and returns ``['']`` for empty
    text), so the ``''`` entries are filtered out."""
    return F.filter(F.split(F.trim(F.col(col)), r"\s+"), lambda x: x != "")


def _docs(
    spark: SparkSession, sf_dir: str, spread: bool = True
) -> DataFrame:
    """``spread=False`` opts a query out of the input spread: measured
    r6, the one extra exchange LOSES when the per-row work is light and
    the query aggregates immediately (dedup_groups 0.56 -> 1.22 s,
    events_hourly 0.27 -> 1.50 s spread at sf1.0) and WINS everywhere
    per-row work is heavy — UDF parses and per-token HOFs (simhash
    17.0 -> 1.5 s, repetition 3.6 -> 0.57 s, quality_score
    2.4 -> 0.54 s). Aggregate-first consumers pass spread=False."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _spread(df) if spread else df


def _emb(spark: SparkSession, sf_dir: str, spread: bool = True) -> DataFrame:
    """``spread=False`` serves consumers whose per-row work is a
    vectorized Arrow kernel or a bounded collect (IVF training/seed):
    there the spread exchange only adds 64 near-empty tasks per job at
    bench scale, while the JVM per-pair cosine of the search join still
    wants the parallelism (spread=True)."""
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _spread(df) if spread else df


def _page_html(doc_col="text", title_col="source"):
    """Deterministic per-row XML payload built JVM-side (no UDF)."""
    return F.concat(
        F.lit("<doc><title>"),
        F.col(title_col),
        F.lit("</title><body>"),
        F.trim(F.col(doc_col)),
        F.lit("</body></doc>"),
    )


# --- 1. extraction ops ------------------------------------------------------


def q_xpath_title(spark, sf_dir):
    from xqspark.core.api import xpath_query
    from xqspark.udfs import doc_udf

    udf = doc_udf(lambda p: xpath_query(p, "//title", single_node=True))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(udf(_page_html().cast("binary")), "\\n$", "").alias("title"),
    )


def q_xpath_title_sql():
    return "SELECT doc_id, source AS title FROM documents"


def q_xpath_token_count(spark, sf_dir):
    from xqspark.udfs import make_xpath_values_udf

    udf = make_xpath_values_udf("//w")
    html = F.concat(
        F.lit("<doc>"),
        F.regexp_replace(F.trim(F.col("text")), r"(\S+)", r"<w>$1</w>"),
        F.lit("</doc>"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", F.size(udf(html.cast("binary"))).cast("long").alias("n_tokens")
    )


def q_xpath_token_count_sql():
    return (
        "SELECT doc_id, len(regexp_extract_all(trim(text), '\\S+'))::BIGINT AS n_tokens "
        "FROM documents"
    )


def q_css_lang_attr(spark, sf_dir):
    from xqspark.udfs import make_css_values_udf

    udf = make_css_values_udf("body > p", attr="lang")
    html = F.concat(
        F.lit('<html><body><p lang="'),
        F.col("lang"),
        F.lit('">x</p></body></html>'),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", F.element_at(udf(html.cast("binary")), 1).alias("lang_attr")
    )


def q_css_lang_attr_sql():
    return "SELECT doc_id, lang AS lang_attr FROM documents"


def q_beautify_xml(spark, sf_dir):
    from xqspark.core.fmt_xml import format_xml
    from xqspark.udfs import doc_udf

    udf = doc_udf(format_xml)
    return _docs(spark, sf_dir).select(
        "doc_id", udf(_page_html().cast("binary")).alias("pretty")
    )


# Go strings.TrimSpace's ASCII set as a DuckDB trim() character list
_SQL_GO_SPACE = "' ' || chr(9) || chr(10) || chr(11) || chr(12) || chr(13)"


def q_beautify_xml_sql():
    # the exact byte output of FormatXml for this construction: an element
    # with no content and no newline-free whitespace run self-closes
    # (utils.go EndElement branch; golden pair 5, <root></root> -> <root/>)
    return (
        "SELECT doc_id, "
        "'<doc>' || chr(10) || '  <title>' || source || '</title>' || chr(10) || "
        f"CASE WHEN trim(text, {_SQL_GO_SPACE}) = '' "
        "AND (trim(text) = '' OR contains(text, chr(10))) THEN '  <body/>' "
        "ELSE '  <body>' || trim(text) || '</body>' END "
        "|| chr(10) || '</doc>' || chr(10) AS pretty FROM documents"
    )


def q_xml2json_doc(spark, sf_dir):
    from xqspark.core.api import to_json
    from xqspark.udfs import doc_udf

    udf = doc_udf(to_json)
    return _docs(spark, sf_dir).select(
        "doc_id", udf(_page_html().cast("binary")).alias("json_out")
    )


def q_xml2json_doc_sql():
    # NodeToJSON + Go-marshal key sort: body < title. Text parts are
    # TrimSpace'd and an element without any becomes {} (jsonutil.go:85-90)
    return (
        "SELECT doc_id, "
        "'{' || chr(10) || '  \"doc\": {' || chr(10) || "
        f"'    \"body\": ' || CASE WHEN trim(text, {_SQL_GO_SPACE}) = '' THEN '{{}}' "
        f"ELSE '\"' || trim(text, {_SQL_GO_SPACE}) || '\"' END || ',' || chr(10) || "
        "'    \"title\": \"' || source || '\"' || chr(10) || "
        "'  }' || chr(10) || '}' || chr(10) AS json_out FROM documents"
    )


def q_xpath_count(spark, sf_dir):
    """count() scalar printing: %.0f (utils.go:248). Payload has
    doc_id % 5 + 1 <li> elements."""
    from xqspark.core.api import xpath_query
    from xqspark.udfs import doc_udf

    udf = doc_udf(lambda p: xpath_query(p, "count(//li)"))
    li = F.repeat(F.lit("<li>x</li>"), (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int"))
    html = F.concat(F.lit("<ul>"), li, F.lit("</ul>"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(udf(html.cast("binary")), "\\n$", "").cast("long").alias("n_li"),
    )


def q_xpath_count_sql():
    return "SELECT doc_id, (doc_id % 5 + 1)::BIGINT AS n_li FROM documents"


def q_xpath_boolean(spark, sf_dir):
    """boolean() printing: true|false (utils.go:250)."""
    from xqspark.core.api import xpath_query
    from xqspark.udfs import doc_udf

    udf = doc_udf(lambda p: xpath_query(p, "boolean(//title)"))
    html = F.when(
        F.pmod(F.col("doc_id"), F.lit(2)) == 0,
        F.concat(F.lit("<doc><title>"), F.col("source"), F.lit("</title></doc>")),
    ).otherwise(F.lit("<doc><other/></doc>"))
    return _docs(spark, sf_dir).select(
        "doc_id", F.regexp_replace(udf(html.cast("binary")), "\\n$", "").alias("has_title")
    )


def q_xpath_boolean_sql():
    return (
        "SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 'true' ELSE 'false' END "
        "AS has_title FROM documents"
    )


def q_xpath_node_mode(spark, sf_dir):
    """-x QUERY -n: matched node re-serialized through FormatXml
    (printNodeContent, utils.go:273-277)."""
    from xqspark.core.api import xpath_query
    from xqspark.udfs import doc_udf

    udf = doc_udf(lambda p: xpath_query(p, "//title", single_node=True, with_tags=True))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(udf(_page_html().cast("binary")), "\\n$", "").alias("node_out"),
    )


def q_xpath_node_mode_sql():
    return (
        "SELECT doc_id, '<title>' || source || '</title>' AS node_out FROM documents"
    )


def q_css_node_mode(spark, sf_dir):
    """-q SEL -n: outer HTML rebuilt + FormatHtml (utils.go:293-307)."""
    from xqspark.core.api import css_query
    from xqspark.udfs import doc_udf

    udf = doc_udf(lambda p: css_query(p, "body > p", with_tags=True))
    html = F.concat(
        F.lit('<html><body><p class="c">'),
        F.col("source"),
        F.lit("</p></body></html>"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(udf(html.cast("binary")), "\\n$", "").alias("node_out"),
    )


def q_css_node_mode_sql():
    return (
        "SELECT doc_id, '<p class=\"c\">' || source || '</p>' AS node_out "
        "FROM documents"
    )


def q_beautify_html(spark, sf_dir):
    from xqspark.core.fmt_html import format_html
    from xqspark.udfs import doc_udf

    udf = doc_udf(format_html)
    html = F.concat(
        F.lit("<html><body><p>"), F.trim(F.col("text")), F.lit("</p></body></html>")
    )
    return _docs(spark, sf_dir).select(
        "doc_id", udf(html.cast("binary")).alias("pretty")
    )


def q_beautify_html_sql():
    # FormatHtml escapes text through escapeText, which writes a tab as
    # &#x9; (utils.go:671-684, Go xml.EscapeText); whitespace-only text
    # is dropped, or kept raw as spaceContent when it has no newline
    return (
        "SELECT doc_id, "
        "'<html>' || chr(10) || '  <body>' || chr(10) || '    <p>' || "
        f"CASE WHEN trim(text, {_SQL_GO_SPACE}) <> '' THEN replace(trim(text), chr(9), '&#x9;') "
        "WHEN contains(text, chr(10)) THEN '' ELSE trim(text) END "
        "|| '</p>' || chr(10) || '  </body>' || chr(10) || '</html>' || chr(10) "
        "AS pretty FROM documents"
    )


def q_beautify_json(spark, sf_dir):
    from xqspark.core.fmt_json import format_json
    from xqspark.udfs import doc_udf

    udf = doc_udf(format_json)
    payload = F.concat(
        F.lit('{"src": "'),
        F.col("source"),
        F.lit('", "chars": '),
        F.col("n_chars").cast("string"),
        F.lit(', "ratio": 10.250, "ok": true, "none": null}'),
    )
    return _docs(spark, sf_dir).select(
        "doc_id", udf(payload.cast("binary")).alias("pretty")
    )


def q_beautify_json_sql():
    # number lexemes preserved verbatim (10.250 stays 10.250, utils.go:449)
    return (
        "SELECT doc_id, "
        "'{' || chr(10) || '  \"src\": \"' || source || '\",' || chr(10) || "
        "'  \"chars\": ' || n_chars || ',' || chr(10) || "
        "'  \"ratio\": 10.250,' || chr(10) || '  \"ok\": true,' || chr(10) || "
        "'  \"none\": null' || chr(10) || '}' || chr(10) AS pretty FROM documents"
    )


def q_charset_decl(spark, sf_dir):
    """Vectorized xml-decl charset sniff (S2 analog, utils.go:708-717)."""
    from xqspark.udfs import declared_charset_col

    enc = (
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit("windows-1251"))
        .when(F.pmod(F.col("doc_id"), F.lit(3)) == 1, F.lit("UTF-8"))
        .otherwise(F.lit("iso-8859-1"))
    )
    # doc_id % 3 == 1 rows carry a UTF-8 BOM + leading whitespace before the
    # declaration — charset.declared_encoding tolerates both, so the
    # vectorized sniff must too (ADVICE r1)
    prefix = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 1, F.lit("\ufeff \n")
    ).otherwise(F.lit(""))
    payload = F.concat(
        prefix, F.lit('<?xml version="1.0" encoding="'), enc, F.lit('"?><a/>')
    )
    return _docs(spark, sf_dir, spread=False).select(
        "doc_id", declared_charset_col(payload).alias("charset")
    )


def q_charset_decl_sql():
    return (
        "SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'windows-1251' "
        "WHEN 1 THEN 'UTF-8' ELSE 'iso-8859-1' END AS charset FROM documents"
    )


def q_xpath_spans(spark, sf_dir):
    """extract -> text/SPANS map (the north rule's span-producing
    extract): every <w> token's string-value plus its (start, end)
    character offsets in the document, located by a deterministic
    forward scan. The oracle recomputes the same offsets arithmetically
    from the construction ('<doc><w>' is 8 chars, each token adds
    len(tok) + len('</w><w>'))."""
    from xqspark.udfs import make_xpath_spans_udf

    # full-whitespace trim (F.trim strips spaces only): leading/trailing
    # \n\t would otherwise create empty <w></w> tokens the oracle's
    # regexp_extract_all never sees; rows with no \S at all are filtered
    # on BOTH sides (ADVICE r3: Spark would build one empty node where
    # the oracle yields zero tokens)
    body = F.regexp_replace(F.col("text"), r"^\s+|\s+$", "")
    html = F.concat(
        F.lit("<doc><w>"),
        F.regexp_replace(body, r"\s+", "</w><w>"),
        F.lit("</w></doc>"),
    )
    udf = make_xpath_spans_udf("//w")
    spans = udf(html.cast("binary"))
    first = F.element_at(spans, 1)
    last = F.element_at(spans, -1)
    return _docs(spark, sf_dir).filter(F.col("text").rlike(r"\S")).select(
        "doc_id",
        F.size(spans).cast("long").alias("n_spans"),
        first["text"].alias("first_text"),
        first["start"].alias("first_start"),
        first["end"].alias("first_end"),
        last["text"].alias("last_text"),
        last["start"].alias("last_start"),
    )


def q_xpath_spans_sql():
    # tokens = \S+ runs; first token starts at char 8 ('<doc><w>');
    # each later token starts at prev_end + 7 ('</w><w>'); the last
    # token's start = 8 + (sum of earlier token lengths) + 7*(n-1)
    return (
        "WITH t AS (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS toks "
        "FROM documents WHERE regexp_matches(text, '\\S')) "
        "SELECT doc_id, len(toks)::BIGINT AS n_spans, "
        "toks[1] AS first_text, 8 AS first_start, "
        "(8 + length(toks[1]))::INT AS first_end, "
        "toks[-1] AS last_text, "
        "(8 + (length(array_to_string(toks, '')) - length(toks[-1])) "
        "+ 7 * (len(toks) - 1))::INT AS last_start "
        "FROM t"
    )


def q_charset_transcode(spark, sf_dir):
    """End-to-end charset TRANSCODE through the real extraction path
    (utils.go:708-717 / golden pair 3 semantics, not just the decl
    sniff): windows-1251 bytes are constructed JVM-side — unhex of a
    fixed Cyrillic-in-1251 prefix concatenated with the ASCII doc_id —
    and the XPath extractor must see the declaration, transcode
    windows-1251 -> UTF-8, parse, and recover the Cyrillic text. The
    0xEF..0xF2 prefix bytes are NOT valid UTF-8, so a missing transcode
    step cannot pass by accident. The oracle states the expected UTF-8
    result directly."""
    from xqspark.udfs import make_xpath_values_udf

    decl = '<?xml version="1.0" encoding="windows-1251"?>'
    pre = (decl + "<doc><t>привет ").encode(
        "windows-1251"
    ).hex()
    suf = "</t></doc>".encode("windows-1251").hex()
    payload = F.unhex(
        F.concat(
            F.lit(pre),
            F.hex(F.encode(F.col("doc_id").cast("string"), "UTF-8")),
            F.lit(suf),
        )
    )
    udf = make_xpath_values_udf("//t")
    return _docs(spark, sf_dir).select(
        "doc_id", F.element_at(udf(payload), 1).alias("t")
    )


def q_charset_transcode_sql():
    return (
        "SELECT doc_id, 'привет ' || "
        "doc_id::VARCHAR AS t FROM documents"
    )


def q_multimodal_pdf(spark, sf_dir):
    """PDF parse (north rule: "PDF/layout parse"): minimal-but-real PDF
    containers are synthesized JVM-side (header, catalog/pages/page
    objects, an uncompressed content stream whose Tj operator carries the
    row's text), then decoded back by the scan-based, xref-free reader in
    xqspark/multimodal.py — version, /Type /Page count, and the shown
    text. Every third row is a non-PDF payload the decoder must contain
    (fmt='unknown') rather than crash on. FlateDecode streams and PDF
    string escapes are pinned in tests/test_multimodal.py."""
    from xqspark.multimodal import extract_pdf_text, parse_pdf_meta

    # PDF string syntax: '\', '(' and ')' must be backslash-escaped
    # inside the (...) literal (ADVICE r3 — an unescaped paren would
    # terminate the string early and break oracle parity); the decoder
    # unescapes them back, so the oracle stays plain trim(text)
    tj_text = F.regexp_replace(F.trim(F.col("text")), r"([\\()])", r"\\$1")
    pdf = F.concat(
        F.lit(
            "%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
            "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
            "4 0 obj << /Length 0 >> stream\nBT /F1 12 Tf ("
        ),
        tj_text,
        F.lit(") Tj ET\nendstream endobj\ntrailer << /Root 1 0 R >>\n%%EOF"),
    ).cast("binary")
    blob = F.when(
        F.pmod(F.col("doc_id"), F.lit(3)) == 2, F.encode(F.col("text"), "UTF-8")
    ).otherwise(pdf)
    df = _docs(spark, sf_dir).select("doc_id", blob.alias("payload"))

    def one(data):
        meta = parse_pdf_meta(data)
        if meta is None:
            return "unknown", None, None, ""
        return (*meta, extract_pdf_text(data))

    return map_docs(
        df,
        "payload",
        one,
        "doc_id long, fmt string, pdf_version string, n_pages int, pdf_text string",
        keep=("doc_id",),
    )


def q_multimodal_pdf_sql():
    return (
        "SELECT doc_id, "
        "CASE WHEN doc_id % 3 = 2 THEN 'unknown' ELSE 'pdf' END AS fmt, "
        "CASE WHEN doc_id % 3 = 2 THEN NULL ELSE '1.4' END AS pdf_version, "
        "CASE WHEN doc_id % 3 = 2 THEN NULL ELSE 1 END AS n_pages, "
        "CASE WHEN doc_id % 3 = 2 THEN '' ELSE trim(text) END AS pdf_text "
        "FROM documents"
    )


def q_main_content(spark, sf_dir):
    """Boilerplate strip via DOM text-density heuristics (north rule:
    "HTML boilerplate strip ... DOM heuristics"): pages are CONSTRUCTED
    JVM-side with a link-dense nav, a plain-text main block, and a
    link-dense footer; the extractor must parse the WHATWG tree, score
    candidates by text density minus link density, and
    return exactly the main block's normalized text. The oracle states
    the expected text directly. See xqspark/core/maincontent.py."""
    from xqspark.core.maincontent import main_text
    from xqspark.udfs import doc_udf

    html = F.concat(
        F.lit(
            '<html><head><title>t</title></head><body>'
            '<div class="nav"><a href="/">Home</a> <a href="/a">About</a>'
            ' <a href="/c">Contact</a></div><div class="main"><p>'
        ),
        F.trim(F.col("text")),
        F.lit(
            '</p></div><div class="footer"><a href="/p">Privacy</a>'
            ' <a href="/t">Terms</a> copyright</div></body></html>'
        ),
    )
    udf = doc_udf(main_text)
    return _docs(spark, sf_dir).select(
        "doc_id", udf(html.cast("binary")).alias("main_text")
    )


def q_main_content_sql():
    # main_text's normal form: whitespace runs collapse to one space, ends trimmed
    return (
        "SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) "
        "AS main_text FROM documents"
    )


def q_detect_format(spark, sf_dir):
    from xqspark.udfs import content_type_col

    payload = (
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.lit('{"a": 1}'))
        .when(F.pmod(F.col("doc_id"), F.lit(3)) == 1, F.lit("<!doctype html><p>x</p>"))
        .otherwise(F.lit("<root/>"))
    )
    return _docs(spark, sf_dir, spread=False).select(
        "doc_id", content_type_col(payload).alias("fmt")
    )


def q_detect_format_sql():
    return (
        "SELECT doc_id, CASE doc_id % 3 WHEN 0 THEN 'json' WHEN 1 THEN 'html' "
        "ELSE 'xml' END AS fmt FROM documents"
    )


# --- 2. relational pipeline ops ---------------------------------------------


def q_host_topk(spark, sf_dir):
    return (
        _docs(spark, sf_dir, spread=False)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("source"))
        .limit(5)
    )


def q_host_topk_sql():
    return (
        "SELECT source, count(*)::BIGINT AS n_docs FROM documents "
        "GROUP BY source ORDER BY n_docs DESC, source ASC LIMIT 5"
    )


def q_dedup_groups(spark, sf_dir):
    # a text with no tokens keys NULL, as the oracle's array_to_string([])
    key = F.nullif(F.concat_ws(" ", F.slice(_tokens(), 1, 3)), F.lit(""))
    return (
        _docs(spark, sf_dir, spread=False)
        .select(key.alias("dedup_key"), "doc_id")
        .groupBy("dedup_key")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("keep_doc_id"))
    )


def q_dedup_groups_sql():
    return (
        "SELECT array_to_string(regexp_extract_all(trim(text), '\\S+')[1:3], ' ') AS dedup_key, "
        "count(*)::BIGINT AS dup_count, min(doc_id) AS keep_doc_id "
        "FROM documents GROUP BY dedup_key"
    )


def q_latest_event_per_user(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = W.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_id").alias("last_event_id"))
    )


def q_latest_event_per_user_sql():
    return (
        "SELECT user_id, event_id AS last_event_id FROM ("
        "SELECT user_id, event_id, row_number() OVER "
        "(PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events"
        ") WHERE rn = 1"
    )


def q_lineage_buckets(spark, sf_dir):
    return (
        _docs(spark, sf_dir, spread=False)
        .withColumn("part_key", F.pmod(F.col("doc_id"), F.lit(16)))
        .groupBy("part_key")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum("n_chars").alias("chars"))
    )


def q_lineage_buckets_sql():
    return (
        "SELECT doc_id % 16 AS part_key, count(*)::BIGINT AS docs, "
        "sum(n_chars)::BIGINT AS chars FROM documents GROUP BY part_key"
    )


def q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_pricing_summary_sql():
    return (
        "SELECT l_returnflag, l_linestatus, "
        "round(sum(l_quantity), 2) AS sum_qty, "
        "round(sum(l_extendedprice), 2) AS sum_base_price, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
        "round(avg(l_discount), 4) AS avg_disc, "
        "count(*)::BIGINT AS count_order "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
    )


def q_supplier_revenue(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )
    # the dimension is tiny: broadcast to avoid a shuffle of the fact side
    return rev.join(
        F.broadcast(sup), rev.l_suppkey == sup.s_suppkey, "inner"
    ).select(F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("name"), "revenue")


def q_supplier_revenue_sql():
    return (
        "SELECT s_suppkey AS suppkey, s_name AS name, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "GROUP BY s_suppkey, s_name"
    )


def q_events_hourly(spark, sf_dir):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def q_events_hourly_sql():
    return (
        "SELECT date_trunc('hour', ts) AS hour, count(*)::BIGINT AS n_events, "
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1"
    )


# --- 3. training-data ops ----------------------------------------------------


def q_token_stats(spark, sf_dir):
    # r6: regexp_count instead of size(regexp_extract_all) — same
    # non-overlapping match count without materializing the match
    # arrays (~15% at 10x sf0.1, zero diff rows on the full corpus)
    text = F.trim(F.col("text"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_count(text, F.lit(r"\S+")).cast("long").alias("ws_tokens"),
        F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]+|\S"))
        .cast("long")
        .alias("bpe_tokens"),
    )


def q_token_stats_sql():
    return (
        "SELECT doc_id, len(regexp_extract_all(trim(text), '\\S+'))::BIGINT AS ws_tokens, "
        "len(regexp_extract_all(trim(text), '[A-Za-z]+|[0-9]+|\\S'))::BIGINT AS bpe_tokens "
        "FROM documents"
    )


def q_quality_score(spark, sf_dir):
    # r6: regexp_count — same non-overlapping match counts as
    # size(regexp_extract_all) without materializing the match arrays
    text = F.col("text")
    alpha = F.regexp_count(text, F.lit("[A-Za-z]"))
    spaces = F.regexp_count(text, F.lit(" "))
    stops = F.regexp_count(text, F.lit(r"\b(the|a|of|and|to)\b"))
    toks = F.regexp_count(F.trim(text), F.lit(r"\S+"))
    return _docs(spark, sf_dir).select(
        "doc_id",
        # try_divide: an empty text gives NULL ratios, as in the oracle,
        # instead of an ANSI DIVIDE_BY_ZERO that aborts the query
        F.round(F.try_divide(alpha, F.length(text)), 4).alias("alpha_ratio"),
        F.round(F.try_divide(spaces, F.length(text)), 4).alias("space_ratio"),
        F.round(F.try_divide(stops, toks), 4).alias("stop_ratio"),
    )


def q_quality_score_sql():
    return (
        "SELECT doc_id, "
        "round(len(regexp_extract_all(text, '[A-Za-z]')) / length(text), 4) AS alpha_ratio, "
        "round(len(regexp_extract_all(text, ' ')) / length(text), 4) AS space_ratio, "
        "round(len(regexp_extract_all(text, '\\b(the|a|of|and|to)\\b')) / "
        "len(regexp_extract_all(trim(text), '\\S+')), 4) AS stop_ratio "
        "FROM documents"
    )


def q_lang_id(spark, sf_dir):
    # r6: regexp_count (see q_quality_score)
    text = F.col("text")
    s_en = F.regexp_count(text, F.lit(r"\b(the|and|of|scan)\b"))
    s_de = F.regexp_count(text, F.lit(r"\b(der|die|das|und)\b"))
    s_es = F.regexp_count(text, F.lit(r"\b(el|la|los|y)\b"))
    pred = (
        F.when((s_en >= s_de) & (s_en >= s_es), F.lit("en"))
        .when(s_de >= s_es, F.lit("de"))
        .otherwise(F.lit("es"))
    )
    return _docs(spark, sf_dir).select("doc_id", pred.alias("pred_lang"))


def q_lang_id_sql():
    return (
        "SELECT doc_id, CASE "
        "WHEN len(regexp_extract_all(text, '\\b(the|and|of|scan)\\b')) >= "
        "len(regexp_extract_all(text, '\\b(der|die|das|und)\\b')) AND "
        "len(regexp_extract_all(text, '\\b(the|and|of|scan)\\b')) >= "
        "len(regexp_extract_all(text, '\\b(el|la|los|y)\\b')) THEN 'en' "
        "WHEN len(regexp_extract_all(text, '\\b(der|die|das|und)\\b')) >= "
        "len(regexp_extract_all(text, '\\b(el|la|los|y)\\b')) THEN 'de' "
        "ELSE 'es' END AS pred_lang FROM documents"
    )


def q_fingerprint(spark, sf_dir):
    normalized = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return _docs(spark, sf_dir, spread=False).select(
        "doc_id", F.md5(F.encode(normalized, "UTF-8")).alias("fp")
    )


def q_fingerprint_sql():
    return (
        "SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp "
        "FROM documents"
    )


_MERSENNE31 = (1 << 31) - 1


def _mh_params(n_hashes: int) -> list:
    """Deterministic (a, b) constants for the Carter-Wegman universal
    family g_k(h) = (a_k*h + b_k) mod (2^31-1) — the datasketch/Broder
    shape: ONE base hash per shingle, permuted per signature slot with
    cheap integer arithmetic. Derived from md5 of the slot index so the
    Spark plan and the DuckDB oracle embed bit-identical literals.

    The prime is 2^31-1 (Mersenne) so a_k, b_k can be drawn from the
    FULL range [1, p-1] / [0, p-1] — proper pairwise-independent mixing
    (a small-a family over a large prime wraps the modulus only a
    couple of times, leaving the slots near-monotone in the base hash
    and the LSH bands correlated). ANSI-overflow-safe by construction:
    max a_k*h + b_k = (p-1)*(2^32-1) + (p-1) < 2^63-1."""
    import hashlib

    out = []
    for k in range(1, n_hashes + 1):
        d = hashlib.md5(f"xq-minhash-{k}".encode()).hexdigest()
        a = int(d[:8], 16) % (_MERSENNE31 - 1) + 1
        b = int(d[8:16], 16) % _MERSENNE31
        out.append((a, b))
    return out


def _minhash_sig(spark, sf_dir, n_hashes: int = 4) -> DataFrame:
    """MinHash signatures over token 3-gram shingles.

    In-row (r4): shingles stay an ARRAY column and each signature slot is
    ``array_min(transform(...))`` — the signature stage is a MAP-ONLY
    projection: no Generate (explode row stream), no Sort, no per-doc
    aggregation shuffle. At 100 TB every near-dup pass pays this stage,
    so removing its shuffle is the difference between one pass over the
    tokens and a full explode+sort of the shingle stream.

    Hash family (r4): one md5 per shingle (first 8 hex chars -> 32-bit
    base hash), then n_hashes universal permutations
    (a_k*h + b_k) mod (2^31-1) — digest cost is constant in n_hashes
    (the 16x4 LSH shape was paying 16 md5s per shingle before)."""
    return minhash_sig_df(_docs(spark, sf_dir), n_hashes=n_hashes)


def minhash_sig_df(
    df: DataFrame,
    n_hashes: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The signature stage over an arbitrary DataFrame (batch OR a
    foreachBatch microbatch) — same map-only projection as _minhash_sig;
    shared so incremental ingestion signs documents with bit-identical
    constants to the batch catalog."""
    docs = df.select(id_col, _tokens(text_col).alias("t"))
    docs = docs.filter(F.size("t") >= 3)
    hashed = docs.select(id_col, F.expr(_gram_hash_expr(3)).alias("h"))
    if n_hashes >= 8:
        # r6: at LSH slot counts the n_hashes separate
        # array_min(transform(...)) passes dominate (each allocates a
        # shingle-sized array per doc); the Arrow kernel computes all
        # permutations as one vectorized matrix op over the
        # JVM-computed base hashes — bit-identical signatures (same md5
        # digests, exact int64 math). The small-n JVM path below stays:
        # on the 5000-doc sf0.1 table (local[4], noop sink, 12
        # alternating pairs) the 4-slot JVM branch took a median 0.75 s
        # (quartiles 0.71-0.81) and the kernel at 4 slots 0.99 s
        # (0.93-1.01), with bit-identical signatures.
        schema = f"{id_col} long, " + ", ".join(
            f"mh{j + 1} long" for j in range(n_hashes)
        )
        return map_arrow(
            hashed, ["h"], _minhash_kernel(n_hashes), schema, keep=(id_col,)
        )
    mh = [
        F.expr(
            f"array_min(transform(h, x -> pmod({a}L * x + {b}L, {_MERSENNE31}L)))"
        ).alias(f"mh{k}")
        for k, (a, b) in enumerate(_mh_params(n_hashes), start=1)
    ]
    return hashed.select(id_col, *mh)


def band_keys_df(
    sig: DataFrame, n_bands: int = 2, n_rows: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """(id, band) stream from a signature DataFrame — the '#'-separated
    md5 band keys lsh_pairs uses, factored so incremental ingestion
    buckets into the SAME band space as the batch pair-finder."""
    band_exprs = [
        F.md5(
            F.encode(
                F.concat_ws(
                    "#",
                    *[
                        F.col(f"mh{b * n_rows + r + 1}").cast("string")
                        for r in range(n_rows)
                    ],
                ),
                "UTF-8",
            )
        )
        for b in range(n_bands)
    ]
    return sig.select(id_col, F.explode(F.array(*band_exprs)).alias("band"))


def _minhash_sql_body(n_hashes: int = 4) -> str:
    """DuckDB twin of _minhash_sig for any n_hashes: same in-row
    list_min(list_transform(...)) shape, same base-hash + (a*h+b) mod p
    family ('0x'||hex cast for the base hash; operands always positive so
    %% == pmod). Respects the known list_transform+range lateral quirk
    (range(1, len-1) with 1-based list indexing)."""
    cols = [
        f"list_min(list_transform(h, x -> ({a} * x + {b}) % {_MERSENNE31})) AS mh{k}"
        for k, (a, b) in enumerate(_mh_params(n_hashes), start=1)
    ]
    return (
        "WITH toks AS (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS t FROM documents), "
        "shing AS (SELECT doc_id, list_transform(range(1, len(t)-1), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS sh FROM toks WHERE len(t) >= 3), "
        "hs AS (SELECT doc_id, list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h FROM shing), "
        f"sig AS (SELECT doc_id, {', '.join(cols)} FROM hs) "
    )


_MINHASH_SQL_BODY = _minhash_sql_body(4)


def q_minhash_sig(spark, sf_dir):
    return _minhash_sig(spark, sf_dir)


def q_minhash_sig_sql():
    return _MINHASH_SQL_BODY + "SELECT doc_id, mh1, mh2, mh3, mh4 FROM sig"


def _report_hot(sized, count_col, cap, on_dropped):
    """The pair-finders' no-silent-caps report, counted in the pass that
    already runs. Returns ``(sized, finish)``: build the result from the
    returned ``sized`` and hand it to ``finish``.

    Without an ``on_dropped`` callback both are pass-throughs. With one,
    ``sized`` observes ``round(sum(when(count_col > cap, 1 / count_col)))``
    — each hot key's ``count_col`` rows add up to exactly 1, and
    ``observe()`` takes no DISTINCT aggregate — and ``finish``
    materializes the result once with ``localCheckpoint(eager=True)``,
    calls ``on_dropped(n_hot_keys)`` and returns the checkpointed rows.
    Nothing is persisted and no second action runs. Measured on the
    ``neardup_dedup`` corpus (local[4]): lsh_pairs 16x4 + collect runs 7
    jobs where persisting ``sized`` and counting its hot keys in a
    separate action ran 9, with the same pairs and counts. A persisted
    ``sized`` also kept its 32 shuffle partitions, as AQE does not
    coalesce a cached plan's output: 186 tasks a benchmark pass, now 62."""
    if on_dropped is None:
        return sized, lambda result: result
    n_hot = F.round(
        F.sum(F.when(F.col(count_col) > cap, 1.0 / F.col(count_col)))
    ).alias("n")
    hot = Observation()
    observed = sized.observe(hot, n_hot)

    def finish(result):
        result = result.localCheckpoint(eager=True)
        try:
            n = hot.get["n"]
        except Py4JJavaError:
            # no row came back: AQE replaced the join by an empty
            # relation (every key hot, or no rows) and dropped the
            # observed node with it, so count on ``sized`` itself
            n = sized.agg(n_hot).first()["n"]
        on_dropped(int(n or 0))
        return result

    return observed, finish


def lsh_pairs(
    spark,
    sf_dir,
    n_bands: int = 2,
    n_rows: int = 2,
    band_cap: int = 64,
    on_dropped=None,
    cache_out: list | None = None,
):
    """MinHash+LSH near-dup candidates, bands x rows configurable.

    A pair is a candidate when it collides in any band (bucket-join, no
    n^2 scan). Hot bands — the degenerate signatures that boilerplate or
    near-empty docs share — are DROPPED above ``band_cap`` members
    (standard LSH practice: a band with k members emits k(k-1)/2 pairs,
    so one hot band goes quadratic). The membership count is a window
    over the same hashpartitioning(band) the self-join needs, so the cap
    costs no extra shuffle of the big side.

    ``on_dropped(n_hot_bands)`` — optional callback so batch drivers can
    log how many bands the cap removed. The count is observed on the
    pass that computes the pairs (``_report_hot``): with a callback the
    result is materialized once, as an eager local checkpoint, and
    ``on_dropped`` has run by the time this returns; the returned
    DataFrame reads the checkpointed pairs. None returns the lazy plan.
    ``cache_out`` is kept for callers that pass it and receives nothing:
    no banded rows are persisted, and Spark's context cleaner frees the
    checkpoint's blocks once the returned DataFrame is unreferenced.
    """
    sig = _minhash_sig(spark, sf_dir, n_hashes=n_bands * n_rows)
    # '#' separator inside band_keys_df: mh values are variable-width
    # decimals, so plain concat would alias ("1","23") with ("12","3")
    bands = band_keys_df(sig, n_bands, n_rows)
    sized, finish = _report_hot(
        bands.withColumn("n_band", F.count("*").over(W.partitionBy("band"))),
        "n_band", band_cap, on_dropped,
    )
    ok = sized.filter(F.col("n_band") <= band_cap).select("doc_id", "band")
    left = ok.alias("a")
    right = ok.alias("b")
    result = (
        left.join(right, F.col("a.band") == F.col("b.band"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return finish(result)


def q_lsh_pairs(spark, sf_dir):
    return lsh_pairs(spark, sf_dir)


def q_lsh_pairs_sql(n_bands: int = 2, n_rows: int = 2, band_cap: int = 64):
    band_list = ", ".join(
        "md5("
        + " || '#' || ".join(
            f"mh{b * n_rows + r + 1}::VARCHAR" for r in range(n_rows)
        )
        + ")"
        for b in range(n_bands)
    )
    return (
        _minhash_sql_body(n_bands * n_rows)
        + f", bands AS (SELECT doc_id, unnest([{band_list}]) AS band FROM sig), "
        "ok AS (SELECT doc_id, band FROM (SELECT doc_id, band, "
        "count(*) OVER (PARTITION BY band) AS n_band FROM bands) "
        f"WHERE n_band <= {band_cap}) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM ok a JOIN ok b ON a.band = b.band AND a.doc_id < b.doc_id"
    )


def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) token 3-grams — shared by minhash and
    decontamination."""
    toks = docs.select("doc_id", _tokens().alias("t")).filter(F.size("t") >= 3)
    return _explode_nonempty(
        toks,
        F.expr(
            "transform(sequence(0, size(t)-3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"
        ),
        "shingle",
        keep=("doc_id",),
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag every document sharing ANY token
    3-gram with the benchmark set (here: doc_id < 5 stands in for an
    eval suite) — the n-gram-overlap decontamination step LLM training
    pipelines run before training. Scale shape: the benchmark shingle
    set is tiny and BROADCAST; the corpus explodes shingles once and
    left-semi joins against it map-side, so the only shuffled rows are
    bare doc_ids (hit-set distinct + flag join) — document text never
    moves. At 100 TB the cost is one pass over the tokens."""
    docs = _docs(spark, sf_dir)
    sh = _shingles(docs)
    bench = (
        sh.filter(F.col("doc_id") < 5).select("shingle").distinct()
    )
    hits = (
        sh.join(F.broadcast(bench), "shingle", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return docs.select("doc_id").join(
        hits.withColumn("contaminated", F.lit(True)), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated")
    )


def q_decontaminate_sql():
    return (
        "WITH toks AS (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS t FROM documents), "
        "sh AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-1), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle FROM toks WHERE len(t) >= 3), "
        "bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 5), "
        "hits AS (SELECT DISTINCT doc_id FROM sh WHERE shingle IN (SELECT shingle FROM bench)) "
        "SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated "
        "FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id"
    )


def q_url_normalize(spark, sf_dir):
    """Crawl URL canonicalization — the dedup-prerequisite every crawl
    pipeline runs before exact/near dedup (the same page arrives as
    HTTP://Host:80/a?b=1&a=2#x and http://host/a?a=2&b=1). Rules, all
    JVM-side (codegen'd regexp/array ops, map-only at 100 TB):
    lowercase scheme+host, strip the scheme's default port (:80 http /
    :443 https), drop the fragment, sort query parameters. Messy URLs
    are CONSTRUCTED from doc_id so the oracle can apply the identical
    rules in SQL."""
    docs = _docs(spark, sf_dir)
    case = F.pmod(F.col("doc_id"), F.lit(4))
    host = F.concat(F.lit("Host"), F.col("doc_id").cast("string"))
    url = (
        F.when(case == 0, F.concat(F.lit("HTTP://WWW."), host, F.lit(".COM:80/A/B?z=1&a=2#frag")))
        .when(case == 1, F.concat(F.lit("https://"), host, F.lit(".com:443/")))
        .when(case == 2, F.concat(F.lit("http://"), host, F.lit(".com/path/?q=x")))
        .otherwise(F.concat(F.lit("HTTPS://"), host, F.lit(".COM:8443/x?b=1&A=2")))
    )
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    hostport = F.lower(F.regexp_extract(url, r"^[^:]+://([^/?#]*)", 1))
    hostport = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    path = F.regexp_extract(url, r"^[^:]+://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        hostport,
        path,
        F.when(query != "", F.concat(F.lit("?"), sorted_q)).otherwise(F.lit("")),
    )
    return docs.select("doc_id", url.alias("raw_url"), canon.alias("canonical_url"))


def q_url_normalize_sql():
    return (
        "WITH u AS (SELECT doc_id, CASE doc_id % 4 "
        "WHEN 0 THEN 'HTTP://WWW.Host' || doc_id || '.COM:80/A/B?z=1&a=2#frag' "
        "WHEN 1 THEN 'https://Host' || doc_id || '.com:443/' "
        "WHEN 2 THEN 'http://Host' || doc_id || '.com/path/?q=x' "
        "ELSE 'HTTPS://Host' || doc_id || '.COM:8443/x?b=1&A=2' END AS raw_url "
        "FROM documents), "
        "parts AS (SELECT doc_id, raw_url, "
        "lower(regexp_extract(raw_url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme, "
        "lower(regexp_extract(raw_url, '^[^:]+://([^/?#]*)', 1)) AS hostport, "
        "regexp_extract(raw_url, '^[^:]+://[^/?#]*([^?#]*)', 1) AS path, "
        "regexp_extract(raw_url, '\\?([^#]*)', 1) AS query FROM u) "
        "SELECT doc_id, raw_url, scheme || '://' || "
        "(CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '') "
        "WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '') "
        "ELSE hostport END) || path || "
        "(CASE WHEN query != '' THEN '?' || array_to_string(list_sort(string_split(query, '&')), '&') "
        "ELSE '' END) AS canonical_url FROM parts"
    )


def q_repetition(spark, sf_dir):
    """Intra-document repetition (Gopher/MassiveText-style quality
    rule): the fraction of duplicate token 3-grams inside each document
    — machine-generated and boilerplate pages repeat themselves. Pure
    JVM-side array ops (size/array_distinct over a transform), no
    shuffle at all: at 100 TB this is a map-only pass."""
    docs = _docs(spark, sf_dir).select("doc_id", _tokens().alias("t"))
    sh = F.expr(
        "transform(sequence(0, size(t)-3), i -> concat(t[i], ' ', t[i+1], ' ', t[i+2]))"
    )
    rep = F.round(
        (F.size(sh) - F.size(F.array_distinct(sh))) / F.size(sh), 4
    )
    return docs.select(
        "doc_id",
        F.when(F.size("t") >= 3, rep).otherwise(F.lit(0.0)).alias("dup_3gram_frac"),
    )


def q_repetition_sql():
    return (
        "WITH toks AS (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS t FROM documents), "
        "sh AS (SELECT doc_id, CASE WHEN len(t) >= 3 THEN list_transform(range(1, len(t)-1), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) ELSE NULL END AS g FROM toks) "
        "SELECT doc_id, CASE WHEN g IS NULL THEN 0.0 ELSE "
        "round((len(g) - len(list_distinct(g))) / len(g), 4) END AS dup_3gram_frac "
        "FROM sh"
    )


def q_jaccard_adjacent(spark, sf_dir):
    """Exact n-gram Jaccard between consecutive doc ids (token unigram sets)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.array_distinct(_tokens()).alias("toks")
    )
    a = docs.alias("a")
    b = docs.alias("b")
    joined = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.array_union(F.col("a.toks"), F.col("b.toks")))
    return joined.select(
        F.col("a.doc_id").alias("doc_id"),
        # two empty token sets give NULL, as the oracle's 0 / 0 does
        F.round(F.try_divide(inter, union), 4).alias("jaccard"),
    )


def q_jaccard_adjacent_sql():
    return (
        "WITH toks AS (SELECT doc_id, list_distinct(regexp_extract_all(trim(text), '\\S+')) AS t "
        "FROM documents) "
        "SELECT a.doc_id AS doc_id, "
        "round(len(list_intersect(a.t, b.t)) / len(list_distinct(a.t || b.t)), 4) AS jaccard "
        "FROM toks a JOIN toks b ON b.doc_id = a.doc_id + 1"
    )


_DOT_EXPR = (
    "aggregate(zip_with(qv, nv, (x, y) -> cast(x as double) * cast(y as double)), "
    "0D, (acc, v) -> acc + v)"
)


def _with_norm(df: DataFrame, vec_col: str, out: str) -> DataFrame:
    """L2 norm as a per-ROW projection on the join SIDE (r6, guide
    §1.2): the norms used to live inside the per-PAIR cosine expression,
    re-running the 64-dim aggregate per candidate pair (the query side's
    norm 20k times per query). Same aggregate, same operand order, so
    sqrt(agg) here is bit-identical to sqrt(agg) inline — only evaluated
    once per row instead of once per pair."""
    return df.withColumn(
        out,
        F.expr(
            f"sqrt(aggregate(transform({vec_col}, "
            "x -> cast(x as double) * cast(x as double)), 0D, (acc, v) -> acc + v))"
        ),
    )


def _cosine_top_k(pairs: DataFrame, k: int = 3) -> DataFrame:
    """(query_id, qv, qn, neighbor_id, nv, nn) pairs -> per-query top-k
    by cosine similarity, deterministic tie-break on neighbor_id; qn/nn
    are the sides' precomputed norms (_with_norm)."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (F.expr(_DOT_EXPR) / (F.col("qn") * F.col("nn"))).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("sim", 4).alias("sim"),
        )
    )


def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-3 for the first 10 query vectors. The dot
    product runs JVM-side via higher-order functions (zip_with/aggregate)."""
    emb = _emb(spark, sf_dir)
    q = _with_norm(
        emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        ),
        "qv",
        "qn",
    )
    n = _with_norm(
        emb.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv")
        ),
        "nv",
        "nn",
    )
    # the query side is tiny -> broadcast; candidate side streams
    pairs = n.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _cosine_top_k(pairs)


def q_ann_topk_sql():
    return (
        "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10), "
        "n AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv FROM embeddings), "
        "scored AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, nv) AS sim "
        "FROM q, n WHERE neighbor_id != query_id), "
        "ranked AS (SELECT query_id, neighbor_id, sim, row_number() OVER "
        "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored) "
        "SELECT query_id, neighbor_id, rank::BIGINT AS rank, round(sim, 4) AS sim "
        "FROM ranked WHERE rank <= 3"
    )


def q_ann_ivf_label(spark, sf_dir):
    """IVF-style ANN: the label column is the coarse quantizer — search
    only within the query's bucket (the 100 TB scale path: a bucket join
    instead of a full cross join)."""
    emb = _emb(spark, sf_dir)
    q = _with_norm(
        emb.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("label").alias("qlabel"),
        ),
        "qv",
        "qn",
    )
    n = _with_norm(
        emb.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("nv"),
            F.col("label").alias("nlabel"),
        ),
        "nv",
        "nn",
    )
    pairs = n.join(F.broadcast(q), F.col("nlabel") == F.col("qlabel")).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _cosine_top_k(pairs)


def q_ann_ivf_label_sql():
    return (
        "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, label AS qlabel "
        "FROM embeddings WHERE vec_id < 10), "
        "n AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv, label AS nlabel FROM embeddings), "
        "scored AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, nv) AS sim "
        "FROM q JOIN n ON nlabel = qlabel WHERE neighbor_id != query_id), "
        "ranked AS (SELECT query_id, neighbor_id, sim, row_number() OVER "
        "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored) "
        "SELECT query_id, neighbor_id, rank::BIGINT AS rank, round(sim, 4) AS sim "
        "FROM ranked WHERE rank <= 3"
    )


def _dots_seq(V, C):
    """(n, dim) x (k, dim) -> (n, k) dot products accumulated dimension
    by dimension, LEFT TO RIGHT — the exact fold order of the JVM
    ``aggregate(zip_with(v, c, (x, y) -> x * y), 0D, (acc, q) -> acc + q)``
    this kernel replaced, so every double is bit-identical to what the
    old plan-literal projection produced (and to the DuckDB oracle's
    sequential list_dot_product)."""
    acc = V[:, 0, None] * C[None, :, 0]
    for d in range(1, V.shape[1]):
        acc = acc + V[:, d, None] * C[None, :, d]
    return acc


def _vectors(v):
    """A fixed-dim Arrow list column as an (n, dim) float64 matrix (the
    values are row-major, so the reshape needs no per-row copy)."""
    return list_parts(v)[0].astype(np.float64).reshape(len(v), -1)


def _assign_kernel(cents: list):
    """``map_arrow`` kernel for the IVF argmax-dot assignment: centroids
    travel in the task closure (broadcast-style, NOT plan literals —
    VERDICT r5 #3: a nlist=4096 quantizer must not live in the plan
    string), dots use the sequential fold above, and ``np.argmax`` takes
    the FIRST maximum — the same smallest-cid tie-break the old
    ``array_position(_dots, array_max(_dots))`` projection had and the
    DuckDB oracles mirror with row_number(ORDER BY d DESC, cid ASC)."""
    C = np.array(cents, dtype=np.float64)

    def assign(v):
        return (np.argmax(_dots_seq(_vectors(v), C), axis=1),)

    return assign


def _assign_buckets(emb: DataFrame, cents: list) -> DataFrame:
    """Map-side IVF assignment (r6: Arrow kernel): every vector computes
    its argmax-dot bucket inside a map-only MapInArrow projection — no
    join, no explode-style row blowup, no Exchange before the bucket
    search join (the VERDICT r2 fix kept: the old broadcast-cross-join +
    groupBy(vec_id) shuffled the full 8x-widened embedding table just to
    take an argmax). The kernel replaces K per-row zip_with+aggregate
    HOF passes (each allocating a dim-sized array per row per centroid)
    with one vectorized matmul-shaped pass; dots and tie-breaks are
    bit-identical (see _dots_seq/_assign_kernel)."""
    # v passes through untouched as float32 (the parquet element type),
    # exactly as the old projection left it; widening to double happens
    # downstream in _with_norm / the cosine, unchanged
    return map_arrow(
        emb,
        ["v"],
        _assign_kernel(cents),
        "vec_id bigint, v array<float>, bucket bigint",
        keep=("vec_id", "v"),
    )


def _seed_centroids(emb: DataFrame, k: int = 8) -> list:
    """Deterministic seed set: the first k vectors by vec_id. The collect
    is K rows of quantizer TRAINING state (not data) — the one place a
    driver-side fetch is the right call, because the centroids must become
    plan literals for the zero-shuffle assignment above."""
    return [
        r["v"]
        for r in emb.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    ]


def _bucket_topk(emb: DataFrame, cents: list, n_queries: int = 5) -> DataFrame:
    """Bucketed top-k search: assignment runs SEPARATELY per join branch
    so the tiny query branch keeps its pushed ``vec_id < n_queries`` scan
    filter below the (opaque-to-Catalyst) assignment kernel — with one
    shared assignment the filter could not reach the scan and the query
    branch would pay a full pass at 100 TB. Per-row assignment is
    branch-independent, so buckets are identical either way."""
    import math

    # The query side is BOUNDED (n_queries rows) — fetch it to the
    # driver like the seed centroids and assign/norm it in plain Python
    # with the exact same sequential fold the kernel and the old JVM
    # HOFs use (left-to-right float64 adds, first-max tie-break), so the
    # buckets, norms and downstream sims are bit-identical. This keeps
    # the tiny branch off the scan+kernel path entirely: one pushed
    # vec_id filter scan instead of a second full-table Arrow stage.
    qrows = emb.filter(F.col("vec_id") < n_queries).select("vec_id", "v").collect()
    out = []
    for r in sorted(qrows, key=lambda r: r["vec_id"]):
        v = [float(x) for x in r["v"]]
        dots = []
        for c in cents:
            acc = 0.0
            for x, y in zip(v, c):
                acc += x * y
            dots.append(acc)
        bucket = dots.index(max(dots))
        s = 0.0
        for x in v:
            s += x * x
        out.append((int(r["vec_id"]), v, bucket, math.sqrt(s)))
    q = emb.sparkSession.createDataFrame(
        out, "query_id bigint, qv array<double>, bucket bigint, qn double"
    )
    n = _with_norm(
        _assign_buckets(emb, cents).select(
            F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), "bucket"
        ),
        "nv",
        "nn",
    )
    pairs = n.join(F.broadcast(q), "bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    return _cosine_top_k(pairs)


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF with a COMPUTED coarse quantizer (not a precomputed label):
    centroids = the first 8 vectors (deterministic seed set, the
    'train-lite' step of IVF), every vector assigned MAP-SIDE to its
    argmax-dot centroid (centroid literals in the projection — zero
    shuffle, zero row blowup), then top-3 neighbors searched only inside
    the query's bucket. At 100 TB: assignment is a narrow projection over
    the scan, search is a bucket equi-join with the tiny query side
    broadcast. Plan-asserted in test_plans.py: no Exchange and no
    Generate between the scan and the bucket join."""
    cents = _seed_centroids(
        _emb(spark, sf_dir, spread=False).select(
            "vec_id", F.col("embedding").alias("v")
        ),
        8,
    )
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").alias("v")
    )
    return _bucket_topk(emb, cents)


_IVF_ASSIGN_SQL = (
    "(SELECT vec_id, bucket, v FROM ("
    "SELECT e.vec_id, c.cid AS bucket, e.v, row_number() OVER ("
    "PARTITION BY e.vec_id ORDER BY list_dot_product(e.v, c.cv) DESC, c.cid ASC"
    ") AS rn FROM e CROSS JOIN {cents} c) WHERE rn = 1)"
)

_IVF_TOPK_SQL = (
    "q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM assigned WHERE vec_id < 5), "
    "n AS (SELECT vec_id AS neighbor_id, v AS nv, bucket FROM assigned), "
    "scored AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, nv) AS sim "
    "FROM q JOIN n USING (bucket) WHERE neighbor_id != query_id), "
    "ranked AS (SELECT query_id, neighbor_id, sim, row_number() OVER "
    "(PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank FROM scored) "
    "SELECT query_id, neighbor_id, rank::BIGINT AS rank, round(sim, 4) AS sim "
    "FROM ranked WHERE rank <= 3"
)


def q_ann_ivf_kmeans_sql():
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        "c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8), "
        "assigned AS " + _IVF_ASSIGN_SQL.format(cents="c0") + ", "
        + _IVF_TOPK_SQL
    )


def _round_half_up(x: float, dp: int) -> float:
    """Spark's F.round on a double: shortest-roundtrip decimal repr,
    scale to ``dp`` with HALF_UP (Python's built-in round is banker's —
    wrong on exact .5 boundaries). Both engines' 6dp centroid rounding
    already absorbs sub-1e-9 cross-engine summation noise; this keeps
    the Spark-side rule exactly what F.round(avg(...), 6) applied."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-dp)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


def _train_partials_kernel(cents: list):
    """Fused Lloyd training iteration kernel: argmax-dot assignment
    (same fold order / tie-break as _assign_kernel) plus per-bucket
    (count, per-dimension sum) partials — k*(dim+2) numbers per batch
    instead of a wide shuffle+aggregate. The driver merges partials and
    rounds means to 6dp; cross-partition merge order was already
    arbitrary under the old avg() aggregate, and both engines round to
    6dp precisely so that noise cannot reach the stored centroid."""
    C = np.array(cents, dtype=np.float64)

    def partials(v):
        V = _vectors(v)
        bucket = np.argmax(_dots_seq(V, C), axis=1)
        cnt = np.bincount(bucket, minlength=C.shape[0])
        S = np.zeros_like(C)
        np.add.at(S, bucket, V)
        nz = np.flatnonzero(cnt)
        return nz, cnt[nz], [S[i].tolist() for i in nz]

    return partials


def ivf_lloyd_centroids(
    spark, sf_dir, k: int = 8, iters: int = 2, round_dp: int = 6
) -> list:
    """Train the IVF coarse quantizer with real Lloyd iterations:
    seed = first k vectors, then ``iters`` rounds of (map-side argmax
    assign -> per-bucket per-dimension mean). The mean is a
    groupBy(bucket, dim) over posexplode — map-side partial aggregation
    means the shuffle carries k*dim partial sums per task, not rows. Each
    round collects only the k*dim centroid means (training state, not
    data). Means are rounded to ``round_dp`` decimals so the DuckDB twin
    (same rule in SQL) lands on identical centroids; an emptied bucket
    keeps its previous centroid on both engines."""
    # r6: the training loop runs iters+1 actions (seed + one per
    # iteration) over the same scan+spread — persist it for the loop's
    # lifetime and unpersist before returning, so no cache outlives the
    # call (each bench run re-reads and re-trains from parquet)
    emb = (
        _emb(spark, sf_dir, spread=False)
        .select("vec_id", F.col("embedding").alias("v"))
        .persist()
    )
    try:
        cents = [[float(x) for x in cv] for cv in _seed_centroids(emb, k)]
        dim = len(cents[0])
        for _ in range(iters):
            # r6 second pass: assignment + per-bucket partial sums FUSED
            # in one Arrow kernel — one job per iteration collecting only
            # k*(dim+2) partials per task (training state, not data). The
            # earlier 64-column groupBy(bucket) aggregate spent ~0.9 s
            # PER ITERATION in wide-codegen + exchange overhead at any
            # sf; the kernel iteration is a single map-only pass.
            rows = map_arrow(
                emb,
                ["v"],
                _train_partials_kernel(cents),
                "bucket bigint, cnt bigint, s array<double>",
            ).collect()
            agg: dict[int, tuple[int, list]] = {}
            for r in rows:
                c0, s0 = agg.get(r["bucket"], (0, [0.0] * dim))
                agg[r["bucket"]] = (
                    c0 + r["cnt"],
                    [a + b for a, b in zip(s0, r["s"])],
                )
            by_bucket = {
                b: [_round_half_up(s_i / c, round_dp) for s_i in s]
                for b, (c, s) in agg.items()
            }
            cents = [by_bucket.get(b, cents[b]) for b in range(k)]
    finally:
        emb.unpersist()
    return cents


def q_ann_ivf_lloyd(spark, sf_dir):
    """IVF search with a Lloyd-TRAINED quantizer (2 k-means iterations
    from the deterministic seed set) — the honest version of the scale
    path: bucketed ANN recall depends on quantizer quality, so the
    quantizer must actually train. Assignment stays map-side (centroid
    literals), search stays a bucket equi-join; only k*dim floats ever
    reach the driver per iteration."""
    cents = ivf_lloyd_centroids(spark, sf_dir, k=8, iters=2)
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").alias("v")
    )
    return _bucket_topk(emb, cents)


def _lloyd_step_sql(prev: str, out: str, assign: str) -> str:
    """One Lloyd iteration as CTEs: assign against ``prev`` centroids,
    then per-bucket per-dimension means rounded to 6dp (the Spark twin
    rounds identically); an emptied bucket keeps its previous centroid."""
    return (
        f"{assign} AS " + _IVF_ASSIGN_SQL.format(cents=prev) + ", "
        f"m_{out} AS (SELECT bucket, i, round(avg(x), 6) AS m FROM ("
        f"SELECT bucket, unnest(v) AS x, generate_subscripts(v, 1) AS i "
        f"FROM {assign}) GROUP BY bucket, i), "
        f"n_{out} AS (SELECT bucket AS cid, list(m ORDER BY i) AS cv "
        f"FROM m_{out} GROUP BY bucket), "
        f"{out} AS (SELECT p.cid, coalesce(n.cv, p.cv) AS cv "
        f"FROM {prev} p LEFT JOIN n_{out} n USING (cid))"
    )


def q_ann_ivf_lloyd_sql():
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        "c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8), "
        + _lloyd_step_sql("c0", "c1", "a1") + ", "
        + _lloyd_step_sql("c1", "c2", "a2") + ", "
        "assigned AS " + _IVF_ASSIGN_SQL.format(cents="c2") + ", "
        + _IVF_TOPK_SQL
    )


def _doc_lines(spark, sf_dir, extra_cols: tuple = ()):
    """(doc_id, lines[, *extra_cols]) with deterministic line structure:
    a nav boilerplate line shared by doc_id%5, 10-token content lines
    from the text, and a footer shared by doc_id%3 — the corpus has no
    newlines, so the line structure is constructed JVM-side (both
    engines build the identical lines). ``extra_cols`` are (name, expr)
    pairs carried through the same projection so consumers that need
    the source text too (c4_filter) avoid a self-join Exchange."""
    docs = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            _tokens().alias("t"),
            *[e.alias(nm) for nm, e in extra_cols],
        )
        .filter(F.size("t") >= 1)
    )
    nav = F.concat(
        F.lit("nav menu home about contact site "),
        F.pmod(F.col("doc_id"), F.lit(5)).cast("string"),
    )
    footer = F.concat(
        F.lit("copyright footer legal terms "),
        F.pmod(F.col("doc_id"), F.lit(3)).cast("string"),
    )
    content = F.expr(
        "transform(sequence(0, cast(ceil(size(t) / 10.0) as int) - 1), "
        "i -> concat_ws(' ', slice(t, i * 10 + 1, 10)))"
    )
    return docs.select(
        "doc_id",
        F.concat(F.array(nav), content, F.array(footer)).alias("lines"),
        *[nm for nm, _ in extra_cols],
    )


def line_dedup(
    spark,
    sf_dir,
    k: int = 32,
    hot_cap: int = 256,
    mode: str = "inline",
    on_truncated=None,
):
    """C4-style corpus-level LINE deduplication: drop every line that
    occurs more than ``k`` times across the corpus (boilerplate nav/
    footer/cookie banners), keep unique content. Scale shape: the only
    full shuffle carries (md5(line), partial count) — map-side combined.

    ``mode="inline"`` (shipped in the catalog): the hot set (bounded by
    total_lines/k, then capped deterministically at ``hot_cap`` by
    count desc, hash asc) becomes PLAN LITERALS for a map-only filter
    over the in-row line array, so document text never moves — the same
    driver-fetch-of-training-state pattern as the IVF centroids
    (queries.py:_seed_centroids). If the corpus has MORE than
    ``hot_cap`` hot lines the cap truncates (everything past it is
    kept, i.e. under-dedup); that is never silent: a warning is logged
    and ``on_truncated(n_hot_total)`` fires with the true hot count.

    ``mode="broadcast"`` (the fallback the inline docstring promises,
    r5): NO cap — the full hot-hash set ships to executors as a Spark
    BROADCAST variable and an Arrow-batched pandas UDF does set-
    membership per line. Still map-only (a projection over the scan —
    zero Exchange, text never shuffles, plan-asserted); the cost is one
    Python hop, which is why the literal path stays the default for the
    small vocabularies real boilerplate produces."""
    if mode not in ("inline", "broadcast"):
        raise ValueError(f"line_dedup mode must be inline|broadcast: {mode}")
    lines_df = _doc_lines(spark, sf_dir)
    counts = (
        _explode_nonempty(lines_df, "lines", "line")
        .select(F.md5(F.encode("line", "UTF-8")).alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > k)
        .orderBy(F.desc("c"), F.asc("h"))
    )
    if mode == "inline":
        # hot_cap+1 so truncation is detectable without a second action
        hot = [r["h"] for r in counts.limit(hot_cap + 1).collect()]
        if len(hot) > hot_cap:
            # the true count needs its own action; only pay it on the
            # already-rare truncation path
            n_hot_total = counts.count()
            _LOG.warning(
                "line_dedup: hot set truncated at hot_cap=%d (%d hot lines"
                " total) — lines past the cap are KEPT; use"
                " mode='broadcast' for exact corpus-wide dedup",
                hot_cap,
                n_hot_total,
            )
            if on_truncated is not None:
                on_truncated(n_hot_total)
            hot = hot[:hot_cap]
    else:
        hot = [r["h"] for r in counts.collect()]
    out = lines_df.select(
        "doc_id", F.size("lines").cast("long").alias("n_lines"), "lines"
    )
    if not hot:
        clean = F.col("lines")
    elif mode == "inline":
        hot_lit = "array(" + ", ".join(f"'{h}'" for h in hot) + ")"
        clean = F.expr(
            f"filter(lines, x -> NOT array_contains({hot_lit}, "
            "md5(encode(x, 'UTF-8'))))"
        )
    else:
        hot_bc = spark.sparkContext.broadcast(frozenset(hot))

        @F.pandas_udf("array<string>")
        def _drop_hot(lines_s):
            import hashlib

            hot_set = hot_bc.value
            return lines_s.map(
                lambda lines: [
                    x
                    for x in lines
                    if hashlib.md5(x.encode("utf-8")).hexdigest() not in hot_set
                ]
            )

        clean = _drop_hot("lines")
    clean_df = out.select("doc_id", "n_lines", clean.alias("clean"))
    return clean_df.select(
        "doc_id",
        "n_lines",
        (F.col("n_lines") - F.size("clean")).cast("long").alias("n_dropped"),
        F.md5(F.encode(F.concat_ws("\n", F.col("clean")), "UTF-8")).alias(
            "clean_fp"
        ),
    )


def q_line_dedup(spark, sf_dir):
    return line_dedup(spark, sf_dir)


def q_line_dedup_sql(k: int = 32, hot_cap: int = 256):
    return (
        "WITH t AS (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS t "
        "FROM documents WHERE len(regexp_extract_all(trim(text), '\\S+')) >= 1), "
        "lns AS (SELECT doc_id, "
        "['nav menu home about contact site ' || (doc_id % 5)::VARCHAR] || "
        "list_transform(range(0, ceil(len(t) / 10.0)::INT), "
        "i -> array_to_string(list_slice(t, i * 10 + 1, i * 10 + 10), ' ')) || "
        "['copyright footer legal terms ' || (doc_id % 3)::VARCHAR] AS lines FROM t), "
        "ex AS (SELECT unnest(lines) AS line FROM lns), "
        "cnt AS (SELECT md5(line) AS h, count(*) AS c FROM ex GROUP BY 1), "
        f"hot AS (SELECT h FROM cnt WHERE c > {k} ORDER BY c DESC, h ASC LIMIT {hot_cap}), "
        "hotl AS (SELECT coalesce(list(h), []) AS hl FROM hot), "
        "cl AS (SELECT doc_id, len(lines)::BIGINT AS n_lines, "
        "list_filter(lines, x -> NOT list_contains(hl, md5(x))) AS clean "
        "FROM lns, hotl) "
        "SELECT doc_id, n_lines, (n_lines - len(clean))::BIGINT AS n_dropped, "
        "md5(array_to_string(clean, chr(10))) AS clean_fp FROM cl"
    )


def _gram_hash_expr(k: int) -> str:
    """JVM expression: token array ``t`` -> int array of k-gram base
    hashes (one md5 per gram, first 4 digest bytes big-endian ==
    conv(substring(hex,1,8),16,10)) — the shared front half of the
    winnow/minhash kernels, kept in codegen where the byte/digest
    semantics cannot drift from the oracle's."""
    gram = "concat(" + ", ' ', ".join(
        f"t[i+{j}]" if j else "t[i]" for j in range(k)
    ) + ")"
    return (
        f"transform(transform(sequence(0, size(t)-{k}), i -> {gram}), "
        "s -> cast(conv(substring(md5(encode(s, 'UTF-8')), 1, 8), 16, 10) "
        "as bigint))"
    )


def _winnow_fps_kernel(w: int):
    """``map_arrow`` kernel for the winnowing fingerprint selection: the
    input column is the JVM-computed k-gram base hash array
    (_gram_hash_expr — md5 and gram bytes stay in codegen); the kernel
    is numpy's sliding-window min + unique, replacing the JVM HOF pass
    whose slice() calls allocated per window AND the earlier
    all-Python md5 loop (r6 second pass, measured at 10x sf0.1:
    winnow_fp 1.6 -> 1.3 s). Exact: int64 arithmetic only."""

    win = np.lib.stride_tricks.sliding_window_view

    def fps(h):
        flat, offs = list_parts(h)
        return (
            [
                np.unique(win(flat[a:b], w).min(axis=1)).tolist()
                for a, b in zip(offs[:-1], offs[1:])
            ],
        )

    return fps


def _simhash_kernel(*words):
    """``map_arrow`` kernel for the 64-bit SimHash bit votes: the input is
    the four JVM-computed per-token 16-bit word arrays (digest bytes
    0..7 big-endian == conv(substring(hex,...),16,10); md5 stays in
    codegen, where it measured as fast as a Python hashlib loop and the
    digest semantics cannot drift), per-doc votes via one reduceat per
    bit position, majority = 2*count > n. Replaces the 4 aggregate()
    HOFs whose merge lambda allocated a 16-counter array PER TOKEN (r4's
    best JVM shape), and r6's first-pass all-Python kernel whose md5
    loop was its cost (1.8 -> 1.5 s at 10x sf0.1).

    Bounded memory: the 16 bit positions run one at a time through one
    token-sized buffer of the word's own dtype, so the per-batch
    transient is 1x a word's flat token bytes; a (tokens, 16) int64 bit
    matrix peaked at 66x (tracemalloc). All-integer math — bit-identical
    output."""
    return [_simhash_word(word) for word in words]


def _simhash_word(word):
    """One 16-bit SimHash word per doc: bit ``b`` is set when more than
    half the doc's tokens have it set."""
    flat, offs = list_parts(word)
    starts, n = offs[:-1], np.diff(offs)
    buf = np.empty_like(flat)
    sig = np.zeros(len(starts), dtype=np.int64)
    for bit in range(16):
        np.right_shift(flat, bit, out=buf)
        buf &= 1
        # summed in the word's dtype: numpy would otherwise upcast an
        # int32 buf to an int64 copy; ones > n // 2 == 2 * ones > n
        ones = np.add.reduceat(buf, starts, dtype=buf.dtype)
        sig |= (ones > n // 2).astype(np.int64) << bit
    return sig


def _minhash_kernel(n_hashes: int):
    """``map_arrow`` kernel for the MinHash signature at LSH-scale slot
    counts (n_hashes >= 8): the input column is the JVM-computed base
    hash array (one md5 per 3-token shingle — shingling and digesting
    stay in codegen, where they measured as fast as a Python hashlib
    loop and the bytes/digest semantics cannot drift), then every
    Carter-Wegman permutation + per-doc minimum.reduceat — where the JVM
    shape paid n_hashes separate array_min(transform(...)) passes, each
    allocating a shingle-sized array per doc (the r4 best-known JVM
    layout). Measured r6 at 10x sf0.1: 64-slot signature stage ~1.6 ->
    ~1.3 s vs the all-Python kernel (the md5 loop was the Python-side
    cost).

    Bounded memory: the slots run one at a time through one gram-sized
    int64 buffer, written in place (a*h, +b, %p), so the per-batch
    transient is 1x the batch's gram bytes. The former (n_hashes, grams)
    broadcast matrix plus its temporary peaked at 128x for 64 slots
    (tracemalloc, a 64-doc x ~4,000-gram batch) and set the
    ``neardup_dedup`` Python workers' peak RSS: median 176 MB over 10
    runs, now 125 MB. A 512-doc x ~60-gram batch also runs faster
    (~12 ms vs ~20 ms). a*h+b stays inside int64 by construction (_mh_params: max <
    2^63-1); % (2^31-1) on non-negative operands == pmod. Bit-identical
    signatures."""
    params = _mh_params(n_hashes)

    def sig(h):
        flat, offs = list_parts(h)
        starts = offs[:-1]
        out = np.empty((n_hashes, len(starts)), dtype=np.int64)
        buf = np.empty(len(flat), dtype=np.int64)
        for k, (a, b) in enumerate(params):
            np.multiply(flat, a, out=buf)
            buf += b
            buf %= _MERSENNE31
            np.minimum.reduceat(buf, starts, out=out[k])
        return out

    return sig


def _winnow_fps(spark, sf_dir, k: int = 3, w: int = 4) -> DataFrame:
    """(doc_id, fps): the distinct winnowing fingerprint set per doc —
    map-only in-row HOFs; shared by winnow_fp and winnow_pairs."""
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", _tokens().alias("t"))
        .filter(F.size("t") >= k + w - 1)
    )
    # r6: the window minima moved from per-row JVM HOFs to a vectorized
    # Arrow kernel (guide §4.2); gram construction + md5 stay JVM-side
    # (_gram_hash_expr) so tokenization and digest semantics cannot
    # drift. Everything downstream is exact integer math, so the
    # fingerprint SET per doc is unchanged (the kernel emits it sorted;
    # every consumer is order-insensitive: size/min/xor aggregates and
    # the exploded pair join). Still a map-only projection: no
    # Exchange, no Generate.
    hashed = docs.select(
        "doc_id", F.expr(_gram_hash_expr(k)).alias("h")
    )
    return map_arrow(
        hashed,
        ["h"],
        _winnow_fps_kernel(w),
        "doc_id long, fps array<bigint>",
        keep=("doc_id",),
    )


def winnow_fp(spark, sf_dir, k: int = 3, w: int = 4):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm): hash every k-gram, slide a w-hash window, keep
    each window's MINIMUM — the selected fingerprint set is guaranteed
    to share a hash with any copy of length >= w+k-1 tokens, which makes
    it the standard local-copy / plagiarism detector for text corpora
    (minhash estimates global similarity; winnowing localizes shared
    passages). Entirely IN-ROW: k-gram hashes, window minima, and the
    distinct-set stats are higher-order functions over the token array —
    a map-only projection, zero shuffle at any scale. Output per doc:
    fingerprint count, min fingerprint, and an order-insensitive XOR
    checksum of the distinct set (joinable/comparable downstream)."""
    fps = _winnow_fps(spark, sf_dir, k, w)
    return fps.select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fps"),
        F.array_min("fps").alias("fp_min"),
        F.expr("aggregate(fps, 0L, (a, x) -> a ^ x)").alias("fp_xor"),
    )


def q_winnow_fp(spark, sf_dir):
    return winnow_fp(spark, sf_dir)


def winnow_pairs(
    spark,
    sf_dir,
    k: int = 3,
    w: int = 4,
    fp_cap: int = 64,
    min_shared: int = 2,
    on_dropped=None,
    cache_out: list | None = None,
):
    """Local-copy candidate pairs — the actual MOSS use of winnowing:
    two docs sharing ANY selected fingerprint share a passage (of at
    least k tokens, guaranteed >= w+k-1 detection); ``n_shared`` counts
    the shared fingerprints as a copy-extent signal. Scale shape: the
    exploded (doc_id, fp) stream joins bucketed on the fingerprint —
    never all-pairs — and corpus-wide boilerplate fingerprints above
    ``fp_cap`` are dropped by the count-window-on-the-join-partitioning
    trick (lsh band_cap / simhash word_cap pattern), and single-
    fingerprint chance collisions are cut by ``min_shared`` (sf0.01:
    3,271 pairs share exactly one fingerprint, the real copy tail runs
    2..40+).

    ``on_dropped(n_hot_fps)`` / ``cache_out`` follow the lsh_pairs
    contract: no-silent-caps reporting of how many corpus-wide
    fingerprints the cap removed, observed on the pass that computes the
    pairs (the result comes back as an eager local checkpoint)."""
    ex = _explode_nonempty(
        _winnow_fps(spark, sf_dir, k, w), "fps", "fp", keep=("doc_id",)
    )
    sized, finish = _report_hot(
        ex.withColumn("n_fp", F.count("*").over(W.partitionBy("fp"))),
        "n_fp", fp_cap, on_dropped,
    )
    ok = sized.filter(F.col("n_fp") <= fp_cap).select("doc_id", "fp")
    a = ok.select(F.col("doc_id").alias("doc_a"), "fp")
    b = ok.select(F.col("doc_id").alias("doc_b"), "fp")
    return finish(
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def q_winnow_pairs(spark, sf_dir):
    return winnow_pairs(spark, sf_dir)


def q_winnow_pairs_sql(
    k: int = 3, w: int = 4, fp_cap: int = 64, min_shared: int = 2
):
    gram = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return (
        "WITH toks AS (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS t "
        f"FROM documents WHERE len(regexp_extract_all(trim(text), '\\S+')) >= {k + w - 1}), "
        "grams AS (SELECT doc_id, "
        f"list_transform(range(1, len(t) - {k - 2}), i -> "
        f"('0x' || substr(md5({gram}), 1, 8))::BIGINT) AS h FROM toks), "
        "fps AS (SELECT doc_id, list_distinct("
        f"list_transform(range(1, len(h) - {w - 2}), "
        f"j -> list_min(list_slice(h, j, j + {w - 1})))) AS fps FROM grams), "
        "ex AS (SELECT doc_id, unnest(fps) AS fp FROM fps), "
        "ok AS (SELECT doc_id, fp FROM (SELECT doc_id, fp, "
        "count(*) OVER (PARTITION BY fp) AS n_fp FROM ex) "
        f"WHERE n_fp <= {fp_cap}) "
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared "
        "FROM ok a JOIN ok b ON a.fp = b.fp AND a.doc_id < b.doc_id "
        f"GROUP BY a.doc_id, b.doc_id HAVING count(*) >= {min_shared}"
    )


def q_winnow_fp_sql(k: int = 3, w: int = 4):
    gram = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return (
        "WITH toks AS (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS t "
        f"FROM documents WHERE len(regexp_extract_all(trim(text), '\\S+')) >= {k + w - 1}), "
        "grams AS (SELECT doc_id, "
        f"list_transform(range(1, len(t) - {k - 2}), i -> "
        f"('0x' || substr(md5({gram}), 1, 8))::BIGINT) AS h FROM toks), "
        "fps AS (SELECT doc_id, list_distinct("
        f"list_transform(range(1, len(h) - {w - 2}), "
        f"j -> list_min(list_slice(h, j, j + {w - 1})))) AS fps FROM grams) "
        "SELECT doc_id, len(fps)::BIGINT AS n_fps, list_min(fps) AS fp_min, "
        "list_reduce(fps, (a, x) -> xor(a, x)) AS fp_xor FROM fps"
    )


def q_ann_recall(spark, sf_dir):
    """Recall@3 of the Lloyd-trained IVF search against brute-force
    ground truth (VERDICT r3 #3): bucketed ANN's whole value proposition
    at scale is recall-vs-cost, so a quantizer regression must move a
    gated number. Per shared query (the 5 IVF queries): how many of the
    true top-3 the bucketed search found. Both inputs are deterministic;
    the oracle recomputes both sides in SQL and takes the same ratio."""
    truth = (
        q_ann_topk(spark, sf_dir)
        .filter(F.col("query_id") < 5)
        .select("query_id", "neighbor_id")
    )
    approx = q_ann_ivf_lloyd(spark, sf_dir).select("query_id", "neighbor_id")
    matched = (
        truth.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = truth.select("query_id").distinct()
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    return base.join(matched, "query_id", "left").select(
        "query_id",
        n_hit.cast("long").alias("n_hit"),
        F.round(n_hit / F.lit(3.0), 4).alias("recall_at_3"),
    )


def q_ann_recall_sql():
    return (
        "WITH truth AS (SELECT query_id, neighbor_id FROM ("
        + q_ann_topk_sql()
        + ") WHERE query_id < 5), "
        "approx AS (SELECT query_id, neighbor_id FROM ("
        + q_ann_ivf_lloyd_sql()
        + ")), "
        "m AS (SELECT query_id, count(*) AS n_hit FROM truth "
        "JOIN approx USING (query_id, neighbor_id) GROUP BY query_id) "
        "SELECT q.query_id, coalesce(m.n_hit, 0)::BIGINT AS n_hit, "
        "round(coalesce(m.n_hit, 0) / 3.0, 4) AS recall_at_3 "
        "FROM (SELECT DISTINCT query_id FROM truth) q "
        "LEFT JOIN m USING (query_id)"
    )


def embedding_neardup(
    spark,
    sf_dir,
    label_cap: int = 1024,
    threshold: float = 0.35,
    n_sub: int | None = None,
    on_dropped=None,
    cache_out: list | None = None,
):
    """Embedding-cosine near-duplicate pairs: self-join bucketed on the
    coarse-quantizer label (near-dups share a coarse bucket — the IVF
    trick again), JVM-side cosine via zip_with/aggregate, threshold on
    the rounded similarity so both engines agree at the boundary. At
    100 TB this is a label-partitioned equi-join, never an all-pairs
    cross join.

    Hot buckets are bounded (VERDICT r2 #2 — real embedding label
    distributions are skewed, and a dominant "misc" cluster with k
    members emits k(k-1)/2 pairs): a label whose membership exceeds
    ``label_cap`` is either DROPPED (``n_sub=None``, mirroring
    lsh_pairs' band_cap) or SUB-BUCKETED into ``n_sub`` salted shards
    keyed on a deterministic md5 of vec_id — each shard stays under
    quadratic control and near-dup pairs within a shard survive; pairs
    straddling shards are sacrificed (the standard bounded-recall trade;
    the DuckDB oracle twins the exact same rule). The membership count
    is a window over the same hashpartitioning(label) the drop-mode
    self-join needs, so the cap costs no extra shuffle of the big side;
    sub-bucket mode re-keys the join on (label, sub) and accepts one
    extra exchange in return for not losing hot clusters outright.

    ``on_dropped(n_hot_labels)`` + ``cache_out`` follow the lsh_pairs
    contract (counted on the pass that runs; the result comes back as an
    eager local checkpoint; ``cache_out`` receives nothing)."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").alias("v"), "label"
    )
    sized, finish = _report_hot(
        emb.withColumn("n_label", F.count("*").over(W.partitionBy("label"))),
        "n_label", label_cap, on_dropped,
    )
    if n_sub is None:
        ok = sized.filter(F.col("n_label") <= label_cap).select(
            "vec_id", "v", "label"
        )
        key = ["label"]
    else:
        sub = F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8")), 1, 4
                ),
                16,
                10,
            ).cast("int"),
            F.lit(n_sub),
        )
        ok = sized.select(
            "vec_id",
            "v",
            "label",
            F.when(F.col("n_label") <= label_cap, F.lit(0)).otherwise(sub).alias("sub"),
        )
        key = ["label", "sub"]
    ok = _with_norm(ok, "v", "vn")
    a = ok.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
        *key,
    )
    b = ok.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("nv"),
        F.col("vn").alias("nn"),
        *key,
    )
    pairs = a.join(b, key).filter(F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a",
        "id_b",
        F.round(F.expr(_DOT_EXPR) / (F.col("qn") * F.col("nn")), 4).alias("sim"),
    )
    return finish(scored.filter(F.col("sim") >= threshold))


def q_embedding_neardup(spark, sf_dir):
    return embedding_neardup(spark, sf_dir)


def embedding_neardup_sql(
    label_cap: int = 1024, threshold: float = 0.35, n_sub: int | None = None
) -> str:
    if n_sub is None:
        ok = (
            "ok AS (SELECT vec_id, v, label FROM sized "
            f"WHERE n_label <= {label_cap})"
        )
        on = "a.label = b.label"
    else:
        ok = (
            "ok AS (SELECT vec_id, v, label, CASE WHEN n_label <= "
            f"{label_cap} THEN 0 ELSE CAST(('0x' || substring("
            f"md5(vec_id::VARCHAR), 1, 4)) AS INTEGER) % {n_sub} "
            "END AS sub FROM sized)"
        )
        on = "a.label = b.label AND a.sub = b.sub"
    return (
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings), "
        "sized AS (SELECT vec_id, v, label, count(*) OVER (PARTITION BY label) "
        "AS n_label FROM e), "
        + ok + " "
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        "round(list_cosine_similarity(a.v, b.v), 4) AS sim "
        f"FROM ok a JOIN ok b ON {on} AND a.vec_id < b.vec_id "
        f"WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {threshold}"
    )


def q_embedding_neardup_sql():
    return embedding_neardup_sql()


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split by content hash — the
    reproducible alternative to seeded sampling (same rows land in the
    same split on every engine and every run)."""
    bucket = F.conv(F.substring(F.md5(F.encode(F.col("text"), "UTF-8")), 1, 2), 16, 10).cast("int")
    split = (
        F.when(bucket < 204, F.lit("train"))  # ~80%
        .when(bucket < 230, F.lit("val"))     # ~10%
        .otherwise(F.lit("test"))
    )
    return _docs(spark, sf_dir, spread=False).select("doc_id", split.alias("split"))


def q_hash_split_sql():
    return (
        "SELECT doc_id, CASE "
        "WHEN CAST(('0x' || substring(md5(text), 1, 2)) AS INTEGER) < 204 THEN 'train' "
        "WHEN CAST(('0x' || substring(md5(text), 1, 2)) AS INTEGER) < 230 THEN 'val' "
        "ELSE 'test' END AS split FROM documents"
    )


def q_normalize_text(spark, sf_dir):
    """Training-corpus text normalization: lowercase, strip punctuation,
    collapse whitespace."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return _docs(spark, sf_dir, spread=False).select("doc_id", norm.alias("norm_text"))


def q_normalize_text_sql():
    return (
        "SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), "
        "'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS norm_text FROM documents"
    )


def q_redact_pii(spark, sf_dir):
    """PII-style scrubbing: emails and long digit runs masked (regex
    redaction — the standard pre-training scrub pass)."""
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+", "<EMAIL>"),
        r"\d{6,}",
        "<NUM>",
    )
    return _docs(spark, sf_dir).select("doc_id", redacted.alias("clean_text"))


def q_redact_pii_sql():
    return (
        "SELECT doc_id, regexp_replace(regexp_replace(text, "
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'), "
        "'\\d{6,}', '<NUM>', 'g') AS clean_text FROM documents"
    )


def pack_chunks_df(
    df: DataFrame,
    order_col: str = "doc_id",
    n_tok_col: str = "n_tok",
    chunk_tokens: int = 1024,
    partition_cols: tuple = (),
    n_bins: int | None = None,
) -> DataFrame:
    """Two-phase distributed cumulative sum for LM sequence packing (no
    global window): rows are binned into order-preserving order_col
    ranges (bin i holds strictly smaller values than bin i+1, derived
    deterministically from min/max so re-evaluation can't flip a row
    across bins), per-bin token subtotals become broadcast prefix
    offsets, and the running total is offset + a bin-partitioned window
    cumsum. The only global sort is over the n_bins-row offsets table
    (per partition_cols group, e.g. a train/val/test split column).

    The bin rule divides by a width instead of multiplying ((id-lo) div
    width, width = range div n_bins + 1) so hash/snowflake-scale id
    ranges can't overflow BIGINT under ANSI mode. Assumes roughly
    uniform id density per range; for pathological distributions swap
    the bin rule for repartitionByRange quantiles on a persisted
    projection. Returns df + a chunk_id column."""
    spark = df.sparkSession
    if n_bins is None:
        n_bins = max(2 * spark.sparkContext.defaultParallelism, 8)
    pcols = list(partition_cols)
    bounds = df.agg(F.min(order_col).alias("_lo"), F.max(order_col).alias("_hi"))
    # DECIMAL(38,0) arithmetic: ids spanning more than half the BIGINT
    # domain (signed 64-bit hash ids) would overflow (_hi - _lo) in long
    # math under ANSI mode; 38-digit decimals hold the full range exactly
    binned = (
        df.join(F.broadcast(bounds))
        .withColumn(
            "_bin",
            F.expr(
                f"CAST((CAST({order_col} AS DECIMAL(38,0)) - CAST(_lo AS DECIMAL(38,0))) div "
                f"((CAST(_hi AS DECIMAL(38,0)) - CAST(_lo AS DECIMAL(38,0))) div {n_bins} + 1) AS INT)"
            ),
        )
        .drop("_lo", "_hi")
    )
    # one explicit shuffle; both consumers below share it via
    # ReuseExchange, so the scan/tokenize below it runs once
    w_in = W.partitionBy(*pcols, "_bin").orderBy(order_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    with_cum = binned.repartition(n_bins, *pcols, "_bin").withColumn(
        "_cum", F.sum(n_tok_col).over(w_in)
    )
    # bin totals = max(cum) per bin — groupBy reuses the partitioning;
    # the only global-ish sort is the offsets window over n_bins rows
    off_w = (W.partitionBy(*pcols) if pcols else W).orderBy("_bin").rowsBetween(
        W.unboundedPreceding, -1
    )
    offsets = (
        with_cum.groupBy(*pcols, "_bin")
        .agg(F.max("_cum").alias("_bin_total"))
        .withColumn("_offset", F.coalesce(F.sum("_bin_total").over(off_w), F.lit(0)))
        .select(*pcols, "_bin", "_offset")
    )
    running = F.col("_cum") + F.col("_offset")
    return (
        with_cum.join(F.broadcast(offsets), pcols + ["_bin"])
        .withColumn(
            "chunk_id",
            F.floor((running - 1) / chunk_tokens).cast("long"),
        )
        .drop("_bin", "_cum", "_offset")
    )


def q_pack_chunks(spark, sf_dir):
    """LM-training document packing: assign docs (in doc_id order) to
    ~1024-token chunks via a running token total — the sequence-packing
    step of a pre-training pipeline. See pack_chunks_df for the
    two-phase distributed plan."""
    toks = F.size(
        F.regexp_extract_all(F.trim(F.col("text")), F.lit(r"\S+"), F.lit(0))
    ).cast("long")
    docs = _docs(spark, sf_dir, spread=False).select("doc_id", toks.alias("n_tok"))
    return pack_chunks_df(docs).select("doc_id", "chunk_id")


def q_pack_chunks_sql():
    return (
        "SELECT doc_id, CAST(floor((sum(len(regexp_extract_all(trim(text), '\\S+'))) "
        "OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - 1) / 1024) AS BIGINT) AS chunk_id "
        "FROM documents"
    )


def _image_dims():
    """(width, height) of the synthetic image built for each doc_id."""
    return (
        (F.pmod(F.col("doc_id"), F.lit(640)) + 16).cast("int"),
        (F.pmod(F.col("doc_id"), F.lit(480)) + 9).cast("int"),
    )


def _png_hex():
    """Hex of a real PNG signature + IHDR chunk carrying _image_dims()."""
    w, h = _image_dims()
    return F.concat(
        F.lit("89504E470D0A1A0A0000000D49484452"),
        F.lpad(F.hex(w), 8, "0"),
        F.lpad(F.hex(h), 8, "0"),
        F.lit("0806000000DEADBEEF"),
    )


def _wav_blob():
    """A real RIFF/WAVE header per doc_id (little-endian fields built with
    hex byte swaps); every 5th row is garbage (the ``source`` text)."""

    def le(colexpr, nbytes):
        h = F.lpad(F.hex(colexpr), 2 * nbytes, "0")
        return F.concat(
            *[F.substring(h, 2 * i + 1, 2) for i in range(nbytes - 1, -1, -1)]
        )

    c = (F.pmod(F.col("doc_id"), F.lit(2)) + 1).cast("int")
    rate = (F.lit(8000) * (F.pmod(F.col("doc_id"), F.lit(4)) + 1)).cast("int")
    frames = (F.pmod(F.col("doc_id"), F.lit(100)) + 1).cast("int")
    block = (c * 2).cast("int")
    data_size = (frames * block).cast("int")
    byte_rate = (rate * block).cast("int")
    wav_hex = F.concat(
        F.lit("52494646"), le(F.lit(36) + data_size, 4), F.lit("57415645"),
        F.lit("666D7420"), le(F.lit(16), 4),
        le(F.lit(1), 2), le(c, 2), le(rate, 4), le(byte_rate, 4),
        le(block, 2), le(F.lit(16), 2),
        F.lit("64617461"), le(data_size, 4),
    )
    return F.when(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0,
        F.encode(F.col("source"), "UTF-8"),
    ).otherwise(F.unhex(wav_hex))


def _mp4_blob():
    """A real ISO BMFF/MP4 container per doc_id (ftyp + moov/mvhd v0,
    big-endian fields); every 4th row is garbage (the ``source`` text)."""

    def be(colexpr, nbytes):
        return F.lpad(F.hex(colexpr), 2 * nbytes, "0")

    timescale = (F.lit(1000) * (F.pmod(F.col("doc_id"), F.lit(3)) + 1)).cast("int")
    duration = (F.pmod(F.col("doc_id"), F.lit(5000)) + 1).cast("int")
    # ftyp(16) + moov(8 + mvhd 108)
    mp4_hex = F.concat(
        F.lit("000000106674797069736F6D00000200"),       # ftyp isom
        F.lit("00000074"), F.lit("6D6F6F76"),             # moov size=116
        F.lit("0000006C"), F.lit("6D766864"),             # mvhd size=108
        F.lit("00000000"),                                # version 0 + flags
        F.lit("00000000"), F.lit("00000000"),             # creation/modif
        be(timescale, 4), be(duration, 4),
        F.lit("0" * 160),                                 # rate..next_track (80 B)
    )
    return F.when(
        F.pmod(F.col("doc_id"), F.lit(4)) == 0,
        F.encode(F.col("source"), "UTF-8"),
    ).otherwise(F.unhex(mp4_hex))


_MM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
    ]
)

_PNG_BLOB_BYTES = 33  # sig(8) + len(4) + IHDR(4) + w(4) + h(4) + ihdr tail(5) + crc(4)
_JPEG_BLOB_BYTES = 41  # SOI(2) + APP0(18) + SOF0(19) + EOI(2)


def q_image_pipeline(spark, sf_dir):
    """Image decode -> resize -> feature-extract plumbing, end to end:
    real PNG containers synthesized JVM-side, the header parsed by the
    REAL struct reader, pixels produced by the clearly-marked
    DETERMINISTIC FAKE decoder (multimodal.fake_decode_luma — swap for
    PIL/cv2 in production), then REAL numpy nearest-neighbor resize to
    8x8 and REAL mean/std features. Because the fake pixels are a
    closed-form function of the payload's md5, the DuckDB oracle
    recomputes the resized grid and both features exactly — the entire
    Spark pipeline (blob synthesis, map_docs batch shape, decode,
    resize indexing, feature math, 4dp floor discipline) is
    value-hash-checked. Scale: one map_docs projection, no shuffle;
    per-row work is O(w*h) exactly like a real decoder."""
    from xqspark.multimodal import (
        fake_decode_luma,
        luma_features,
        parse_image_meta,
        resize_nearest,
    )

    df = _docs(spark, sf_dir).select(
        "doc_id", F.unhex(_png_hex()).alias("payload")
    )

    def one(data):
        fmt, iw, ih = parse_image_meta(data)  # REAL header parse
        arr = fake_decode_luma(data, iw, ih)  # FAKE pixels
        small = resize_nearest(arr, 8, 8)     # REAL resize
        return (fmt, iw, ih, *luma_features(small))  # REAL features

    return map_docs(
        df,
        "payload",
        one,
        "doc_id long, fmt string, width int, height int, "
        "px_mean double, px_std double",
        keep=("doc_id",),
    )


def q_image_pipeline_sql():
    # the fake decoder's pixel law: px[r,c] = md5(HEX)[ (r*W + c) % 16 ];
    # nearest 8x8 picks rr = r*H//8, cc = c*W//8
    hexpr = (
        "upper('89504E470D0A1A0A0000000D49484452' || printf('%08X', W) || "
        "printf('%08X', H) || '0806000000DEADBEEF')"
    )
    return (
        "WITH d AS (SELECT doc_id, (doc_id % 640 + 16)::INT AS W, "
        "(doc_id % 480 + 9)::INT AS H FROM documents), "
        f"g AS (SELECT doc_id, W, H, md5({hexpr}) AS dg FROM d), "
        "b AS (SELECT doc_id, W, H, list_transform(range(0, 16), "
        "i -> ('0x' || substr(dg, i * 2 + 1, 2))::INT) AS by FROM g), "
        "px AS (SELECT doc_id, W, H, list_transform(range(0, 64), "
        "k -> by[((((k // 8) * H // 8) * W + ((k % 8) * W // 8)) % 16) + 1]) "
        "AS p FROM b), "
        "s AS (SELECT doc_id, W, H, list_sum(p)::DOUBLE AS sm, "
        "list_sum(list_transform(p, x -> x * x))::DOUBLE AS sq FROM px) "
        "SELECT doc_id, 'png' AS fmt, W AS width, H AS height, "
        "floor((sm / 64) * 10000) / 10000 AS px_mean, "
        "floor(sqrt(greatest(sq / 64 - (sm / 64) * (sm / 64), 0)) * 10000) "
        "/ 10000 AS px_std FROM s"
    )


def q_video_frames(spark, sf_dir, n_frames: int = 4):
    """Video frame-sample plumbing: real MP4 containers (mvhd duration
    parsed by the REAL box walk), deterministic midpoint timestamps
    (multimodal.frame_sample_offsets — the keyframe-thumbnail policy),
    per-frame FAKE luma whose mean the oracle recomputes in closed
    form. Garbage every 4th row is contained (no frames emitted), same
    as multimodal_video. One map_docs row (an array of frames) per
    document, exploded to (doc_id, frame_idx, ts_ms, frame_mean); no
    shuffle."""
    from xqspark.multimodal import (
        fake_sample_stat,
        frame_sample_offsets,
        parse_video_meta,
    )

    df = _docs(spark, sf_dir).select("doc_id", _mp4_blob().alias("payload"))

    def one(data):
        meta = parse_video_meta(data)  # REAL box walk
        if meta is None:
            return ([],)  # garbage row: no frames
        _fmt, tscale, dur = meta
        hx = data.hex().upper()
        offsets = frame_sample_offsets(dur * 1000 // tscale, n_frames)
        return ([(k, ts, fake_sample_stat(hx, k)) for k, ts in enumerate(offsets)],)

    frames = map_docs(
        df,
        "payload",
        one,
        "doc_id long, "
        "f array<struct<frame_idx: int, ts_ms: long, frame_mean: double>>",
        keep=("doc_id",),
    )
    return _explode_nonempty(frames, "f", "f", keep=("doc_id",)).select(
        "doc_id", "f.*"
    )


def q_video_frames_sql(n_frames: int = 4):
    hexpr = (
        "upper('000000106674797069736F6D00000200' || '00000074' || '6D6F6F76' "
        "|| '0000006C' || '6D766864' || '00000000' || '00000000' || '00000000' "
        "|| printf('%08X', TS) || printf('%08X', DUR) || repeat('0', 160))"
    )
    return (
        "WITH d AS (SELECT doc_id, (1000 * (doc_id % 3 + 1))::INT AS TS, "
        "(doc_id % 5000 + 1)::INT AS DUR FROM documents WHERE doc_id % 4 <> 0), "
        f"g AS (SELECT doc_id, DUR * 1000 // TS AS dms, {hexpr} AS hx FROM d), "
        f"fr AS (SELECT doc_id, dms, unnest(range(0, {n_frames})) AS k, hx FROM g), "
        "m AS (SELECT doc_id, k::INT AS frame_idx, "
        f"(dms * (2 * k + 1)) // (2 * {n_frames}) AS ts_ms, "
        "md5(hx || '-' || k) AS dg FROM fr) "
        "SELECT doc_id, frame_idx, ts_ms::BIGINT AS ts_ms, "
        "floor((list_sum(list_transform(range(0, 16), "
        "i -> ('0x' || substr(dg, i * 2 + 1, 2))::INT))::DOUBLE / 16) * 10000) "
        "/ 10000 AS frame_mean FROM m"
    )


def q_corpus_stats(spark, sf_dir):
    """Corpus datasheet — the one-row summary a dataset release ships
    with, composed from the engine's own signals: size, token counts,
    language spread (top language by count with deterministic
    tie-break), exact-duplicate exposure (docs sharing a content
    fingerprint), and near-duplicate pair count (the capped LSH path).
    Scale shape: four independent bounded aggregates cross-joined as
    1-row sides — each is its own partial-agg tree, nothing quadratic,
    and the output is a single row regardless of corpus size."""
    docs = _docs(spark, sf_dir)
    toks = F.size(_tokens())
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).cast("long").alias("total_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
    )
    top_lang = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("lang"))
        .limit(1)
        .select(F.col("lang").alias("top_lang"))
    )
    fp = docs.select(
        F.md5(
            F.encode(
                F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), "UTF-8"
            )
        ).alias("fp")
    )
    dup = (
        fp.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_exact_dup_docs"))
    )
    near = lsh_pairs(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("long").alias("n_neardup_pairs")
    )
    return base.crossJoin(top_lang).crossJoin(dup).crossJoin(near)


def q_corpus_stats_sql():
    return (
        "SELECT "
        "(SELECT count(*) FROM documents)::BIGINT AS n_docs, "
        "(SELECT sum(len(regexp_extract_all(trim(text), '\\S+'))) "
        "FROM documents)::BIGINT AS total_tokens, "
        "(SELECT count(DISTINCT lang) FROM documents)::BIGINT AS n_langs, "
        "(SELECT lang FROM documents GROUP BY lang "
        "ORDER BY count(*) DESC, lang ASC LIMIT 1) AS top_lang, "
        "(SELECT coalesce(sum(c), 0) FROM (SELECT count(*) AS c FROM ("
        "SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp "
        "FROM documents) GROUP BY fp HAVING count(*) > 1))::BIGINT "
        "AS n_exact_dup_docs, "
        "(SELECT count(*) FROM (" + q_lsh_pairs_sql() + "))::BIGINT "
        "AS n_neardup_pairs"
    )


def q_audio_windows(spark, sf_dir, n_windows: int = 4):
    """Audio window-sample plumbing (the frame-sample analog for the
    audio modality): real RIFF/WAVE duration from the struct reader,
    deterministic midpoint window timestamps, per-window FAKE RMS the
    oracle recomputes in closed form. Garbage every 5th row contained.
    One map_docs row per document, exploded; no shuffle — same shape as
    video_frames."""
    from xqspark.multimodal import (
        fake_sample_stat,
        frame_sample_offsets,
        parse_audio_meta,
    )

    df = _docs(spark, sf_dir).select("doc_id", _wav_blob().alias("payload"))

    def one(data):
        meta = parse_audio_meta(data)  # REAL struct read
        if meta is None:
            return ([],)  # garbage row: no windows
        _fmt, _ch, srate, n_frames = meta
        hx = data.hex().upper()
        offsets = frame_sample_offsets(n_frames * 1000 // srate, n_windows)
        return ([(k, ts, fake_sample_stat(hx, k)) for k, ts in enumerate(offsets)],)

    windows = map_docs(
        df,
        "payload",
        one,
        "doc_id long, w array<struct<win_idx: int, ts_ms: long, rms: double>>",
        keep=("doc_id",),
    )
    return _explode_nonempty(windows, "w", "w", keep=("doc_id",)).select(
        "doc_id", "w.*"
    )


def _le_sql(expr: str, nbytes: int) -> str:
    h = f"printf('%0{2 * nbytes}X', {expr})"
    return " || ".join(
        f"substr({h}, {2 * i + 1}, 2)" for i in range(nbytes - 1, -1, -1)
    )


def q_audio_windows_sql(n_windows: int = 4):
    hexpr = (
        "'52494646' || " + _le_sql("36 + DS", 4) + " || '57415645' || "
        "'666D7420' || " + _le_sql("16", 4) + " || " + _le_sql("1", 2)
        + " || " + _le_sql("C", 2) + " || " + _le_sql("RATE", 4) + " || "
        + _le_sql("BR", 4) + " || " + _le_sql("BLK", 2) + " || "
        + _le_sql("16", 2) + " || '64617461' || " + _le_sql("DS", 4)
    )
    return (
        "WITH d AS (SELECT doc_id, (doc_id % 2 + 1)::INT AS C, "
        "(8000 * (doc_id % 4 + 1))::INT AS RATE, "
        "(doc_id % 100 + 1)::INT AS FRAMES FROM documents "
        "WHERE doc_id % 5 <> 0), "
        "e AS (SELECT doc_id, C, RATE, FRAMES, (C * 2)::INT AS BLK, "
        "(FRAMES * C * 2)::INT AS DS, (RATE * C * 2)::INT AS BR FROM d), "
        f"g AS (SELECT doc_id, FRAMES * 1000 // RATE AS dms, "
        f"upper({hexpr}) AS hx FROM e), "
        f"fr AS (SELECT doc_id, dms, unnest(range(0, {n_windows})) AS k, hx FROM g), "
        "m AS (SELECT doc_id, k::INT AS win_idx, "
        f"(dms * (2 * k + 1)) // (2 * {n_windows}) AS ts_ms, "
        "md5(hx || '-' || k) AS dg FROM fr) "
        "SELECT doc_id, win_idx, ts_ms::BIGINT AS ts_ms, "
        "floor((list_sum(list_transform(range(0, 16), "
        "i -> ('0x' || substr(dg, i * 2 + 1, 2))::INT))::DOUBLE / 16) * 10000) "
        "/ 10000 AS rms FROM m"
    )


def q_multimodal_meta(spark, sf_dir):
    """Multimodal decode: binary image blobs synthesized JVM-side per row
    (real PNG signature+IHDR / JPEG SOI+APP0+SOF0 containers, dimensions
    derived from doc_id), parsed back by pure-Python struct reads of the
    public format specs in map_docs. Every third row is a non-image
    payload the decoder must contain (fmt='unknown', null dims) rather
    than crash on."""
    from xqspark.multimodal import parse_image_meta

    w, h = _image_dims()
    jpeg_hex = F.concat(
        F.lit("FFD8FFE000104A46494600010100000100010000FFC0001108"),
        F.lpad(F.hex(h), 4, "0"),
        F.lpad(F.hex(w), 4, "0"),
        F.lit("03012200021101031101FFD9"),
    )
    blob = (
        F.when(F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.unhex(_png_hex()))
        .when(F.pmod(F.col("doc_id"), F.lit(3)) == 1, F.unhex(jpeg_hex))
        .otherwise(F.encode(F.col("text"), "UTF-8"))
    )
    df = _docs(spark, sf_dir).select("doc_id", blob.alias("payload"))

    def one(data):
        if data is None:
            return 0, None, None, None
        return (len(data), *(parse_image_meta(data) or ("unknown", None, None)))

    return map_docs(df, "payload", one, _MM_SCHEMA, keep=("doc_id",))


def q_multimodal_meta_sql():
    return (
        "SELECT doc_id, "
        f"CASE doc_id % 3 WHEN 0 THEN {_PNG_BLOB_BYTES} WHEN 1 THEN "
        f"{_JPEG_BLOB_BYTES} ELSE octet_length(encode(text)) END::BIGINT AS n_bytes, "
        "CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' "
        "ELSE 'unknown' END AS fmt, "
        "CASE WHEN doc_id % 3 IN (0, 1) THEN doc_id % 640 + 16 END::INTEGER AS width, "
        "CASE WHEN doc_id % 3 IN (0, 1) THEN doc_id % 480 + 9 END::INTEGER AS height "
        "FROM documents"
    )


def q_beautify_auto(spark, sf_dir):
    """xq's DEFAULT behavior end-to-end: per-document format detection
    (cmd/root.go:247-270) routes each payload to the JSON, HTML, or XML
    beautifier — one mixed-content column, three formatters, one UDF."""
    from xqspark.core.api import beautify
    from xqspark.udfs import doc_udf

    udf = doc_udf(beautify)
    m = F.pmod(F.col("doc_id"), F.lit(3))
    payload = (
        F.when(m == 0, F.concat(F.lit('{"a": '), F.col("doc_id"), F.lit("}")))
        .when(
            m == 1,
            F.concat(F.lit("<!doctype html><p>"), F.col("source"), F.lit("</p>")),
        )
        .otherwise(
            F.concat(F.lit("<r><c>"), F.col("source"), F.lit("</c></r>"))
        )
    )
    return _docs(spark, sf_dir).select(
        "doc_id", udf(payload.cast("binary")).alias("pretty")
    )


def q_beautify_auto_sql():
    return (
        "SELECT doc_id, CASE doc_id % 3 "
        "WHEN 0 THEN '{' || chr(10) || '  \"a\": ' || doc_id || chr(10) || '}' || chr(10) "
        "WHEN 1 THEN '<!doctype html>' || chr(10) || '<p>' || source || '</p>' || chr(10) "
        "ELSE '<r>' || chr(10) || '  <c>' || source || '</c>' || chr(10) || '</r>' || chr(10) "
        "END AS pretty FROM documents"
    )


def q_css_misnested(spark, sf_dir):
    """CSS selection on MISNESTED real-web markup: the adoption agency
    must rebuild <p><b>x<i>S</b>S!</i> into p > [b > (x, i > S), i > S!]
    (so `p > i` matches the reconstructed element), and foster parenting
    must hoist stray table text before the table (so the div's text
    starts with it). Both are silently wrong under naive plain nesting."""
    from xqspark.udfs import make_css_values_udf

    udf_adopted = make_css_values_udf("p > i")
    udf_fostered = make_css_values_udf("body > div")
    html1 = F.concat(
        F.lit("<html><body><p><b>x<i>"),
        F.col("source"),
        F.lit("</b>"),
        F.col("source"),
        F.lit("!</i></p></body></html>"),
    )
    html2 = F.concat(
        F.lit("<html><body><div><table><tr><td>x</td></tr>"),
        F.col("source"),
        F.lit("</table></div></body></html>"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.element_at(udf_adopted(html1.cast("binary")), 1).alias("adopted"),
        F.element_at(udf_fostered(html2.cast("binary")), 1).alias("fostered"),
    )


def q_css_misnested_sql():
    return (
        "SELECT doc_id, source || '!' AS adopted, source || 'x' AS fostered "
        "FROM documents"
    )


_MM_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("channels", T.LongType(), True),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("n_frames", T.LongType(), True),
    ]
)


def q_multimodal_audio(spark, sf_dir):
    """Audio metadata decode: RIFF/WAVE containers synthesized JVM-side
    per row (real fmt /data chunk layout, little-endian fields built with
    hex byte swaps), parsed back by pure-Python struct reads of the
    public spec. Every 5th row is garbage the decoder must contain."""
    from xqspark.multimodal import parse_audio_meta

    df = _docs(spark, sf_dir).select("doc_id", _wav_blob().alias("payload"))

    def one(data):
        return parse_audio_meta(data) or ("unknown", None, None, None)

    return map_docs(df, "payload", one, _MM_AUDIO_SCHEMA, keep=("doc_id",))


def q_multimodal_audio_sql():
    return (
        "SELECT doc_id, "
        "CASE WHEN doc_id % 5 = 0 THEN 'unknown' ELSE 'wav' END AS fmt, "
        "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id % 2 + 1 END::BIGINT AS channels, "
        "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 8000 * (doc_id % 4 + 1) END::BIGINT AS sample_rate, "
        "CASE WHEN doc_id % 5 = 0 THEN NULL ELSE doc_id % 100 + 1 END::BIGINT AS n_frames "
        "FROM documents"
    )


_MM_VIDEO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("timescale", T.LongType(), True),
        T.StructField("duration", T.LongType(), True),
    ]
)


def q_multimodal_video(spark, sf_dir):
    """Video metadata decode: ISO BMFF/MP4 containers synthesized
    JVM-side per row (ftyp + moov/mvhd v0 boxes, big-endian fields),
    parsed back by a pure-Python box walk. Every 4th row is garbage the
    decoder must contain."""
    from xqspark.multimodal import parse_video_meta

    df = _docs(spark, sf_dir).select("doc_id", _mp4_blob().alias("payload"))

    def one(data):
        return parse_video_meta(data) or ("unknown", None, None)

    return map_docs(df, "payload", one, _MM_VIDEO_SCHEMA, keep=("doc_id",))


def q_multimodal_video_sql():
    return (
        "SELECT doc_id, "
        "CASE WHEN doc_id % 4 = 0 THEN 'unknown' ELSE 'mp4' END AS fmt, "
        "CASE WHEN doc_id % 4 = 0 THEN NULL ELSE 1000 * (doc_id % 3 + 1) END::BIGINT AS timescale, "
        "CASE WHEN doc_id % 4 = 0 THEN NULL ELSE doc_id % 5000 + 1 END::BIGINT AS duration "
        "FROM documents"
    )


def q_error_containment(spark, sf_dir):
    """Adversarial containment through the REAL extraction path: 3 of
    every 4 payloads are hostile (truncated XML -> unexpected EOF, '<'
    inside a quoted attr -> lenient-mode error, NULL payload -> 'empty')
    and must land in the per-row error column — never a task failure.
    The oracle recomputes per-bucket doc/error/byte counts from doc_id
    arithmetic, so a single uncontained row flips the hash."""
    from xqspark.pipeline import extract_pages

    m = F.pmod(F.col("doc_id"), F.lit(4))
    payload = (
        F.when(
            m == 0,
            F.concat(F.lit("<doc><t>"), F.col("source"), F.lit("</t></doc>")),
        )
        .when(m == 1, F.concat(F.lit("<doc><t>"), F.col("source")))
        .when(m == 2, F.lit('<doc x="<"><t>v</t></doc>'))
        .otherwise(F.lit(None).cast("string"))
    )
    pages = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("http://b"),
            F.pmod(F.col("doc_id"), F.lit(16)),
            F.lit(".example.com/"),
            F.col("doc_id"),
        ).alias("url"),
        payload.cast("binary").alias("html"),
    )
    ext = extract_pages(pages, mode="xpath", query="//t")
    bucket = F.regexp_extract("url", r"http://b(\d+)\.", 1).cast("int")
    return (
        ext.select(bucket.alias("bucket"), "error", "n_bytes", "extracted")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("error").alias("n_errors"),
            F.count("extracted").alias("n_ok"),
            F.sum("n_bytes").alias("total_bytes"),
        )
    )


def q_error_containment_sql():
    return (
        "SELECT (doc_id % 16)::INTEGER AS bucket, count(*)::BIGINT AS n_docs, "
        "sum(CASE WHEN doc_id % 4 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_errors, "
        "sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_ok, "
        "sum(CASE doc_id % 4 "
        "WHEN 0 THEN octet_length(encode('<doc><t>' || source || '</t></doc>')) "
        "WHEN 1 THEN octet_length(encode('<doc><t>' || source)) "
        "WHEN 2 THEN 25 ELSE 0 END)::BIGINT AS total_bytes "
        "FROM documents GROUP BY doc_id % 16"
    )


def q_simhash(spark, sf_dir):
    """Full 64-bit SimHash over whitespace tokens, emitted as 4x16-bit
    words (simhash_w0..w3) so every value fits a signed BIGINT on both
    sides. Token hash = md5 hex prefix, which DuckDB can twin exactly
    (('0x'||substr(md5,..))::INT), giving this op a hard oracle.
    Repeated tokens vote repeatedly (frequency weighting); docs whose
    trimmed text has no tokens drop out on both sides."""
    # r6: the bit votes moved to a vectorized Arrow kernel (guide §4.2)
    # — the r4 JVM shape (one aggregate per word, 16-counter array
    # accumulator) allocated one array per token per word; the kernel
    # does one reduceat per word per batch. Tokenization AND the
    # per-token md5 stay JVM-side (one md5 per token; the four word
    # parses share the digest array via codegen CSE); output is
    # bit-identical (all-integer math, same digests). Still map-only:
    # no Exchange, no Generate.
    docs = (
        _docs(spark, sf_dir)
        .select("doc_id", _tokens().alias("t"))
        .filter(F.size("t") >= 1)
    )
    words = docs.select(
        "doc_id",
        *[
            F.expr(
                "transform(transform(t, tok -> md5(encode(tok, 'UTF-8'))), "
                f"s -> cast(conv(substring(s, {1 + 4 * w}, 4), 16, 10) as int))"
            ).alias(f"w{w}")
            for w in range(4)
        ],
    )
    return map_arrow(
        words,
        [f"w{w}" for w in range(4)],
        _simhash_kernel,
        "doc_id long, simhash_w0 long, simhash_w1 long, "
        "simhash_w2 long, simhash_w3 long",
        keep=("doc_id",),
    )


def q_simhash_sql():
    # same in-row list shape as the Spark plan: one md5 per token, bit
    # sums via list_sum(list_transform(...)), majority = 2*sum > n
    words = ", ".join(
        f"list_transform(hs, m -> ('0x'||substr(m,{1 + 4 * w},4))::INT) AS ws{w}"
        for w in range(4)
    )
    votes = ", ".join(
        f"list_sum(list_transform(ws{w}, x -> (x >> {b}) & 1)) AS s{w}_{b}"
        for w in range(4)
        for b in range(16)
    )
    packs = ", ".join(
        "("
        + " + ".join(
            f"CASE WHEN 2*s{w}_{b} > n THEN {1 << b} ELSE 0 END" for b in range(16)
        )
        + f")::BIGINT AS simhash_w{w}"
        for w in range(4)
    )
    return (
        "WITH toks AS (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS t "
        "FROM documents), "
        "h AS (SELECT doc_id, len(t) AS n, list_transform(t, tok -> md5(tok)) AS hs "
        "FROM toks WHERE len(t) >= 1), "
        f"wrds AS (SELECT doc_id, n, {words} FROM h), "
        f"v AS (SELECT doc_id, n, {votes} FROM wrds) "
        f"SELECT doc_id, {packs} FROM v"
    )


def simhash_pairs(
    spark,
    sf_dir,
    max_hamming: int = 3,
    word_cap: int = 256,
    on_dropped=None,
    cache_out: list | None = None,
):
    """SimHash near-duplicate pairs — the Manku/Jain/Das Sarma (WWW'07)
    block technique: two 64-bit signatures within hamming distance <= 3
    must agree EXACTLY on at least one of the four 16-bit words, so
    candidates come from four bucketed equi-joins (melted to one join on
    (word_idx, word_val)) instead of an all-pairs scan; the exact
    hamming filter runs only on candidates. Degenerate hot words (near-
    empty docs collapsing to the same signature word) are bounded by
    ``word_cap`` via the same count-window-on-the-join-partitioning
    trick as lsh_pairs' band_cap. At 100 TB: one shuffle keyed on the
    16-bit words, never quadratic outside capped buckets.

    ``on_dropped(n_hot_words)`` / ``cache_out`` follow the lsh_pairs
    contract: the hot (word_idx, word_val) count is observed on the pass
    that computes the pairs."""
    sig = q_simhash(spark, sf_dir)
    melted = sig.select(
        "doc_id",
        *[F.col(f"simhash_w{w}") for w in range(4)],
        F.posexplode(
            F.array(*[F.col(f"simhash_w{w}") for w in range(4)])
        ).alias("wi", "wv"),
    )
    sized, finish = _report_hot(
        melted.withColumn("n_w", F.count("*").over(W.partitionBy("wi", "wv"))),
        "n_w", word_cap, on_dropped,
    )
    ok = sized.filter(F.col("n_w") <= word_cap).drop("n_w")
    a = ok.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"simhash_w{w}").alias(f"a{w}") for w in range(4)],
        "wi",
        "wv",
    )
    b = ok.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"simhash_w{w}").alias(f"b{w}") for w in range(4)],
        "wi",
        "wv",
    )
    ham = None
    for w in range(4):
        piece = F.expr(f"bit_count(a{w} ^ b{w})")
        ham = piece if ham is None else ham + piece
    return finish(
        a.join(b, ["wi", "wv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def q_simhash_pairs(spark, sf_dir):
    return simhash_pairs(spark, sf_dir)


def q_simhash_pairs_sql(max_hamming: int = 3, word_cap: int = 256):
    melt = " UNION ALL ".join(
        f"SELECT doc_id, simhash_w0, simhash_w1, simhash_w2, simhash_w3, "
        f"{w} AS wi, simhash_w{w} AS wv FROM sig"
        for w in range(4)
    )
    ham = " + ".join(
        f"bit_count(xor(a.simhash_w{w}, b.simhash_w{w}))" for w in range(4)
    )
    return (
        "WITH sig AS (SELECT * FROM (" + q_simhash_sql() + ")), "
        f"m AS ({melt}), "
        "ok AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY wi, wv) "
        f"AS n_w FROM m) WHERE n_w <= {word_cap}) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        f"({ham})::INT AS hamming "
        "FROM ok a JOIN ok b ON a.wi = b.wi AND a.wv = b.wv "
        "AND a.doc_id < b.doc_id "
        f"WHERE ({ham}) <= {max_hamming}"
    )


def _sym(edges: DataFrame) -> DataFrame:
    """Both directions of an undirected edge list (u, v)."""
    return edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def dedup_clusters(spark, sf_dir, max_iter: int = 12):
    """Connected components over the LSH near-dup pair graph —
    alternating LARGE-STAR / SMALL-STAR (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): the step a real
    training-data pipeline runs AFTER pair-finding, to pick one
    representative per duplicate cluster and drop the rest.

    Scale shape: every half-round shuffle is keyed on node id only
    (the groupBy(u).min and the join sides all hashpartition on u, so
    AQE reuses the exchange and a small mins side broadcasts);
    the edge set only shrinks toward the star graph (node -> component
    min), and the method converges in O(log n) rounds on any graph —
    no giant-component blowup, because a hot node's edges are REPLACED
    by edges to the component min, not multiplied. Per-iteration
    ``localCheckpoint`` truncates the join lineage so round k's plan
    does not replay rounds 1..k-1 (the same bounded-training-state
    pattern as ann_ivf_lloyd; the only driver fetch per round is a
    (count, bit_xor checksum) row for the convergence test — bit_xor,
    not sum, per the ANSI xxhash64-overflow rule). Upstream band_cap
    already bounds node degree, so no star op sees a quadratic group.

    Output: (doc_id, cluster_id) for every doc that has at least one
    near-dup, cluster_id = MIN doc_id of its component (deterministic
    representative: keep cluster_id, drop the rest).

    Large-star: every neighbor v > u re-points to m = min(N(u) + {u}).
    Small-star over down-oriented edges (u > v): every v (and u)
    points to m. Fixpoint = the star graph, checked by (count,
    checksum) equality."""
    pairs = lsh_pairs(spark, sf_dir)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    return _connected_components(edges, max_iter).select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    )


def _connected_components(edges: DataFrame, max_iter: int = 12) -> DataFrame:
    """Alternating large-star/small-star to fixpoint over an (u, v)
    edge DataFrame; returns (u=node, v=component-min label) for every
    node of the graph. See dedup_clusters for the scale argument."""
    # materialize the input once: round 1 references the edge plan from
    # four subtrees (sym union x agg + join), which would re-run an
    # expensive upstream (e.g. the LSH band join) that many times.
    # eager=False (r6): the RDD node is shared by all four subtrees, so
    # the first round's checksum action both computes it once and
    # materializes the checkpoint — an eager checkpoint here was one
    # extra full job per call for no added reuse
    edges = edges.localCheckpoint(eager=False)

    def star_mins(nbrs: DataFrame) -> DataFrame:
        return (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )

    def checksum(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("x"),
        ).collect()[0]
        return row["n"], row["x"]

    prev = None
    for _ in range(max_iter):
        # large-star: strictly larger neighbors re-point to the min
        nbrs = _sym(edges)
        mins = star_mins(nbrs)
        # No mid-round distinct (r6): the small-star phase ends with
        # its own distinct, which bounds the edge set identically; the
        # large-star duplicates it would have removed are cheaper to
        # carry through one half-round than the extra Exchange cost
        # (measured 4.5 -> 4.05 s at 10x sf0.1, identical output set —
        # min() and the membership checks are duplicate-insensitive).
        edges = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star: orient edges (hi -> lo), everyone points to the min
        dn = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).filter(F.col("u") != F.col("v"))
        mins = star_mins(dn)
        pointed = dn.join(mins, "u")
        edges = (
            pointed.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(pointed.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # the checksum collect is the round's ONE action: it materializes
        # the lazy checkpoint and probes convergence in the same job
        # (r6 — eager checkpointing doubled the per-round job count)
        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected components: no fixpoint in {max_iter} rounds"
        )
    # edges is the star graph (node -> component min); add the roots
    roots = edges.select(F.col("v").alias("u")).distinct().select(
        "u", F.col("u").alias("v")
    )
    return edges.union(roots).distinct()


def q_dedup_clusters(spark, sf_dir):
    return dedup_clusters(spark, sf_dir)


def q_dedup_clusters_sql():
    """Recursive reachability oracle: cluster_id(x) = min node reachable
    from x over the symmetric pair graph (UNION-distinct terminates on
    the finite edge set; fine at oracle scale, while the Spark side runs
    the O(log n) star rounds that survive 100 TB)."""
    return (
        "WITH RECURSIVE pairs AS (" + q_lsh_pairs_sql() + "), "
        "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs), "
        "reach(src, dst) AS ("
        "SELECT u, u FROM edges "
        "UNION "
        "SELECT r.src, e.v FROM reach r JOIN edges e ON e.u = r.dst) "
        "SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src"
    )


def q_unigram_logprob(spark, sf_dir, vocab_k: int = 256):
    """CCNet-style language-model quality score (Wenzek et al. 2020
    filter corpora by LM perplexity; the unigram model is its
    dependency-free core): score = mean log10 unigram probability of
    the doc's tokens under the corpus' own top-``vocab_k`` vocabulary,
    OOV floored at half a count. Low (very negative) scores = rare-
    token gibberish; high = common-word text.

    Scale shape: pass 1 aggregates (token, count) + the total token
    count and fetches only the BOUNDED top-k vocabulary to the driver
    (count desc, token asc tie-break — both engines cut identical
    rows); pass 2 is MAP-ONLY — the vocabulary rides the plan as a map
    literal (the line_dedup hot-set pattern) and scoring is one in-row
    aggregate per doc, no Generate, no shuffle of the token stream
    (a join-based scorer would shuffle every token at 100 TB).

    Cross-engine float discipline: per-token log-probs become INTEGER
    micro-log units (floor(log10(p) * 1e6)) so the per-doc sum is
    exact integer arithmetic — summation ORDER cannot diverge between
    engines; the only runtime float ops are one division and one
    round(4), both IEEE-exact given identical inputs."""
    import math

    toks = (
        _docs(spark, sf_dir)
        .select("doc_id", _tokens().alias("t"))
        .filter(F.size("t") >= 1)
    )
    # one counting job, persisted: total and top-k are two bounded
    # driver fetches over the TINY (vocab-sized) counts table instead
    # of two full explode+groupBy passes over the token stream
    # (r6, guide §1.2: don't compute things twice)
    counts = (
        _explode_nonempty(toks, "t", "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    total = counts.agg(F.sum("c")).collect()[0][0]
    vocab = (
        counts.orderBy(F.desc("c"), F.asc("tok")).limit(vocab_k).collect()
    )
    counts.unpersist()
    lp = {
        r["tok"]: math.floor(math.log10(r["c"] / total) * 1_000_000)
        for r in vocab
    }
    floor_lp = math.floor(math.log10(0.5 / total) * 1_000_000)

    # scoring pass (r6): the vocabulary ships as a broadcast dict into
    # an Arrow-vectorized UDF — O(1) hash lookups per token, where the
    # old map(...) SQL literal was an O(vocab_k) LINEAR probe per token
    # (Catalyst's GetMapValue scans ArrayBasedMapData). An
    # explode + broadcast-join + groupBy(doc_id) scorer was also
    # measured and LOSES at scale (1.8 s vs 1.15 s at 10x sf0.1): the
    # 15M-row explode costs more than shipping the token arrays across
    # the Python boundary once. Per-token scores stay exact integer
    # micro-log units, so the Python sum is bit-identical to the old
    # in-row aggregate; the only float ops (one division, one round)
    # stay JVM-side, unchanged. This is also the line_dedup
    # mode="broadcast" scale story: vocab_k is no longer bounded by
    # plan-literal size (VERDICT r5 #2).
    lp_bc = spark.sparkContext.broadcast((lp, floor_lp))

    @F.pandas_udf("long")
    def _score_sum(ts: pd.Series) -> pd.Series:
        vocab_lp, fl = lp_bc.value
        g = vocab_lp.get
        return ts.map(
            lambda t: sum(g(x, fl) for x in t)
        ).astype("int64")

    return toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tok"),
        F.round(
            _score_sum("t").cast("double") / (F.size("t") * F.lit(1e6)), 4
        ).alias("logprob"),
    )


def q_unigram_logprob_sql(vocab_k: int = 256):
    return (
        "WITH toks AS (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS t "
        "FROM documents WHERE len(regexp_extract_all(trim(text), '\\S+')) >= 1), "
        "cnt AS (SELECT unnest(t) AS tok FROM toks), "
        "c AS (SELECT tok, count(*)::BIGINT AS c FROM cnt GROUP BY tok), "
        "tot AS (SELECT sum(c)::BIGINT AS total FROM c), "
        f"vocab AS (SELECT tok, floor(log10(c / (SELECT total FROM tot)) * 1000000)::BIGINT "
        f"AS lp FROM c ORDER BY c DESC, tok ASC LIMIT {vocab_k}), "
        "vm AS (SELECT map(list(tok), list(lp)) AS m, "
        "floor(log10(0.5 / (SELECT total FROM tot)) * 1000000)::BIGINT AS fl FROM vocab) "
        "SELECT doc_id, len(t)::BIGINT AS n_tok, "
        "round(list_sum(list_transform(t, x -> "
        "coalesce(map_extract(m, x)[1], fl)))::DOUBLE / (len(t) * 1e6), 4) "
        "AS logprob FROM toks, vm"
    )


def q_robots_check(spark, sf_dir):
    """Robots-exclusion decisions — crawl politeness over the frontier:
    per doc build a deterministic robots.txt (a decoy UA group that
    must NOT be selected, then a '*' group exercising longest-match,
    the allow tie-break, '*' wildcards and the '$' anchor) plus a path
    list derived from doc fields, and evaluate every path through the
    real RFC 9309 engine (core/robots.py). The oracle states the
    closed-form expected decision per path shape, so ANY deviation in
    group selection, precedence, or pattern matching breaks the hash.
    Scale: one pandas-UDF projection + posexplode, no shuffle."""
    from xqspark.udfs import make_robots_udf

    udf = make_robots_udf("xqbot")
    m3 = F.pmod(F.col("doc_id"), F.lit(3)).cast("string")
    m2 = F.pmod(F.col("doc_id"), F.lit(2)).cast("string")
    robots = F.concat(
        F.lit(
            "User-agent: otherbot\nDisallow: /\n\n"
            "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
        ),
        F.lit("Disallow: /tmp"), m3, F.lit("$\n"),
        F.lit("Disallow: /*.zip$\nAllow: /\n"),
    )
    paths = F.array(
        F.concat(F.lit("/private/x"), m3),
        F.concat(F.lit("/private/ok/y"), m3),
        F.concat(F.lit("/tmp"), m3),
        F.concat(F.lit("/tmp"), m3, F.lit("x")),
        F.concat(F.lit("/file"), m2, F.lit(".zip")),
        F.concat(F.lit("/file"), m2, F.lit(".zipx")),
        F.concat(F.lit("/page"), m2),
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", paths.alias("paths"), udf(robots, paths).alias("allowed")
    )
    zipped = _explode_nonempty(
        docs, F.arrays_zip("paths", "allowed"), "rank", "z", keep=("doc_id",)
    )
    return zipped.select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("z.paths").alias("path"),
        F.col("z.allowed").alias("allowed"),
    )


def q_robots_check_sql():
    # expected decision per rank: see q_robots_check's rule analysis
    decisions = "[false, true, false, true, false, true, true]"
    return (
        "SELECT doc_id, "
        "unnest(list_transform(range(0, 7), i -> i::INT)) AS rank, "
        "unnest(list_transform(range(0, 7), i -> CASE i "
        "WHEN 0 THEN '/private/x' || (doc_id % 3) "
        "WHEN 1 THEN '/private/ok/y' || (doc_id % 3) "
        "WHEN 2 THEN '/tmp' || (doc_id % 3) "
        "WHEN 3 THEN '/tmp' || (doc_id % 3) || 'x' "
        "WHEN 4 THEN '/file' || (doc_id % 2) || '.zip' "
        "WHEN 5 THEN '/file' || (doc_id % 2) || '.zipx' "
        "ELSE '/page' || (doc_id % 2) END)) AS path, "
        f"unnest({decisions}) AS allowed "
        "FROM documents"
    )


def q_sitemap_urls(spark, sf_dir, k: int = 4):
    """Sitemap parsing — crawl-frontier construction: per doc build a
    sitemaps.org <urlset> with ``k`` <url> entries (loc + lastmod
    derived from doc fields), then recover (rank, loc, lastmod)
    through the REAL XML parse + XPath path. ONE parse per doc: the
    union query '//url/loc | //url/lastmod' returns both node sets
    doc-order interleaved, and in-row even/odd de-interleaving pairs
    them back — exercising the union evaluator, not just //name.
    Scale: pandas-UDF projection + posexplode, no shuffle."""
    from xqspark.udfs import make_xpath_values_udf

    udf = make_xpath_values_udf("//url/loc | //url/lastmod")
    entry = (
        "concat('<url><loc>http://site', pmod(doc_id, 7), '.example/page/', "
        "doc_id, '/', i, '</loc><lastmod>2026-08-', "
        "lpad(cast(pmod(doc_id + i, 28) + 1 as string), 2, '0'), "
        "'</lastmod></url>')"
    )
    xml = F.concat(
        F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
        F.expr(f"concat_ws('', transform(sequence(0, {k - 1}), i -> {entry}))"),
        F.lit("</urlset>"),
    )
    vals = _docs(spark, sf_dir).select(
        "doc_id", udf(xml.cast("binary")).alias("v")
    )
    paired = vals.select(
        "doc_id",
        # if(size=0) guard (r6 advisor fix): an empty XPath result (a
        # parse failure on non-synthetic input) would otherwise make
        # sequence(0, -1) yield [0, -1] and v[0] throw under ANSI mode,
        # failing the whole query instead of skipping the doc
        F.expr(
            "if(size(v) = 0, "
            "cast(array() as array<struct<loc:string,lastmod:string>>), "
            "transform(sequence(0, cast(size(v)/2 as int) - 1), "
            "i -> struct(v[2*i] as loc, v[2*i+1] as lastmod)))"
        ).alias("entries"),
    )
    return _explode_nonempty(
        paired, "entries", "rank", "e", keep=("doc_id",)
    ).select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("e.loc").alias("loc"),
        F.col("e.lastmod").alias("lastmod"),
    )


def q_sitemap_urls_sql(k: int = 4):
    return (
        "SELECT doc_id, "
        f"unnest(list_transform(range(0, {k}), i -> i::INT)) AS rank, "
        f"unnest(list_transform(range(0, {k}), i -> 'http://site' || "
        "(doc_id % 7) || '.example/page/' || doc_id || '/' || i)) AS loc, "
        f"unnest(list_transform(range(0, {k}), i -> '2026-08-' || "
        "lpad(((doc_id + i) % 28 + 1)::VARCHAR, 2, '0'))) AS lastmod "
        "FROM documents"
    )


def q_c4_filter(spark, sf_dir, min_words_line: int = 8, min_lines: int = 3):
    """C4-style structural quality gate (Raffel et al. 2020, §2.2
    heuristics adapted to this corpus's line structure): drop LINES
    with fewer than ``min_words_line`` words (kills the short nav/
    footer boilerplate), then drop DOCS with fewer than ``min_lines``
    surviving lines or containing the 'lorem ipsum' placeholder or a
    curly brace (code/templating leak). Map-only: the line array and
    every rule are in-row HOFs over the scan — no shuffle at any
    scale; the decision and the per-rule reasons are output so
    downstream can audit drop rates per rule (no-silent-filter)."""
    lines_df = _doc_lines(
        spark, sf_dir, extra_cols=(("lt", F.lower(F.col("text"))),)
    )
    kept = F.expr(
        f"size(filter(lines, x -> size(split(x, ' ')) >= {min_words_line}))"
    )
    flags = lines_df.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        kept.cast("long").alias("n_kept_lines"),
        F.col("lt").contains("lorem ipsum").alias("has_lorem"),
        F.col("lt").contains("{").alias("has_brace"),
    )
    return flags.select(
        "doc_id",
        "n_lines",
        "n_kept_lines",
        "has_lorem",
        "has_brace",
        (
            (F.col("n_kept_lines") >= min_lines)
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
        ).alias("keep"),
    )


def q_c4_filter_sql(min_words_line: int = 8, min_lines: int = 3):
    return (
        "WITH t AS (SELECT doc_id, regexp_extract_all(trim(text), '\\S+') AS t, "
        "lower(text) AS lt FROM documents "
        "WHERE len(regexp_extract_all(trim(text), '\\S+')) >= 1), "
        "lns AS (SELECT doc_id, lt, "
        "['nav menu home about contact site ' || (doc_id % 5)::VARCHAR] || "
        "list_transform(range(0, ceil(len(t) / 10.0)::INT), "
        "i -> array_to_string(list_slice(t, i * 10 + 1, i * 10 + 10), ' ')) || "
        "['copyright footer legal terms ' || (doc_id % 3)::VARCHAR] AS lines FROM t), "
        "f AS (SELECT doc_id, len(lines)::BIGINT AS n_lines, "
        "len(list_filter(lines, x -> len(string_split(x, ' ')) >= "
        f"{min_words_line}))::BIGINT AS n_kept_lines, "
        "contains(lt, 'lorem ipsum') AS has_lorem, "
        "contains(lt, '{') AS has_brace FROM lns) "
        "SELECT doc_id, n_lines, n_kept_lines, has_lorem, has_brace, "
        f"(n_kept_lines >= {min_lines} AND NOT has_lorem AND NOT has_brace) "
        "AS keep FROM f"
    )


def q_ngram_counts(spark, sf_dir, n: int = 2, k: int = 20):
    """Top-k corpus n-grams — the frequency table contamination and
    repetition analyses start from. Scale shape: the n-gram stream is
    map-side partial-aggregated before the one (gram, count) shuffle,
    and the top-k is a TakeOrdered (no global sort materializes the
    full vocabulary); ties broken deterministically (count desc, gram
    asc) so both engines cut the same k rows."""
    toks = _docs(spark, sf_dir).select("doc_id", _tokens().alias("t")).filter(
        F.size("t") >= n
    )
    grams = _explode_nonempty(
        toks,
        F.expr(
            f"transform(sequence(0, size(t)-{n}), i -> "
            + "concat_ws(' ', "
            + ", ".join(f"t[i+{j}]" for j in range(n))
            + "))"
        ),
        "gram",
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.desc("n"), F.asc("gram")).limit(k)


def q_ngram_counts_sql(n: int = 2, k: int = 20):
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(1, n + 1))
    return (
        "WITH toks AS (SELECT regexp_extract_all(trim(text), '\\S+') AS t "
        f"FROM documents WHERE len(regexp_extract_all(trim(text), '\\S+')) >= {n}), "
        f"g AS (SELECT unnest(list_transform(range(0, len(t)-{n}+1), "
        f"i -> {gram})) AS gram FROM toks) "
        "SELECT gram, count(*)::BIGINT AS n FROM g GROUP BY gram "
        f"ORDER BY n DESC, gram ASC LIMIT {k}"
    )


def q_link_graph(spark, sf_dir, k: int = 5):
    """Outlink extraction — the web-graph construction op: build a page
    whose <nav> links derive deterministically from the doc's first
    ``k`` tokens, then recover (rank, href, anchor) per link through
    the REAL WHATWG tree + CSS path (one parse per page via the
    struct-pair UDF — not two). Scale shape: one pandas-UDF projection
    + posexplode; the oracle recomputes the links from the same fields
    it built them from, so a tree/CSS/inner_text regression anywhere in
    the parse path breaks the hash."""
    from xqspark.udfs import make_link_pairs_udf

    udf = make_link_pairs_udf("nav a", "href")
    html = F.concat(
        F.lit("<html><body><nav>"),
        F.concat_ws(
            "",
            F.transform(
                F.slice(_tokens(), 1, k),
                lambda tok, i: F.concat(
                    F.lit('<a href="/d'), F.col("doc_id"), F.lit("/"), i,
                    F.lit('">'), tok, F.lit("</a>"),
                ),
            ),
        ),
        F.lit('</nav><p>body text</p><a href="/out">outside nav</a>'
              "</body></html>"),
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", udf(html.cast("binary")).alias("links")
    )
    return _explode_nonempty(
        docs, "links", "rank", "link", keep=("doc_id",)
    ).select(
        "doc_id",
        F.col("rank").cast("int").alias("rank"),
        F.col("link.href").alias("href"),
        F.col("link.anchor").alias("anchor"),
    )


def q_link_graph_sql(k: int = 5):
    return (
        "WITH t AS (SELECT doc_id, "
        f"list_slice(regexp_extract_all(trim(text), '\\S+'), 1, {k}) AS toks "
        "FROM documents) "
        "SELECT doc_id, "
        "unnest(list_transform(range(1, len(toks) + 1), i -> (i - 1)::INT)) AS rank, "
        "unnest(list_transform(range(1, len(toks) + 1), "
        "i -> '/d' || doc_id || '/' || (i - 1))) AS href, "
        "unnest(list_transform(range(1, len(toks) + 1), i -> toks[i])) AS anchor "
        "FROM t"
    )


def q_dedup_keep(spark, sf_dir):
    """Cleaned-corpus selection — the last step of the near-dup
    pipeline: keep ONE representative per duplicate cluster (the
    component-min doc_id from dedup_clusters) plus every doc with no
    near-dup; flag which kept docs are cluster representatives. Scale
    shape: only (doc_id, cluster_id) pairs move — the anti-join and the
    flag join shuffle bare bigints; document text is never read (the
    scan is doc_id-only, column-pruned)."""
    clusters = dedup_clusters(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id")
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    reps = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select(
        "doc_id", F.lit(True).alias("rep")
    )
    kept = docs.join(drop, "doc_id", "left_anti")
    return kept.join(reps, "doc_id", "left").select(
        "doc_id", F.coalesce("rep", F.lit(False)).alias("is_cluster_rep")
    )


def q_dedup_keep_sql():
    return (
        "WITH cc AS (" + q_dedup_clusters_sql() + ") "
        "SELECT d.doc_id, coalesce(r.rep, false) AS is_cluster_rep "
        "FROM documents d "
        "LEFT JOIN (SELECT doc_id, true AS rep FROM cc "
        "WHERE doc_id = cluster_id) r USING (doc_id) "
        "WHERE d.doc_id NOT IN "
        "(SELECT doc_id FROM cc WHERE doc_id <> cluster_id)"
    )


QUERIES = {
    "xpath_title": q_xpath_title,
    "xpath_token_count": q_xpath_token_count,
    "xpath_count": q_xpath_count,
    "xpath_boolean": q_xpath_boolean,
    "xpath_node_mode": q_xpath_node_mode,
    "xpath_spans": q_xpath_spans,
    "css_lang_attr": q_css_lang_attr,
    "css_node_mode": q_css_node_mode,
    "beautify_xml": q_beautify_xml,
    "beautify_html": q_beautify_html,
    "beautify_json": q_beautify_json,
    "xml2json_doc": q_xml2json_doc,
    "detect_format": q_detect_format,
    "charset_decl": q_charset_decl,
    "charset_transcode": q_charset_transcode,
    "main_content": q_main_content,
    "host_topk": q_host_topk,
    "dedup_groups": q_dedup_groups,
    "latest_event_per_user": q_latest_event_per_user,
    "lineage_buckets": q_lineage_buckets,
    "pricing_summary": q_pricing_summary,
    "supplier_revenue": q_supplier_revenue,
    "events_hourly": q_events_hourly,
    "token_stats": q_token_stats,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "minhash_sig": q_minhash_sig,
    "lsh_pairs": q_lsh_pairs,
    "jaccard_adjacent": q_jaccard_adjacent,
    "decontaminate": q_decontaminate,
    "repetition": q_repetition,
    "url_normalize": q_url_normalize,
    "ann_topk": q_ann_topk,
    "ann_ivf_label": q_ann_ivf_label,
    "ann_ivf_kmeans": q_ann_ivf_kmeans,
    "ann_ivf_lloyd": q_ann_ivf_lloyd,
    "ann_recall": q_ann_recall,
    "line_dedup": q_line_dedup,
    "winnow_fp": q_winnow_fp,
    "winnow_pairs": q_winnow_pairs,
    "embedding_neardup": q_embedding_neardup,
    "multimodal_meta": q_multimodal_meta,
    "multimodal_audio": q_multimodal_audio,
    "multimodal_video": q_multimodal_video,
    "multimodal_pdf": q_multimodal_pdf,
    "beautify_auto": q_beautify_auto,
    "css_misnested": q_css_misnested,
    "error_containment": q_error_containment,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "dedup_clusters": q_dedup_clusters,
    "dedup_keep": q_dedup_keep,
    "link_graph": q_link_graph,
    "c4_filter": q_c4_filter,
    "ngram_counts": q_ngram_counts,
    "sitemap_urls": q_sitemap_urls,
    "robots_check": q_robots_check,
    "unigram_logprob": q_unigram_logprob,
    "image_pipeline": q_image_pipeline,
    "video_frames": q_video_frames,
    "audio_windows": q_audio_windows,
    "corpus_stats": q_corpus_stats,
    "hash_split": q_hash_split,
    "normalize_text": q_normalize_text,
    "redact_pii": q_redact_pii,
    "pack_chunks": q_pack_chunks,
}

# The driver-row rotation in __spark_entry__ slices the first 50 entries
# of BOTH dicts, so their key ORDER must be identical: derive the oracles
# from QUERIES (every op ``name`` has its twin ``q_{name}_sql``).
ORACLES = {name: globals()[f"q_{name}_sql"]() for name in QUERIES}
