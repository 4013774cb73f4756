"""Deterministic page synthesis: documents table -> pages table.

BASELINE.json's input_hint mandates a pages table
``(url, warc_ts, html, text, lang)``; no external data is allowed, so
we render Common-Crawl-style RDFa pages *deterministically* from the
driver's ``documents`` parquet (TESTDATA.md).  Because rendering is a
pure column expression over documents rows, the expected extraction
output is itself expressible in ANSI SQL over ``documents`` — which
is what wires the whole extraction pipeline to the driver's DuckDB
oracle (__spark_entry__.py).

Three templates cycle by doc_id % 3, covering the host-language
matrix: XHTML+RDFa 1.1, HTML5 tag-soup (+ @lang), XHTML+RDFa 1.0
(@version guessing).  All rendering is Spark built-ins (JVM-side,
whole-stage codegen) — no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

URL_PREFIX = "http://example.org/doc/"
EPOCH = 1704067200  # 2024-01-01T00:00:00Z

DC = "http://purl.org/dc/terms/"
OG = "http://ogp.me/ns#"
SCHEMA = "http://schema.org/"
OG_TYPES = ["article", "website", "profile"]  # template 0/1/2


def _esc(col: Column) -> Column:
    """XML text/attribute escaping (both sides must round-trip so the
    extracted text stays byte-identical to documents.text).  Literal
    ``replace`` instead of ``regexp_replace``: the patterns are plain
    characters, and the regex engine costs ~35% more per call on the
    page-synthesis path that every extraction query executes
    (verified byte-identical over the corpus)."""
    c = F.replace(col, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    c = F.replace(c, F.lit(">"), F.lit("&gt;"))
    return F.replace(c, F.lit('"'), F.lit("&quot;"))


def url_col(doc_id: Column) -> Column:
    return F.concat(F.lit(URL_PREFIX),
                    F.lpad(doc_id.cast("string"), 6, "0"))


def title_col(doc_id: Column) -> Column:
    return F.concat(F.lit("Doc "), doc_id.cast("string"))


def entity_label_col(doc_id: Column) -> Column:
    """Entity-mention surface forms: same logical entity
    (doc_id % 40) appears in three formatting variants so the
    linking + canonicalization stages have real work to do."""
    k = F.lpad((doc_id % 40).cast("string"), 3, "0")
    v = doc_id % 3
    return (F.when(v == 0, F.concat(F.lit("Entity "), k))
             .when(v == 1, F.concat(F.lit("entity "), k))
             .otherwise(F.concat(F.lit("Entity-"), k)))


def rel_target_col(doc_id: Column, n_docs: int) -> Column:
    return url_col((doc_id * 7 + 1) % F.lit(n_docs))


def _render_html(doc_id: Column, title_e: Column, source_e: Column,
                 entity_e: Column, text_e: Column, lang: Column,
                 rel_target: Column) -> Column:
    tpl = doc_id % 3

    # textless markup soup (nav/footer chrome): no text nodes, no
    # RDFa attributes — makes the corpus Common-Crawl-shaped (most
    # elements are irrelevant to extraction) without touching the
    # text invariant or the triple oracle
    soup = ('<div class="nav"><ul class="menu">'
            + '<li class="mi"><a class="lnk"><span class="ic"></span>'
              '</a></li>' * 8
            + '</ul></div><div class="hero"><img class="b"/>'
              '<div class="grid">'
            + '<div class="cell"><span class="badge"></span></div>' * 6
            + "</div></div>")
    footer = ('<div class="footer"><ul class="cols">'
              + '<li class="col"><span class="s"></span></li>' * 6
              + "</ul></div>")

    body = F.concat(
        F.lit(f'<body>{soup}'
              '<div about="#main" typeof="schema:Article">'
              '<span property="dc:source">'), source_e,
        F.lit('</span><span about="#person" typeof="schema:Person" '
              'property="schema:name" content="'), entity_e,
        F.lit('">who</span><a rel="dc:relation" href="'), rel_target,
        F.lit('">rel</a><p property="dc:description">'), text_e,
        F.lit(f"</p></div>{footer}</body></html>"),
    )
    body_10 = F.concat(
        F.lit(f'<body>{soup}<div about="#main">'
              '<span property="dc:source">'), source_e,
        F.lit('</span><span about="#person" typeof="schema:Person" '
              'property="schema:name" content="'), entity_e,
        F.lit('">who</span><a rel="dc:relation" href="'), rel_target,
        F.lit('">rel</a><p property="dc:description">'), text_e,
        F.lit(f"</p></div>{footer}</body></html>"),
    )
    # template 1 carries a deliberate non-expandable @property token so
    # the processor-graph/errors pipeline has deterministic work
    # (one curie-fellthrough warning per T1 page; no triple emitted)
    head = lambda og_type, xml_style, extra="": F.concat(  # noqa: E731
        F.lit('<head><title property="dc:title">'), title_e,
        F.lit('</title><meta property="og:title" content="'), title_e,
        F.lit(f'"{" /" if xml_style else ""}>'
              f'<meta property="og:type" content="{og_type}"'
              f'{" /" if xml_style else ""}>{extra}</head>'),
    )

    xhtml11 = F.concat(
        F.lit('<?xml version="1.0" encoding="UTF-8"?>'
              '<html xmlns="http://www.w3.org/1999/xhtml" xml:lang="'),
        lang, F.lit('">'), head("article", True), body)
    html5 = F.concat(
        F.lit('<!DOCTYPE html><html lang="'), lang, F.lit('">'),
        head("website", False,
             '<meta property="!!bad" content="">'), body)
    xhtml10 = F.concat(
        F.lit('<html xmlns="http://www.w3.org/1999/xhtml" '
              'version="XHTML+RDFa 1.0" '
              'xmlns:dc="http://purl.org/dc/terms/" '
              'xmlns:og="http://ogp.me/ns#" '
              'xmlns:schema="http://schema.org/" xml:lang="'),
        lang, F.lit('">'), head("profile", True), body_10)

    return (F.when(tpl == 0, xhtml11)
             .when(tpl == 1, html5)
             .otherwise(xhtml10))


def expected_text_col(title: Column, source: Column,
                      text: Column) -> Column:
    """The byte-identical text invariant: document-order concat of the
    templates' text nodes (title, source, 'who', 'rel', body text) —
    the reference's _element_to_string rule (Parser.pm:2541-2559)."""
    return F.concat(title, source, F.lit("who"), F.lit("rel"), text)


def pages_from_documents(documents: DataFrame,
                         n_docs: int | None = None) -> DataFrame:
    """documents(doc_id, text, lang, source, n_chars) ->
    pages(url, warc_ts, html, text, lang) per the input_hint."""
    if n_docs is None:
        n_docs = documents.count()
    d = F.col("doc_id")
    title = title_col(d)
    html = _render_html(
        d, _esc(title), _esc(F.col("source")),
        _esc(entity_label_col(d)), _esc(F.col("text")),
        F.col("lang"), rel_target_col(d, n_docs))
    return documents.select(
        url_col(d).alias("url"),
        F.timestamp_seconds(F.lit(EPOCH) + d).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        expected_text_col(title, F.col("source"), F.col("text"))
         .alias("text"),
        F.col("lang").alias("lang"),
    )


def _parquet_num_rows(path: str) -> int | None:
    """Exact row count from local parquet footer metadata (file or
    directory of top-level part files); None when the path isn't
    local or no top-level part file matched (e.g. a partitioned
    directory), so the caller falls back to a Spark count."""
    import os

    import pyarrow.parquet as pq

    try:
        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        if os.path.isdir(path):
            parts = [os.path.join(path, f) for f in os.listdir(path)
                     if f.endswith(".parquet")]
            if parts:
                return sum(pq.ParquetFile(f).metadata.num_rows
                           for f in parts)
    except Exception:
        return None
    return None


def load_pages(spark: SparkSession, sf_dir: str,
               n_docs: int | None = None,
               replicate: int = 1,
               partitions: int | None = None) -> DataFrame:
    """Pages table from the driver's documents parquet.

    ``replicate`` deterministically amplifies the corpus (distinct
    urls via a ?rep= suffix) for throughput benchmarking;
    ``partitions`` repartitions up front — the documents parquet is a
    single small file (1 input split), which would otherwise serialize
    the embarrassingly-parallel extraction stage."""
    path = f"{sf_dir}/documents.parquet"
    docs = spark.read.parquet(path)
    if n_docs is None:
        # exact row count from the parquet footer(s), driver-side —
        # saves one Spark count() job per extraction query (the
        # footer's num_rows is authoritative; a directory store sums
        # its part files).  Falls back to the Spark count for
        # non-local filesystems.
        n_docs = _parquet_num_rows(path)
    if partitions is None:
        # the documents parquet is one small file (one input split);
        # extraction is compute-bound, so spread it across the cluster
        partitions = spark.sparkContext.defaultParallelism * 2
    if partitions:
        docs = docs.repartition(partitions)
    pages = pages_from_documents(docs, n_docs)
    if replicate > 1:
        reps = F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        pages = (pages.withColumn("rep", reps)
                 .withColumn("url", F.concat(
                     "url", F.lit("?rep="), F.col("rep").cast("string")))
                 .drop("rep"))
    return pages
