"""Spark extraction stage: pages -> triples / errors / text DataFrames.

The reference parses each document once and reads the triples, the
processor-graph errors and the text off that one parse
(lib/RDF/RDFa/Parser.pm:489-544, 2541-2559).  Here that parse lives in
one Arrow kernel, ``_extract``, run by ``mapInArrow`` over the
(url, html) projection of the pages table.  Each public extractor is
that kernel asked for a set of row kinds: ``extract_triples`` 't',
``extract_errors`` 'e', ``extract_text_df`` 'x' and ``extract_all``
all three, with a ``kind`` column because it mixes them.

Failure rule, the same for every extractor: a page whose parse raises
emits one (level='error', code='parse-failed') row if errors were
asked for and nothing else, and adds 1 to the ``parse_failures``
accumulator of ``extract_triples``.  A null html emits nothing.

Scale notes (100 TB design):
* extraction is embarrassingly parallel per url — no shuffle at all
  in this stage; parallelism == input splits
  (`spark.sql.files.maxPartitionBytes` governs task count);
* the kernel reads only (url, html): column pruning reaches the
  parquet scan through that explicit 2-column projection;
* each Arrow batch is parsed in zero-copy row slices capped at
  ``_ARROW_CHUNK_BYTES`` of html, so worker memory is bounded by the
  cap, not by the page or batch size;
* bnode labels are deterministic per url, so re-running a failed
  partition yields identical output — required for resumable,
  idempotent writes (BASELINE north_rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (BooleanType, IntegerType, LongType,
                               StringType, StructField, StructType)

from .core.config import Config, make_config
from .core.walk import parse_rdfa

# Single-pass multi-output layout: one parse per page emits triple
# rows (kind='t'), processor-graph error rows (kind='e') and one text/
# lineage row (kind='x') into a sparse union schema.  Null-heavy
# columns are nearly free in Arrow/parquet (validity bitmaps), and one
# parse replaces the three independent passes a pipeline wanting
# triples+errors+text would otherwise pay (the parse dominates).
EXTRACT_ALL_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("subj", StringType(), True),
    StructField("pred", StringType(), True),
    StructField("obj", StringType(), True),
    StructField("obj_is_literal", BooleanType(), True),
    StructField("obj_datatype", StringType(), True),
    StructField("obj_lang", StringType(), True),
    StructField("graph", StringType(), True),
    StructField("emit_seq", LongType(), True),
    StructField("level", StringType(), True),
    StructField("code", StringType(), True),
    StructField("message", StringType(), True),
    StructField("node_path", StringType(), True),
    StructField("text", StringType(), True),
    StructField("n_triples", IntegerType(), True),
])

# The columns after (url, kind), by the row kind that fills them; the
# kernel's row tuples are (url, *these columns).
_KIND_FIELDS = {"t": EXTRACT_ALL_SCHEMA.fields[2:10],
                "e": EXTRACT_ALL_SCHEMA.fields[10:14],
                "x": EXTRACT_ALL_SCHEMA.fields[14:]}


def _schema(kinds) -> StructType:
    """Output schema for a set of row kinds: url, kind (only when more
    than one kind is emitted), then each kind's columns."""
    head = EXTRACT_ALL_SCHEMA.fields[:2 if len(kinds) > 1 else 1]
    return StructType(head + [f for k, fs in _KIND_FIELDS.items()
                              if k in kinds for f in fs])


TRIPLE_SCHEMA = _schema("t")
ERROR_SCHEMA = _schema("e")
TEXT_SCHEMA = _schema("x")


def _sniff(html: bytes) -> tuple[str, str]:
    """(host language, RDFa version) for a pre-crawled page.

    The reference dispatches on HTTP media type
    (Config.pm:306-331); for a crawl corpus we sniff the bytes: ZIP
    magic -> ODF package, XML declaration or an XHTML namespace on the
    root -> xhtml host, anything else -> html5 tag-soup.  Root
    @version still upgrades/downgrades the RDFa version (guess mode,
    Config.pm:342-367).
    """
    if html[:4] == b"PK\x03\x04":
        return "opendocument-zip", "1.1"
    head = html[:2048].lstrip()
    is_xhtml = (head.startswith(b"<?xml")
                or b'xmlns="http://www.w3.org/1999/xhtml"' in head)
    return ("xhtml" if is_xhtml else "html5"), "guess"


def detect_config(html: bytes) -> Config:
    """Host-language dispatch for pre-crawled pages (see ``_sniff``)."""
    return make_config(*_sniff(html))


_CFG_CACHE: dict[tuple, Config] = {}


def _config_for(html: bytes, config: Config | None) -> Config:
    if config is not None:
        return config
    key = _sniff(html)
    cfg = _CFG_CACHE.get(key)
    if cfg is None:
        cfg = _CFG_CACHE[key] = make_config(*key)
    return cfg


# Per-chunk cap on html bytes materialized as Python objects: an
# incoming Arrow batch of max-size pages would otherwise be held
# TWICE (Arrow buffer + to_pylist copies) alongside the full batch's
# accumulated output rows.  Chunking bounds the Python-side peak to
# ~cap regardless of page sizes; the Arrow buffer itself is sliced
# zero-copy.
_ARROW_CHUNK_BYTES = 32 << 20
_ARROW_CHUNK_ROWS = 2048


def _chunk_bounds(lengths, max_bytes: int, max_rows: int):
    """Greedy (start, stop) row ranges whose summed byte lengths stay
    under max_bytes (always >= 1 row per chunk, so a single page
    larger than the cap still processes)."""
    bounds = []
    start, acc = 0, 0
    for i, ln in enumerate(lengths):
        ln = ln or 0
        if i > start and (acc + ln > max_bytes
                          or i - start >= max_rows):
            bounds.append((start, i))
            start, acc = i, 0
        acc += ln
    if start < len(lengths):
        bounds.append((start, len(lengths)))
    return bounds


def _extract(batches, config: Config | None, kinds, fail_acc=None):
    """The extraction kernel: Arrow (url, html) batches in, Arrow
    batches of ``_schema(kinds)`` out, for ``kinds`` any of 't'
    (triples), 'e' (errors) and 'x' (text).

    Each incoming batch is cut by ``_chunk_bounds`` into zero-copy row
    slices, and each page of a slice is parsed once.  Per slice, one
    batch per requested kind is yielded (possibly empty), its other
    kinds' columns all null.  A page whose parse raises adds 1 to
    ``fail_acc`` (a Spark accumulator) when one is given; its only row
    is a parse-failed error row, emitted when 'e' is requested."""
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    kinds = [k for k in _KIND_FIELDS if k in kinds]
    schema = to_arrow_schema(_schema(kinds))
    want_t, want_e, want_x = ("t" in kinds), ("e" in kinds), ("x" in kinds)
    for rb in batches:
        url_col = rb.column(rb.schema.get_field_index("url"))
        html_col = rb.column(rb.schema.get_field_index("html"))
        # per-row byte lengths straight from the Arrow offsets (no
        # data copy) drive the chunking
        lens = pc.binary_length(html_col).to_pylist()
        for lo, hi in _chunk_bounds(lens, _ARROW_CHUNK_BYTES,
                                    _ARROW_CHUNK_ROWS):
            rows = {k: [] for k in kinds}
            for url, html in zip(url_col.slice(lo, hi - lo).to_pylist(),
                                 html_col.slice(lo, hi - lo).to_pylist()):
                if html is None:
                    continue
                try:
                    w = parse_rdfa(html, url, _config_for(html, config))
                except Exception as exc:   # never fail the job on one page
                    if fail_acc is not None:
                        fail_acc.add(1)
                    if want_e:
                        rows["e"].append((url, "error", "parse-failed",
                                          str(exc)[:500], None))
                    continue
                if want_t:
                    rows["t"].extend(
                        (url, t.subj, t.pred, t.obj, t.is_literal,
                         t.datatype, t.lang, t.graph, seq)
                        for seq, t in enumerate(w.triples))
                if want_e:
                    rows["e"].extend(
                        (url, e.level, e.code, e.message, e.node_path)
                        for e in w.errors)
                if want_x:
                    rows["x"].append(
                        (url, w.doc.root.text_content()
                         if w.doc.root is not None else "",
                         len(w.triples)))
            for kind, kind_rows in rows.items():
                yield _block(schema, kind, kind_rows)


def _block(schema, kind: str, rows: list):
    """One output RecordBatch of ``kind`` rows: the row tuples
    transposed into the kind's own columns, every other column null."""
    import pyarrow as pa

    n = len(rows)
    names = ["url"] + [f.name for f in _KIND_FIELDS[kind]]
    cols = dict(zip(names, zip(*rows)))
    return pa.RecordBatch.from_arrays(
        [pa.array([kind] * n, f.type) if f.name == "kind"
         else pa.array(cols[f.name], f.type) if f.name in cols
         else pa.nulls(n, f.type)
         for f in schema],
        names=schema.names)


def extract_all(pages: DataFrame,
                config: Config | None = None) -> DataFrame:
    """Single-pass extraction: triples + processor-graph errors +
    text/lineage from ONE parse per page (the parse dominates the
    stage cost; three dedicated passes would pay it three times).

    Materialize (persist or write) the result once, then split with
    ``split_extracts``.  Parse failures appear as
    (kind='e', code='parse-failed') rows — never silently dropped.
    """
    return pages.select("url", "html").mapInArrow(
        lambda it: _extract(it, config, "tex"), EXTRACT_ALL_SCHEMA)


def split_extracts(all_df: DataFrame) -> tuple[DataFrame, DataFrame,
                                               DataFrame]:
    """(triples, errors, texts) views over an ``extract_all`` result,
    each with the exact schema of the dedicated extractor.  On a
    parquet-materialized extract the kind filter is pushed to the
    scan; on a persisted DataFrame it's a cheap in-memory filter."""
    triples = (all_df.filter(F.col("kind") == "t")
               .select(*[f.name for f in TRIPLE_SCHEMA.fields]))
    errors = (all_df.filter(F.col("kind") == "e")
              .select(*[f.name for f in ERROR_SCHEMA.fields]))
    texts = (all_df.filter(F.col("kind") == "x")
             .select(*[f.name for f in TEXT_SCHEMA.fields]))
    return triples, errors, texts


def extract_triples(pages: DataFrame, config: Config | None = None,
                    dedup: bool = False) -> DataFrame:
    """pages(url, html, ...) -> triples DataFrame.

    ``dedup=True`` additionally enforces cross-document set semantics
    (the walker already dedups within a document, mirroring the
    reference's set-store A4) — a shuffle, so off by default.

    A page that fails to parse emits no triples (the kernel's failure
    rule), but it is never silently lost: a Spark accumulator counts
    it, exposed as ``result.parse_failures`` (read ``.value`` after an
    action).  Accumulators updated inside transformations are
    at-least-once under task retries/speculation (standard Spark
    semantics), so treat the count as a monitoring signal: nonzero
    means pages failed.  For an exact, retry-safe audit — or the
    failing urls themselves — use ``extract_all`` or
    ``extract_errors``, which emit each failure as a
    (code='parse-failed') error row in the output itself.

    ``parse_failures`` is an attribute of THIS DataFrame object only:
    any further transformation (select/filter/cache) returns a new
    DataFrame without it — capture the handle before transforming, or
    use ``extract_all`` for in-band accounting.
    """
    fail_acc = pages.sparkSession.sparkContext.accumulator(0)
    out = pages.select("url", "html").mapInArrow(
        lambda it: _extract(it, config, "t", fail_acc), TRIPLE_SCHEMA)
    if dedup:
        out = out.dropDuplicates(
            ["url", "subj", "pred", "obj", "obj_is_literal",
             "obj_datatype", "obj_lang", "graph"])
    out.parse_failures = fail_acc
    return out


def extract_errors(pages: DataFrame,
                   config: Config | None = None) -> DataFrame:
    """Processor-graph analogue (Parser.pm:469-487) as a DataFrame."""
    return pages.select("url", "html").mapInArrow(
        lambda it: _extract(it, config, "e"), ERROR_SCHEMA)


def extract_text_df(pages: DataFrame,
                    config: Config | None = None) -> DataFrame:
    """F1 text-concatenation rule per url (byte-identical invariant,
    Parser.pm:2541-2559), plus triple counts for metrics."""
    return pages.select("url", "html").mapInArrow(
        lambda it: _extract(it, config, "x"), TEXT_SCHEMA)


# ---------------------------------------------------------------------------
# Queries over the triples table (the reference's model accessors)
# ---------------------------------------------------------------------------

OG_NS = "http://ogp.me/ns#"
OG_ALT_NS = "http://opengraphprotocol.org/schema/"


def opengraph(triples: DataFrame, prop: str | None = None) -> DataFrame:
    """P11 — the reference's built-in query (Parser.pm:259-328):
    triples whose subject is the page URI and whose predicate is an
    OpenGraph expansion; prefix stripped from the property key."""
    df = triples.filter(F.col("subj") == F.col("url"))
    if prop is not None:
        preds = ([prop] if ":" in prop.split("/")[0] and "://" in prop
                 else [OG_NS + prop, OG_ALT_NS + prop])
        df = df.filter(F.col("pred").isin(preds))
    else:
        df = df.filter(F.col("pred").startswith(OG_NS)
                       | F.col("pred").startswith(OG_ALT_NS))
    return df.select(
        "url",
        F.regexp_replace("pred", f"^({OG_NS}|{OG_ALT_NS})", "")
         .alias("property"),
        F.col("obj").alias("value"),
    )


def with_context_graph(triples: DataFrame, context: str) -> DataFrame:
    """Wrap statements into a caller-supplied context quad — the
    TrineX ``parse_url_into_model`` context option
    (TrineX/Parser/RDFa.pm:127-151, t/10trine.t)."""
    return triples.withColumn("graph", F.lit(context))


def opengraph_collect(triples: DataFrame) -> DataFrame:
    """A3 — group OpenGraph values per (page, property) into an
    ordered list (Parser.pm:282-319), surfaced as a sorted
    comma-joined string for engine-portable comparison."""
    og = opengraph(triples)
    return (og.groupBy("url", "property")
            .agg(F.concat_ws(",", F.sort_array(F.collect_list("value")))
                 .alias("values")))


RDFA_NS = "http://www.w3.org/ns/rdfa#"


def processor_graph(errors: DataFrame) -> DataFrame:
    """Reify the errors table into RDF (the reference's
    processor_graph, Parser.pm:374-458): one bnode per error with
    rdf:type rdfa:Error/rdfa:Warning, dc:description = message,
    rdfa:context = the page url.  Returns a triples-shaped DataFrame
    so it unions with the output graph (U1,
    processor_and_output_graph, Parser.pm:460-467)."""
    bnode = F.concat(F.lit("_:err"),
                     F.md5(F.concat_ws("|", "url", "code", "message",
                                       F.coalesce("node_path",
                                                  F.lit("")))))
    base = errors.select(
        "url", bnode.alias("subj"),
        F.when(F.col("level") == "error", F.lit(RDFA_NS + "Error"))
         .otherwise(F.lit(RDFA_NS + "Warning")).alias("type_obj"),
        F.col("message"), F.col("code"))
    mk = lambda pred, obj, lit: base.select(  # noqa: E731
        "url", "subj", F.lit(pred).alias("pred"), obj.alias("obj"),
        F.lit(lit).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("graph"),
        F.lit(0).cast("long").alias("emit_seq"))
    return (mk("http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
               F.col("type_obj"), False)
            .unionByName(mk("http://purl.org/dc/terms/description",
                            F.col("message"), True))
            .unionByName(mk(RDFA_NS + "context", F.col("url"), False)))


def processor_and_output_graph(triples: DataFrame,
                               errors: DataFrame) -> DataFrame:
    """U1 — union of the output graph and the reified processor
    graph (Parser.pm:460-467)."""
    return triples.unionByName(processor_graph(errors))


def canonicalize_literals(triples: DataFrame) -> DataFrame:
    """F8 — optional xsd literal canonicalization
    (TrineX/Parser/RDFa.pm:163-172; off by default, as in the
    reference): canonical lexical forms for xsd integer/decimal/
    boolean typed literals, pure column expressions."""
    XSD = "http://www.w3.org/2001/XMLSchema#"
    obj, dt = F.col("obj"), F.col("obj_datatype")
    is_lit = F.col("obj_is_literal")
    canon = (
        F.when(is_lit & (dt == XSD + "integer")
               & obj.rlike(r"^[+-]?\d+$"),
               F.col("obj").cast("decimal(38,0)").cast("string"))
         .when(is_lit & (dt == XSD + "boolean")
               & obj.isin("0", "false", "FALSE", "False"),
               F.lit("false"))
         .when(is_lit & (dt == XSD + "boolean")
               & obj.isin("1", "true", "TRUE", "True"),
               F.lit("true"))
         .when(is_lit & (dt == XSD + "decimal")
               & obj.rlike(r"^[+-]?\d+(\.\d+)?$"),
               F.col("obj").cast("decimal(38,10)").cast("string"))
         .otherwise(obj))
    return triples.withColumn("obj", canon)


def graph_counts(triples: DataFrame) -> DataFrame:
    """A1 — named-graph partition counts (Parser.pm:245-257)."""
    return (triples
            .groupBy(F.coalesce("graph", F.lit("(default)"))
                     .alias("graph"))
            .agg(F.count("*").alias("n_triples")))


def count_statements(triples: DataFrame, subj=None, pred=None, obj=None,
                     graph=None) -> int:
    """A2 — count_statements pattern matching."""
    df = triples
    for col, val in (("subj", subj), ("pred", pred), ("obj", obj),
                     ("graph", graph)):
        if val is not None:
            df = df.filter(F.col(col) == val)
    return df.count()
