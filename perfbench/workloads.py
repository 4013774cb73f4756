"""The benchmark's workloads, output checks and layer ledger.

Each workload is a closed loop run from this one Python process at
local[nproc]: one job (or one query) at a time.  Untraced runs report
the end-to-end metrics; a traced run wraps every call into a layer's
public function in a span, forces the layer's output at its boundary
and reports the per-layer metrics.
"""

from __future__ import annotations

import inspect
import os
import random
import re
import statistics
import sys
import time
from collections import Counter

import numpy as np

import gen
from tracing import RssSampler, SparkCounts, Tracer

# Sizes keep one run near a minute on 4 cores, where a Spark session
# and its first jobs alone take ~20 s.
CRAWL_DOCS = 1500          # ~2 KB pages, ~8.7 triples each
CRAWL_REPLICATE = 2        # -> 3000 pages
KG_DOCS = 600
KG_DUP_FRAC = 0.1          # near-duplicate pages: same body text
KG_BATCHES = 4             # run stops after 2; a fresh instance resumes
KG_BUCKETS = 8
KG_SLICE_DOCS = 400        # kg corpus of the crawl_mix traced run
ANN_K = 10
SETUP_ROUNDS = 3           # setup_s reports the median round
MIN_OPS = 3                # extraction jobs per run, at least
MIN_QUERIES = 100          # >= 10 queries beyond the p90
CORE_SAMPLE = 300          # pages in the single-thread core ledger
LEDGER_REPS = 2

# one client cycle of the seeded query mix.  The proportions are
# invented, not taken from an observed workload: the light kinds (one
# filtered scan of the store each) are 80% of queries, so the p50 falls
# among them, and the heavy slots, which rotate over the join and the
# three ANN operators, are 20%, so the p90 falls in the middle of the
# heavy tier rather than above it.
QUERY_CYCLE = ["point"] * 8 + ["og"] * 4 + ["nt"] * 4 + ["heavy"] * 4
HEAVY_KINDS = ("bgp", "cosine", "lsh", "ivf")

# span names start with one of these; the traced run reports each
# layer's self time
LAYERS = ("spark", "pages", "core", "extract", "dedup", "linking", "cc",
          "materialize", "query", "similarity", "sinks")


def now() -> float:
    return time.perf_counter()


def median(xs) -> float:
    return statistics.median(xs)


def p90(xs) -> float:
    return (statistics.quantiles(xs, n=10, method="inclusive")[-1]
            if len(xs) > 1 else xs[0])


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Run:
    """State of one benchmark run: session, counters and metrics."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool, work: str, cpus: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.work = work
        self.cpus = cpus
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.tracer = Tracer(f"{workload}-{seed}", False)
        self.t0 = now()

    def log(self, msg: str) -> None:
        print(f"[perfbench {now() - self.t0:6.1f}s] {msg}", file=sys.stderr,
              flush=True)

    # -- session ------------------------------------------------------
    def start_spark(self):
        from rdfa_spark.session import get_spark
        tmp = os.path.join(self.work, "tmp")
        self.spark = get_spark(
            app_name="perfbench", cpus=self.cpus,
            extra_conf={
                # scratch dirs come from SPARK_LOCAL_DIRS (run.py)
                "spark.driver.extraJavaOptions": (
                    f"-XX:ActiveProcessorCount={self.cpus} "
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                "spark.ui.showConsoleProgress": "false",
            })
        if self.traced:
            self.tracer = Tracer(self.tracer.run_id, True,
                                 SparkCounts(self.spark))
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.spark = None

    # -- accounting ---------------------------------------------------
    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED [{self.workload}] {what}: {detail}",
                  file=sys.stderr)
        return ok

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def path(self, name: str) -> str:
        """A fresh directory under the run's work dir."""
        p = os.path.join(self.work, name)
        os.makedirs(p)
        return p

    def finish_trace(self, out_dir: str) -> None:
        """Per-layer self times, ops_failed_frac and the span dump."""
        self_s = self.tracer.self_seconds()
        for layer in LAYERS:
            self.metric(f"self.{layer}_s", self_s.get(layer, 0.0), "s")
        self.metric("ops_failed_frac",
                    self.failed / max(self.attempted, 1), "ratio")
        os.makedirs(out_dir, exist_ok=True)
        self.tracer.write(os.path.join(
            out_dir, f"spans-{self.workload}-{self.seed}.jsonl"))


# ---------------------------------------------------------------------------
# setup
# ---------------------------------------------------------------------------

def setup(r: Run, prepare) -> tuple:
    """Session start + ``SETUP_ROUNDS`` input preparations; returns
    (the last round's inputs, setup_s), where setup_s = session start
    + the median round (the rounds repeat the same seeded inputs)."""
    t = now()
    r.start_spark()
    session_s = now() - t
    r.log(f"session: {session_s:.1f}s")
    rounds, inputs = [], None
    for i in range(SETUP_ROUNDS):
        if inputs is not None:
            inputs.release()
        t = now()
        inputs = prepare(r, i)
        rounds.append(now() - t)
        r.log(f"setup round {i}: {rounds[-1]:.1f}s")
    return inputs, session_s + median(rounds)


class CrawlInputs:
    def __init__(self, r: Run, rnd: int):
        from pyspark.sql import functions as F
        from rdfa_spark.pages import load_pages
        self.docs = gen.documents(r.seed, CRAWL_DOCS)
        self.dir = r.path(f"crawl{rnd}")
        gen.write_documents(self.docs, os.path.join(self.dir,
                                                    "documents.parquet"))
        key = F.xxhash64("url", F.lit(r.seed))
        self.pages = (load_pages(r.spark, self.dir,
                                 replicate=CRAWL_REPLICATE)
                      .repartition(2 * r.cpus, key)
                      .sortWithinPartitions(key)
                      .persist())
        self.n_pages = self.pages.count()
        self.triples = 0
        self.obj_chars = 0
        for i in range(CRAWL_DOCS):
            ts = gen.planted_triples(self.docs, i, gen.url(i))
            self.triples += len(ts)
            self.obj_chars += sum(len(t[3]) for t in ts)
        self.triples *= CRAWL_REPLICATE
        self.obj_chars *= CRAWL_REPLICATE

    def release(self) -> None:
        self.pages.unpersist(blocking=True)


# ---------------------------------------------------------------------------
# crawl_mix
# ---------------------------------------------------------------------------

def extraction_job(r: Run, inp: CrawlInputs) -> float:
    """One timed extract_triples job to the noop sink; its row count and
    literal length are observed in-band and checked after it ends."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from rdfa_spark.extract import extract_triples
    with r.tracer.span("spark.extraction_job"):
        with r.tracer.span("extract.extract_triples"):
            t = now()
            df = extract_triples(inp.pages)
            obs = Observation("triples")
            noop(df.observe(obs, F.count(F.lit(1)).alias("n"),
                            F.sum(F.length("obj")).alias("chars")))
            wall = now() - t
    got = obs.get
    fails = df.parse_failures.value
    r.attempted += inp.n_pages + 1
    r.failed += fails
    r.check("crawl_mix triple count and literal chars",
            got["n"] == inp.triples and got["chars"] == inp.obj_chars,
            f"{got} vs n={inp.triples} chars={inp.obj_chars}")
    return wall


def check_text(r: Run, pages, extracted) -> dict:
    """Byte-identical text per url, and extract_all's row counts."""
    from pyspark.sql import functions as F
    counts = {row["kind"]: row["n"] for row in
              extracted.groupBy("kind").agg(F.count("*").alias("n"))
              .collect()}
    parse_failed = extracted.filter(
        F.col("code") == "parse-failed").count()
    x = extracted.filter(F.col("kind") == "x").select(
        "url", F.col("text").alias("got"))
    bad = (pages.select("url", "text").join(x, "url", "left")
           .filter(F.col("got").isNull() | (F.col("got") != F.col("text")))
           .count())
    r.check("extracted text byte-identical to pages.text", bad == 0,
            f"{bad} urls differ")
    r.check("no parse-failed pages", parse_failed == 0,
            f"{parse_failed} parse-failed")
    return {"rows_out": sum(counts.values()), "triples": counts.get("t", 0),
            "errors": counts.get("e", 0), "parse_failed": parse_failed}


def crawl_mix(r: Run) -> None:
    from rdfa_spark.extract import extract_all
    inp, setup_s = setup(r, CrawlInputs)
    # worker and JIT warm-up: the first pass over the cached pages is
    # extract_all, whose rows are the text check, then one untimed job
    t = now()
    extracted = extract_all(inp.pages).persist()
    counts = check_text(r, inp.pages, extracted)
    extracted.unpersist()
    enabled, r.tracer.enabled = r.tracer.enabled, False
    extraction_job(r, inp)
    r.tracer.enabled = enabled
    setup_s += now() - t
    r.log(f"setup done: {setup_s:.1f}s")
    walls, traced_walls = [], []
    with RssSampler() as rss:
        deadline = now() + r.seconds
        while now() < deadline or len(walls) < MIN_OPS:
            if r.traced:
                # untraced and traced jobs alternate: the difference is
                # the tracing overhead
                r.tracer.enabled = False
                walls.append(extraction_job(r, inp))
                r.tracer.enabled = True
                traced_walls.append(extraction_job(r, inp))
            else:
                walls.append(extraction_job(r, inp))
    r.log(f"window done: {len(walls)} jobs, walls {walls}")
    wall = median(walls)
    if not r.traced:
        r.metric("setup_s", setup_s, "s")
        r.metric("pages_per_s", inp.n_pages / wall, "pages/s")
        r.metric("triples_per_s", inp.triples / wall, "triples/s")
        # one extraction job is the loop's request and its commit unit
        r.metric("batch_commit_p50_s", wall, "s")
        r.metric("query_p50_ms", 1000 * wall, "ms")
        r.metric("query_p90_ms", 1000 * p90(walls), "ms")
        r.metric("worker_peak_rss_mb", rss.peak_mb, "MB")
        return
    r.metric("trace.overhead_frac", median(traced_walls) / wall - 1,
             "ratio")
    report_spark_counts(r, "spark.extraction_job")
    for k, v in counts.items():
        r.metric(f"extract.{k}", v, "count")
    from rdfa_spark.extract import extract_triples
    ledger_extraction(r, inp.dir, CRAWL_REPLICATE, inp.pages, inp.docs,
                      extract_triples)
    # the kg stages on a small kg corpus, so that every workload's
    # traced run reports every layer
    kg = KgInputs(r, 0, n_docs=KG_SLICE_DOCS)
    out = r.path("slice_store")
    kg_build(r, kg, out)
    store = r.spark.read.parquet(os.path.join(out, "triples"))
    client = QueryClient(r, kg, store)
    for kind in ("point", "og", "nt") + HEAVY_KINDS:
        client.query(kind)
    client.report()


def report_spark_counts(r: Run, op_span: str) -> None:
    """spark.* per-layer metrics: per workload operation (one
    extraction job, or one build)."""
    for k, v in r.tracer.per_span_counts(op_span).items():
        r.metric(f"spark.{k}", v, "count")


# ---------------------------------------------------------------------------
# the extraction-side layer ledger (traced runs)
# ---------------------------------------------------------------------------

def ledger_extraction(r: Run, docs_dir: str, replicate: int, pages, docs,
                      extractor) -> None:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from rdfa_spark.pages import load_pages
    tr = r.tracer
    synth, rows = [], 0
    for _ in range(LEDGER_REPS):
        with tr.span("pages.load_pages"):
            t = now()
            obs = Observation("pages")
            noop(load_pages(r.spark, docs_dir, replicate=replicate)
                 .observe(obs, F.count(F.lit(1)).alias("n")))
            synth.append(now() - t)
        rows = obs.get["n"]
    r.metric("pages.synth_s", median(synth), "s")
    r.metric("pages.rows", rows, "count")

    proj = pages.select("url", "html")
    boundary, job = [], []
    for _ in range(LEDGER_REPS):
        with tr.span("extract.identity_map_in_arrow"):
            t = now()
            noop(proj.mapInArrow(lambda it: it, proj.schema))
            boundary.append(now() - t)
        with tr.span(f"extract.{extractor.__name__}"):
            t = now()
            noop(extractor(pages))
            job.append(now() - t)
    r.metric("extract.boundary_s", median(boundary), "s")
    r.metric("extract.job_s", median(job), "s")
    r.metric("extract.kernel_s", median(job) - median(boundary), "s")

    n = pages.count()
    sample = [(row["url"], row["html"], row["text"]) for row in
              pages.sample(fraction=min(1.0, 1.5 * CORE_SAMPLE / n),
                           seed=r.seed)
              .select("url", "html", "text").limit(CORE_SAMPLE).collect()]
    planted = {}
    for i in range(len(docs["doc_id"])):
        planted[gen.url(i)] = len(gen.planted_triples(docs, i, gen.url(i)))
    expected = [(t, planted[u.split("?")[0]]) for u, _, t in sample]
    with tr.span("core.ledger"):
        ledger_core(r, "core", [(u, bytes(h)) for u, h, _ in sample],
                    expected)
        soup = gen.soup_pages(r.seed)
        with tr.span("core.soup_ledger"):
            ledger_core(r, "core.soup",
                        [(p["url"], p["html"]) for p in soup],
                        [(p["text"], p["n_triples"]) for p in soup])


def ledger_core(r: Run, prefix: str, pages: list[tuple[str, bytes]],
                expected: list[tuple[str, int]]) -> None:
    """Single-thread, no Spark: DOM parse, walk over docs parsed in
    advance, and the full per-page call, each the median of
    ``LEDGER_REPS`` passes over the sample."""
    from rdfa_spark.core.dom import parse_markup
    from rdfa_spark.core.walk import Walker, parse_rdfa
    from rdfa_spark.extract import detect_config
    cfgs = [detect_config(h) for _, h in pages]
    n, mb = len(pages), sum(len(h) for _, h in pages) / 1e6
    parse, walk, full = [], [], []
    for _ in range(LEDGER_REPS):
        t = now()
        docs = [parse_markup(h, c.dom_parser)
                for (_, h), c in zip(pages, cfgs)]
        parse.append(now() - t)
        t = now()
        for (u, _), c, d in zip(pages, cfgs, docs):
            Walker(d, u, c).consume()
        walk.append(now() - t)
        t = now()
        walkers = [parse_rdfa(h, u, c) for (u, h), c in zip(pages, cfgs)]
        full.append(now() - t)
    bad = sum(1 for w, (text, n_triples) in zip(walkers, expected)
              if w.doc.root.text_content() != text
              or len(w.triples) != n_triples)
    r.check(f"{prefix} text and planted triples", bad == 0,
            f"{bad} of {n} pages differ")
    r.metric(f"{prefix}.parse_pages_per_s", n / median(parse), "pages/s")
    r.metric(f"{prefix}.parse_mb_per_s", mb / median(parse), "MB/s")
    r.metric(f"{prefix}.walk_pages_per_s", n / median(walk), "pages/s")
    r.metric(f"{prefix}.parse_rdfa_pages_per_s", n / median(full),
             "pages/s")


# ---------------------------------------------------------------------------
# kg: build (filter -> interrupted + resumed extraction -> link -> cc)
# and a closed-loop query client over the store it wrote
# ---------------------------------------------------------------------------

class KgInputs:
    def __init__(self, r: Run, rnd: int, n_docs: int = KG_DOCS):
        from rdfa_spark.pages import load_pages
        self.docs = gen.documents(r.seed, n_docs, KG_DUP_FRAC)
        self.dir = r.path(f"kg{rnd}")
        gen.write_documents(self.docs, os.path.join(self.dir,
                                                    "documents.parquet"))
        self.pages_path = os.path.join(self.dir, "pages.parquet")
        load_pages(r.spark, self.dir).write.parquet(self.pages_path)
        emb = gen.embeddings(r.seed)
        self.emb_path = os.path.join(self.dir, "embeddings.parquet")
        gen.write_embeddings(emb, self.emb_path)
        self.vecs = emb["embedding"].astype(np.float64)
        self.items = r.spark.read.parquet(self.emb_path).persist()
        self.items.count()
        self.n_pages = n_docs
        # exact text dedup keeps the smallest url of each page text
        first: dict[str, int] = {}
        for i in range(n_docs):
            first.setdefault(gen.page_text(self.docs, i), i)
        self.kept = sorted(first.values())
        self.triples = [t for i in self.kept
                        for t in gen.planted_triples(self.docs, i,
                                                     gen.url(i))]
        self.entities = len({i % gen.N_ENTITIES for i in self.kept})

    def release(self) -> None:
        self.items.unpersist(blocking=True)


def build_stages(r: Run, pages, out: str) -> dict:
    """The scripts/run_pipeline.py stage sequence through public
    functions, after corpus filtering; returns per-stage walls."""
    from rdfa_spark.pipeline.dedup import filter_corpus
    from rdfa_spark.pipeline.linking import (canonicalize,
                                             entity_mentions,
                                             exact_candidate_pairs)
    from rdfa_spark.pipeline.materialize import ResumableExtraction
    tr = r.tracer
    res = {"batches": []}
    with tr.span("dedup.filter_corpus"):
        kept = filter_corpus(pages.select("url", "text"),
                             id_col="url").select("url")
        pages_kept = pages.join(kept, "url", "left_semi").localCheckpoint()
        if tr.enabled:
            res["rows_kept"] = pages_kept.count()
    for _ in range(2):   # interrupted after half, then resumed
        run = ResumableExtraction(r.spark, out, n_batches=KG_BATCHES,
                                  n_buckets=KG_BUCKETS)
        for _ in range(KG_BATCHES // 2):
            with tr.span("materialize.run_batch"):
                t = now()
                run.run(pages_kept, max_batches=1)
                res["batches"].append(now() - t)
    triples = run.triples()
    with tr.span("linking.entity_mentions"):
        mentions = entity_mentions(triples)
        pairs = None
        if tr.enabled:
            mentions = mentions.localCheckpoint()
            res["mentions"] = mentions.count()
    if tr.enabled:
        with tr.span("linking.exact_candidate_pairs"):
            pairs = exact_candidate_pairs(mentions).localCheckpoint()
            res["pairs"] = pairs.count()
    with tr.span("cc.canonicalize"):
        canonicalize(mentions, pairs).write.mode("overwrite") \
            .parquet(os.path.join(out, "entities"))
    return res


def kg_build(r: Run, inp: KgInputs, out: str) -> dict:
    """The timed build over the kg pages, then its output checks."""
    from rdfa_spark.pipeline.materialize import ResumableExtraction
    tr = r.tracer
    t0 = now()
    with tr.span("spark.kg_build"):
        res = build_stages(r, r.spark.read.parquet(inp.pages_path), out)
    res["build_s"] = now() - t0
    # -- checks, outside the timed build -------------------------------
    with tr.span("materialize.processed_batches"):
        done = ResumableExtraction(r.spark, out, n_batches=KG_BATCHES,
                                   n_buckets=KG_BUCKETS).processed_batches()
    r.check("kg ledger complete", done == set(range(KG_BATCHES)),
            f"batches {sorted(done)}")
    cols = ["url", "subj", "pred", "obj", "obj_is_literal", "obj_datatype",
            "obj_lang"]
    got = Counter(tuple(row) for row in
                  r.spark.read.parquet(os.path.join(out, "triples"))
                  .select(*cols).collect())
    want = Counter(inp.triples)
    r.check("kg store equals the planted triples of the kept pages",
            got == want, f"{sum((got - want).values())} unexpected, "
            f"{sum((want - got).values())} missing")
    res["store_triples"] = sum(got.values())
    entities = r.spark.read.parquet(os.path.join(out, "entities"))
    res["components"] = entities.select("canonical_id").distinct().count()
    r.check("kg entity count", res["components"] == inp.entities,
            f"{res['components']} vs {inp.entities}")
    if tr.enabled:
        r.metric("dedup.filter_corpus_s",
                 median(tr.durations("dedup.filter_corpus")), "s")
        r.check("dedup keeps the first page of each text",
                res["rows_kept"] == len(inp.kept),
                f"{res['rows_kept']} vs {len(inp.kept)}")
        r.metric("dedup.rows_kept", res["rows_kept"], "count")
        r.metric("linking.mentions", res["mentions"], "count")
        r.metric("linking.candidate_pairs", res["pairs"], "count")
        r.metric("cc.canonicalize_s",
                 median(tr.durations("cc.canonicalize")), "s")
        r.metric("cc.components", res["components"], "count")
        r.metric("materialize.batch_s",
                 median(tr.durations("materialize.run_batch")), "s")
        r.metric("materialize.ledger_read_s",
                 median(tr.durations("materialize.processed_batches")), "s")
        files = nbytes = 0
        for d, _, fs in os.walk(os.path.join(out, "triples")):
            for f in fs:
                if f.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(d, f))
        r.metric("materialize.files", files, "count")
        r.metric("materialize.bytes", nbytes, "B")
        r.metric("materialize.bytes_per_triple",
                 nbytes / max(res["store_triples"], 1), "B")
    return res


_NT_LINE = re.compile(r'^(<[^>]*>|_:\S+) <[^>]*> (<[^>]*>|_:\S+|'
                      r'"(?:[^"\\]|\\.)*"(?:@[\w-]+|\^\^<[^>]*>)?) \.$')


class QueryClient:
    """One closed-loop client: seeded queries, each checked against the
    generator's expectations after its latency is taken."""

    def __init__(self, r: Run, inp: KgInputs, store):
        self.r, self.inp, self.store = r, inp, store
        self.rng = random.Random(r.seed + 1)
        self.by_subj: dict[str, set] = {}
        self.persons: dict[str, set] = {}
        for t in inp.triples:
            self.by_subj.setdefault(t[1], set()).add(t)
            if t[2] == gen.SCHEMA + "name":
                self.persons.setdefault(t[3], set()).add(t[1])
        self.subjects = sorted(self.by_subj)
        self.pages = sorted({t[0] for t in inp.triples})
        self.labels = sorted(self.persons)
        self.bucket_rows = {row["subj_bucket"]: row["count"] for row in
                            store.groupBy("subj_bucket").count().collect()}
        self.latency: dict[str, list[float]] = {}
        self.recall: dict[str, list[float]] = {}
        self.nt_bytes = 0

    def run_loop(self, seconds: float, alternate_traced: bool) -> list:
        """Cycles of the query mix until ``seconds`` have passed and at
        least MIN_QUERIES ran; returns [(kind, latency_s, traced)].
        ``alternate_traced`` traces every second query of each kind, so
        traced and untraced latencies come from the same stretch of the
        run and the same mix of kinds."""
        out, seen, n_heavy = [], Counter(), 0
        deadline = now() + seconds
        while now() < deadline or len(out) < MIN_QUERIES:
            cycle = list(QUERY_CYCLE)
            self.rng.shuffle(cycle)
            for kind in cycle:
                if kind == "heavy":
                    kind = HEAVY_KINDS[n_heavy % len(HEAVY_KINDS)]
                    n_heavy += 1
                seen[kind] += 1
                traced = alternate_traced and seen[kind] % 2 == 0
                self.r.tracer.enabled = traced
                out.append((kind, self.query(kind), traced))
        self.r.tracer.enabled = alternate_traced
        return out

    def query(self, kind: str) -> float:
        from pyspark.sql import functions as F
        from rdfa_spark import sinks
        from rdfa_spark.extract import opengraph
        from rdfa_spark.query import bgp, match_pattern
        r, rng, store = self.r, self.rng, self.store
        cols = ["url", "subj", "pred", "obj", "obj_is_literal",
                "obj_datatype", "obj_lang"]
        r.attempted += 1
        try:
            if kind == "point":
                s = rng.choice(self.subjects)
                with r.tracer.span("query.match_pattern"):
                    t = now()
                    rows = match_pattern(store, subj=s).select(*cols) \
                        .collect()
                    lat = now() - t
                ok = {tuple(x) for x in rows} == self.by_subj[s] \
                    and len(rows) == len(self.by_subj[s])
            elif kind == "og":
                u = rng.choice(self.pages)
                with r.tracer.span("query.opengraph"):
                    t = now()
                    rows = opengraph(match_pattern(store, subj=u)).collect()
                    lat = now() - t
                want = {(u, tp[2].rsplit("#", 1)[1], tp[3])
                        for tp in self.by_subj[u] if tp[2].startswith(gen.OG)}
                ok = {tuple(x) for x in rows} == want and len(rows) == 2
            elif kind == "bgp":
                label = rng.choice(self.labels)
                with r.tracer.span("query.bgp"):
                    t = now()
                    rows = bgp(store, [
                        ("?p", gen.RDF_TYPE, gen.SCHEMA + "Person"),
                        ("?p", gen.SCHEMA + "name", label)]).collect()
                    lat = now() - t
                ok = {x["p"] for x in rows} == self.persons[label]
            elif kind == "nt":
                b = rng.choice(sorted(self.bucket_rows))
                with r.tracer.span("sinks.ntriples_lines"):
                    t = now()
                    lines = [x[0] for x in sinks.ntriples_lines(
                        store.filter(F.col("subj_bucket") == b)).collect()]
                    lat = now() - t
                self.nt_bytes += sum(len(x.encode()) for x in lines)
                ok = (len(lines) == self.bucket_rows[b]
                      and all(_NT_LINE.match(x) for x in lines))
            else:
                lat, ok = self.ann(kind)
        except Exception as exc:   # a failed query is counted, not fatal
            print(f"QUERY FAILED [{kind}]: {exc!r}", file=sys.stderr)
            r.failed += 1
            return float("inf")    # misses every latency limit
        if not ok:
            r.failed += 1
            print(f"QUERY WRONG [{kind}]", file=sys.stderr)
        self.latency.setdefault(kind, []).append(lat)
        return lat

    def ann(self, kind: str) -> tuple[float, bool]:
        from pyspark.sql import functions as F
        from rdfa_spark.functions import similarity as sim
        fn, kw = {
            "cosine": (sim.cosine_topk, {}),
            "lsh": (sim.lsh_cosine_topk, {"n_planes": 6, "multiprobe": 3}),
            "ivf": (sim.ivf_cosine_topk, {"n_centroids": 16,
                                          "nprobe": 10}),
        }[kind]
        # called as the oracled ANN queries of __spark_entry__.py call
        # them; ``impl`` only while the signature still has it
        if "impl" in inspect.signature(fn).parameters:
            kw = dict(kw, impl="kernel")
        q = self.rng.randrange(gen.EMB_N)
        queries = self.inp.items.filter(F.col("vec_id") == q).select(
            F.col("vec_id").alias("query_id"), "embedding")
        with self.r.tracer.span(f"similarity.{fn.__name__}"):
            t = now()
            rows = fn(self.inp.items, queries, k=ANN_K, dim=gen.EMB_DIM,
                      **kw).collect()
            lat = now() - t
        v = self.inp.vecs
        scores = (v @ v[q]) / (np.linalg.norm(v, axis=1)
                               * np.linalg.norm(v[q]))
        scores[q] = -np.inf
        order = np.lexsort((np.arange(len(v)), -scores))[:ANN_K]
        got = sorted(rows, key=lambda x: x["rank"])
        # every returned score is the true cosine, ranked descending
        ok = (len(got) <= ANN_K
              and all(abs(x["score"] - scores[x["neighbor_id"]]) < 1e-9
                      for x in got)
              and all(a["score"] >= b["score"]
                      for a, b in zip(got, got[1:])))
        if kind == "cosine":
            ok = ok and len(got) == ANN_K and all(
                abs(x["score"] - scores[i]) < 1e-9
                for x, i in zip(got, order))
        else:
            hits = len({x["neighbor_id"] for x in got} & set(order.tolist()))
            self.recall.setdefault(kind, []).append(hits / ANN_K)
        return lat, ok

    def report(self) -> None:
        """Per-layer query metrics (traced runs)."""
        r, lat = self.r, self.latency
        for kind, name in (("point", "query.point_ms"),
                           ("bgp", "query.bgp_ms"),
                           ("og", "query.og_ms"),
                           ("cosine", "similarity.cosine_topk_ms"),
                           ("lsh", "similarity.lsh_topk_ms"),
                           ("ivf", "similarity.ivf_topk_ms"),
                           ("nt", "sinks.ntriples_ms")):
            r.metric(name, 1000 * median(lat[kind]), "ms")
        r.metric("sinks.bytes", self.nt_bytes / len(lat["nt"]), "B")
        r.metric("similarity.lsh_recall", median(self.recall["lsh"]),
                 "ratio")
        r.metric("similarity.ivf_recall", median(self.recall["ivf"]),
                 "ratio")


def kg(r: Run) -> None:
    from rdfa_spark.extract import extract_all
    inp, setup_s = setup(r, KgInputs)
    r.log(f"setup done: {setup_s:.1f}s")
    out = r.path("store")
    with RssSampler() as rss:
        # one build per session, cold, as a spark-submit of
        # scripts/run_pipeline.py runs it; the queries read its store
        build = kg_build(r, inp, out)
        r.log(f"build done: {build['build_s']:.1f}s, batches "
              f"{build['batches']}")
        store = r.spark.read.parquet(os.path.join(out, "triples"))
        client = QueryClient(r, inp, store)
        for kind in HEAVY_KINDS:   # first call of each: warm-up
            client.query(kind)
        client.latency.clear()
        client.recall.clear()
        r.log("query warm-up done")
        runs = client.run_loop(r.seconds, r.traced)
        r.log(f"query loop done: {len(runs)} queries; " + ", ".join(
            f"{k} {1000 * median(v):.0f}ms" for k, v in
            client.latency.items()))
    lat = [x[1] for x in runs if not x[2]]
    if not r.traced:
        r.metric("setup_s", setup_s, "s")
        r.metric("pages_per_s", inp.n_pages / build["build_s"], "pages/s")
        r.metric("triples_per_s", len(inp.triples) / build["build_s"],
                 "triples/s")
        r.metric("batch_commit_p50_s", median(build["batches"]), "s")
        r.metric("query_p50_ms", 1000 * median(lat), "ms")
        r.metric("query_p90_ms", 1000 * p90(lat), "ms")
        r.metric("worker_peak_rss_mb", rss.peak_mb, "MB")
        return
    # per-kind medians weighted by the mix: the traced and untraced
    # halves hold the heavy kinds in unequal numbers (5 per 100 queries)
    by: dict[tuple, list[float]] = {}
    for kind, lat_s, traced in runs:
        by.setdefault((kind, traced), []).append(lat_s)
    mix = Counter(kind for kind, _, _ in runs)
    r.metric("trace.overhead_frac",
             sum(n * median(by[k, True]) for k, n in mix.items())
             / sum(n * median(by[k, False]) for k, n in mix.items()) - 1,
             "ratio")
    client.report()
    report_spark_counts(r, "spark.kg_build")
    pages = r.spark.read.parquet(inp.pages_path).persist()
    pages.count()
    extracted = extract_all(pages).persist()
    counts = check_text(r, pages, extracted)
    extracted.unpersist()
    for k, v in counts.items():
        r.metric(f"extract.{k}", v, "count")
    ledger_extraction(r, inp.dir, 1, pages, inp.docs, extract_all)


WORKLOADS = {"crawl_mix": crawl_mix, "kg": kg}
