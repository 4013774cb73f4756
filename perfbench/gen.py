"""Seeded input generator owned by the benchmark.

Everything the program under test reads is written here, from the
seed alone: a ``documents`` table (the schema ``pages.load_pages``
renders pages from), entity embeddings, and tag-soup pages for the
single-thread core ledger.  Beside each input the generator records
what a correct program must output (planted triples, expected text),
so the benchmark checks outputs against the generator and never
against the program itself.

The expected triples restate, in Python, the page templates of
``rdfa_spark.pages`` (the same geometry ``rdfa_spark.oracle`` states
in SQL).
"""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

URL_PREFIX = "http://example.org/doc/"
DC = "http://purl.org/dc/terms/"
OG = "http://ogp.me/ns#"
SCHEMA = "http://schema.org/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
OG_TYPES = ("article", "website", "profile")
N_ENTITIES = 40          # the page template's entity space (doc_id % 40)
EMB_N = 2000             # entity embeddings
EMB_DIM = 64
SOUP_PAGES = 10          # tag-soup pages of the core ledger
SOUP_MEDIAN_KB = 30      # log-normal page sizes around this ...
SOUP_GIANT_KB = 512      # ... and one giant page of this size

# word soup shaped like the sf0.1 test documents: 30 words,
# ~8-100 words per document, en-heavy language mix, 20 sources
_WORDS = ("spark window merge table column vector stream value data "
          "small join filter big group hash customer sort order slow "
          "line part fast row the agg key query a scan batch").split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def documents(seed: int, n_docs: int, dup_frac: float = 0.0) -> dict:
    """``documents(doc_id, text, lang, source, n_chars)`` columns.

    ``dup_frac`` of the documents copy the text of an earlier one:
    near-duplicate pages that share their body text but differ in url,
    title and entity variant, which exact page-text dedup keeps."""
    rng = random.Random(seed)
    text, lang, source = [], [], []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_frac:
            t = text[rng.randrange(i)]
        else:
            t = " ".join(rng.choice(_WORDS)
                         for _ in range(rng.randint(8, 100)))
        text.append(t)
        lang.append(rng.choice(_LANGS))
        source.append(f"src{rng.randrange(20)}")
    return {"doc_id": list(range(n_docs)), "text": text, "lang": lang,
            "source": source, "n_chars": [len(t) for t in text]}


def write_documents(docs: dict, path: str) -> None:
    pq.write_table(pa.table({
        "doc_id": pa.array(docs["doc_id"], pa.int64()),
        "text": pa.array(docs["text"], pa.string()),
        "lang": pa.array(docs["lang"], pa.string()),
        "source": pa.array(docs["source"], pa.string()),
        "n_chars": pa.array(docs["n_chars"], pa.int64()),
    }), path)


def url(doc_id: int) -> str:
    return f"{URL_PREFIX}{doc_id:06d}"


def entity_label(doc_id: int) -> str:
    k = f"{doc_id % N_ENTITIES:03d}"
    return ("Entity ", "entity ", "Entity-")[doc_id % 3] + k


def page_text(docs: dict, i: int) -> str:
    """The byte-identical text invariant of the page templates."""
    return (f"Doc {docs['doc_id'][i]}{docs['source'][i]}whorel"
            f"{docs['text'][i]}")


def planted_triples(docs: dict, i: int, page_url: str) -> list[tuple]:
    """(url, subj, pred, obj, obj_is_literal, obj_datatype, obj_lang)
    the templates plant in document ``i``'s page."""
    d = docs["doc_id"][i]
    n = len(docs["doc_id"])
    lng = docs["lang"][i] or None
    t = d % 3
    main, person = page_url + "#main", page_url + "#person"
    title = f"Doc {d}"
    out = [
        (page_url, page_url, DC + "title", title, True, None, lng),
        (page_url, page_url, OG + "title", title, True, None, lng),
        (page_url, page_url, OG + "type", OG_TYPES[t], True, None, lng),
        (page_url, main, DC + "source", docs["source"][i], True, None,
         lng),
        (page_url, person, RDF_TYPE, SCHEMA + "Person", False, None,
         None),
        (page_url, person, SCHEMA + "name", entity_label(d), True, None,
         lng),
        (page_url, main, DC + "relation", url((d * 7 + 1) % n), False,
         None, None),
        (page_url, main, DC + "description", docs["text"][i], True,
         None, lng),
    ]
    if t in (0, 1):
        out.append((page_url, main, RDF_TYPE, SCHEMA + "Article", False,
                    None, None))
    return out


def embeddings(seed: int) -> dict:
    """``EMB_N`` entity embeddings in ``N_ENTITIES`` clusters, one per
    entity, so approximate top-k has real neighbourhoods to find."""
    rng = np.random.default_rng(seed)
    centroids = rng.normal(size=(N_ENTITIES, EMB_DIM))
    labels = rng.integers(0, N_ENTITIES, size=EMB_N)
    vecs = (centroids[labels] + 0.8 * rng.normal(size=(EMB_N, EMB_DIM)))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype(np.float32)
    return {"vec_id": np.arange(EMB_N, dtype=np.int64), "embedding": vecs,
            "label": labels.astype(np.int32)}


def write_embeddings(emb: dict, path: str) -> None:
    dim = emb["embedding"].shape[1]
    flat = pa.array(emb["embedding"].ravel(), pa.float32())
    pq.write_table(pa.table({
        "vec_id": pa.array(emb["vec_id"]),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, dim)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(emb["label"]),
    }), path)


# ---------------------------------------------------------------------------
# HTML5 tag soup: misnested and unclosed tags, entity references, deep
# chrome, few RDFa attributes.  Sizes have a long tail.
# ---------------------------------------------------------------------------

_ENTITIES = (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
             ("&eacute;", "é"), ("&#233;", "é"),
             ("&nbsp;", "\xa0"), ("&quot;", '"'), ("&#x41;", "A"))


class _Soup:
    """Accumulates markup and the text a conforming parser must
    recover from it, in document order."""

    def __init__(self, rng: random.Random):
        self.rng = rng
        self.html: list[str] = []
        self.text: list[str] = []
        self.n_triples = 0

    def words(self, n: int) -> None:
        for _ in range(n):
            if self.rng.random() < 0.08:
                ent, ch = self.rng.choice(_ENTITIES)
                self.html.append(ent)
                self.text.append(ch)
            w = self.rng.choice(_WORDS) + " "
            self.html.append(w)
            self.text.append(w)

    def block(self, depth: int) -> None:
        rng, h = self.rng, self.html
        r = rng.random()
        if depth < 40 and r < 0.25:
            # deep chrome: nested divs, closed at the end
            n = rng.randint(3, 12)
            h.append("".join(f'<div class="c{depth + k}">'
                             for k in range(n)))
            self.block(depth + n)
            h.append("</div>" * n)
        elif r < 0.45:
            # misnested formatting: <b>x<i>y</b>z</i>
            h.append("<b>")
            self.words(rng.randint(1, 4))
            h.append("<i>")
            self.words(rng.randint(1, 4))
            h.append("</b>")
            self.words(rng.randint(1, 4))
            h.append("</i>")
        elif r < 0.65:
            # unclosed paragraphs and list items, closed implicitly
            h.append("<div><p>")
            self.words(rng.randint(3, 20))
            h.append("<p>")
            self.words(rng.randint(3, 20))
            h.append("<ul>")
            for _ in range(rng.randint(1, 5)):
                h.append("<li>")
                self.words(rng.randint(1, 6))
            h.append("</ul></div>")
        elif r < 0.70:
            h.append(f"<!-- chrome {rng.randrange(1000)} -->")
        elif r < 0.73:
            k = len(h)
            h.append(f'<div about="#it{k}" typeof="schema:Thing">'
                     '<span property="schema:name">')
            self.words(rng.randint(1, 3))
            h.append("</span></div>")
            self.n_triples += 2
        else:
            h.append('<span class="s">')
            self.words(rng.randint(2, 12))
            h.append("</span>")


def soup_pages(seed: int) -> list[dict]:
    """``SOUP_PAGES`` tag-soup pages: log-normal sizes around
    ``SOUP_MEDIAN_KB``, the last one of ~``SOUP_GIANT_KB``.  Each record
    carries the page's expected text and planted triple count."""
    rng = random.Random(seed)
    sizes = [int(SOUP_MEDIAN_KB * 1024 * rng.lognormvariate(0, 0.7))
             for _ in range(SOUP_PAGES - 1)]
    sizes.append(SOUP_GIANT_KB * 1024)
    pages = []
    for i, size in enumerate(sizes):
        s = _Soup(rng)
        title = f"Soup {seed}-{i}"
        s.html.append('<!DOCTYPE html><html lang="en"><head>'
                      f'<title property="dc:title">{title}</title>'
                      f'<meta property="og:title" content="{title}">'
                      "</head><body>")
        s.text.append(title)
        s.n_triples += 2
        n_bytes = 0
        while n_bytes < size:
            before = len(s.html)
            s.block(0)
            n_bytes += sum(len(x) for x in s.html[before:])
        s.html.append("</body></html>")
        pages.append({"url": f"http://soup.example.org/{seed}/{i}",
                      "html": "".join(s.html).encode("utf-8"),
                      "text": "".join(s.text),
                      "n_triples": s.n_triples})
    return pages
