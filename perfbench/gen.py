"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical tables. Nothing here imports Spark, so the self-tests and
the single-process ledger can use it without a JVM.

* ``documents_table`` / ``embeddings_table`` make tables shaped like the
  ``documents`` / ``embeddings`` test tables the registered queries read
  (same columns, the same word vocabulary, a share of exact and near
  duplicates so the dedup tier has pairs to find).
* ``web_pages`` makes realistic HTML pages for ``extract_web``: head with
  style and script, a nav list, paragraphs with inline links, entities and
  formatting, data tables (some with unclosed cells), misnested formatting,
  comments, images, and on a fixed share of pages a tag-soup fragment from
  ``tools/mega_fuzz.rand_html``. It also returns how many bytes each
  markup class contributed.
"""

from __future__ import annotations

import importlib.util
import math
import os
import random

import numpy as np
import pyarrow as pa

VOCAB = ("a the spark line column order small sort fast value scan hash slow "
         "group agg filter query key window row table stream merge data "
         "vector customer join big part batch").split()
LANGS = ("en", "zh", "de", "es", "fr")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
N_SOURCES = 20

MEDIA_BASE = "http://img.example/"
STREAM_THRESHOLD = 8 << 20     # extract_stage streams docs above this
STREAM_BYTES = STREAM_THRESHOLD + (256 << 10)

EMB_DIM = 64
EMB_LABELS = 10

PAGE_MEDIAN = 30_000           # log-normal page sizes, bytes
PAGE_SIGMA = 0.9
PAGE_CAP = 2 << 20             # the largest page, pinned
SOUP_SHARE = 0.05              # pages that carry a tag-soup fragment


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """(doc_id, text, lang, source, n_chars): word salad over VOCAB with
    ~2% exact and ~4% near duplicates of earlier docs."""
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.02:
            text = texts[rng.randrange(i)]
        elif i > 10 and r < 0.06:
            words = texts[rng.randrange(i)].split(" ")
            words[rng.randrange(len(words))] = rng.choice(VOCAB)
            text = " ".join(words)
        else:
            text = " ".join(rng.choices(VOCAB, k=rng.randint(8, 100)))
        texts.append(text)
    langs = rng.choices(LANGS, weights=LANG_P, k=n_docs)
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(n_vecs: int, seed: int) -> pa.Table:
    """(vec_id, embedding float[EMB_DIM], label): unit vectors scattered
    around one random centroid per label."""
    rs = np.random.RandomState(seed)
    centroids = rs.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rs.randint(0, EMB_LABELS, size=n_vecs)
    vecs = centroids[labels] + 1.2 * rs.normal(size=(n_vecs, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


# ------------------------------------------------------------ web pages

def _load_rand_html():
    """tools/mega_fuzz.rand_html, loaded by path (tools/ is no package)."""
    path = os.path.join("tools", "mega_fuzz.py")
    spec = importlib.util.spec_from_file_location("_perfbench_mega_fuzz",
                                                  path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.rand_html


WEB_WORDS = ("data web page crawl text index parse token tree node markup "
             "content article section header footer link image table value "
             "result query engine stream batch record field").split()
ENTITIES = ("&amp;", "&lt;", "&gt;", "&quot;", "&nbsp;", "&eacute;",
            "&copy;", "&mdash;", "&#169;", "&#x20AC;", "&hellip;", "&frac12;")
FORMATS = ("b", "i", "em", "strong", "u", "small", "code")
MIX_KEYS = ("tables", "entities", "links", "misnesting", "tag_soup",
            "paragraph_text", "head", "nav", "comments_images")


class _Page:
    """Accumulates one page's parts and the bytes each markup class adds."""

    def __init__(self) -> None:
        self.parts: list[str] = []
        self.size = 0
        self.mix = dict.fromkeys(MIX_KEYS, 0)

    def add(self, cls: str, s: str) -> None:
        self.parts.append(s)
        n = len(s.encode("utf-8"))
        self.size += n
        self.mix[cls] += n


def _words(rng: random.Random, k: int) -> str:
    return " ".join(rng.choices(WEB_WORDS, k=k))


def _paragraph(rng: random.Random, page: _Page) -> None:
    page.add("paragraph_text", "<p>")
    for _ in range(rng.randint(3, 8)):
        r = rng.random()
        page.add("paragraph_text", _words(rng, rng.randint(4, 14)) + " ")
        if r < 0.35:
            page.add("links", f'<a href="/article/{rng.randrange(10**6)}'
                              f'?ref=p&amp;n={rng.randrange(99)}">'
                              f"{_words(rng, rng.randint(1, 4))}</a> ")
        elif r < 0.6:
            page.add("entities", " ".join(rng.choices(ENTITIES, k=3)) + " ")
        elif r < 0.85:
            f = rng.choice(FORMATS)
            page.add("paragraph_text",
                     f"<{f}>{_words(rng, rng.randint(1, 5))}</{f}> ")
    page.add("paragraph_text", "</p>\n")


def _table(rng: random.Random, page: _Page) -> None:
    cols = rng.randint(3, 7)
    rows = rng.randint(4, 24)
    unclosed = rng.random() < 0.4
    out = ["<table class=data><thead><tr>"]
    out += [f"<th>{rng.choice(WEB_WORDS)}</th>" for _ in range(cols)]
    out.append("</tr></thead><tbody>")
    for _ in range(rows):
        out.append("<tr>")
        for _ in range(cols):
            v = (f"{rng.random() * 1000:.2f}" if rng.random() < 0.5
                 else rng.choice(WEB_WORDS))
            out.append(f"<td>{v}" if unclosed else f"<td>{v}</td>")
        if not unclosed:
            out.append("</tr>")
    out.append("</tbody></table>\n")
    page.add("tables", "".join(out))


def _misnest(rng: random.Random, page: _Page) -> None:
    a, b = rng.sample(FORMATS[:4], 2)
    page.add("misnesting",
             f"<p><{a}>{_words(rng, 3)} <{b}>{_words(rng, 3)}</{a}> "
             f"{_words(rng, 3)}</{b}> {_words(rng, 2)}</p>\n")


def _comment_image(rng: random.Random, page: _Page, doc_id: int) -> None:
    if rng.random() < 0.5:
        page.add("comments_images", f"<!-- {_words(rng, 6)} -->\n")
    else:
        page.add("comments_images",
                 f'<img src="img/{doc_id}_{rng.randrange(999)}.jpg" '
                 f'alt="{_words(rng, 2)}" width=320 height=200>\n')


# Block weights after head and nav. They are a calibration, not a census of
# real pages: the table weight is set so that single-core parse of the
# ledger sample runs at ~1.25x the rate of a page of nothing but small
# tables, the ratio of the ~2 MB/s measured on a realistic 50 KB page to
# the ~1.6 MB/s measured on small tables. perfbench/README.md has the
# resulting byte shares and the check of that ratio.
_BLOCKS = (("p", 0.52), ("table", 0.25), ("misnest", 0.11), ("ci", 0.12))


def web_page(rng: random.Random, doc_id: int, target: int,
             soup: str | None) -> _Page:
    """One page of about `target` bytes (never much over it)."""
    page = _Page()
    page.add("head",
             f"<!DOCTYPE html><html lang=en><head><meta charset=utf-8>"
             f"<title>Page {doc_id} - {_words(rng, 3)}</title>"
             f"<style>body{{margin:0;font:14px sans-serif}} "
             f".nav li{{display:inline}} td{{padding:2px}}</style>"
             f"<script>var pid={doc_id}; if (pid < 10 && pid > 0) "
             f"{{track('p');}}</script></head>\n<body>")
    nav = ["<nav class=nav><ul>"]
    nav += [f'<li><a href="/section/{k}">{rng.choice(WEB_WORDS)}</a></li>'
            for k in range(rng.randint(5, 15))]
    nav.append("</ul></nav>\n<div id=main class='content article'>"
               f"<h1>{_words(rng, 5)}</h1>\n")
    page.add("nav", "".join(nav))
    tail = "</div><footer><p>footer</p></footer></body></html>\n"
    soup_at = rng.random() if soup is not None else 2.0
    names, weights = zip(*_BLOCKS)
    while page.size + len(tail) < target:
        if soup is not None and page.size >= soup_at * target:
            page.add("tag_soup", soup)
            soup = None
            continue
        kind = rng.choices(names, weights=weights)[0]
        if kind == "p":
            _paragraph(rng, page)
        elif kind == "table":
            _table(rng, page)
        elif kind == "misnest":
            _misnest(rng, page)
        else:
            _comment_image(rng, page, doc_id)
    if soup is not None:
        page.add("tag_soup", soup)
    page.add("nav", tail)
    return page


def page_sizes(n_docs: int) -> list[int]:
    """Log-normal sizes at stratified quantiles, with the top page pinned
    to PAGE_CAP so the tail reaches it: every seed gets the same size
    histogram, the seed only decides which page gets which size."""
    from statistics import NormalDist
    nd = NormalDist()
    sizes = [min(PAGE_CAP, int(PAGE_MEDIAN * math.exp(
                 PAGE_SIGMA * nd.inv_cdf((i + 0.5) / n_docs))))
             for i in range(n_docs)]
    sizes[-1] = PAGE_CAP
    return sizes


def web_pages(seed: int, n_docs: int) -> tuple[list[dict], dict]:
    """Seeded pages as dicts (doc_id, html, media_text, media_ref) and the
    corpus markup mix in bytes per class."""
    rng = random.Random(seed)
    rand_html = _load_rand_html()
    sizes = page_sizes(n_docs)
    rng.shuffle(sizes)
    base = 10_000_000 * (seed % 1000 + 1)
    n_soup = max(1, round(SOUP_SHARE * n_docs))
    soup_docs = set(rng.sample(range(n_docs), n_soup))
    pages = []
    mix = dict.fromkeys(MIX_KEYS, 0)
    for i, size in enumerate(sizes):
        doc_id = base + i
        soup = rand_html(rng, rng.randint(40, 160)) if i in soup_docs \
            else None
        page = web_page(rng, doc_id, size, soup)
        for k, v in page.mix.items():
            mix[k] += v
        pages.append({
            "doc_id": str(doc_id),
            "html": "".join(page.parts),
            "media_text": f"hero image {doc_id}",
            "media_ref": f"{MEDIA_BASE}{doc_id}/hero.jpg",
        })
    return pages, mix


def stream_page() -> str:
    """One fixed page just above the 8 MB stream threshold."""
    rng = random.Random(8 << 20)
    return "".join(web_page(rng, 1, STREAM_BYTES, None).parts)


def chunk_html(html: str, n_chunks: int) -> list[str]:
    """Split html at tag boundaries into at most n_chunks pieces."""
    if n_chunks <= 1 or len(html) < 2 * n_chunks:
        return [html]
    cuts = [0]
    step = len(html) // n_chunks
    for k in range(1, n_chunks):
        at = html.find("<", k * step)
        if at > cuts[-1]:
            cuts.append(at)
    cuts.append(len(html))
    return [html[a:b] for a, b in zip(cuts, cuts[1:]) if b > a]


SPAN_TYPE = pa.struct([
    pa.field("kind", pa.string(), False),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32(), False),
])


def span_table(pages: list[dict]) -> pa.Table:
    """Pages in the (doc_id, spans<kind,text,media_ref,offset>) corpus
    schema: html chunked into 'html' spans with one 'media' span
    interleaved after the first chunk."""
    doc_ids, spans = [], []
    for p in pages:
        chunks = chunk_html(p["html"], 1 + len(p["html"]) // (64 << 10))
        row = [{"kind": "html", "text": chunks[0], "media_ref": "",
                "offset": 0},
               {"kind": "media", "text": p["media_text"],
                "media_ref": p["media_ref"], "offset": 1}]
        row += [{"kind": "html", "text": c, "media_ref": "", "offset": 2 + j}
                for j, c in enumerate(chunks[1:])]
        doc_ids.append(p["doc_id"])
        spans.append(row)
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "spans": pa.array(spans, pa.list_(SPAN_TYPE)),
    })
