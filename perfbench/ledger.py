"""Single-process layer ledger: µs/doc and MB/s of each engine layer on a
fixed sample of documents.

Every call the ledger makes into a layer's public function is recorded as
a span (one per doc per function). The per-layer numbers are derived from
those spans afterwards.

Run as a script it measures tokenize and parse for the pure-Python leg:

    python3 perfbench/ledger.py --pyonly SAMPLE.jsonl

That leg installs an import hook that blocks ``jsoup_spark._native``
before the package is imported, so every C accelerator falls back to its
Python twin. The package itself has no switch for this.
"""

from __future__ import annotations

import importlib.abc
import json
import sys
import time

BASE_URI = "http://corpus.example/docs/"       # sources.corpus.BASE_URI
CSS_QUERY = "div.article > p"                  # select_article_p
XPATH_QUERY = "//div[@id='main']/ul/li[last()]"  # select_xpath

LAYER_CALLS = ("parser.tokenize", "parser.parse", "extract.spans",
               "extract.main_content", "select.css", "select.xpath",
               "clean.clean", "clean.serialize")


class BlockNative(importlib.abc.MetaPathFinder):
    """Makes every import of jsoup_spark._native fail."""

    def find_spec(self, name, path=None, target=None):
        if name == "jsoup_spark._native" or \
                name.startswith("jsoup_spark._native."):
            raise ImportError(f"{name} is blocked for the Python-only leg")
        return None


def read_sample(path: str) -> list[str]:
    with open(path) as f:
        return [json.loads(line) for line in f]


def write_sample(path: str, htmls: list[str]) -> None:
    with open(path, "w") as f:
        for h in htmls:
            f.write(json.dumps(h) + "\n")


def layer_calls(htmls: list[str], tracer) -> None:
    """One pass of every layer call over the sample, one span each."""
    from jsoup_spark.clean.cleaner import clean_document
    from jsoup_spark.clean.safelist import basic
    from jsoup_spark.clean.serializer import outer_html
    from jsoup_spark.extract.maincontent import extract_main
    from jsoup_spark.extract.spans import extract_spans
    from jsoup_spark.parser.tokenizer import EOFTok, Tokeniser
    from jsoup_spark.parser.treebuilder import HtmlTreeBuilder
    from jsoup_spark.select.selector import compile_query, select
    from jsoup_spark.select.xpath import compile_xpath, select_xpath

    css = compile_query(CSS_QUERY)
    xp = compile_xpath(XPATH_QUERY)
    safelist = basic()
    clock = time.perf_counter_ns
    add = tracer.add
    for html in htmls:
        t0 = clock()
        tok = Tokeniser(html)
        while not isinstance(tok.read(), EOFTok):
            pass
        t1 = clock()
        doc = HtmlTreeBuilder().parse(html, BASE_URI)
        t2 = clock()
        extract_spans(doc)
        t3 = clock()
        extract_main(doc)
        t4 = clock()
        select(doc, css)
        t5 = clock()
        select_xpath(doc, xp)
        t6 = clock()
        cleaned = clean_document(doc, safelist)
        t7 = clock()
        outer_html(cleaned.doc)
        t8 = clock()
        marks = (t0, t1, t2, t3, t4, t5, t6, t7, t8)
        for name, a, b in zip(LAYER_CALLS, marks, marks[1:]):
            add(name, a, b)


def tokenize_parse(htmls: list[str], tracer) -> None:
    from jsoup_spark.parser.tokenizer import EOFTok, Tokeniser
    from jsoup_spark.parser.treebuilder import HtmlTreeBuilder
    clock = time.perf_counter_ns
    for html in htmls:
        t0 = clock()
        tok = Tokeniser(html)
        while not isinstance(tok.read(), EOFTok):
            pass
        t1 = clock()
        HtmlTreeBuilder().parse(html, BASE_URI)
        t2 = clock()
        tracer.add("parser.tokenize", t0, t1)
        tracer.add("parser.parse", t1, t2)


def stream_mb_per_s(page: str, tracer) -> float:
    """extract.stream_spans over one page above the stream threshold."""
    from jsoup_spark.extract.spans import stream_spans
    t0 = time.perf_counter_ns()
    stream_spans(page, BASE_URI)
    t1 = time.perf_counter_ns()
    tracer.add("extract.stream_spans", t0, t1)
    return len(page.encode("utf-8")) / 1e6 / ((t1 - t0) / 1e9)


def ledger_metrics(htmls: list[str], spans) -> dict[str, float]:
    """Per-layer µs/doc and MB/s from the ledger's spans."""
    from .trace import total_by_name
    tot = total_by_name(spans)
    n = len(htmls)
    mb = sum(len(h.encode("utf-8")) for h in htmls) / 1e6

    def us(name: str) -> float:
        return tot[name] / 1e3 / n

    return {
        "parser.tokenize_us_per_doc": us("parser.tokenize"),
        "parser.parse_us_per_doc": us("parser.parse"),
        "parser.parse_mb_per_s": mb / (tot["parser.parse"] / 1e9),
        "extract.spans_us_per_doc": us("extract.spans"),
        "extract.main_content_us_per_doc": us("extract.main_content"),
        "select.css_us_per_doc": us("select.css"),
        "select.xpath_us_per_doc": us("select.xpath"),
        "clean.clean_us_per_doc": us("clean.clean"),
        "clean.serialize_us_per_doc": us("clean.serialize"),
    }


def _pyonly_main(sample_path: str) -> None:
    sys.meta_path.insert(0, BlockNative())
    sys.path.insert(0, ".")
    from perfbench.trace import Tracer, total_by_name
    from jsoup_spark.parser import treebuilder
    if treebuilder._FT is not None:
        raise SystemExit("native tree builder still loaded")
    htmls = read_sample(sample_path)
    tokenize_parse(htmls[:8], Tracer("warm", enabled=False))
    tr = Tracer("pyonly")
    tokenize_parse(htmls, tr)
    tot = total_by_name(tr.spans)
    print(json.dumps({f"{k.split('.')[1]}_us_per_doc": v / 1e3 / len(htmls)
                      for k, v in tot.items()}))


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--pyonly":
        raise SystemExit("usage: ledger.py --pyonly SAMPLE.jsonl")
    _pyonly_main(sys.argv[2])
