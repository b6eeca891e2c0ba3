"""ParseSettings case preservation + Document.charset() meta sync.

Differentials vs the compiled reference (Harness ops `casetree`,
`charsetdoc`) replayed from committed fixtures:
- golden_casetree.json: every input parsed under all four
  (preserveTagCase, preserveAttributeCase) combos; canonical tree AND
  doc.html() must match (reference parser/ParseSettings.java:1-88).
- golden_charsetdoc.json: Document.charset(cs) syncs the `<meta charset>`
  element (html syntax) or the `<?xml?>` declaration (xml syntax) and
  switches the output charset (reference nodes/Document.java:270-335).
"""

import json
import os

from jsoup_spark.clean.serializer import outer_html
from jsoup_spark.extract.canonical import canonical
from jsoup_spark.parser.treebuilder import (
    HTML_DEFAULT, PRESERVE_CASE, ParseSettings, parse, parse_fragment,
)

FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures")


def test_golden_casetree_differential():
    with open(os.path.join(FIXDIR, "golden_casetree.json")) as f:
        cases = json.load(f)
    assert len(cases) >= 160
    for case in cases:
        pt, pa = case["mode"][0] == "t", case["mode"][1] == "t"
        doc = parse(case["html"], settings=ParseSettings(pt, pa))
        assert canonical(doc) == case["tree"], (case["html"], case["mode"])
        assert outer_html(doc) == case["out"], (case["html"], case["mode"])


def test_golden_charsetdoc_differential():
    with open(os.path.join(FIXDIR, "golden_charsetdoc.json")) as f:
        cases = json.load(f)
    assert len(cases) >= 10
    for case in cases:
        cs, _, mode = case["arg"].partition("|")
        doc = parse(case["html"])
        if mode == "xml":
            doc._ensure_output_settings().syntax = "xml"
        doc.charset(cs)
        assert outer_html(doc) == case["out"], case["arg"]


def test_preserve_case_basics():
    # HtmlParserTest.handlesPreservedCaseTags-style behaviors
    doc = parse("<DIV Class=Up ID=One><P>x</P></DIV>",
                settings=PRESERVE_CASE)
    s = outer_html(doc)
    assert "<DIV" in s and "Class=\"Up\"" in s and "ID=\"One\"" in s
    # default lowercases both facets
    assert "<div" in outer_html(parse("<DIV Class=Up>x"))
    # tag-only preservation
    s2 = outer_html(parse("<DIV Class=Up>x", settings=ParseSettings(True, False)))
    assert "<DIV" in s2 and "class=\"Up\"" in s2
    # attribute-only preservation
    s3 = outer_html(parse("<DIV Class=Up>x", settings=ParseSettings(False, True)))
    assert "<div" in s3 and "Class=\"Up\"" in s3


def test_preserve_case_attr_dedupe_is_case_sensitive():
    # with preserveAttributeCase, TITLE and title are distinct keys
    doc = parse("<p TITLE=a title=b>x", settings=PRESERVE_CASE)
    p = next(e for e in doc.elements() if e.name == "p")
    assert p.attrs.get("TITLE") == "a" and p.attrs.get("title") == "b"
    # default: first wins after lowercasing
    doc2 = parse("<p TITLE=a title=b>x")
    p2 = next(e for e in doc2.elements() if e.name == "p")
    assert p2.attrs == {"title": "a"}


def test_preserve_case_selectors_still_normalized():
    # selection matches on the normalized name regardless of settings
    from jsoup_spark.select.selector import select
    doc = parse("<DIV><P>x</P></DIV>", settings=PRESERVE_CASE)
    assert len(select(doc, "div p")) == 1


def test_fragment_settings():
    nodes = parse_fragment("<SPAN Data-X=1>f</SPAN>", "div",
                           settings=PRESERVE_CASE)
    el = nodes[0]
    assert el.tag_name_case == "SPAN" and el.attrs.get("Data-X") == "1"


def test_charset_getter_and_meta_update():
    doc = parse("<html><head><meta charset=UTF-8></head><body>x</body></html>")
    assert doc.charset() == "UTF-8"
    doc.charset("iso-8859-1")
    assert doc.charset() == "ISO-8859-1"
    s = outer_html(doc)
    assert 'charset="ISO-8859-1"' in s
    # obsolete meta name=charset elements removed on update
    doc2 = parse("<html><head><meta name=charset content=x></head>"
                 "<body>y</body></html>")
    doc2.charset("UTF-8")
    s2 = outer_html(doc2)
    assert 'name="charset"' not in s2 and 'charset="UTF-8"' in s2


def test_foreign_attr_dedupe_ignore_case():
    # Attributes.deduplicate(settings) compares equalsIgnoreCase unless
    # the BUILDER's settings preserve attribute case — independent of the
    # foreign-element forcePreserveCase NAME path. Default parse of
    # <svg viewBox=1 viewbox=2 ID=a id=b> keeps ONLY the first of each
    # ignore-case pair, with a dropped-duplicate parse error
    # (harness-probed; HtmlTreeBuilder.java:369-381).
    from jsoup_spark.parser.treebuilder import parse
    doc = parse('<p><svg viewBox="1" viewbox="2" ID="a" id="b">y</svg></p>')
    svg = doc.body.children[0].children[0]
    assert dict(svg.attrs) == {"viewBox": "1", "ID": "a"}
    assert any("duplicate" in e for e in doc.errors)


def test_preserve_case_attr_dedupe_sensitive():
    # preserveAttributeCase=true flips dedupe to case-SENSITIVE: ID and
    # id coexist (and attr('id') resolves first-in-order via the
    # _CiAttrs fold)
    from jsoup_spark.parser.treebuilder import parse, ParseSettings, PRESERVE_CASE
    doc = parse('<p ID="1" id="2">x</p>', settings=PRESERVE_CASE)
    p = doc.body.children[0]
    assert dict(p.attrs) == {"ID": "1", "id": "2"}
    assert p.attr("id") == "1"
    # tag-case-only settings still dedupe attrs ignore-case
    doc2 = parse('<p ID="1" id="2">x</p>', settings=ParseSettings(True, False))
    assert dict(doc2.body.children[0].attrs) == {"id": "1"}


def test_merged_attr_collision_on_preserved_case_attrs():
    # a second <html> merges its attributes into the first; with
    # preserved case a merged lowercase key can collide ignore-case with
    # an existing one, and attr() must resolve first-in-order
    from jsoup_spark.parser.treebuilder import parse, PRESERVE_CASE
    doc = parse('<html viewBox="1"><body><html viewbox="2">x',
                settings=PRESERVE_CASE)
    html = doc.children[0]
    assert dict(html.attrs) == {"viewBox": "1", "viewbox": "2"}
    assert html.attr("viewbox") == "1"
