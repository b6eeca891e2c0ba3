"""DOM-API cases ported from the reference's nodes/ElementTest.java
(expected strings taken verbatim from the Java assertions; fragment-HTML
convenience overloads are expressed through parse_fragment + node ops)."""

import re

from jsoup_spark.clean.serializer import OutputSettings, inner_html
from jsoup_spark.parser.nodes import Element, TextNode
from jsoup_spark.parser.treebuilder import parse, parse_fragment
from jsoup_spark.select.selector import select

_PLAIN = OutputSettings(pretty=False)


def _body_html(doc):
    # TextUtil.stripNewlines(doc.body().html()) analog over pretty output
    return re.sub(r"\n\s*", "", inner_html(doc.body))


def test_get_elements_by_tag():
    # ElementTest.java:80-96 (reference fixture)
    reference = ("<div id=div1><p>Hello</p><p>Another <b>element</b></p>"
                 "<div id=div2><img src=foo.png></div></div>")
    doc = parse(reference)
    divs = select(doc, "div")
    assert [d.attr("id") for d in divs] == ["div1", "div2"]
    ps = select(doc, "p")
    assert len(ps) == 2
    assert select(doc, "imp") == []


def test_text_has_spaces_after_block():
    # ElementTest.java:198-207
    doc = parse("<div>One</div><div>Two</div><span>Three</span>"
                "<p>Fou<i>r</i></p>")
    assert doc.body.text() == "One Two Three Four"
    assert doc.body.whole_text() == "OneTwoThreeFour"
    assert parse("<span>One</span><span>Two</span>").body.text() == "OneTwo"


def test_set_text():
    # ElementTest.java:771-779
    doc = parse("<div id=1>Hello <p>there <b>now</b></p></div>")
    assert doc.body.text() == "Hello there now"
    assert select(doc, "p")[0].text() == "there now"
    div = select(doc, "#1")[0]
    div.set_text("Gone")
    assert div.text() == "Gone"
    assert len(select(doc, "p")) == 0


def test_add_new_text():
    # ElementTest.java:852-857 (appendText -> append TextNode)
    doc = parse("<div id=1><p>Hello</p></div>")
    div = select(doc, "#1")[0]
    div.append(TextNode(" there & now >"))
    assert div.text() == "Hello there & now >"
    assert _body_html(doc).replace('<div id="1">', "").replace("</div>", "") \
        == "<p>Hello</p>there &amp; now &gt;"


def test_wrap():
    # ElementTest.java:953-957 (wrap(Element) form)
    doc = parse("<div><p>Hello</p><p>There</p></div>")
    p = select(doc, "p")[0]
    wrapper = Element("div", attrs={"class": "head"})
    p.wrap(wrapper)
    assert _body_html(doc) == ('<div><div class="head"><p>Hello</p></div>'
                               "<p>There</p></div>")


def test_before_after():
    # ElementTest.java:1000-1018, via fragment parse + before/after
    doc = parse("<div><p>Hello</p><p>There</p></div>")
    p1 = select(doc, "p")[0]
    for node in parse_fragment("<div>one</div><div>two</div>", "div"):
        p1.before(node)
    assert _body_html(doc) == ("<div><div>one</div><div>two</div>"
                               "<p>Hello</p><p>There</p></div>")

    doc2 = parse("<div><p>Hello</p><p>There</p></div>")
    pl = select(doc2, "p")[0]
    for node in parse_fragment("<div>one</div><div>two</div>", "div"):
        pl.after(node)
        pl = node
    assert _body_html(doc2) == ("<div><p>Hello</p><div>one</div>"
                                "<div>two</div><p>There</p></div>")


def test_clone_classnames_independent():
    # ElementTest.java:1134-1150
    doc = parse("<div class='one two'></div>")
    div = select(doc, "div")[0]
    assert sorted(div.class_names()) == ["one", "two"]
    copy = div.clone()
    copy.add_class("three")
    assert sorted(copy.class_names()) == ["one", "three", "two"]
    assert sorted(div.class_names()) == ["one", "two"]


def test_empty_and_unwrap():
    doc = parse("<div><p>Hello <b>there</b></p> kept</div>")
    p = select(doc, "p")[0]
    p.empty()
    assert p.children == []
    assert doc.body.text() == "kept"
    doc2 = parse("<div><font>One <b>Two</b></font></div>")
    font = select(doc2, "font")[0]
    font.unwrap()
    assert _body_html(doc2) == "<div>One <b>Two</b></div>"


def test_replace_with():
    doc = parse("<div><p>One</p><p>Two</p></div>")
    p1 = select(doc, "p")[0]
    repl = Element("h1")
    repl.append(TextNode("Hi"))
    p1.replace_with(repl)
    assert _body_html(doc) == "<div><h1>Hi</h1><p>Two</p></div>"


def test_toggle_and_remove_class():
    doc = parse("<div class='a b'>x</div>")
    div = select(doc, "div")[0]
    div.toggle_class("b")
    assert div.class_names() == ["a"]
    div.toggle_class("c")
    assert div.class_names() == ["a", "c"]
    div.remove_class("a")
    assert div.class_names() == ["c"]
    assert div.has_class("c") and not div.has_class("a")


def test_append_prepend_html():
    doc = parse("<div id=1><p>one</p></div>")
    div = select(doc, "#1")[0]
    div.append_html("<p>two</p><p>three</p>")
    div.prepend_html("<p>zero</p>")
    assert _body_html(doc) == ('<div id="1"><p>zero</p><p>one</p>'
                               "<p>two</p><p>three</p></div>")


def test_textnode_is_blank():
    # TextNodeTest.java:19-31
    assert TextNode("").is_blank()
    assert TextNode("     ").is_blank()
    assert TextNode("  \n\n   ").is_blank()
    assert not TextNode("Hello").is_blank()
    assert not TextNode("  \nHello ").is_blank()


def test_split_text():
    # TextNodeTest.java:53-64
    doc = parse("<div>Hello there</div>")
    div = select(doc, "div")[0]
    tn = div.children[0]
    tail = tn.split_text(6)
    assert tn.value == "Hello "
    assert tail.value == "there"
    tail.value = "there!"
    assert div.text() == "Hello there!"
    assert tn.parent is tail.parent


def test_split_and_embolden():
    # TextNodeTest.java:66-73
    doc = parse("<div>Hello there</div>")
    div = select(doc, "div")[0]
    tail = div.children[0].split_text(6)
    tail.wrap(Element("b"))
    assert re.sub(r"\n\s*", "", inner_html(div)) == "Hello <b>there</b>"


def test_split_text_validation():
    # TextNodeTest.java:75-86
    import pytest
    doc = parse("<div>Hello there</div>")
    tn = select(doc, "div")[0].children[0]
    with pytest.raises(ValueError):
        tn.split_text(-5)
    with pytest.raises(ValueError):
        tn.split_text(500)


def test_attr_lookups_ignore_case():
    # Node.attr/hasAttr are IGNORE-CASE, first match in attribute order
    # (Attributes.getIgnoreCase / hasKeyIgnoreCase) — harness-probed over
    # foreign html ([viewbox] finds viewBox) and xmlParser docs
    from jsoup_spark.select.selector import compile_query
    svg = select(parse("<p><svg viewBox='0 0 1 1' id=s><circle/></svg></p>"),
                 "svg")[0]
    assert svg.attr("viewbox") == "0 0 1 1"
    assert svg.attr("VIEWBOX") == "0 0 1 1"
    assert svg.has_attr("viewbox")
    doc = parse("<p><svg viewBox='0 0 1 1' id=s><circle/></svg></p>")
    assert len(select(doc, compile_query("[viewbox]"))) == 1
    assert len(select(doc, compile_query("[viewbox=0 0 1 1]"))) == 1
    assert len(select(doc, compile_query("[^viewB]"))) == 1


def test_attr_case_collision_first_wins():
    # <x ID=1 id=2>: getIgnoreCase takes the FIRST attribute in order —
    # attr('id') is '1' on the reference; serialization still emits both
    # (nodes._CiAttrs). CSS value compares go through the same fold.
    from jsoup_spark.parser.xmlbuilder import parse_xml
    from jsoup_spark.select.selector import compile_query
    doc = parse_xml('<root><x ID="1" id="2">q</x></root>')
    x = doc.children[0].children[0]
    assert x.attr("id") == "1"
    assert x.attr("ID") == "1"
    assert list(x.attrs.items()) == [("ID", "1"), ("id", "2")]
    assert len(select(doc, compile_query("[id=1]"))) == 1
    assert len(select(doc, compile_query("[id=2]"))) == 0
    # xpath attribute tests stay EXACT (Xalan compares the stored QName)
    from jsoup_spark.select.xpath import select_xpath
    assert len(select_xpath(doc, "//x[@id='2']")) == 1
    assert len(select_xpath(doc, "//x[@ID='1']")) == 1
    svg = parse("<p><svg viewBox='0 0 1 1' id=s><circle/></svg></p>")
    assert len(select_xpath(svg, "//svg[@viewBox]")) == 1
    assert len(select_xpath(svg, "//svg[@viewbox]")) == 0


def test_structural_pseudos_exclude_root():
    # Evaluator.IsFirstChild/IsLastChild/CssNthEvaluator/IsOnlyChild/
    # IsOnlyOfType all require a non-Document parent: the root element
    # never matches (harness-probed: html:first-child is empty)
    from jsoup_spark.select.selector import compile_query
    doc = parse("<p>x</p>")
    for q in ("html:first-child", "html:last-child", "html:only-child",
              "html:only-of-type", "html:first-of-type",
              "html:nth-child(1)", "html:nth-last-of-type(1)"):
        assert select(doc, compile_query(q)) == [], q
    assert [e.name for e in select(doc, compile_query("*:only-child"))] == ["p"]
    assert [e.name for e in select(doc, compile_query("*:last-child"))] == \
        ["body", "p"]


def test_set_attr_collision_on_preserved_case_attrs():
    # a lowercase key added to a preserved-case dict can collide
    # ignore-case with an existing key; attr() must then resolve
    # first-in-order like the reference's getIgnoreCase
    from jsoup_spark.parser.xmlbuilder import parse_xml
    x = parse_xml('<root><x viewBox="1">q</x></root>').children[0].children[0]
    x.set_attr("viewbox", "2")
    assert list(x.attrs.items()) == [("viewBox", "1"), ("viewbox", "2")]
    assert x.attr("viewbox") == "1"
    assert x.attr("viewBox") == "1"
