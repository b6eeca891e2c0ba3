"""C-vs-Python tree-builder self-differential.

Every input is parsed twice: on the default path, where the C applier
(jsoup_spark/_native/fasttree.c) takes the insertion modes listed in
treebuilder._FT_STATES, and with _FT_STATES emptied, where the Python
dispatcher handles every token. The two parses must build the same tree
(canonical form, element flags, parent links), record the same errors and
end in the same quirks mode. The inputs lean on the table modes: the
table goldens, seeded table documents and tag soup in table wrappers.
"""

import importlib.util
import os
import random
import re

import pytest
from conftest import REPO, load_fixture

from jsoup_spark.extract.canonical import canonical
from jsoup_spark.parser import treebuilder
from jsoup_spark.parser.nodes import Element

pytestmark = pytest.mark.skipif(treebuilder._FT is None,
                                reason="C tree builder not available")

_TABLE_TAG = re.compile(
    r"<\s*/?\s*(table|tbody|thead|tfoot|tr|td|th|caption|colgroup|col)\b",
    re.I)


def _shape(doc):
    """Tree facts canonical() leaves out: flags and parent links."""
    out = []
    stack = [doc]
    while stack:
        n = stack.pop()
        for c in n.children:
            out.append((type(c).__name__,
                        c.flags if isinstance(c, Element) else None,
                        c.parent is n))
        stack.extend(c for c in reversed(n.children)
                     if isinstance(c, Element))
    return out


def _facts(html):
    doc = treebuilder.parse(html)
    return canonical(doc), list(doc.errors), doc.quirks_mode, _shape(doc)


def _differences(inputs, monkeypatch):
    native = [_facts(h) for h in inputs]
    with monkeypatch.context() as m:
        m.setattr(treebuilder, "_FT_STATES", frozenset())
        python = [_facts(h) for h in inputs]
    return [(h[:200], a[:2], b[:2])
            for h, a, b in zip(inputs, native, python) if a != b]


def _table_doc(rng):
    """One seeded table document from pieces that hit the table modes."""
    ws = ["", " ", "\n  ", "\n\t\t", "\r\n    "]
    cell = ["x", "<b>bold", "</b>", "<i>it</i>", "<p>para", "<a href=/a>ln</a>",
            "<br>", "<img src=i.png>", "&amp; 1&lt;2", "text\x00nul",
            "<script>var a = '<td>';</script>", "<span>s</span>",
            "<select><option>o</select>", "<!-- c -->", "<input type=hidden>",
            "<ul><li>a<li>b</ul>", "<h2>h</h2>", "<div>d", "</div>",
            "</table>", "<table><tr><td>inner</td></tr></table>", "<table>",
            "<td>", "</tr>", "</tbody>", "<tr>", "<th>", "</th>", "</td>",
            "<caption>cap</caption>", "<col>", "<colgroup><col></colgroup>",
            "foster text", "<form>", "<style>td{}</style>", "</p>",
            "<title>t</title>", "<textarea>x</textarea>", "<td/>", "<tr/>",
            "<tbody/>", "</caption>", "</col>", "</body>", "</html>",
            "<template><td>t</td></template>", "<noscript>n</noscript>",
            "<svg><td></td></svg>", "<button>b", "<nobr>n", "<h3>", "</h3>"]
    structure = ["<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>",
                 "<th>", "</th>", "<tbody>", "</tbody>", "<thead>",
                 "</thead>", "<tfoot>", "</tfoot>", "<caption>", "<colgroup>",
                 "<col>"]
    parts = [rng.choice(["", "<!DOCTYPE html>",
                         "<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 3.2//EN\">"]),
             rng.choice(["", "<html><body>", "<p>open para"]),
             "<table" + rng.choice(["", " class=t", " id=a id=b"]) + ">"]
    for _ in range(rng.randint(2, 40)):
        r = rng.random()
        if r < 0.35:
            parts.append(rng.choice(structure))
        elif r < 0.75:
            parts.append(rng.choice(cell))
        else:
            parts.append(rng.choice(ws))
    if rng.random() < 0.7:
        parts.append("</table>")
    parts.append(rng.choice(["", "after", "<p>after</p>", "</body></html>"]))
    return "".join(parts)


def _rand_html():
    path = os.path.join(REPO, "tools", "mega_fuzz.py")
    spec = importlib.util.spec_from_file_location("_diff_mega_fuzz", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.rand_html


def test_table_goldens_match_python(monkeypatch):
    inputs = [c["html"] for c in load_fixture("golden_tree.json")
              if _TABLE_TAG.search(c["html"])]
    assert len(inputs) > 100
    assert _differences(inputs, monkeypatch) == []


def test_seeded_table_documents_match_python(monkeypatch):
    rng = random.Random(20261017)
    inputs = [_table_doc(rng) for _ in range(1500)]
    # pretty-printed, well-formed tables: the shape the C path exists for
    inputs += ["<table>\n  <thead>\n    <tr><th>h</th></tr>\n  </thead>\n"
               "  <tbody>\n" + "    <tr>\n      <td>a</td>\n      <td>b"
               "</td>\n    </tr>\n" * n + "  </tbody>\n</table>"
               for n in range(4)]
    assert _differences(inputs, monkeypatch) == []


def test_fuzz_in_table_wrappers_match_python(monkeypatch):
    rand_html = _rand_html()
    rng = random.Random(4242)
    wrappers = ["<table>{}</table>", "<table><tr><td>{}</td></tr></table>",
                "<table><tbody><tr>{}", "<table><td>{}<td>x</table>",
                "<p><table>{}", "{}<table><tr><td>{}"]
    inputs = []
    for _ in range(1200):
        w = rng.choice(wrappers)
        inputs.append(w.format(*(rand_html(rng, rng.randint(3, 40))
                                 for _ in range(w.count("{}")))))
    assert _differences(inputs, monkeypatch) == []


def test_table_fragments_match_python(monkeypatch):
    cases = [("<td>a<td>b</tr><tr><td>c</table>x", "tr"),
             ("a</td><td>b</table>", "td"), ("<tr><td>x</td></tr>", "tbody"),
             ("<tr><td>x</table>y", "table"), ("</table><td>z", "th")]

    def run():
        return [canonical(treebuilder.parse_fragment(h, ctx))
                for h, ctx in cases]

    native = run()
    with monkeypatch.context() as m:
        m.setattr(treebuilder, "_FT_STATES", frozenset())
        assert run() == native
