"""HTML/XML serializer (the engine's HTML sink).

Implements the reference's output pipeline: Printer default/pretty/outline
modes (nodes/Printer.java:11-238), element head/tail forms
(nodes/Element.java:2000-2029), attribute output with boolean-attr collapse
(nodes/Attribute.java:191-320), and base-mode entity escaping with
normalize/trim options (nodes/Entities.java:186-300). UTF-8 output charset
(everything encodable).
"""

from __future__ import annotations

import os
import re

from ..parser import tags
from ..parser.entities import _can_encode as _cs_can_encode
from ..parser.nodes import (
    CDataNode, CommentNode, DataNode, DoctypeNode, Document, Element, Node,
    PseudoTextElement, TextNode, XmlDeclNode, java_trim,
)
from ..parser.tags import NS_HTML

# escape options
FOR_TEXT = 1
FOR_ATTRIBUTE = 2
NORMALISE = 4
TRIM_LEADING = 8
TRIM_TRAILING = 16

_WS = frozenset(" \t\n\r\f")

BOOLEAN_ATTRS = frozenset("""
    allowfullscreen async autofocus checked compact declare default defer
    disabled formnovalidate hidden inert ismap itemscope multiple muted
    nohref noresize noshade novalidate nowrap open readonly required
    reversed seamless selected sortable truespeed typemustmatch
""".split())

_HTML_KEY_REPLACE = re.compile("[\x00-\x1f\x7f-\x9f \"'/=]+")
_XML_KEY_REPLACE = re.compile("[^-a-zA-Z0-9_:.]+")


class OutputSettings:
    __slots__ = ("pretty", "outline", "indent_amount", "max_padding",
                 "syntax", "escape_mode", "charset")

    def __init__(self, pretty=True, outline=False, indent_amount=1,
                 max_padding=30, syntax="html", escape_mode="base",
                 charset="utf-8"):
        self.pretty = pretty
        self.outline = outline
        self.indent_amount = indent_amount
        self.max_padding = max_padding
        self.syntax = syntax
        self.escape_mode = escape_mode  # base | extended | xhtml
        self.charset = charset


DEFAULT = OutputSettings()


# Optional C pretty-printer (same strict-subset/bail design as the parser
# accelerators; the Python printer below remains the source of truth and
# the fallback for every non-dominant configuration).
_CSER = None
if not os.environ.get("JSOUP_FASTSER_DISABLE"):
    try:
        from .._native import jsoup_fastser as _CSER
    except ImportError:  # pragma: no cover - no C compiler
        pass
    else:
        _CSER.configure(
            Element, PseudoTextElement, Document, TextNode, CDataNode,
            DataNode, CommentNode, DoctypeNode, XmlDeclNode,
            tags._HTML_FLAGS, tags.TAG_FLAGS, NS_HTML, BOOLEAN_ATTRS,
            tags.KNOWN, tags.VOID, tags.BLOCK, tags.INLINE_CONTAINER,
            tags.SELF_CLOSE, tags.SEEN_SELF_CLOSE, tags.PRESERVE_WS)


def _c_eligible(settings: OutputSettings) -> bool:
    """The C printer covers only the dominant configuration; everything
    else (outline, xml syntax, custom indents, non-UTF charsets, xhtml
    escape mode) takes the Python path."""
    return (_CSER is not None and settings.pretty and not settings.outline
            and settings.indent_amount == 1 and settings.max_padding == 30
            and settings.syntax == "html"
            and settings.escape_mode in ("base", "extended")
            and settings.charset.lower().startswith("utf"))


_FAST_WS_RUN = re.compile(r"[ \t\n\f\r]+")
_FAST_TEXT_RX = re.compile("[&<>\xa0\x00-\x08\x0b\x0c\x0e-\x1f]")
_FAST_ATTR_RX = re.compile("[&<>\"\xa0\x00-\x08\x0b\x0c\x0e-\x1f]")
_FAST_ATTR_TEXT_RX = re.compile("[&<>\"'\xa0\x00-\x08\x0b\x0c\x0e-\x1f]")
_FAST_ESC_MAP = {"&": "&amp;", "<": "&lt;", ">": "&gt;", "\xa0": "&nbsp;",
                 '"': "&quot;", "'": "&apos;"}


def _fast_esc_repl(m: "re.Match") -> str:
    c = m.group()
    r = _FAST_ESC_MAP.get(c)
    return r if r is not None else f"&#x{ord(c):x};"


def escape_entities(data: str, options: int, settings: OutputSettings,
                    out: list[str]) -> None:
    """Entities.doEscape: contextual (minimal) escaping, honoring the
    settings' escape mode and output charset (non-encodable characters
    emit named entities per mode, else numeric — Entities.java doEscape
    charset fallback)."""
    xhtml = settings.escape_mode == "xhtml"
    cs = settings.charset
    encode_all = cs.lower().startswith("utf")
    if encode_all and not xhtml:
        # bulk fast path for the dominant configuration (base/extended
        # mode, UTF output): regex replacement over the whole string —
        # the per-character loop below was 40%+ of clean-stage wall.
        # Byte-equivalent to the loop: collapse runs to one " ", drop the
        # leading run under TRIM_LEADING, drop the trailing run under
        # TRIM_TRAILING (the loop's `skipped` flag emits internal runs
        # lazily — same output order), then escape &<> nbsp controls,
        # plus quotes per attribute context.
        if options & NORMALISE:
            data = _FAST_WS_RUN.sub(" ", data)
            if options & TRIM_LEADING and data.startswith(" "):
                data = data[1:]
            if options & TRIM_TRAILING and data.endswith(" "):
                data = data[:-1]
        if options & FOR_ATTRIBUTE:
            rx = _FAST_ATTR_TEXT_RX if options & FOR_TEXT else _FAST_ATTR_RX
        else:
            rx = _FAST_TEXT_RX
        out.append(rx.sub(_fast_esc_repl, data))
        return
    if not encode_all and not xhtml:
        from ..parser.entities import _CP_BASE, _CP_FULL
        cp_table = _CP_FULL if settings.escape_mode == "extended" \
            else _CP_BASE
    else:
        cp_table = None
    normalise = options & NORMALISE
    last_white = False
    reached_non_white = False
    skipped = False
    for c in data:
        if normalise:
            if c in _WS:
                if options & TRIM_LEADING and not reached_non_white:
                    continue
                if last_white:
                    continue
                if options & TRIM_TRAILING:
                    skipped = True
                    continue
                out.append(" ")
                last_white = True
                continue
            last_white = False
            reached_non_white = True
            if skipped:
                out.append(" ")
                skipped = False
        o = ord(c)
        if c == "&":
            out.append("&amp;")
        elif o == 0xA0:
            out.append("&#xa0;" if xhtml else "&nbsp;")
        elif c == "<":
            out.append("&lt;")
        elif c == ">":
            out.append("&gt;")
        elif c == '"':
            out.append("&quot;" if options & FOR_ATTRIBUTE else c)
        elif c == "'":
            if options & FOR_ATTRIBUTE and options & FOR_TEXT:
                out.append("&#x27;" if xhtml else "&apos;")
            else:
                out.append(c)
        elif o in (0x9, 0xA, 0xD):
            out.append(c)
        elif o < 0x20:
            if not xhtml:
                out.append(f"&#x{o:x};")
            # xhtml: invalid xml char dropped
        elif encode_all or _cs_can_encode(o, cs):
            out.append(c)
        else:
            name = cp_table.get(o) if cp_table is not None else None
            out.append(f"&{name};" if name is not None else f"&#x{o:x};")


def _valid_key(key: str, syntax: str) -> str | None:
    if syntax == "xml":
        if not re.fullmatch(r"[a-zA-Z_:][-a-zA-Z0-9_:.]*", key):
            key = _XML_KEY_REPLACE.sub("_", key)
            return key if re.fullmatch(r"[a-zA-Z_:][-a-zA-Z0-9_:.]*", key) else None
        return key
    if not key or _HTML_KEY_REPLACE.search(key):
        key = _HTML_KEY_REPLACE.sub("_", key)
        return key if key and not _HTML_KEY_REPLACE.search(key) else None
    return key


def _attrs_html(el: Element, settings: OutputSettings, out: list[str]) -> None:
    for key, val in el.attrs.items():
        vkey = _valid_key(key, settings.syntax)
        if vkey is None:
            continue
        out.append(" ")
        out.append(vkey)
        # collapse: null val; or boolean attr with empty/same-as-key value
        if settings.syntax == "html" and (
                val is None or ((val == "" or val.lower() == vkey.lower())
                                and vkey.lower() in BOOLEAN_ATTRS)):
            continue
        out.append('="')
        escape_entities(val if val is not None else "", FOR_ATTRIBUTE,
                        settings, out)
        out.append('"')


def _el_head(el: Element, settings: OutputSettings, out: list[str]) -> None:
    name = el.tag_name_case
    out.append("<")
    out.append(name)
    _attrs_html(el, settings, out)
    if not el.children:
        xml_mode = settings.syntax == "xml" or el.ns != NS_HTML
        if xml_mode and (
                el.flags & tags.SEEN_SELF_CLOSE
                or (el.flags & tags.KNOWN
                    and el.flags & (tags.VOID | tags.SELF_CLOSE))):
            out.append(" />")
        elif not xml_mode and el.flags & tags.VOID:
            out.append(">")
        else:
            out.append("></")
            out.append(name)
            out.append(">")
    else:
        out.append(">")


def _el_tail(el: Element, settings: OutputSettings, out: list[str]) -> None:
    if el.children:
        out.append("</")
        out.append(el.tag_name_case)
        out.append(">")


def _leaf_html(node: Node, settings: OutputSettings, out: list[str]) -> None:
    if isinstance(node, CDataNode):
        out.append("<![CDATA[")
        out.append(node.value)
        out.append("]]>")
    elif isinstance(node, DataNode):
        if settings.syntax == "xml":
            out.append("<![CDATA[")
            out.append(node.value)
            out.append("]]>")
        else:
            out.append(node.value)
    elif isinstance(node, CommentNode):
        out.append("<!--")
        out.append(node.value)
        out.append("-->")
    elif isinstance(node, DoctypeNode):
        if settings.syntax == "html" and not node.public_id and not node.system_id:
            out.append("<!doctype")
        else:
            out.append("<!DOCTYPE")
        if node.value:
            out.append(" " + node.value)
        if node.public_id:
            out.append(' PUBLIC "%s"' % node.public_id)
        elif node.system_id:
            out.append(" SYSTEM")
        if node.system_id:
            out.append(' "%s"' % node.system_id)
        if getattr(node, "internal_subset", None) is not None:
            # xml parser only (DocumentType.java:105-106)
            out.append(" [%s]" % node.internal_subset)
        out.append(">")
    elif isinstance(node, XmlDeclNode):
        out.append("<" + ("!" if node.is_declaration else "?"))
        out.append(node.value)
        for k, v in node.attrs.items():
            out.append(" ")
            out.append(k)
            if v is not None:
                tmp: list[str] = []
                escape_entities(v, FOR_ATTRIBUTE, settings, tmp)
                out.append('="%s"' % "".join(tmp))
        out.append("" if node.is_declaration else "?")
        out.append(">")


def _is_blank_text(node) -> bool:
    return isinstance(node, TextNode) and node.is_blank()


def _prev_nonblank(node: Node):
    p = node.parent
    if p is None:
        return None
    prev = None
    for c in p.children:
        if c is node:
            break
        prev = c
    while _is_blank_text(prev):
        # step back further
        idx = p.children.index(prev)
        prev = p.children[idx - 1] if idx > 0 else None
    return prev


def _next_sibling(node: Node):
    p = node.parent
    if p is None:
        return None
    children = p.children
    for i, c in enumerate(children):
        if c is node:
            return children[i + 1] if i + 1 < len(children) else None
    return None


def _next_nonblank(node):
    while _is_blank_text(node):
        node = _next_sibling(node)
    return node


class _Pretty:
    """Pretty printer state (Printer.Pretty)."""

    def __init__(self, root: Node, settings: OutputSettings):
        self.root = root
        self.settings = settings
        self.out: list[str] = []
        self.preserve = False
        n = root
        while n is not None:
            if isinstance(n, Element) and n.flags & tags.PRESERVE_WS:
                self.preserve = True
                break
            n = n.parent

    # --- classification ---
    def is_block_el(self, node) -> bool:
        if self.settings.outline:
            return node is not None
        if isinstance(node, Element):
            if node.name == "br":
                return True
            if node.flags & tags.BLOCK:
                return True
            if not (node.flags & tags.KNOWN or tags.is_known(node.name, node.ns)):
                if isinstance(node.parent, Document):
                    return True
                return self._has_child_blocks(node)
        return False

    @staticmethod
    def _has_child_blocks(el: Element) -> bool:
        n = 0
        for c in el.children:
            if isinstance(c, Element):
                if c.flags & tags.BLOCK or not tags.is_known(c.name, c.ns):
                    return True
                n += 1
                if n >= 5:
                    break
        return False

    @staticmethod
    def _has_non_text(el: Element) -> bool:
        for i, c in enumerate(el.children):
            if not isinstance(c, TextNode):
                return True
            if i >= 4:
                break
        return False

    def should_indent(self, node) -> bool:
        if node is None or node is self.root or self.preserve or _is_blank_text(node):
            return False
        if self.settings.outline:
            if isinstance(node, TextNode):
                return _prev_nonblank(node) is not None or _next_sibling(node) is not None
            return True
        if self.is_block_el(node):
            return True
        prev = _prev_nonblank(node)
        if self.is_block_el(prev):
            return True
        parent = node.parent
        if (not self.is_block_el(parent)
                or (isinstance(parent, Element) and parent.flags & tags.INLINE_CONTAINER)
                or (isinstance(parent, Element) and not self._has_non_text(parent))):
            return False
        return prev is None or (
            not isinstance(prev, TextNode)
            and (self.is_block_el(prev) or not isinstance(prev, Element)))

    def indent(self, depth: int) -> None:
        pad = min(depth * self.settings.indent_amount, self.settings.max_padding)
        self.out.append("\n" + " " * pad)

    # --- emission ---
    def add_head(self, el: Element, depth: int) -> None:
        if isinstance(el, PseudoTextElement):
            return  # serializes invisibly (PseudoTextElement.java:19-25)
        if self.should_indent(el):
            self.indent(depth)
        _el_head(el, self.settings, self.out)
        if el.flags & tags.PRESERVE_WS:
            self.preserve = True

    def add_tail(self, el: Element, depth: int) -> None:
        if isinstance(el, PseudoTextElement):
            return
        first = el.children[0] if el.children else None
        if self.should_indent(_next_nonblank(first)):
            self.indent(depth)
        _el_tail(el, self.settings, self.out)
        if self.preserve and el.flags & tags.PRESERVE_WS:
            parent = el.parent
            while parent is not None:
                if isinstance(parent, Element) and parent.flags & tags.PRESERVE_WS:
                    return
                parent = parent.parent
            self.preserve = False

    def add_text(self, node: TextNode, depth: int) -> None:
        options = FOR_TEXT
        if not self.preserve:
            options |= NORMALISE
            options = self._text_trim(node, options)
            if (not node.is_blank() and self.is_block_el(node.parent)
                    and self.should_indent(node)):
                self.indent(depth)
        escape_entities(node.value, options, self.settings, self.out)

    def _text_trim(self, node: TextNode, options: int) -> int:
        if self.settings.outline:
            pass
        if not self.is_block_el(node.parent):
            return options
        prev = _prev_sibling(node)
        nxt = _next_sibling(node)
        if not (isinstance(prev, Element) and not self.is_block_el(prev)):
            if prev is None or (not isinstance(prev, TextNode)
                                and self.should_indent(prev)):
                options |= TRIM_LEADING
        if nxt is None or (not isinstance(nxt, TextNode)
                           and self.should_indent(nxt)):
            options |= TRIM_TRAILING
        else:
            nxt = _next_nonblank(nxt)
            if isinstance(nxt, TextNode) and nxt.value and nxt.value[0] in _WS:
                options |= TRIM_TRAILING
        return options

    def add_node(self, node, depth: int) -> None:
        if self.should_indent(node):
            self.indent(depth)
        _leaf_html(node, self.settings, self.out)


def _prev_sibling(node: Node):
    p = node.parent
    if p is None:
        return None
    prev = None
    for c in p.children:
        if c is node:
            return prev
        prev = c
    return None


def _traverse(printer, root_nodes, settings: OutputSettings) -> None:
    # NodeTraversor head/tail walk, depth 0 at each supplied root
    for root in root_nodes:
        stack: list[list] = [[root, 0, 0, False]]  # node, depth, child_idx, head_done
        while stack:
            f = stack[-1]
            node, depth = f[0], f[1]
            if not f[3]:
                f[3] = True
                if isinstance(node, Element):
                    printer.add_head(node, depth)
                elif type(node) is TextNode:
                    printer.add_text(node, depth)
                    stack.pop()
                    continue
                else:
                    printer.add_node(node, depth)
                    stack.pop()
                    continue
            children = node.children
            if f[2] < len(children):
                child = children[f[2]]
                f[2] += 1
                stack.append([child, depth + 1, 0, False])
            else:
                printer.add_tail(node, depth)
                stack.pop()


class _Plain(_Pretty):
    """Non-pretty printer: no indentation or normalization."""

    def should_indent(self, node) -> bool:
        return False

    def add_text(self, node: TextNode, depth: int) -> None:
        escape_entities(node.value, FOR_TEXT, self.settings, self.out)

    def add_head(self, el: Element, depth: int) -> None:
        if isinstance(el, PseudoTextElement):
            return
        _el_head(el, self.settings, self.out)

    def add_tail(self, el: Element, depth: int) -> None:
        if isinstance(el, PseudoTextElement):
            return
        _el_tail(el, self.settings, self.out)

    def add_node(self, node, depth: int) -> None:
        _leaf_html(node, self.settings, self.out)


def inner_html(el: Element, settings: OutputSettings = DEFAULT) -> str:
    # the printer's root is the FIRST CHILD (Element.java:2063-2069), which
    # exempts it from indent/trim decisions
    if not el.children:
        return ""
    first = el.children[0]
    if _c_eligible(settings):
        res = _CSER.serialize_pretty(el.children, first)
        if res is not None:
            return java_trim(res)
    printer = _Pretty(first, settings) if settings.pretty else _Plain(first, settings)
    _traverse(printer, list(el.children), settings)
    html = "".join(printer.out)
    return java_trim(html) if settings.pretty else html


def outer_html(node: Node, settings: OutputSettings | None = None) -> str:
    if isinstance(node, Document):
        # Document.outerHtml() == html(): the synthetic #root container
        # never serializes (nodes/Document.java outerHtml -> html())
        if settings is None:
            if node.output_settings is not None:
                settings = node.output_settings
            else:
                settings = OutputSettings(pretty=False, syntax="xml") \
                    if node.parse_mode == "xml" else DEFAULT
        return document_html(node, settings)
    if settings is None:
        # XML-parsed documents serialize with xml syntax + no pretty-print
        # (XmlTreeBuilder.initialiseParse, XmlTreeBuilder.java:49-52);
        # a Document with explicit OutputSettings governs all its nodes
        # (NodeUtils.outputSettings)
        doc = node.owner_document()
        if doc is not None and doc.output_settings is not None:
            settings = doc.output_settings
        elif doc is not None and doc.parse_mode == "xml":
            settings = OutputSettings(pretty=False, syntax="xml")
        else:
            settings = DEFAULT
    if _c_eligible(settings):
        res = _CSER.serialize_pretty([node], node)
        if res is not None:
            return java_trim(res)
    printer = _Pretty(node, settings) if settings.pretty else _Plain(node, settings)
    _traverse(printer, [node], settings)
    html = "".join(printer.out)
    return java_trim(html) if settings.pretty else html


def document_html(doc: Document, settings: OutputSettings = DEFAULT) -> str:
    return inner_html(doc, settings)
