"""DOM node tree.

Lightweight per-document tree used *inside* Arrow batch UDFs — never a Spark
type. Node kinds mirror the reference hierarchy (nodes/Node.java:26,
Element.java:49, TextNode/DataNode/CDataNode/Comment/DocumentType). Slots
keep per-node overhead small since millions of nodes live per batch.

Text extraction (text()/whole_text()/own_text()) implements the reference's
normalization semantics exactly (nodes/Element.java:1551-1705,
internal/StringUtil.java:234-253): HTML whitespace collapse incl. nbsp,
invisible-char stripping, synthetic separators at block/br/TextBoundary
boundaries, preserve-whitespace subtrees verbatim (6-level lookup).
"""

from __future__ import annotations

from urllib.parse import urljoin

from . import tags
from .tags import NS_HTML

_WS_CHARS = frozenset(" \t\n\f\r\xa0")
_INVISIBLE = frozenset((chr(8203), chr(173)))


import re as _re

# chars that force the slow normalization path: non-space whitespace,
# nbsp, invisibles, or any double space
_NORM_SLOW = _re.compile("[\t\n\f\r\xa0​\xad]|\x20\x20")


_WS_RUN = _re.compile("[ \t\n\f\r\xa0]+")
_NORM_BAD = _re.compile("[\t\n\f\r\xa0]")
_INVIS_TABLE = {0x200B: None, 0xAD: None}


def _append_normalised(accum: list[str], text: str) -> None:
    """StringUtil.appendNormalisedWhitespace with stripLeading =
    lastCharIsWhitespace(accum).

    Bulk implementation (regex/translate, C-speed): equivalent to the
    reference's per-char loop because invisibles (U+200B, U+00AD) are
    transparent to both the run-collapsing state and the leading-strip
    state — deleting them first commutes with collapsing — and a leading
    whitespace run collapses to one space that stripLeading then drops.
    (The per-char predecessor was 72% of worker wall on text-heavy docs.)"""
    strip_leading = bool(accum) and accum[-1].endswith(" ")
    if _NORM_SLOW.search(text) is None:
        # fast path: already normalized (only single plain spaces)
        if strip_leading and text.startswith(" "):
            text = text.lstrip(" ")
        if text:
            accum.append(text)
        return
    if "​" in text or "\xad" in text:
        text = text.translate(_INVIS_TABLE)
    if _NORM_BAD.search(text) is None:
        # only plain spaces with some doubles: str.replace halves the run
        # length per pass (C-speed, few passes) — cheaper than a regex sub
        # that rewrites around every single space
        t = text
        while "  " in t:
            t = t.replace("  ", " ")
    else:
        t = _WS_RUN.sub(" ", text)
    if strip_leading and t.startswith(" "):
        t = t[1:]
    if t:
        accum.append(t)


def _last_char_is_ws(accum: list[str]) -> bool:
    return bool(accum) and accum[-1].endswith(" ")


class Node:
    # srcr/endr: parser-tracked source ranges (reference nodes/Range.java:16,
    # Range.Spans) — (start,end) offset tuples set only when the parse ran
    # with track_positions=True; endr only on Elements (end-tag range)
    __slots__ = ("parent", "srcr", "endr")
    name = "#node"

    def source_range(self):
        """(start,end) source offsets of this node, or None if untracked
        (Node.sourceRange, nodes/Node.java). Implicit if start == end."""
        r = getattr(self, "srcr", None)
        return None if r is None or r[0] < 0 else r

    def end_source_range(self):
        """(start,end) offsets of an element's end tag, or None
        (Element.endSourceRange)."""
        r = getattr(self, "endr", None)
        return None if r is None or r[0] < 0 else r

    def owner_document(self):
        n = self
        while n is not None:
            if isinstance(n, Document):
                return n
            n = n.parent
        return None

    def base_uri(self) -> str:
        doc = self.owner_document()
        return doc.base if doc is not None else ""

    def next_sibling(self):
        p = self.parent
        if p is None:
            return None
        sibs = p.children
        try:
            i = sibs.index(self)
        except ValueError:
            return None
        return sibs[i + 1] if i + 1 < len(sibs) else None

    def remove(self) -> None:
        if self.parent is not None:
            self.parent.children.remove(self)
            self.parent = None

    def before(self, node: "Node") -> "Node":
        p = self.parent
        if p is not None:
            p.insert(p.children.index(self), node)
        return self

    def after(self, node: "Node") -> "Node":
        p = self.parent
        if p is not None:
            p.insert(p.children.index(self) + 1, node)
        return self

    def replace_with(self, node: "Node") -> None:
        p = self.parent
        if p is not None:
            idx = p.children.index(self)
            self.remove()
            p.insert(idx, node)

    def wrap(self, wrapper: "Element") -> "Element":
        """Wrap this element in the (deepest child of the) wrapper."""
        deepest = wrapper
        while True:
            inner = next((c for c in deepest.children
                          if isinstance(c, Element)), None)
            if inner is None:
                break
            deepest = inner
        self.replace_with(wrapper)
        deepest.append(self)
        return self


class LeafNode(Node):
    __slots__ = ("value",)

    def __init__(self, value: str):
        self.parent = None
        self.value = value


class TextNode(LeafNode):
    __slots__ = ()
    name = "#text"

    def is_blank(self) -> bool:
        return all(c in _WS_CHARS or c in _INVISIBLE for c in self.value)

    def split_text(self, offset: int) -> "TextNode":
        """TextNode.splitText (nodes/TextNode.java:100-118): truncate this
        node at offset, return the tail as a new next sibling."""
        if not 0 <= offset <= len(self.value):
            raise ValueError("Split offset must not be negative or beyond "
                             "current text length")
        head, tail_text = self.value[:offset], self.value[offset:]
        self.value = head
        tail = type(self)(tail_text)
        if self.parent is not None:
            self.after(tail)
        return tail


class CDataNode(TextNode):
    __slots__ = ()
    name = "#cdata"


class DataNode(LeafNode):
    __slots__ = ()
    name = "#data"


class CommentNode(LeafNode):
    __slots__ = ()
    name = "#comment"


class DoctypeNode(LeafNode):
    __slots__ = ("public_id", "system_id", "internal_subset")
    name = "#doctype"

    def __init__(self, name_: str, public_id: str, system_id: str,
                 internal_subset: str | None = None):
        super().__init__(name_)
        self.public_id = public_id
        self.system_id = system_id
        # raw XML internal subset (DocumentType.setInternalSubset,
        # nodes/DocumentType.java:49); XML parser only
        self.internal_subset = internal_subset


class XmlDeclNode(LeafNode):
    __slots__ = ("attrs", "is_declaration")
    name = "#declaration"

    def __init__(self, name_: str, attrs, is_declaration: bool):
        super().__init__(name_)
        self.attrs = attrs if attrs is not None else {}
        self.is_declaration = is_declaration

    def whole_decl(self) -> str:
        # attributes only — the name is not part of the declaration body
        parts = []
        for k, v in self.attrs.items():
            if v is None:
                parts.append(k)
            else:
                esc = (v.replace("&", "&amp;").replace('"', "&quot;")
                       .replace("\xa0", "&nbsp;"))
                parts.append(f'{k}="{esc}"')
        return " ".join(parts)


_HTML_FLAGS_GET = tags._HTML_FLAGS.get


class _CiAttrs(dict):
    """Attribute dict for elements whose keys collide ignoring case
    (e.g. XML <x ID=1 id=2>): iteration/serialization see every attribute,
    while `fold` carries the first-in-order value per lowercased key —
    the reference's getIgnoreCase resolution. Built by the XML builder /
    preserve-case html path only; plain dicts stay the fast path."""

    __slots__ = ("fold",)


class _PcAttrs(dict):
    """Attribute dict holding at least one PRESERVED-CASE key (XML /
    foreign-content elements, no ignore-case collisions): `attr()` misses
    fall back to the linear ignore-case scan. A PLAIN dict now guarantees
    every key is lowercase, so its miss path is two O(1) lookups instead
    of the scan — the r8 ignore-case contract had put a per-miss
    `key.lower()` + scan on every element (measured +4% on main_content
    election, VERDICT r8 wrong#2); builders mark the rare mixed-case
    dicts instead."""

    __slots__ = ()


def make_ci_attrs(attrs: dict):
    """Classify finalized attrs: _CiAttrs iff keys collide ignoring case,
    _PcAttrs iff any key carries upper case (no collisions), else the
    plain all-lowercase dict (the fast path)."""
    fold: dict = {}
    mixed = False
    for k, v in attrs.items():
        lk = k.lower()
        if lk != k:
            mixed = True
        fold.setdefault(lk, v if v is not None else "")
    if len(fold) == len(attrs):
        return _PcAttrs(attrs) if mixed else attrs
    out = _CiAttrs(attrs)
    out.fold = fold
    return out


def copy_attrs(attrs: dict) -> dict:
    """Clone an attribute dict preserving its case-marker class (element
    cloning in the adoption agency / formatting reconstruction)."""
    t = attrs.__class__
    if t is dict:
        return dict(attrs)
    if t is _CiAttrs:
        out = _CiAttrs(attrs)
        out.fold = dict(attrs.fold)
        return out
    return _PcAttrs(attrs)


class Element(Node):
    __slots__ = ("name", "ns", "attrs", "children", "flags", "tag_name_case", "opts",
                 "attr_ranges", "attr_ns")

    def __init__(self, name: str, ns: str = NS_HTML, attrs: dict | None = None):
        self.parent = None
        self.name = name                    # normalized (lowercase in HTML)
        self.ns = ns
        self.attrs = attrs if attrs is not None else {}
        self.children: list[Node] = []
        # inlined tags.flags fast path (ctor is the hottest allocation site)
        if ns is NS_HTML:
            self.flags = _HTML_FLAGS_GET(name, 0)
        else:
            self.flags = tags.flags(name, ns)
        self.tag_name_case = name           # original case (XML / foreign)
        self.opts = -1   # lazy scope/implied-end bitmask (treebuilder)

    # --- structure ---
    def append(self, child: Node) -> None:
        if child.parent is not None:
            child.parent.children.remove(child)
        child.parent = self
        self.children.append(child)

    def insert(self, idx: int, child: Node) -> None:
        if child.parent is not None:
            child.parent.children.remove(child)
        child.parent = self
        self.children.insert(idx, child)

    def child_elements(self):
        return [c for c in self.children if isinstance(c, Element)]

    def elements(self):
        """All descendant elements, depth-first pre-order, excluding self."""
        stack = list(reversed(self.children))
        while stack:
            n = stack.pop()
            if isinstance(n, Element):
                yield n
                stack.extend(reversed(n.children))

    def nodes(self):
        """All descendant nodes incl. self, depth-first pre-order."""
        stack = [self]
        while stack:
            n = stack.pop()
            yield n
            if isinstance(n, Element):
                stack.extend(reversed(n.children))

    # --- flags ---
    @property
    def is_block(self) -> bool:
        return bool(self.flags & tags.BLOCK)

    @property
    def is_inline(self) -> bool:
        return not (self.flags & tags.BLOCK)

    @property
    def preserves_ws(self) -> bool:
        return bool(self.flags & tags.PRESERVE_WS)

    # --- attributes ---
    def attr_source_range(self, key: str):
        """((name_start, name_end), (val_start, val_end)) source offsets of
        an attribute, or None if untracked (Attribute.sourceRange →
        Attributes.sourceRange, nodes/Range.java AttributeRange). Valueless
        attributes carry an implicit value range at the name end."""
        ranges = getattr(self, "attr_ranges", None)
        if not ranges or key not in ranges:
            return None
        ns, ne, vs, ve = ranges[key]
        return ((ns, ne), (vs, ve))

    def attr(self, key: str) -> str:
        """Attribute lookup is IGNORE-CASE, first match in attribute order
        (reference Node.attr -> Attributes.getIgnoreCase,
        nodes/Attributes.java indexOfKeyIgnoreCase). The html parser
        lowercases keys so the exact hit is the whole story there; XML /
        foreign-content elements keep case ([viewbox] finds viewBox —
        harness-probed). _CiAttrs marks the rare element whose keys
        COLLIDE ignoring case: there the first-in-order rule can disagree
        with an exact hit (<x ID=1 id=2> → attr('id') is '1'), so the
        builder precomputes the fold."""
        attrs = self.attrs
        t = attrs.__class__
        if t is dict:
            # plain dict invariant: every stored key is lowercase, so the
            # ignore-case contract reduces to at most one extra O(1) get
            # (only when the QUERY key carries upper case) — no scan
            v = attrs.get(key)
            if v is not None:
                return v
            if key in attrs:
                return ""
            lk = key.lower()
            if lk != key:
                v = attrs.get(lk)
                if v is not None:
                    return v
                if lk in attrs:
                    return ""
            return ""
        if t is _CiAttrs:
            v = attrs.fold.get(key.lower())
            return v if v is not None else ""
        # _PcAttrs: preserved-case keys, no ignore-case collisions — the
        # exact hit (if any) IS the first-in-order ignore-case match
        v = attrs.get(key)
        if v is not None:
            return v
        if key in attrs:
            return ""
        lk = key.lower()
        for k, v in attrs.items():
            if k.lower() == lk:
                return v if v is not None else ""
        return ""

    def has_attr(self, key: str) -> bool:
        # Node.hasAttr -> Attributes.hasKeyIgnoreCase
        attrs = self.attrs
        t = attrs.__class__
        if t is dict:
            if key in attrs:
                return True
            lk = key.lower()
            return lk != key and lk in attrs
        if t is _CiAttrs:
            return key.lower() in attrs.fold
        if key in attrs:
            return True
        lk = key.lower()
        return any(k.lower() == lk for k in attrs)

    def abs_url(self, key: str) -> str:
        """Node.absUrl semantics (nodes/Node.java:112-133): resolve the attr
        against the doc base URI; '' if missing/unresolvable."""
        if not self.has_attr(key):
            return ""
        rel = self.attr(key)
        base = self.base_uri()
        return resolve_url(base, rel)

    @property
    def id(self) -> str:
        return self.attr("id")

    def class_names(self) -> list[str]:
        cls = self.attr("class")
        return [c for c in cls.split() if c]

    def has_class(self, name: str) -> bool:
        # case-insensitive (Evaluator.java:184)
        lname = name.lower()
        return any(c.lower() == lname for c in self.class_names())

    # --- text (reference semantics; Element.java:1551-1705) ---
    def text(self) -> str:
        ch = self.children
        if len(ch) == 1 and ch[0].__class__ is TextNode:
            # leaf fast path (p/a/li/title with one text child): the
            # traversal machinery reduces to normalize + trim
            if preserve_whitespace(self):
                return java_trim(ch[0].value)
            accum: list[str] = []
            _append_normalised(accum, ch[0].value)
            return java_trim(accum[0]) if accum else ""
        accum = []
        _text_accumulate(self, accum)
        return java_trim("".join(accum))

    def own_text(self) -> str:
        accum: list[str] = []
        pre = None  # preserve_whitespace(self), computed on first text
        for child in self.children:
            cls = child.__class__
            if cls is CDataNode:
                accum.append(child.value)
            elif isinstance(child, TextNode):
                if pre is None:
                    pre = preserve_whitespace(self)
                if pre:
                    accum.append(child.value)
                else:
                    _append_normalised(accum, child.value)
            elif isinstance(child, Element) and child.name == "br":
                if not _last_char_is_ws(accum):
                    accum.append(" ")
        return java_trim("".join(accum))

    def whole_text(self) -> str:
        parts: list[str] = []
        for n in self.nodes():
            if isinstance(n, TextNode):
                parts.append(n.value)
            elif isinstance(n, Element) and n.name == "br":
                parts.append("\n")
        return "".join(parts)

    def whole_own_text(self) -> str:
        parts: list[str] = []
        for n in self.children:
            if isinstance(n, TextNode):
                parts.append(n.value)
            elif isinstance(n, Element) and n.name == "br":
                parts.append("\n")
        return "".join(parts)

    def data(self) -> str:
        """script/style/comment contents (Element.java:1753)."""
        parts: list[str] = []
        for n in self.nodes():
            if isinstance(n, DataNode):
                parts.append(n.value)
            elif isinstance(n, CDataNode):
                parts.append(n.value)
            elif isinstance(n, CommentNode):
                parts.append(n.value)
        return "".join(parts)

    def has_text(self) -> bool:
        stack = list(self.children)
        while stack:
            n = stack.pop()
            if isinstance(n, TextNode):
                if not n.is_blank():
                    return True
            elif isinstance(n, Element):
                stack.extend(n.children)
        return False

    # --- mutation API (Element.java DOM-edit surface) ---
    def set_attr(self, key: str, value: str | None) -> "Element":
        attrs = self.attrs
        attrs[key] = value
        t = attrs.__class__
        if t is not dict or key != key.lower():
            # keep the plain-dict all-lowercase invariant (attr() fast
            # path); a marked dict may now collide ignore-case, so it is
            # reclassified and any first-in-order fold rebuilt
            self.attrs = make_ci_attrs(dict(attrs) if t is not dict else attrs)
        return self

    def remove_attr(self, key: str) -> "Element":
        attrs = self.attrs
        attrs.pop(key, None)
        if attrs.__class__ is _CiAttrs:
            # a removed key can end a collision; reclassify + refresh fold
            self.attrs = make_ci_attrs(dict(attrs))
        return self

    def add_class(self, name: str) -> "Element":
        names = self.class_names()
        if name not in names:
            names.append(name)
            self.attrs["class"] = " ".join(names)
        return self

    def remove_class(self, name: str) -> "Element":
        names = [c for c in self.class_names() if c.lower() != name.lower()]
        self.attrs["class"] = " ".join(names)
        return self

    def toggle_class(self, name: str) -> "Element":
        if self.has_class(name):
            return self.remove_class(name)
        return self.add_class(name)

    def empty(self) -> "Element":
        for c in self.children:
            c.parent = None
        self.children.clear()
        return self

    def set_text(self, text: str) -> "Element":
        """Element.text(String): clears content; script/style get DataNodes."""
        self.empty()
        if self.flags & tags.DATA:
            self.append(DataNode(text))
        else:
            self.append(TextNode(text))
        return self

    def unwrap(self) -> "Node | None":
        """Replace this element with its own children (Cleaner's unwrap
        shape); returns the first child, if any."""
        p = self.parent
        if p is None:
            return None
        idx = p.children.index(self)
        kids = list(self.children)
        self.remove()
        for off, k in enumerate(kids):
            p.insert(idx + off, k)
        return kids[0] if kids else None

    def shallow_clone(self) -> "Element":
        el = Element(self.name, self.ns, copy_attrs(self.attrs))
        el.tag_name_case = self.tag_name_case
        el.flags = self.flags
        return el

    def clone(self) -> "Element":
        out = self.shallow_clone()
        for c in self.children:
            if isinstance(c, Element):
                out.append(c.clone())
            elif isinstance(c, DoctypeNode):
                out.append(DoctypeNode(c.value, c.public_id, c.system_id))
            elif isinstance(c, XmlDeclNode):
                out.append(XmlDeclNode(c.value, dict(c.attrs), c.is_declaration))
            else:
                out.append(type(c)(c.value))
        return out

    def append_html(self, html: str) -> "Element":
        """Element.append(html): fragment-parse in this element's context."""
        from .treebuilder import parse_fragment
        for n in parse_fragment(html, self.name, self.base_uri()):
            self.append(n)
        return self

    def prepend_html(self, html: str) -> "Element":
        from .treebuilder import parse_fragment
        for off, n in enumerate(parse_fragment(html, self.name, self.base_uri())):
            self.insert(off, n)
        return self


def preserve_whitespace(node: Node | None) -> bool:
    """Element.preserveWhitespace: this element and five levels up."""
    i = 0
    n = node
    _E = Element
    _P = tags.PRESERVE_WS
    while isinstance(n, _E) and i < 6:
        if n.flags & _P:
            return True
        n = n.parent
        i += 1
    return False


def _append_normalised_text(accum: list[str], tn: TextNode) -> None:
    if tn.__class__ is CDataNode or preserve_whitespace(tn.parent):
        accum.append(tn.value)
    else:
        _append_normalised(accum, tn.value)


def _needs_leading_sep(el: Element) -> bool:
    fl = el.flags
    return bool(fl & tags.BLOCK) or el.name == "br" or bool(
        fl & tags.TEXT_BOUNDARY and el.children and el.has_text())


_BOUNDARY_OR_BLOCK = tags.TEXT_BOUNDARY | tags.BLOCK


def _needs_trailing_sep(el: Element) -> bool:
    if el.flags & _BOUNDARY_OR_BLOCK:
        return True
    for c in el.children:
        if isinstance(c, Element) and c.flags & tags.BLOCK:
            return True
    return False


def _pre_distance(el: Element) -> int:
    """Steps from `el` to its nearest PRESERVE_WS ancestor-or-self, or 6
    ("far") when none is within the reference's 6-element window. A text
    node is whitespace-preserved iff _pre_distance(parent) <= 5 —
    exactly preserve_whitespace's walk, but computable incrementally."""
    n = el
    i = 0
    _E = Element
    _P = tags.PRESERVE_WS
    while isinstance(n, _E) and i < 6:
        if n.flags & _P:
            return i
        n = n.parent
        i += 1
    return 6


def _text_accumulate(root: Element, accum: list[str]) -> None:
    """Iterative head/tail traversal mirroring Element.TextAccumulator.

    Next-sibling is threaded through the stack to stay O(nodes) (the
    reference uses parent/sibling pointers; our children are lists).
    The preserve-whitespace decision is threaded as an incremental
    pre-distance per stack frame (r9: preserve_whitespace() used to
    re-walk up to 6 ancestors for EVERY text node — a constant-factor
    tax on every text()/clean/select call).

    PARITY WARNING: extract/maincontent._text_and_anchors mirrors this
    traversal (plus anchor collection) and is pinned byte-identical by
    fuzz; any semantic change here must be mirrored there."""
    _P = tags.PRESERVE_WS
    _TN, _CD, _EL = TextNode, CDataNode, Element
    # stack entries: [element, child_index, next_sibling, pre_distance]
    stack: list[list] = [[root, 0, None, _pre_distance(root)]]
    # (the reference's head(root) is a no-op here: the separator logic
    # only fires on a non-empty accumulator, and accum starts empty)
    while stack:
        top = stack[-1]
        node, idx = top[0], top[1]
        children = node.children
        if idx < len(children):
            top[1] = idx + 1
            child = children[idx]
            cls = child.__class__
            if cls is _TN:
                if top[3] <= 5:
                    accum.append(child.value)
                else:
                    _append_normalised(accum, child.value)
                continue
            if cls is _CD:
                accum.append(child.value)
                continue
            if not isinstance(child, _EL):
                continue
            nxt = children[idx + 1] if idx + 1 < len(children) else None
            if accum and _needs_leading_sep(child) \
                    and not accum[-1].endswith(" "):
                accum.append(" ")
            if child.children:
                stack.append([child, 0, nxt,
                              0 if child.flags & _P else top[3] + 1])
            else:
                _tail(child, accum, nxt)
        else:
            stack.pop()
            _tail(node, accum, top[2])


def _head(node: Node, accum: list[str]) -> None:
    if isinstance(node, TextNode):
        _append_normalised_text(accum, node)
    elif isinstance(node, Element):
        if accum and _needs_leading_sep(node) and not _last_char_is_ws(accum):
            accum.append(" ")


def _tail(node: Node, accum: list[str], nxt: Node | None) -> None:
    if isinstance(node, Element):
        if (_needs_trailing_sep(node)
                and (isinstance(nxt, TextNode)
                     or (isinstance(nxt, Element) and nxt.is_inline))
                and not _last_char_is_ws(accum)):
            accum.append(" ")


class PseudoTextElement(Element):
    """Synthetic element wrapping a TextNode for the deprecated :matchText
    selector (nodes/PseudoTextElement.java:13-26). Carries the originating
    element's tag name and attributes; serializes invisibly (outerHtmlHead/
    Tail emit nothing), so wrapping leaves doc.html() unchanged."""
    __slots__ = ()


class Document(Element):
    __slots__ = ("base", "quirks_mode", "errors", "parse_mode", "line_map",
                 "output_settings")

    def __init__(self, base_uri: str = ""):
        super().__init__("#root", NS_HTML)
        self.base = base_uri or ""
        self.quirks_mode = "noQuirks"
        self.errors: list[str] = []
        self.parse_mode = "html"
        # LineMap for offset->line/col when parsed with track_positions
        self.line_map = None
        # per-document OutputSettings (nodes/Document.java outputSettings);
        # None = serializer defaults (which already special-case XML parses)
        self.output_settings = None

    def _first(self, name: str) -> Element | None:
        for el in self.elements():
            if el.name == name:
                return el
        return None

    def _html_el(self) -> Element | None:
        for c in self.child_elements():
            if c.name == "html":
                return c
        return None

    @property
    def head(self) -> Element | None:
        """Direct head child of html only (Document.java:117-140 semantics;
        jsoup appends an empty one when missing — we return None)."""
        html = self._html_el()
        if html is not None:
            for c in html.child_elements():
                if c.name == "head":
                    return c
        return None

    @property
    def body(self) -> Element | None:
        """Direct body/frameset child of html only (Document.java:155-164;
        jsoup appends an empty body when missing — we return None)."""
        html = self._html_el()
        if html is not None:
            for c in html.child_elements():
                if c.name in ("body", "frameset"):
                    return c
        return None

    def title(self) -> str:
        """First <title> within head, normalized (Document.java:198-202
        searches head() only)."""
        head = self.head
        if head is None:
            return ""
        t = None
        for el in head.elements():
            if el.name == "title":
                t = el
                break
        if t is None:
            return ""
        accum: list[str] = []
        _append_normalised(accum, t.text())
        return java_trim("".join(accum))

    # ---- output charset (nodes/Document.java:270-335) ----
    def _ensure_output_settings(self):
        if self.output_settings is None:
            from ..clean.serializer import OutputSettings
            # mirror the serializer's per-parse-mode defaults so setting
            # the charset doesn't silently change syntax/pretty behavior
            if self.parse_mode == "xml":
                self.output_settings = OutputSettings(pretty=False,
                                                      syntax="xml")
            else:
                self.output_settings = OutputSettings()
        return self.output_settings

    def charset(self, name: str | None = None) -> str:
        """Get or set the output charset (Document.charset()/charset(cs),
        nodes/Document.java:270-335). Setting also adds or updates the
        in-document charset element: `<meta charset>` for HTML syntax
        (obsolete `<meta name=charset>` elements removed), the
        `<?xml ... encoding?>` declaration for XML syntax."""
        if name is None:
            os_ = self.output_settings
            return charset_display_name(os_.charset if os_ else "utf-8")
        os_ = self._ensure_output_settings()
        os_.charset = name
        self._ensure_meta_charset()
        return charset_display_name(name)

    def _ensure_head(self) -> Element:
        """Document.head() creation side-effect (Document.java:114-144)."""
        html = self._html_el()
        if html is None:
            html = Element("html", NS_HTML)
            self.append(html)
        for c in html.child_elements():
            if c.name == "head":
                return c
        head = Element("head", NS_HTML)
        html.insert(0, head)
        return head

    def _ensure_meta_charset(self) -> None:
        """ensureMetaCharsetElement (Document.java:304-321)."""
        os_ = self.output_settings
        display = charset_display_name(os_.charset)
        if os_.syntax == "html":
            from ..select.selector import select
            metas = select(self, "meta[charset]")
            if metas:
                metas[0].attrs["charset"] = display
            else:
                head = self._ensure_head()
                meta = Element("meta", NS_HTML)
                meta.attrs["charset"] = display
                head.append(meta)
            for obsolete in select(self, "meta[name=charset]"):
                obsolete.remove()
        else:  # xml syntax: sync the <?xml?> declaration
            first = self.children[0] if self.children else None
            if isinstance(first, XmlDeclNode) and first.value == "xml" \
                    and not first.is_declaration:
                decl = first
            else:
                decl = XmlDeclNode("xml", {}, False)
                self.insert(0, decl)
            decl.attrs["version"] = "1.0"
            decl.attrs["encoding"] = display


# Java Charset.displayName() for the charsets the pipeline meets in the
# wild (the Python codec registry canonicalizes differently, e.g.
# 'iso8859-1'/'cp1252'); unknown charsets pass through as given.
_JAVA_CHARSET_DISPLAY = {
    "utf-8": "UTF-8", "utf-16": "UTF-16", "utf-16-be": "UTF-16BE",
    "utf-16-le": "UTF-16LE", "utf-32": "UTF-32", "ascii": "US-ASCII",
    "iso8859-1": "ISO-8859-1", "iso8859-2": "ISO-8859-2",
    "iso8859-15": "ISO-8859-15", "cp1250": "windows-1250",
    "cp1251": "windows-1251", "cp1252": "windows-1252",
    "cp1254": "windows-1254", "shift_jis": "Shift_JIS",
    "euc_jp": "EUC-JP", "euc_kr": "EUC-KR", "gbk": "GBK",
    "gb2312": "GB2312", "gb18030": "GB18030", "big5": "Big5",
    "koi8-r": "KOI8-R",
}


def charset_display_name(name: str) -> str:
    """Java Charset.forName(name).displayName() equivalent for common
    charsets, via the Python codec registry's canonical name."""
    import codecs
    try:
        canonical = codecs.lookup(name).name
    except LookupError:
        return name
    return _JAVA_CHARSET_DISPLAY.get(canonical, name)


def java_trim(s: str) -> str:
    """Java String.trim(): strips chars <= U+0020 only (NOT \xa0 etc.)."""
    start = 0
    end = len(s)
    while start < end and s[start] <= " ":
        start += 1
    while end > start and s[end - 1] <= " ":
        end -= 1
    return s[start:end]


# simple relative path: no scheme/authority/dot-segment/query/fragment
# ambiguity — urljoin(base_dir, rel) == base_dir + rel for these
_P_SIMPLE_REL = _re.compile(r"[A-Za-z0-9_~%+,@=-]+(?:/[A-Za-z0-9_~%+,@=-]+)*"
                           r"(?:\.[A-Za-z0-9_-]+)?\Z")


def resolve_url(base: str, rel: str) -> str:
    """absUrl resolution: absolute rel passes through; else urljoin against
    base; '' when unresolvable (no/invalid base and relative url).
    Note rel='' resolves to the base itself (java.net.URL behavior)."""
    # already absolute (has a scheme)? java.net.URL lowercases the scheme.
    # http(s) fast path first: the per-char genexpr scheme check below
    # showed up at ~1 us/doc in the serial parse profile (base-href
    # resolution runs once per document)
    if rel.startswith(("http://", "https://")):
        return rel
    head = rel.split(":", 1)
    if len(head) == 2 and head[0] and all(
        c.isalnum() or c in "+-." for c in head[0]
    ) and head[0][0].isalpha():
        scheme = head[0]
        return rel if scheme.islower() else scheme.lower() + ":" + head[1]
    if not base:
        return ""
    # fast path for the overwhelmingly common shape: hierarchical base
    # ending in '/', plain relative path with no scheme/dot-segments/query
    # magic — byte-equal to urljoin's output, ~20x cheaper (urljoin was
    # 25% of worker wall on media-ref-heavy corpora)
    if (_P_SIMPLE_REL.match(rel) is not None
            and base.endswith("/")
            and (base.startswith("http://") or base.startswith("https://"))
            and "?" not in base and "#" not in base
            and len(base) > 8 and "/" in base[8:]):
        return base + rel
    try:
        out = urljoin(base, rel)
    except ValueError:
        return ""
    # urljoin of a non-hierarchical base returns rel unchanged -> unresolvable
    if out == rel and not rel.startswith(("http", "/")):
        has_scheme = ":" in out.split("/", 1)[0] if "/" in out else ":" in out
        if not has_scheme:
            return ""
    return out
