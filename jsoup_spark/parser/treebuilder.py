"""WHATWG HTML5 tree builder.

From-scratch Python implementation of the HTML tree-construction algorithm
with the same observable DOM as the reference engine (insertion modes per
parser/HtmlTreeBuilderState.java, builder mechanics per
parser/HtmlTreeBuilder.java / TreeBuilder.java). Runs per-document inside
Arrow batch UDFs.

Reference behaviors intentionally preserved (verified against the compiled
reference via tools/golden/Harness.java):
* raw input is NOT CRLF-normalized (CharacterReader keeps \\r)
* leading newline stripped after <pre>/<listing> only (not textarea)
* self-closing non-void known tags are an error and stay open
* noscript parsed as a contained island (HtmlTreeBuilder.java:879-936)
* whitespace kept in BeforeHtml/BeforeHead/InHead (out-of-spec comments)
* stack depth capped at 512 with prune callbacks; scope scans capped at 256
* nulls removed from inserted character data (replaced in foreign content)
"""

from __future__ import annotations

from . import tags, tokenizer as tz
from .nodes import (
    CDataNode, CommentNode, DataNode, Document, DoctypeNode, Element,
    TextNode, copy_attrs,
)
from .tags import NS_HTML, NS_MATHML, NS_SVG

# insertion modes
(
    INITIAL, BEFORE_HTML, BEFORE_HEAD, IN_HEAD, AFTER_HEAD, IN_BODY, TEXT,
    IN_TABLE, IN_TABLE_TEXT, IN_CAPTION, IN_COLUMN_GROUP, IN_TABLE_BODY,
    IN_ROW, IN_CELL, IN_SELECT, IN_SELECT_IN_TABLE, IN_TEMPLATE, AFTER_BODY,
    IN_FRAMESET, AFTER_FRAMESET, AFTER_AFTER_BODY, AFTER_AFTER_FRAMESET,
    FOREIGN,
) = range(23)

_WS_STRICT = frozenset(" \t\n\r\f")

MAX_DEPTH = 512          # TreeBuilder.defaultMaxDepth
MAX_QUEUE_DEPTH = 256    # HtmlTreeBuilder.maxQueueDepth
MAX_USED_FORMATTING = 12

# --- tag option bitmasks (HtmlTagOptions.java) ---
OPT_SCOPE = 1
OPT_LIST_SCOPE = 2
OPT_BUTTON_SCOPE = 4
OPT_TABLE_SCOPE = 8
OPT_SELECT_MEMBER = 16
OPT_IMPLIED_END = 32
OPT_THOROUGH_END = 64
OPT_SPECIAL = 128

_SCOPE_TAGS = frozenset("applet caption html marquee object select table td template th".split())
_MATH_SCOPE = frozenset("annotation-xml mi mn mo ms mtext".split())
_SVG_SCOPE = frozenset("desc foreignobject title".split())
_LIST_SCOPE = frozenset(("ol", "ul"))
_BUTTON_SCOPE = frozenset(("button",))
_TABLE_SCOPE = frozenset(("html", "table", "template"))
_SELECT_MEMBER = frozenset(("optgroup", "option"))
_IMPLIED_END = frozenset("dd dt li optgroup option p rb rp rt rtc".split())
_THOROUGH_END = frozenset(
    "caption colgroup dd dt li optgroup option p rb rp rt rtc tbody td tfoot th thead tr".split())
_SPECIAL = frozenset("""
    address applet area article aside base basefont bgsound blockquote body br
    button caption center col colgroup dd details dir div dl dt embed
    fieldset figcaption figure footer form frame frameset h1 h2 h3 h4 h5 h6
    head header hgroup hr html iframe img input keygen li link listing main
    marquee menu meta nav noembed noframes noscript object ol p param
    plaintext pre script search section select source style summary table
    tbody td template textarea tfoot th thead title tr track ul wbr xmp
""".split())

_OPT_CACHE: dict[tuple[str, str], int] = {}


def tag_options(name: str, ns: str) -> int:
    key = (ns, name)
    o = _OPT_CACHE.get(key)
    if o is not None:
        return o
    o = 0
    if ns == NS_HTML:
        if name in _IMPLIED_END:
            o |= OPT_IMPLIED_END
        if name in _THOROUGH_END:
            o |= OPT_THOROUGH_END
        if name in _SELECT_MEMBER:
            o |= OPT_SELECT_MEMBER
        if name in _SCOPE_TAGS:
            o |= OPT_SCOPE
        if name in _LIST_SCOPE:
            o |= OPT_LIST_SCOPE
        if name in _BUTTON_SCOPE:
            o |= OPT_BUTTON_SCOPE
        if name in _TABLE_SCOPE:
            o |= OPT_TABLE_SCOPE
        if name in _SPECIAL:
            o |= OPT_SPECIAL
    elif ns == NS_MATHML:
        if name in _MATH_SCOPE:
            o |= OPT_SCOPE | OPT_SPECIAL
    elif ns == NS_SVG:
        if name in _SVG_SCOPE:
            o |= OPT_SCOPE | OPT_SPECIAL
    _OPT_CACHE[key] = o
    return o


def _el_opts(el) -> int:
    """Element's scope/implied-end option bitmask, cached on the node
    (lazy: computed on first scope walk; elements never rename)."""
    o = el.opts
    if o == -1:
        o = el.opts = tag_options(el.name, el.ns)
    return o


def _is_special(el: Element) -> bool:
    return bool(_el_opts(el) & OPT_SPECIAL)


# Constants lists (HtmlTreeBuilderState.Constants, behavioral data)
C_IN_HEAD_EMPTY = frozenset("base basefont bgsound command link".split())
C_IN_HEAD_RAW = frozenset(("noframes", "style"))
C_IN_HEAD_END = frozenset(("body", "br", "html"))
C_AFTER_HEAD_BODY = frozenset(("body", "br", "html"))
C_BEFORE_HTML_TO_HEAD = frozenset(("body", "br", "head", "html"))
C_TO_HEAD = frozenset("base basefont bgsound command link meta noframes script style template title".split())
C_P_CLOSERS = frozenset("""
    address article aside blockquote center details dir div dl fieldset
    figcaption figure footer header hgroup menu nav ol p section summary ul
""".split())
C_HEADINGS = frozenset("h1 h2 h3 h4 h5 h6".split())
C_LI_BREAKERS = frozenset(("address", "div", "p"))
C_DD_DT = frozenset(("dd", "dt"))
C_APPLETS = frozenset(("applet", "marquee", "object"))
C_MEDIA = frozenset(("param", "source", "track"))
C_DROP = frozenset("caption col colgroup frame head tbody td tfoot th thead tr".split())
C_END_CLOSERS = frozenset("""
    address article aside blockquote button center details dir div dl
    fieldset figcaption figure footer header hgroup listing menu nav ol pre
    section summary ul
""".split())
C_END_OTHER_ERRORS = frozenset(
    "body dd dt html li optgroup option p rb rp rt rtc tbody td tfoot th thead tr".split())
C_ADOPTION_FORMATTERS = frozenset(
    "a b big code em font i nobr s small strike strong tt u".split())
# hot-hoist sets for _in_body_start (same members as the inline branches)
C_FORMATTING_12 = frozenset(
    "b big code em font i s small strike strong tt u".split())
C_SIMPLE_VOIDS = frozenset("area br embed img keygen wbr".split())
C_TABLE_TO_BODY = frozenset(("tbody", "tfoot", "thead"))
C_TABLE_ADD_BODY = frozenset(("td", "th", "tr"))
C_TABLE_TO_HEAD = frozenset(("script", "style", "template"))


# ---------------------------------------------------------- C fast applier
# Optional token applier (jsoup_spark/_native/fasttree.c, compiled from
# source on first import): applies tokens directly in C while the builder
# sits in one of the _FT_STATES modes (document prelude, head, body, and
# the table/body/row/cell modes) with no tracking/streaming/custom-tagset/
# foster-parenting work pending; bails back to this Python dispatcher (the
# source of truth) for anything else. Validated by the golden tests and
# tests/test_tree_differential.py (C vs this dispatcher).

def _build_fasttree_actions() -> dict:
    """normal name -> packed (start_act | end_act<<4 | opts<<8 | flags<<16)
    replicating the _in_body_start/_in_body_end dispatch classification."""
    import sys as _sys
    SA_BAIL, SA_PLAIN_RECON, SA_P_CLOSER, SA_VOID_RECON, SA_MEDIA_EMPTY, \
        SA_UNKNOWN, SA_LI, SA_FORMATTING, SA_A, SA_HEADING, SA_INPUT, \
        SA_TO_HEAD_EMPTY, SA_BUTTON, SA_TEXT_SWITCH, SA_TABLE = \
        0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14
    EA_BAIL, EA_CLOSER, EA_LI, EA_P, EA_ANY, EA_DD_DT, EA_FMT, \
        EA_HEADING, EA_BODY, EA_HTML = 0, 1, 2, 3, 4, 5, 6, 7, 8, 9
    start_bail = {
        "html", "body", "frameset", "form", "plaintext",
        "nobr", "hr", "image", "textarea", "xmp",
        "iframe", "noembed", "noscript", "select", "math", "svg", "pre",
        "listing", "optgroup", "option", "rb", "rtc", "rp", "rt",
    }

    import os as _os
    _disable = set(_os.environ.get("JSOUP_FT_DISABLE", "").split(","))

    def sact(name):
        fl = tags.flags(name)
        if name in C_P_CLOSERS:
            return SA_P_CLOSER
        if name in C_FORMATTING_12:
            return SA_FORMATTING
        if name in C_SIMPLE_VOIDS:
            return SA_VOID_RECON
        if name == "a":
            return SA_BAIL if "a" in _disable else SA_A
        if name in C_HEADINGS:
            return SA_BAIL if "heading" in _disable else SA_HEADING
        if name == "input":
            return SA_BAIL if "input" in _disable else SA_INPUT
        if name in ("link", "meta", "basefont", "bgsound"):
            # in-body -> in-head rules -> plain empty insert ("base" keeps
            # bailing: it carries the maybe_set_base rebase side-effect)
            return SA_BAIL if "tohead" in _disable else SA_TO_HEAD_EMPTY
        if name == "button":
            return SA_BAIL if "button" in _disable else SA_BUTTON
        if name in ("title", "script", "style", "noframes"):
            # in-body -> in-head rules -> _handle_text_state (tokenizer
            # switch + TEXT mode with original_state = IN_BODY)
            return SA_BAIL if "textswitch" in _disable else SA_TEXT_SWITCH
        if name == "span":
            return SA_PLAIN_RECON
        if name == "table":
            return SA_TABLE
        if name == "li":
            return SA_LI
        if name in start_bail or name in C_DD_DT:
            return SA_BAIL
        if fl & (tags.RCDATA | tags.DATA):
            return SA_BAIL
        if name in C_TO_HEAD or name in C_APPLETS or name in C_DROP:
            return SA_BAIL
        if name in C_MEDIA:
            return SA_MEDIA_EMPTY
        if tags.is_known(name):
            return SA_PLAIN_RECON
        return SA_UNKNOWN

    def eact(name):
        if name in C_END_CLOSERS:
            return EA_CLOSER
        if name in C_ADOPTION_FORMATTERS:
            return EA_BAIL if "fmt" in _disable else EA_FMT
        if name == "body":
            return EA_BAIL if "endgame" in _disable else EA_BODY
        if name == "html":
            return EA_BAIL if "endgame" in _disable else EA_HTML
        if name in ("template", "form", "br"):
            return EA_BAIL
        if name in C_HEADINGS:
            return EA_BAIL if "heading" in _disable else EA_HEADING
        if name in C_APPLETS:
            return EA_BAIL
        if name == "li":
            return EA_LI
        if name == "p":
            return EA_P
        if name in C_DD_DT:
            return EA_DD_DT
        return EA_ANY

    names = set(tags._HTML_FLAGS)
    names |= (C_P_CLOSERS | C_FORMATTING_12 | C_SIMPLE_VOIDS | C_END_CLOSERS
              | C_ADOPTION_FORMATTERS | C_HEADINGS | C_DD_DT | C_APPLETS
              | C_MEDIA | C_DROP | C_TO_HEAD | _IMPLIED_END | _THOROUGH_END
              | _SELECT_MEMBER | _SCOPE_TAGS | _SPECIAL
              | start_bail | {"span", "sarcasm"})
    out = {}
    for n in names:
        out[_sys.intern(n)] = (
            sact(n) | (eact(n) << 4)
            | (tag_options(n, NS_HTML) << 8) | (tags.flags(n) << 16))
    return out


try:
    from .._native import jsoup_fasttree as _FT
except ImportError:  # pragma: no cover - extension not built
    _FT = None
# (configured at module bottom once IN_BODY / node classes exist)
C_CELL_NAMES = frozenset(("td", "th"))
C_CELL_BODY = frozenset("body caption col colgroup html".split())
C_CELL_TABLE = frozenset("table tbody tfoot thead tr".split())
C_CELL_COL = frozenset("caption col colgroup tbody td tfoot th thead tr".split())
C_TABLE_END_ERR = frozenset("body caption col colgroup html tbody td tfoot th thead tr".split())
C_TABLE_FOSTER = frozenset("table tbody tfoot thead tr".split())
C_TABLE_BODY_EXIT = frozenset("caption col colgroup tbody tfoot thead".split())
C_TABLE_BODY_END_IGNORE = frozenset("body caption col colgroup html td th tr".split())
C_ROW_MISSING = frozenset("caption col colgroup tbody tfoot thead tr".split())
C_ROW_IGNORE = frozenset("body caption col colgroup html td th".split())
C_SELECT_END = frozenset(("input", "keygen", "textarea"))
C_SELECT_TABLE_END = frozenset("caption table tbody td tfoot th thead tr".split())
C_TABLE_END_IGNORE = frozenset(("tbody", "tfoot", "thead"))
C_CAPTION_IGNORE = frozenset("body col colgroup html tbody td tfoot th thead tr".split())
C_TEMPLATE_TO_HEAD = frozenset(
    "base basefont bgsound link meta noframes script style template title".split())
C_TEMPLATE_TO_TABLE = frozenset("caption colgroup tbody tfoot thead".split())
C_FOREIGN_TO_HTML = frozenset("""
    b big blockquote body br center code dd div dl dt em embed h1 h2 h3 h4 h5
    h6 head hr i img li listing menu meta nobr ol p pre ruby s small span
    strike strong sub sup table tt u ul var
""".split())
C_MATHML_TEXT = frozenset(("mi", "mo", "mn", "ms", "mtext"))
C_SVG_HTML_INTEGRATION = frozenset(("foreignObject", "desc", "title"))
C_FORM_LISTED = frozenset(("button", "fieldset", "input", "keygen", "object",
                           "output", "select", "textarea"))
C_MAX_STACK_SCAN = 24  # dd/dt scan cap


def _is_ws_token(tok) -> bool:
    if tok.type == tz.T_CHAR and tok.type != tz.T_CDATA:
        d = tok.data
        return all(c in _WS_STRICT for c in d)
    return False


class _NoscriptState:
    __slots__ = ("boundary", "saved_form")

    def __init__(self, boundary, saved_form):
        self.boundary = boundary
        self.saved_form = saved_form


class ParseSettings:
    """Parser case settings (reference parser/ParseSettings.java:1-88):
    optionally preserve tag and/or attribute name case. Tree-construction
    logic always runs on the normalized (lowercased) name; these settings
    only control the name the built Element reports/serializes and whether
    attribute keys are lowercased (and deduped case-sensitively)."""

    __slots__ = ("preserve_tag_case", "preserve_attribute_case")

    def __init__(self, tag: bool, attribute: bool):
        self.preserve_tag_case = tag
        self.preserve_attribute_case = attribute

    def normalize_tag(self, name: str) -> str:
        name = name.strip()
        return name if self.preserve_tag_case else name.lower()

    def normalize_attribute(self, name: str) -> str:
        name = name.strip()
        return name if self.preserve_attribute_case else name.lower()


HTML_DEFAULT = ParseSettings(False, False)   # ParseSettings.htmlDefault
PRESERVE_CASE = ParseSettings(True, True)    # ParseSettings.preserveCase


class HtmlTreeBuilder:
    """One instance per parse (single document)."""

    def __init__(self):
        self.doc: Document | None = None
        self.base_uri = ""
        self.base_set = False
        self.stack: list[Element] = []
        self.state = INITIAL
        self.original_state = INITIAL
        self.head_el: Element | None = None
        self.form_el: Element | None = None
        self.context_el: Element | None = None
        self.formatting: list[Element | None] = []
        self.tmpl_modes: list[int] = []
        self.pending_table_chars: list = []
        self.frameset_ok = True
        self.foster_inserts = False
        self.fragment = False
        self.noscript: _NoscriptState | None = None
        self.tok: tz.Tokeniser | None = None
        self.current_token = None
        # optional per-parse TagSet (reference Parser.tagSet(TagSet),
        # parser/TagSet.java:24-231): when set, all tag-flag lookups go
        # through it so customizers/registered tags drive tokenisation
        # (Data/RcData), self-closing, void, whitespace and text semantics
        self.tagset = None
        # parser case settings; None = htmlDefault (the hot path checks
        # identity so the default costs nothing per element)
        self.settings: ParseSettings | None = None
        # (name, ns) pairs that saw self-closing syntax this parse
        # (reference Tag.SeenSelfClose stickiness; see _record_sticky_sc)
        self.sticky_sc: set | None = None
        self._flags = tags.flags
        self._is_known = tags.is_known
        self.track = False  # source-range tracking (Parser.setTrackPosition)
        # optional element-closed listener (TreeBuilder.nodeListener,
        # TreeBuilder.java:101-102,320-321) — drives StreamParser emission
        self.on_close = None

    def set_tag_set(self, tagset) -> None:
        """Use a custom TagSet for this builder's parses."""
        self.tagset = tagset
        if tagset is not None:
            self._flags = tagset.flags
            self._is_known = tagset.is_known
        else:
            self._flags = tags.flags
            self._is_known = tags.is_known

    def _configure_tok(self) -> None:
        # custom tagsets can reclassify ANY tag (Data/RcData/SelfClose),
        # so the token-batching fast path must consult them for its stop
        # decisions (and the C scanner, configured globally with the
        # static stop set, is bypassed)
        if self.tagset is not None:
            self.tok.set_custom_flags(self._flags)

    # ------------------------------------------------------------ entry
    def parse(self, html: str, base_uri: str = "",
              track_positions: bool = False) -> Document:
        self.doc = Document(base_uri)
        self.base_uri = base_uri or ""
        self.track = track_positions
        self.tok = tz.Tokeniser(html, "html", self.doc.errors)
        self.tok.cdata_allowed = self._cdata_allowed
        self.tok.track = track_positions
        self._configure_tok()
        if track_positions:
            from .positions import LineMap
            self.doc.line_map = LineMap(html)
            # virtual start token (TreeBuilder.java:62-65; Token.java:20 —
            # startPos defaults 0, endPos Unset): doc sourceRange becomes
            # implicit (0,0); closed at EOF drain
            virt = tz.StartTag("", None, False)
            virt.start_pos = 0
            self.current_token = virt
            self._track(self.doc, True)
        self._run()
        self._apply_sticky_sc((self.doc,))
        return self.doc

    def parse_stream(self, html: str, base_uri: str = ""):
        """Generator form of parse(): yields each Element as it completes
        (is popped off the open-element stack), child-first — the emission
        order of the reference's StreamParser (StreamParser.java:58-233,
        nodeListener tail callbacks TreeBuilder.java:320-321). Elements
        still open at EOF (typically body, html) are yielded last,
        innermost first. The caller may prune yielded elements with
        Node.remove() to bound memory (StreamParser.java:33-36).

        Divergence note: elements dropped from the stack by non-pop paths
        (frameset teardown, adoption-agency mid-stack removals) are not
        individually emitted; their subtrees emit with their ancestors.

        Setup runs eagerly (document() is available before consumption);
        tokens are consumed lazily by the returned generator."""
        self.doc = Document(base_uri)
        self.base_uri = base_uri or ""
        self.track = False
        self.tok = tz.Tokeniser(html, "html", self.doc.errors)
        self.tok.cdata_allowed = self._cdata_allowed
        self._configure_tok()
        ready: list[Element] = []
        self.on_close = ready.append
        return self._stream_tokens(ready)

    def _stream_tokens(self, ready: list):
        tok = self.tok
        q = tok._queue
        chars = tok._chars
        states = tz._STATES
        popleft = q.popleft
        process = self.process
        while True:
            while not q:
                states[tok.state](tok)
            if chars:
                token = tz.Character("".join(chars))
                token.start_pos = tok.char_run_start
                token.end_pos = tok.char_end
                chars.clear()
            else:
                token = popleft()
            self.current_token = token
            process(token)
            if ready:
                # sticky SeenSelfClose at yield time: the reference's shared
                # Tag instance (Tag.java:337) means an element yielded NOW
                # shows the flag if any same-(name, ns) element self-closed
                # EARLIER in the parse (e.g. a descendant) — mirror that with
                # a set lookup against the sticky names recorded so far.
                sticky = self.sticky_sc
                if sticky:
                    for el in ready:
                        if (el.tag_name_case, el.ns) in sticky:
                            el.flags |= tags.SEEN_SELF_CLOSE
                yield from ready
                ready.clear()
            if token.type == tz.T_EOF:
                break
        self.on_close = None
        # retro-apply the (now final) sticky set to everything still in the
        # tree BEFORE the EOF drain, so implicitly-closed elements and the
        # document yield with reference-equal flags. Residual divergence:
        # elements pruned/detached before a LATER same-name self-close and
        # serialized after EOF keep their per-element flag (the reference's
        # shared Tag would show ` />`) — documented, serialization-only
        # (test_streamparser.py::test_sticky_self_close_pruned_contract).
        self._apply_sticky_sc((self.doc,))
        while self.stack:  # EOF drain: implicit closes, innermost first
            yield self.stack.pop()
        yield self.doc  # the reference emits #root last (canStream order)

    def parse_fragment(self, html: str, context_name: str | None,
                       base_uri: str = "",
                       track_positions: bool = False) -> list:
        """Parser.parseFragment semantics (HtmlTreeBuilder.java:88-143)."""
        self.doc = Document(base_uri)
        self.base_uri = base_uri or ""
        self.fragment = True
        self.track = track_positions
        self.tok = tz.Tokeniser(html, "html", self.doc.errors)
        self.tok.cdata_allowed = self._cdata_allowed
        self.tok.track = track_positions
        self._configure_tok()
        if track_positions:
            from .positions import LineMap
            self.doc.line_map = LineMap(html)
            virt = tz.StartTag("", None, False)
            virt.start_pos = 0
            self.current_token = virt
            self._track(self.doc, True)
        if context_name:
            name = context_name.lower()
            ctx = Element(name, NS_HTML)
            if self.tagset is not None:
                ctx.flags = self._flags(name)
            self.context_el = ctx
            fl = ctx.flags
            if name == "script":
                self.tok.state = tz.SCRIPT_DATA
            elif name == "plaintext":
                self.tok.state = tz.PLAINTEXT
            elif name == "template":
                self.push_template_mode(IN_TEMPLATE)
            elif fl & tags.RCDATA:
                self.tok.state = tz.RCDATA
            elif fl & tags.DATA:
                self.tok.state = tz.RAWTEXT
            self.doc.append(ctx)
            self.stack.append(ctx)
            self.reset_insertion_mode()
            if name == "noscript":
                self._enter_noscript(ctx)
        self._run()
        if self.context_el is not None:
            # content pushed outside the context root is re-homed
            parent = self.context_el.parent
            if parent is not None:
                sibs = [n for n in parent.children if n is not self.context_el]
                for n in sibs:
                    self.context_el.append(n)
            out = list(self.context_el.children)
        else:
            out = list(self.doc.children)
        self._apply_sticky_sc(out)
        return out

    def _run(self) -> None:
        # tok.read() inlined (token-coalescing semantics identical,
        # Tokeniser.java:101-108): one loop, no per-token call round-trip
        tok = self.tok
        q = tok._queue
        chars = tok._chars
        states = tz._STATES
        popleft = q.popleft
        T_EOF = tz.T_EOF
        Character = tz.Character
        # hoisted _FT gate: track/on_close/tagset/settings are fixed for
        # the duration of one parse (noscript + state change mid-parse and
        # stay per-iteration). ft_ok=True also lets the C side skip
        # re-validating these (trusted=1).
        ft_ok = (_FT is not None and not self.track
                 and self.on_close is None and self.tagset is None
                 and self.settings is None)
        while True:
            while not q:
                states[tok.state](tok)
            if chars:
                token = Character("".join(chars))
                token.start_pos = tok.char_run_start
                token.end_pos = tok.char_end
                chars.clear()
            else:
                token = popleft()
            if ft_ok and self.state in _FT_STATES \
                    and self.noscript is None:
                token = _FT.apply(self, token, q, 1)
                if token is None:
                    continue
            self.current_token = token
            # inlined process() common case (saves a call per token; the
            # wrapper stays for the recursive process_* entry points)
            if self.noscript is None or self.state == TEXT:
                stack = self.stack
                if not stack or stack[-1].ns == NS_HTML \
                        or self._use_current_insert(token):
                    _MODES[self.state](self, token)
                else:
                    _foreign_content(self, token)
            else:
                self._process_noscript(token)
            if token.type == T_EOF:
                break
        if self.track:
            # EOF stack drain closes remaining elements + the doc
            # (TreeBuilder.java:115-123)
            while self.stack:
                el = self.stack.pop()
                self._track(el, False)
            self._track(self.doc, False)

    def _track(self, node, is_start: bool) -> None:
        """TreeBuilder.trackNodePosition (TreeBuilder.java:324-355):
        stamp node source ranges from the current token, marking
        implicitly-opened/closed elements as zero-width ranges."""
        tok = self.current_token
        start = tok.start_pos
        end = tok.end_pos
        if isinstance(node, Element):
            tt = tok.type
            if tt == tz.T_EOF:
                # /body and /html are left on stack until EOF; keep their
                # explicitly-tracked close ranges
                if getattr(node, "endr", None) is not None:
                    return
                start = end = self.tok.pos
            elif is_start:
                if tt != tz.T_START or node.name.lower() != tok.normal:
                    end = start
            else:
                if not (node.flags & (tags.VOID | tags.SELF_CLOSE)):
                    if tt != tz.T_END or node.name.lower() != tok.normal:
                        end = start
        if is_start:
            node.srcr = (start, end)
        elif isinstance(node, Element):
            node.endr = (start, end)

    def _cdata_allowed(self) -> bool:
        return bool(self.stack) and self.stack[-1].ns != NS_HTML

    # ------------------------------------------------------------ errors
    def error(self, msg: str = "unexpected token") -> None:
        errs = self.doc.errors
        if len(errs) < 64:
            errs.append(msg)

    # ------------------------------------------------------------ dispatch
    def process(self, token) -> bool:
        if self.noscript is None or self.state == TEXT:
            # common case inlined from _use_current_insert: empty stack or
            # an HTML-namespace current element always uses the current
            # insertion mode
            stack = self.stack
            if not stack or stack[-1].ns == NS_HTML \
                    or self._use_current_insert(token):
                return _MODES[self.state](self, token)
            return _foreign_content(self, token)
        return self._process_noscript(token)

    def process_in(self, token, mode: int) -> bool:
        return _MODES[mode](self, token)

    def process_start(self, name: str, attrs=None) -> bool:
        return self.process(tz.StartTag(name, attrs, False))

    def process_end(self, name: str) -> bool:
        return self.process(tz.EndTag(name, None, False))

    def _use_current_insert(self, token) -> bool:
        if not self.stack:
            return True
        el = self.stack[-1]
        if el.ns == NS_HTML:
            return True
        tt = token.type
        if self._is_mathml_text(el):
            if tt == tz.T_START and token.normal not in ("mglyph", "malignmark"):
                return True
            if tt == tz.T_CHAR:
                return True
        if (el.ns == NS_MATHML and el.name == "annotation-xml"
                and tt == tz.T_START and token.normal == "svg"):
            return True
        if self._is_html_integration(el) and tt in (tz.T_START, tz.T_CHAR):
            return True
        return tt == tz.T_EOF

    @staticmethod
    def _is_mathml_text(el: Element) -> bool:
        return el.ns == NS_MATHML and el.name in C_MATHML_TEXT

    @staticmethod
    def _is_html_integration(el: Element) -> bool:
        if el.ns == NS_MATHML and el.name == "annotation-xml":
            enc = el.attr("encoding").lower().strip()
            if enc in ("text/html", "application/xhtml+xml"):
                return True
        return el.ns == NS_SVG and el.tag_name_case in C_SVG_HTML_INTEGRATION

    # ------------------------------------------------------------ inserts
    def _finalize_attrs(self, attrs, preserve_case: bool) -> dict:
        """Name-case normalization + first-wins dedupe
        (HtmlTreeBuilder.createElementFor, HtmlTreeBuilder.java:369-381).

        The two knobs are INDEPENDENT in the reference: `preserve_case`
        (the forcePreserveCase foreign-element path or settings) governs
        the stored NAME case, while dedupe equality follows the BUILDER'S
        ParseSettings — Attributes.deduplicate(settings) compares
        equalsIgnoreCase unless preserveAttributeCase. So a default-
        settings parse of <svg viewBox=1 viewbox=2> keeps ONLY viewBox
        (harness-probed), while a preserveCase parser keeps both."""
        out: dict = {}
        if attrs:
            ci_dedupe = not (self.settings is not None
                             and self.settings.preserve_attribute_case)
            dupes = 0
            seen: set = set()
            for k, v in attrs:
                if not preserve_case:
                    k = k.lower()
                dk = k.lower() if ci_dedupe else k
                if dk in seen:
                    dupes += 1
                else:
                    seen.add(dk)
                    out[k] = v
            if dupes:
                self.error("dropped duplicate attributes")
            if preserve_case and out:
                # preserved-case keys break the plain-dict all-lowercase
                # invariant (nodes.Element.attr fast path): classify as
                # _PcAttrs (mixed case) or — when case-sensitive dedupe
                # left ignore-case COLLISIONS (<p ID=1 id=2> under
                # preserveCase settings) — _CiAttrs with the
                # getIgnoreCase fold precomputed
                from .nodes import make_ci_attrs
                out = make_ci_attrs(out)
        return out

    def _create_element(self, start, ns: str, preserve_case: bool) -> Element:
        # preserve_case=True is the foreign-element path (forcePreserveCase,
        # HtmlTreeBuilder.java:369-388); otherwise the builder's
        # ParseSettings decide per-facet (tag vs attribute) preservation
        if preserve_case or self.settings is None:
            ptag = pattr = preserve_case
        else:
            ptag = self.settings.preserve_tag_case
            pattr = self.settings.preserve_attribute_case
        attrs = self._finalize_attrs(start.attrs, pattr)
        name = start.name if ptag else start.normal
        el = Element(start.normal, ns, attrs)
        el.tag_name_case = name
        if ns != NS_HTML or self.tagset is not None:
            el.flags = self._flags(start.normal, ns)
        if self.track and getattr(start, "attr_ranges", None):
            # first-wins per normalized name, only for kept attributes
            # (Token.finaliseAttributeRanges, Token.java:240-268)
            out = {}
            for nm, ans, ane, avs, ave in start.attr_ranges:
                key = nm if pattr else nm.lower()
                if key not in out and key in attrs:
                    out[key] = (ans, ane, avs, ave)
            el.attr_ranges = out
        return el

    def insert_element(self, start) -> Element:
        el = self._create_element(start, NS_HTML, False)
        self._do_insert(el)
        if start.self_closing:
            el.flags |= tags.SEEN_SELF_CLOSE
            self._record_sticky_sc(el)
            fl = el.flags
            if fl & tags.VOID:
                pass  # handled below
            elif fl & tags.KNOWN and fl & tags.SELF_CLOSE:
                # only for customized self-closable tags (none by default)
                self.tok.state = tz.DATA
                self.tok._emit_tok(tz.EndTag(el.tag_name_case, None, False))
            else:
                self.error("tag cannot be self-closing; not a void tag")
        if el.flags & tags.VOID:
            self.pop()
        return el

    def insert_foreign_element(self, start, ns: str) -> Element:
        el = self._create_element(start, ns, True)
        self._do_insert(el)
        if start.self_closing:
            el.flags |= tags.SEEN_SELF_CLOSE  # remembered for xml-mode output
            self._record_sticky_sc(el)
            self.pop()
        return el

    # seen-self-close is STICKY per tag per parse in the reference: it sets
    # Tag.SeenSelfClose on the parser TagSet's shared Tag instance
    # (HtmlTreeBuilder.java:398,426; Tag.java:337), so EVERY element with
    # that (name, ns) in the same parse — including ones built before the
    # self-closing token — serializes ` />` when empty. Flags here are
    # per-element, so record the names and retro-apply in a final walk.
    # (parse_stream cannot retro-flag elements already yielded/pruned —
    # documented streaming divergence, serialization-only.)
    def _record_sticky_sc(self, el: Element) -> None:
        if self.sticky_sc is None:
            self.sticky_sc = set()
        # the reference Tag cache keys on the (possibly case-preserved)
        # tag name + namespace
        self.sticky_sc.add((el.tag_name_case, el.ns))

    def _apply_sticky_sc(self, nodes) -> None:
        if not self.sticky_sc:
            return
        sticky = self.sticky_sc
        stack = list(nodes)
        while stack:
            n = stack.pop()
            if isinstance(n, Element):
                if (n.tag_name_case, n.ns) in sticky:
                    n.flags |= tags.SEEN_SELF_CLOSE
                stack.extend(n.children)

    def insert_empty_element(self, start) -> Element:
        el = self._create_element(start, NS_HTML, False)
        self._do_insert(el)
        self.pop()
        return el

    def insert_form_element(self, start, on_stack: bool,
                            check_template: bool) -> Element:
        el = self._create_element(start, NS_HTML, False)
        if check_template:
            if not self.on_stack_name("template"):
                self.form_el = el
        else:
            self.form_el = el
        self._do_insert(el)
        if not on_stack:
            self.pop()
        return el

    def _do_insert(self, el: Element) -> None:
        stack = self.stack
        if len(stack) >= MAX_DEPTH:
            self._enforce_depth()
            stack = self.stack
        if self.foster_inserts and stack and stack[-1].name in C_TABLE_FOSTER:
            self.insert_in_foster_parent(el)
        else:
            # el is freshly created (parent None): append without unlink
            parent = stack[-1] if stack else self.doc
            el.parent = parent
            parent.children.append(el)
        stack.append(el)
        if self.track:
            self._track(el, True)

    def _enforce_depth(self) -> None:
        while len(self.stack) >= MAX_DEPTH:
            trimmed = self.pop()
            self._on_pruned(trimmed)

    def _on_pruned(self, el: Element) -> None:
        if el is self.head_el:
            self.head_el = None
        if el is self.form_el:
            self.form_el = None
        self.remove_from_formatting(el)
        if el.name == "template":
            self.clear_formatting_to_marker()
            if self.tmpl_modes:
                self.pop_template_mode()
            self.reset_insertion_mode()
        elif self.noscript is not None and el is self.noscript.boundary:
            self._restore_noscript()

    def insert_comment(self, token) -> None:
        node = CommentNode(token.data)
        self.current_element().append(node)
        if self.track:
            self._track(node, True)

    def insert_character(self, token, replace_nulls: bool = False) -> None:
        data = token.data
        if "\x00" in data:
            data = (data.replace("\x00", "�") if replace_nulls
                    else data.replace("\x00", ""))
        el = self.current_element()
        self.insert_character_to(el, token, data)

    def insert_character_to(self, el: Element, token, data: str | None = None) -> None:
        if data is None:
            data = token.data
        if token.type == tz.T_CDATA:
            node = CDataNode(data)
        elif el.flags & tags.DATA:
            node = DataNode(data)
        else:
            node = TextNode(data)
        node.parent = el  # fresh node: append without unlink
        el.children.append(node)
        if self.track:
            self._track(node, True)

    def insert_in_foster_parent(self, node) -> None:
        last_table = self.get_from_stack("table")
        if last_table is not None:
            if last_table.parent is not None:
                parent = last_table.parent
                idx = parent.children.index(last_table)
                parent.insert(idx, node)
                return
            foster = self.above_on_stack(last_table)
        else:
            foster = self.stack[0]
        if foster is not None:
            foster.append(node)

    # ------------------------------------------------------------ stack
    def current_element(self) -> Element:
        return self.stack[-1] if self.stack else self.doc

    def current_is(self, name: str) -> bool:
        if not self.stack:
            return False
        el = self.stack[-1]
        return el.name == name and el.ns == NS_HTML

    def pop(self) -> Element:
        el = self.stack.pop()
        if self.track:
            self._track(el, False)
        if self.on_close is not None:
            self.on_close(el)
        return el

    def push(self, el: Element) -> None:
        self.stack.append(el)
        if self.track:
            self._track(el, True)

    def on_stack(self, el: Element) -> bool:
        s = self.stack
        lo = max(0, len(s) - 1 - MAX_QUEUE_DEPTH)
        for i in range(len(s) - 1, lo - 1, -1):
            if s[i] is el:
                return True
        return False

    def on_stack_name(self, name: str) -> bool:
        return self.get_from_stack(name) is not None

    def get_from_stack(self, name: str) -> Element | None:
        s = self.stack
        lo = max(0, len(s) - 1 - MAX_QUEUE_DEPTH)
        for i in range(len(s) - 1, lo - 1, -1):
            el = s[i]
            if el.name == name and el.ns == NS_HTML:
                return el
        return None

    def remove_from_stack(self, el: Element) -> bool:
        s = self.stack
        for i in range(len(s) - 1, -1, -1):
            if s[i] is el:
                del s[i]
                if self.track:
                    self._track(el, False)
                return True
        return False

    def pop_to_close(self, name: str) -> Element | None:
        while self.stack:
            el = self.pop()
            if el.name == name and el.ns == NS_HTML:
                return el
        return None

    def pop_to_close_any_ns(self, name: str) -> Element | None:
        while self.stack:
            el = self.pop()
            if el.name == name:
                return el
        return None

    def pop_to_close_set(self, names) -> None:
        while self.stack:
            el = self.pop()
            if el.name in names and el.ns == NS_HTML:
                break

    def clear_stack_to_context(self, *names) -> None:
        while self.stack:
            el = self.stack[-1]
            if el.ns == NS_HTML and (el.name in names or el.name == "html"):
                break
            self.pop()

    def above_on_stack(self, el: Element) -> Element | None:
        s = self.stack
        for i in range(len(s) - 1, 0, -1):
            if s[i] is el:
                return s[i - 1]
        return None

    def insert_on_stack_after(self, after: Element, el: Element) -> None:
        s = self.stack
        for i in range(len(s) - 1, -1, -1):
            if s[i] is after:
                s.insert(i + 1, el)
                return
        self.error("no element on stack to insert after")
        s.append(el)

    def replace_on_stack(self, out: Element, new: Element) -> None:
        s = self.stack
        for i in range(len(s) - 1, -1, -1):
            if s[i] is out:
                s[i] = new
                return

    def on_stack_not(self, allowed) -> bool:
        return any(el.name not in allowed for el in self.stack)

    # ------------------------------------------------------------ scopes
    def _in_specific_scope(self, target: str, boundary_opts: int) -> bool:
        for el in reversed(self.stack):
            if el.name == target and el.ns == NS_HTML:
                return True
            o = el.opts
            if o == -1:
                o = el.opts = tag_options(el.name, el.ns)
            if o & boundary_opts:
                return False
        return False

    def in_scope(self, target: str) -> bool:
        return self._in_specific_scope(target, OPT_SCOPE)

    def in_list_scope(self, target: str) -> bool:
        return self._in_specific_scope(target, OPT_SCOPE | OPT_LIST_SCOPE)

    def in_button_scope(self, target: str) -> bool:
        return self._in_specific_scope(target, OPT_SCOPE | OPT_BUTTON_SCOPE)

    def in_table_scope(self, target: str) -> bool:
        return self._in_specific_scope(target, OPT_TABLE_SCOPE)

    def in_select_scope(self, target: str) -> bool:
        for i in range(len(self.stack) - 1, -1, -1):
            el = self.stack[i]
            if el.name == target:
                return True
            if not _el_opts(el) & OPT_SELECT_MEMBER:
                return False
        return False

    def heading_in_scope(self) -> bool:
        for i in range(len(self.stack) - 1, -1, -1):
            el = self.stack[i]
            if el.ns == NS_HTML and el.name in C_HEADINGS:
                return True
            if _el_opts(el) & OPT_SCOPE:
                return False
        return False

    # ------------------------------------------------------------ implied ends
    def generate_implied_end(self, exclude: str | None = None) -> None:
        while self.stack:
            el = self.stack[-1]
            if not _el_opts(el) & OPT_IMPLIED_END:
                break
            if exclude is not None and el.name == exclude and el.ns == NS_HTML:
                break
            self.pop()

    def generate_implied_end_thorough(self) -> None:
        while self.stack:
            el = self.stack[-1]
            if not _el_opts(el) & OPT_THOROUGH_END:
                break
            self.pop()

    def close_element(self, name: str) -> None:
        self.generate_implied_end(name)
        if not self.current_is(name):
            self.error("unexpected open elements at close")
        self.pop_to_close(name)

    # ------------------------------------------------------------ formatting
    def push_formatting(self, el: Element) -> None:
        self._check_noahs_ark(el)
        self.formatting.append(el)

    def push_formatting_bookmark(self, el: Element, bookmark: int) -> None:
        self._check_noahs_ark(el)
        if 0 <= bookmark <= len(self.formatting):
            self.formatting.insert(bookmark, el)
        else:
            self.formatting.append(el)

    def _check_noahs_ark(self, el: Element) -> None:
        seen = 0
        f = self.formatting
        ceil = max(0, len(f) - 1 - MAX_USED_FORMATTING)
        for i in range(len(f) - 1, ceil - 1, -1):
            cand = f[i]
            if cand is None:
                break
            if cand.name == el.name and cand.attrs == el.attrs:
                seen += 1
            if seen == 3:
                del f[i]
                break

    def reconstruct_formatting(self) -> None:
        if len(self.stack) > MAX_QUEUE_DEPTH:
            return
        f = self.formatting
        last = f[-1] if f else None
        if last is None or self.on_stack(last):
            return
        size = len(f)
        ceil = max(0, size - MAX_USED_FORMATTING)
        pos = size - 1
        skip = False
        entry = last
        while True:
            if pos == ceil:
                skip = True
                break
            pos -= 1
            entry = f[pos]
            if entry is None or self.on_stack(entry):
                break
        while True:
            if not skip:
                pos += 1
                entry = f[pos]
            skip = False
            new_el = Element(entry.name, entry.ns, copy_attrs(entry.attrs))
            new_el.tag_name_case = entry.tag_name_case
            if self.track:
                # ranges ride along with the attribute clone in the
                # reference (HtmlTreeBuilder.java:1091, Range.Spans lives in
                # Attributes); insert below overwrites srcr, endr survives;
                # attribute ranges are cloned too
                new_el.srcr = getattr(entry, "srcr", None)
                new_el.endr = getattr(entry, "endr", None)
                er = getattr(entry, "attr_ranges", None)
                if er:
                    new_el.attr_ranges = dict(er)
            self._do_insert(new_el)
            f[pos] = new_el
            if pos == size - 1:
                break

    def clear_formatting_to_marker(self) -> None:
        f = self.formatting
        while f:
            el = f.pop()
            if el is None:
                break

    def remove_from_formatting(self, el: Element) -> None:
        f = self.formatting
        for i in range(len(f) - 1, -1, -1):
            if f[i] is el:
                del f[i]
                break

    def in_formatting(self, el: Element) -> bool:
        f = self.formatting
        lo = max(0, len(f) - 1 - MAX_QUEUE_DEPTH)
        for i in range(len(f) - 1, lo - 1, -1):
            if f[i] is el:
                return True
        return False

    def get_formatting(self, name: str) -> Element | None:
        f = self.formatting
        for i in range(len(f) - 1, -1, -1):
            el = f[i]
            if el is None:
                break
            if el.name == name:
                return el
        return None

    def replace_formatting(self, out: Element, new: Element) -> None:
        f = self.formatting
        for i in range(len(f) - 1, -1, -1):
            if f[i] is out:
                f[i] = new
                return

    def formatting_index(self, el: Element) -> int:
        for i, cand in enumerate(self.formatting):
            if cand is el:
                return i
        return -1

    def insert_formatting_marker(self) -> None:
        self.formatting.append(None)

    # ------------------------------------------------------------ templates
    def push_template_mode(self, mode: int) -> None:
        self.tmpl_modes.append(mode)

    def pop_template_mode(self):
        return self.tmpl_modes.pop() if self.tmpl_modes else None

    def current_template_mode(self):
        return self.tmpl_modes[-1] if self.tmpl_modes else None

    # ------------------------------------------------------------ misc
    def maybe_set_base(self, el: Element) -> None:
        """First <base href> rebases the doc (HtmlTreeBuilder.java:347-357)."""
        if self.base_set or not el.has_attr("href"):
            return
        from .nodes import resolve_url
        resolved = resolve_url(self.base_uri, el.attr("href"))
        if resolved:
            self.base_uri = resolved
            self.base_set = True
            self.doc.base = resolved

    def reset_body(self) -> None:
        if not self.on_stack_name("body"):
            body = self.doc.body
            if body is not None:
                self.stack.append(body)
        self.state = IN_BODY

    def reset_insertion_mode(self) -> bool:
        orig = self.state
        if not self.stack:
            self.state = IN_BODY
        last = False
        bottom = len(self.stack) - 1
        upper = max(0, bottom - MAX_QUEUE_DEPTH)
        for pos in range(bottom, upper - 1, -1):
            node = self.stack[pos]
            if pos == upper:
                last = True
                if self.fragment:
                    node = self.context_el
            name = node.name if (node is not None and node.ns == NS_HTML) else ""
            if name == "select":
                self.state = IN_SELECT
                break
            if name in ("td", "th") and not last:
                self.state = IN_CELL
                break
            if name == "tr":
                self.state = IN_ROW
                break
            if name in ("tbody", "thead", "tfoot"):
                self.state = IN_TABLE_BODY
                break
            if name == "caption":
                self.state = IN_CAPTION
                break
            if name == "colgroup":
                self.state = IN_COLUMN_GROUP
                break
            if name == "table":
                self.state = IN_TABLE
                break
            if name == "template":
                tmpl = self.current_template_mode()
                if tmpl is not None:
                    self.state = tmpl
                    break
            if name == "head" and not last:
                self.state = IN_HEAD
                break
            if name == "body":
                self.state = IN_BODY
                break
            if name == "frameset":
                self.state = IN_FRAMESET
                break
            if name == "html":
                self.state = BEFORE_HEAD if self.head_el is None else AFTER_HEAD
                break
            if last:
                self.state = IN_BODY
                break
        return self.state != orig

    # ------------------------------------------------------------ noscript island
    def start_noscript(self, start) -> None:
        boundary = self.insert_element(start)
        self._enter_noscript(boundary)

    def _enter_noscript(self, boundary: Element) -> None:
        self.noscript = _NoscriptState(boundary, self.form_el)
        self.form_el = None

    def _process_noscript(self, token) -> bool:
        tt = token.type
        if tt == tz.T_START:
            return self._noscript_start(token)
        if tt == tz.T_END:
            return self._noscript_end(token)
        if tt == tz.T_COMMENT:
            self.insert_comment(token)
            return True
        if tt in (tz.T_CHAR, tz.T_CDATA):
            self.insert_character(token)
            if not _is_ws_token(token):
                self.frameset_ok = False
            return True
        if tt == tz.T_DOCTYPE:
            self.error("doctype in noscript")
            return False
        if tt == tz.T_EOF:
            self.error("eof in noscript")
            self._end_noscript()
            return self.process(token)
        return False

    def _noscript_start(self, start) -> bool:
        fl = self._flags(start.normal)
        el = self.insert_element(start)
        text_state = None
        if fl & tags.RCDATA:
            text_state = tz.RCDATA
        elif fl & tags.DATA:
            text_state = tz.RAWTEXT
        if text_state is not None:
            if start.self_closing:
                if self.current_element() is el:
                    self.pop()
            else:
                self.tok.state = text_state
                self.original_state = self.state
                self.state = TEXT
        self.frameset_ok = False
        return True

    def _noscript_end(self, end) -> bool:
        name = end.normal
        island = self.noscript
        if name == "noscript" and island.boundary is not self.context_el:
            self._end_noscript()
            return True
        if not self._in_noscript_scope(name):
            self.error("no matching open element in noscript")
            return False
        if not self.current_is(name):
            self.error("unexpected open elements")
        self.pop_to_close(name)
        return True

    def _in_noscript_scope(self, name: str) -> bool:
        if self.noscript is None:
            return False
        for i in range(len(self.stack) - 1, -1, -1):
            el = self.stack[i]
            if el is self.noscript.boundary:
                return False
            if el.name == name:
                return True
        return False

    def _end_noscript(self) -> None:
        island = self.noscript
        boundary_idx = -1
        for i in range(len(self.stack) - 1, -1, -1):
            if self.stack[i] is island.boundary:
                boundary_idx = i
                break
        if boundary_idx == -1:
            self.error("noscript boundary missing")
            self._restore_noscript()
            return
        if self.stack[-1] is not island.boundary:
            self.error("unclosed elements in noscript")
        while len(self.stack) > boundary_idx:
            self.pop()
        self._restore_noscript()

    def _restore_noscript(self) -> None:
        island = self.noscript
        self.noscript = None
        self.form_el = island.saved_form


def _merge_attributes(start, dest: Element) -> None:
    # original case kept: mergeAttributes bypasses settings normalization
    # (HtmlTreeBuilderState.java:1872-1884)
    if not start.attrs:
        return
    added = []
    for k, v in start.attrs:
        if k not in dest.attrs:
            dest.attrs[k] = v
            added.append(k)
    if added:
        # merged keys keep RAW case (reference semantics); reclassify so
        # the plain-dict all-lowercase invariant (Element.attr fast
        # path) survives a mixed-case merge; a marked dict may now collide
        # ignore-case, so it is reclassified and any fold rebuilt
        from .nodes import make_ci_attrs
        t = dest.attrs.__class__
        if t is not dict or any(k != k.lower() for k in added):
            dest.attrs = make_ci_attrs(
                dict(dest.attrs) if t is not dict else dest.attrs)
    tok_ranges = getattr(start, "attr_ranges", None)
    if tok_ranges and added:
        # the reference finalizes staged ranges under NORMALIZED names but
        # merges attributes under their RAW keys, so only attrs whose raw
        # key equals the normalized name carry a range
        # (mergeAttributes, HtmlTreeBuilderState.java:1838-1849)
        finalized = {}
        for nm, ans, ane, avs, ave in tok_ranges:
            key = nm.lower()
            if key not in finalized:
                finalized[key] = (ans, ane, avs, ave)
        ranges = getattr(dest, "attr_ranges", None)
        if ranges is None:
            ranges = {}
            dest.attr_ranges = ranges
        for k in added:
            if k in finalized and k not in ranges:
                ranges[k] = finalized[k]


def _handle_text_state(start, tb: HtmlTreeBuilder, text_state) -> None:
    if text_state is not None:
        tb.tok.state = text_state
    tb.original_state = tb.state
    tb.state = TEXT
    tb.insert_element(start)


def _text_state_for(tb, normal: str) -> int | None:
    fl = tb._flags(normal)
    if fl & tags.RCDATA:
        return tz.RCDATA
    if fl & tags.DATA:
        return tz.RAWTEXT
    return None


# ================================================================= modes

def _initial(tb, t):
    if _is_ws_token(t):
        return True
    if t.type == tz.T_COMMENT:
        tb.insert_comment(t)
    elif t.type == tz.T_DOCTYPE:
        node = DoctypeNode(t.name.lower(), t.public_id, t.system_id)
        tb.doc.append(node)
        if tb.track:
            tb._track(node, True)
        if (t.force_quirks or node.value != "html"
                or node.public_id.lower() == "html"):
            tb.doc.quirks_mode = "quirks"
        tb.state = BEFORE_HTML
    else:
        tb.doc.quirks_mode = "quirks"
        tb.state = BEFORE_HTML
        return tb.process(t)
    return True


def _before_html_anything(tb, t):
    tb.process_start("html")
    tb.state = BEFORE_HEAD
    return tb.process(t)


def _before_html(tb, t):
    tt = t.type
    if tt == tz.T_DOCTYPE:
        tb.error("doctype after init")
        return False
    if tt == tz.T_COMMENT:
        tb.insert_comment(t)
    elif _is_ws_token(t):
        tb.insert_character(t)
    elif tt == tz.T_START and t.normal == "html":
        tb.insert_element(t)
        tb.state = BEFORE_HEAD
    elif tt == tz.T_END and t.normal in C_BEFORE_HTML_TO_HEAD:
        return _before_html_anything(tb, t)
    elif tt == tz.T_END:
        tb.error("unexpected end tag")
        return False
    else:
        return _before_html_anything(tb, t)
    return True


def _before_head(tb, t):
    tt = t.type
    if _is_ws_token(t):
        tb.insert_character(t)
    elif tt == tz.T_COMMENT:
        tb.insert_comment(t)
    elif tt == tz.T_DOCTYPE:
        tb.error("doctype")
        return False
    elif tt == tz.T_START and t.normal == "html":
        return _in_body(tb, t)
    elif tt == tz.T_START and t.normal == "head":
        tb.head_el = tb.insert_element(t)
        tb.state = IN_HEAD
    elif tt == tz.T_END and t.normal in C_BEFORE_HTML_TO_HEAD:
        tb.process_start("head")
        return tb.process(t)
    elif tt == tz.T_END:
        tb.error("unexpected end tag")
        return False
    else:
        tb.process_start("head")
        return tb.process(t)
    return True


def _in_head_anything(tb, t):
    tb.process_end("head")
    return tb.process(t)


def _in_head(tb, t):
    if _is_ws_token(t):
        tb.insert_character(t)
        return True
    tt = t.type
    if tt == tz.T_COMMENT:
        tb.insert_comment(t)
    elif tt == tz.T_DOCTYPE:
        tb.error("doctype")
        return False
    elif tt == tz.T_START:
        name = t.normal
        if name == "html":
            return _in_body(tb, t)
        if name in C_IN_HEAD_EMPTY:
            el = tb.insert_empty_element(t)
            if name == "base" and el.has_attr("href"):
                tb.maybe_set_base(el)
        elif name == "meta":
            tb.insert_empty_element(t)
        elif name == "title":
            _handle_text_state(t, tb, _text_state_for(tb, name))
        elif name in C_IN_HEAD_RAW:
            _handle_text_state(t, tb, _text_state_for(tb, name))
        elif name == "noscript":
            tb.start_noscript(t)
        elif name == "script":
            tb.tok.state = tz.SCRIPT_DATA
            tb.original_state = tb.state
            tb.state = TEXT
            tb.insert_element(t)
        elif name == "head":
            tb.error("head in head")
            return False
        elif name == "template":
            tb.insert_element(t)
            tb.insert_formatting_marker()
            tb.frameset_ok = False
            tb.state = IN_TEMPLATE
            tb.push_template_mode(IN_TEMPLATE)
        else:
            return _in_head_anything(tb, t)
    elif tt == tz.T_END:
        name = t.normal
        if name == "head":
            tb.pop()
            tb.state = AFTER_HEAD
        elif name in C_IN_HEAD_END:
            return _in_head_anything(tb, t)
        elif name == "template":
            if not tb.on_stack_name(name):
                tb.error("no template open")
            else:
                tb.generate_implied_end_thorough()
                if not tb.current_is(name):
                    tb.error("unexpected open elements")
                tb.pop_to_close(name)
                tb.clear_formatting_to_marker()
                tb.pop_template_mode()
                tb.reset_insertion_mode()
        else:
            tb.error("unexpected end tag in head")
            return False
    else:
        return _in_head_anything(tb, t)
    return True


def _after_head_anything(tb, t):
    tb.process_start("body")
    tb.frameset_ok = True
    return tb.process(t)


def _after_head(tb, t):
    tt = t.type
    if _is_ws_token(t):
        tb.insert_character(t)
    elif tt == tz.T_COMMENT:
        tb.insert_comment(t)
    elif tt == tz.T_DOCTYPE:
        tb.error("doctype")
    elif tt == tz.T_START:
        name = t.normal
        if name == "html":
            return _in_body(tb, t)
        if name == "body":
            tb.insert_element(t)
            tb.frameset_ok = False
            tb.state = IN_BODY
        elif name == "frameset":
            tb.insert_element(t)
            tb.state = IN_FRAMESET
        elif name in C_TO_HEAD:
            tb.error("misplaced head content")
            head = tb.head_el
            tb.push(head)
            _in_head(tb, t)
            tb.remove_from_stack(head)
        elif name == "head":
            tb.error("head after head")
            return False
        else:
            _after_head_anything(tb, t)
    elif tt == tz.T_END:
        name = t.normal
        if name in C_AFTER_HEAD_BODY:
            _after_head_anything(tb, t)
        elif name == "template":
            _in_head(tb, t)
        else:
            tb.error("unexpected end tag")
            return False
    else:
        _after_head_anything(tb, t)
    return True


def _in_body(tb, t):
    tt = t.type
    if tt == tz.T_CHAR or tt == tz.T_CDATA:
        tb.reconstruct_formatting()
        tb.insert_character(t)
        if not (tb.frameset_ok and _is_ws_token(t)):
            tb.frameset_ok = False
        return True
    if tt == tz.T_START:
        return _in_body_start(tb, t)
    if tt == tz.T_END:
        return _in_body_end(tb, t)
    if tt == tz.T_COMMENT:
        tb.insert_comment(t)
        return True
    if tt == tz.T_DOCTYPE:
        tb.error("doctype in body")
        return False
    if tt == tz.T_EOF:
        if tb.tmpl_modes:
            return _in_template(tb, t)
        if tb.on_stack_not(C_END_OTHER_ERRORS):
            tb.error("unexpected open elements at eof")
    return True


def _in_body_start(tb, t):
    name = t.normal
    # hot hoists: these branches are duplicated from their positions below
    # (p-closer block tags, the 12 formatting tags, simple voids) — every
    # branch in this chain tests disjoint name sets, so ordering is purely
    # a dispatch-cost choice; these three cover ~70% of body start tags
    if name in C_P_CLOSERS:
        if tb.in_button_scope("p"):
            tb.process_end("p")
        tb.insert_element(t)
        return True
    if name in C_FORMATTING_12:
        tb.reconstruct_formatting()
        el = tb.insert_element(t)
        tb.push_formatting(el)
        return True
    if name in C_SIMPLE_VOIDS:
        tb.reconstruct_formatting()
        tb.insert_empty_element(t)
        tb.frameset_ok = False
        return True
    if name == "a":
        if tb.get_formatting("a") is not None:
            tb.error("nested a")
            tb.process_end("a")
            remaining = tb.get_from_stack("a")
            if remaining is not None:
                tb.remove_from_formatting(remaining)
                tb.remove_from_stack(remaining)
        tb.reconstruct_formatting()
        el = tb.insert_element(t)
        tb.push_formatting(el)
    elif name == "span":
        tb.reconstruct_formatting()
        tb.insert_element(t)
    elif name == "li":
        tb.frameset_ok = False
        stack = tb.stack
        for i in range(len(stack) - 1, 0, -1):
            el = stack[i]
            if el.name == "li" and el.ns == NS_HTML:
                tb.process_end("li")
                break
            if _is_special(el) and el.name not in C_LI_BREAKERS:
                break
        if tb.in_button_scope("p"):
            tb.process_end("p")
        tb.insert_element(t)
    elif name == "html":
        tb.error("html in body")
        if tb.on_stack_name("template"):
            return False
        if tb.stack:
            _merge_attributes(t, tb.stack[0])
    elif name == "body":
        tb.error("body in body")
        stack = tb.stack
        if (len(stack) < 2
                or (len(stack) > 2 and stack[1].name != "body")
                or tb.on_stack_name("template")):
            return False
        tb.frameset_ok = False
        body = tb.get_from_stack("body")
        if body is not None:
            _merge_attributes(t, body)
    elif name == "frameset":
        tb.error("frameset in body")
        stack = tb.stack
        if len(stack) < 2 or (len(stack) > 2 and stack[1].name != "body"):
            return False
        if not tb.frameset_ok:
            return False
        second = stack[1]
        if second.parent is not None:
            second.remove()
        while len(stack) > 1:
            stack.pop()
        tb.insert_element(t)
        tb.state = IN_FRAMESET
    elif name == "form":
        if tb.form_el is not None and not tb.on_stack_name("template"):
            tb.error("nested form")
            return False
        if tb.in_button_scope("p"):
            tb.close_element("p")
        tb.insert_form_element(t, True, True)
    elif name == "plaintext":
        if tb.in_button_scope("p"):
            tb.process_end("p")
        tb.insert_element(t)
        tb.tok.state = tz.PLAINTEXT
    elif name == "button":
        if tb.in_button_scope("button"):
            tb.error("nested button")
            tb.process_end("button")
            tb.process(t)
        else:
            tb.reconstruct_formatting()
            tb.insert_element(t)
            tb.frameset_ok = False
    elif name == "nobr":
        tb.reconstruct_formatting()
        if tb.in_scope("nobr"):
            tb.error("nested nobr")
            tb.process_end("nobr")
            tb.reconstruct_formatting()
        el = tb.insert_element(t)
        tb.push_formatting(el)
    elif name == "table":
        if tb.doc.quirks_mode != "quirks" and tb.in_button_scope("p"):
            tb.process_end("p")
        tb.insert_element(t)
        tb.frameset_ok = False
        tb.state = IN_TABLE
    elif name == "input":
        tb.reconstruct_formatting()
        el = tb.insert_empty_element(t)
        if el.attr("type").lower() != "hidden":
            tb.frameset_ok = False
    elif name == "hr":
        if tb.in_button_scope("p"):
            tb.process_end("p")
        tb.insert_empty_element(t)
        tb.frameset_ok = False
    elif name == "image":
        if tb.get_from_stack("svg") is None:
            # in-place rename: same token object stays current_token, so
            # source positions carry over (HtmlTreeBuilderState.java:440
            # startTag.name("img"))
            t.name = "img"
            t.normal = "img"
            return tb.process(t)
        tb.insert_element(t)
    elif name == "textarea":
        tb.frameset_ok = False
        _handle_text_state(t, tb, _text_state_for(tb, name))
    elif name == "xmp":
        if tb.in_button_scope("p"):
            tb.process_end("p")
        tb.reconstruct_formatting()
        tb.frameset_ok = False
        _handle_text_state(t, tb, _text_state_for(tb, name))
    elif name == "iframe":
        tb.frameset_ok = False
        _handle_text_state(t, tb, _text_state_for(tb, name))
    elif name == "noembed":
        _handle_text_state(t, tb, _text_state_for(tb, name))
    elif name == "noscript":
        tb.reconstruct_formatting()
        tb.start_noscript(t)
    elif name == "select":
        tb.reconstruct_formatting()
        tb.insert_element(t)
        tb.frameset_ok = False
        if t.self_closing:
            return True
        if tb.state in (IN_TABLE, IN_CAPTION, IN_TABLE_BODY, IN_ROW, IN_CELL):
            tb.state = IN_SELECT_IN_TABLE
        else:
            tb.state = IN_SELECT
    elif name == "math":
        tb.reconstruct_formatting()
        tb.insert_foreign_element(t, NS_MATHML)
    elif name == "svg":
        tb.reconstruct_formatting()
        tb.insert_foreign_element(t, NS_SVG)
    elif name in C_HEADINGS:
        if tb.in_button_scope("p"):
            tb.process_end("p")
        if tb.current_element().name in C_HEADINGS:
            tb.error("nested heading")
            tb.pop()
        tb.insert_element(t)
    elif name in ("pre", "listing"):
        if tb.in_button_scope("p"):
            tb.process_end("p")
        tb.insert_element(t)
        # skip first LF (reader.matchConsume("\n"))
        tok = tb.tok
        if tok.pos < tok.n and tok.s[tok.pos] == "\n":
            tok.pos += 1
        tb.frameset_ok = False
    elif name in C_DD_DT:
        tb.frameset_ok = False
        stack = tb.stack
        bottom = len(stack) - 1
        upper = bottom - C_MAX_STACK_SCAN if bottom >= C_MAX_STACK_SCAN else 0
        for i in range(bottom, upper - 1, -1):
            el = stack[i]
            if el.name in C_DD_DT:
                tb.process_end(el.name)
                break
            if _is_special(el) and el.name not in C_LI_BREAKERS:
                break
        if tb.in_button_scope("p"):
            tb.process_end("p")
        tb.insert_element(t)
    elif name in ("optgroup", "option"):
        if tb.current_is("option"):
            tb.process_end("option")
        tb.reconstruct_formatting()
        tb.insert_element(t)
    elif name in ("rb", "rtc"):
        if tb.in_scope("ruby"):
            tb.generate_implied_end()
            if not tb.current_is("ruby"):
                tb.error("unexpected ruby content")
        tb.insert_element(t)
    elif name in ("rp", "rt"):
        if tb.in_scope("ruby"):
            tb.generate_implied_end("rtc")
            if not (tb.current_is("rtc") or tb.current_is("ruby")):
                tb.error("unexpected ruby content")
        tb.insert_element(t)
    elif name in ("area", "br", "embed", "img", "keygen", "wbr"):
        tb.reconstruct_formatting()
        tb.insert_empty_element(t)
        tb.frameset_ok = False
    elif name in ("b", "big", "code", "em", "font", "i", "s", "small",
                  "strike", "strong", "tt", "u"):
        tb.reconstruct_formatting()
        el = tb.insert_element(t)
        tb.push_formatting(el)
    else:
        text_state = _text_state_for(tb, name)
        known = tb._is_known(name)
        if text_state is not None:
            _handle_text_state(t, tb, text_state)
        elif not known:
            tb.insert_element(t)
        elif name in C_P_CLOSERS:
            if tb.in_button_scope("p"):
                tb.process_end("p")
            tb.insert_element(t)
        elif name in C_TO_HEAD:
            return _in_head(tb, t)
        elif name in C_APPLETS:
            tb.reconstruct_formatting()
            tb.insert_element(t)
            tb.insert_formatting_marker()
            tb.frameset_ok = False
        elif name in C_MEDIA:
            tb.insert_empty_element(t)
        elif name in C_DROP:
            tb.error("stray table fragment")
            return False
        else:
            tb.reconstruct_formatting()
            tb.insert_element(t)
    return True


def _any_other_end_tag(tb, t):
    name = t.normal
    if tb.get_from_stack(name) is None:
        tb.error("no matching element")
        return False
    stack = tb.stack
    for i in range(len(stack) - 1, -1, -1):
        node = stack[i]
        if node.name == name:
            tb.generate_implied_end(name)
            if not tb.current_is(name):
                tb.error("unexpected open elements")
            tb.pop_to_close(name)
            break
        if _is_special(node):
            tb.error("cannot close through special element")
            return False
    return True


def _in_body_end(tb, t):
    name = t.normal
    # hot hoists (duplicates of the branches below; all name sets in this
    # chain are disjoint so order is a dispatch-cost choice)
    if name in C_END_CLOSERS:
        if not tb.in_scope(name):
            tb.error("not in scope")
            return False
        tb.generate_implied_end()
        if not tb.current_is(name):
            tb.error("unexpected open elements")
        tb.pop_to_close(name)
        return True
    if name in C_ADOPTION_FORMATTERS:
        return _adoption_agency(tb, t)
    if name == "template":
        _in_head(tb, t)
    elif name in ("sarcasm", "span"):
        return _any_other_end_tag(tb, t)
    elif name == "li":
        if not tb.in_list_scope(name):
            tb.error("li not in scope")
            return False
        tb.generate_implied_end(name)
        if not tb.current_is(name):
            tb.error("unexpected open elements")
        tb.pop_to_close(name)
    elif name == "body":
        if not tb.in_scope("body"):
            tb.error("body not in scope")
            return False
        if tb.on_stack_not(C_END_OTHER_ERRORS):
            tb.error("unexpected open elements")
        if tb.track:
            # body stays on stack for trailers (HtmlTreeBuilderState.java:652)
            body = tb.get_from_stack("body")
            if body is not None:
                tb._track(body, False)
        tb.state = AFTER_BODY
    elif name == "html":
        if not tb.on_stack_name("body"):
            tb.error("no body open")
            return False
        if tb.on_stack_not(C_END_OTHER_ERRORS):
            tb.error("unexpected open elements")
        tb.state = AFTER_BODY
        return tb.process(t)
    elif name == "form":
        if not tb.on_stack_name("template"):
            current_form = tb.form_el
            tb.form_el = None
            if current_form is None or not tb.in_scope(name):
                tb.error("no form in scope")
                return False
            tb.generate_implied_end()
            if not tb.current_is(name):
                tb.error("unexpected open elements")
            tb.remove_from_stack(current_form)
        else:
            if not tb.in_scope(name):
                tb.error("no form in scope")
                return False
            tb.generate_implied_end()
            if not tb.current_is(name):
                tb.error("unexpected open elements")
            tb.pop_to_close(name)
    elif name == "p":
        if not tb.in_button_scope(name):
            tb.error("no p to close")
            tb.process_start(name)
            return tb.process(t)
        tb.generate_implied_end(name)
        if not tb.current_is(name):
            tb.error("unexpected open elements")
        tb.pop_to_close(name)
    elif name in C_DD_DT:
        if not tb.in_scope(name):
            tb.error("not in scope")
            return False
        tb.generate_implied_end(name)
        if not tb.current_is(name):
            tb.error("unexpected open elements")
        tb.pop_to_close(name)
    elif name in C_HEADINGS:
        if not tb.heading_in_scope():
            tb.error("no heading in scope")
            return False
        tb.generate_implied_end(name)
        if not tb.current_is(name):
            tb.error("unexpected open elements")
        tb.pop_to_close_set(C_HEADINGS)
    elif name == "br":
        tb.error("misplaced </br>")
        tb.process_start("br")
        return False
    elif name in C_ADOPTION_FORMATTERS:
        return _adoption_agency(tb, t)
    elif name in C_END_CLOSERS:
        if not tb.in_scope(name):
            tb.error("not in scope")
            return False
        tb.generate_implied_end()
        if not tb.current_is(name):
            tb.error("unexpected open elements")
        tb.pop_to_close(name)
    elif name in C_APPLETS:
        if not tb.in_scope("name"):
            if not tb.in_scope(name):
                tb.error("not in scope")
                return False
            tb.generate_implied_end()
            if not tb.current_is(name):
                tb.error("unexpected open elements")
            tb.pop_to_close(name)
            tb.clear_formatting_to_marker()
    else:
        return _any_other_end_tag(tb, t)
    return True


def _adoption_agency(tb, t):
    """The adoption agency algorithm
    (HtmlTreeBuilderState.java:797-955; WHATWG 13.2.6.4.7)."""
    subject = t.normal
    cur = tb.current_element()
    if cur.name == subject and not tb.in_formatting(cur):
        tb.pop()
        return True
    # well-nested fast path: the current element is both the top of stack
    # and the last active-formatting entry with the subject name, so the
    # general algorithm below provably collapses to pop + remove (fmt_el
    # selection picks cur; it is on-stack, in scope, current; no special
    # element sits above it, so furthestBlock is null)
    f = tb.formatting
    stack = tb.stack
    if f and stack and f[-1] is cur and stack[-1] is cur \
            and cur.name == subject:
        tb.pop()
        f.pop()
        return True
    outer = 0
    while True:
        if outer >= 8:
            return True
        outer += 1
        # last formatting element w/ subject name after last marker
        fmt_el = None
        for i in range(len(tb.formatting) - 1, -1, -1):
            cand = tb.formatting[i]
            if cand is None:
                break
            if cand.name == subject:
                fmt_el = cand
                break
        if fmt_el is None:
            return _any_other_end_tag(tb, t)
        if not tb.on_stack(fmt_el):
            tb.error("formatting element not on stack")
            tb.remove_from_formatting(fmt_el)
            return True
        if not tb.in_scope(fmt_el.name):
            tb.error("formatting element not in scope")
            return False
        if tb.current_element() is not fmt_el:
            tb.error("formatting element not current")

        furthest = None
        stack = tb.stack
        fei = -1
        for i in range(len(stack) - 1, -1, -1):
            if stack[i] is fmt_el:
                fei = i
                break
        if fei != -1:
            for i in range(fei + 1, len(stack)):
                if _is_special(stack[i]):
                    furthest = stack[i]
                    break
        if furthest is None:
            while tb.current_element() is not fmt_el:
                tb.pop()
            tb.pop()
            tb.remove_from_formatting(fmt_el)
            return True

        common = tb.above_on_stack(fmt_el)
        if common is None:
            tb.error("no common ancestor")
            return True
        bookmark = tb.formatting_index(fmt_el)
        el = furthest
        last_el = furthest
        inner = 0
        while True:
            inner += 1
            if not tb.on_stack(el):
                el = el.parent
            else:
                el = tb.above_on_stack(el)
            if el is None or el.name == "body":
                tb.error("adoption hit body")
                break
            if el is fmt_el:
                break
            if inner > 3 and tb.in_formatting(el):
                tb.remove_from_formatting(el)
                break
            if not tb.in_formatting(el):
                tb.remove_from_stack(el)
                continue
            if not tb.on_stack(el):
                tb.error("stale formatting element")
                tb.remove_from_formatting(el)
                break
            # inner-loop replacement is created WITHOUT attributes
            # (HtmlTreeBuilderState.java:912-915: new Element(tagFor(...)))
            replacement = Element(el.name, NS_HTML)
            replacement.tag_name_case = el.tag_name_case
            tb.replace_formatting(el, replacement)
            tb.replace_on_stack(el, replacement)
            el = replacement
            if last_el is furthest:
                bookmark = tb.formatting_index(el) + 1
            el.append(last_el)
            last_el = el

        common.append(last_el)
        # adoptor attrs copy coerces null values to "" (Attributes.addAll
        # goes through Attribute.getValue; HtmlTreeBuilderState.java:934-936)
        adoptor = Element(fmt_el.name, NS_HTML,
                          {k: (v if v is not None else "")
                           for k, v in fmt_el.attrs.items()})
        adoptor.tag_name_case = fmt_el.tag_name_case
        for child in list(furthest.children):
            adoptor.append(child)
        furthest.append(adoptor)
        tb.remove_from_formatting(fmt_el)
        tb.push_formatting_bookmark(adoptor, bookmark)
        tb.remove_from_stack(fmt_el)
        tb.insert_on_stack_after(furthest, adoptor)


def _text(tb, t):
    tt = t.type
    if tt in (tz.T_CHAR, tz.T_CDATA):
        tb.insert_character(t)
    elif tt == tz.T_EOF:
        tb.error("eof in text")
        tb.pop()
        tb.state = tb.original_state
        if tb.state == TEXT:
            tb.state = IN_BODY
        return tb.process(t)
    elif tt == tz.T_END:
        tb.pop()
        tb.state = tb.original_state
    return True


def _in_table_anything(tb, t):
    tb.error("foster content in table")
    tb.foster_inserts = True
    _in_body(tb, t)
    tb.foster_inserts = False
    return True


def _in_table(tb, t):
    tt = t.type
    if tt in (tz.T_CHAR, tz.T_CDATA) and \
            tb.current_element().name in C_TABLE_FOSTER:
        tb.pending_table_chars = []
        tb.original_state = tb.state
        tb.state = IN_TABLE_TEXT
        return tb.process(t)
    if tt == tz.T_COMMENT:
        tb.insert_comment(t)
        return True
    if tt == tz.T_DOCTYPE:
        tb.error("doctype in table")
        return False
    if tt == tz.T_START:
        name = t.normal
        if name == "caption":
            tb.clear_stack_to_context("table", "template")
            tb.insert_formatting_marker()
            tb.insert_element(t)
            tb.state = IN_CAPTION
        elif name == "colgroup":
            tb.clear_stack_to_context("table", "template")
            tb.insert_element(t)
            tb.state = IN_COLUMN_GROUP
        elif name == "col":
            tb.clear_stack_to_context("table", "template")
            tb.process_start("colgroup")
            return tb.process(t)
        elif name in C_TABLE_TO_BODY:
            tb.clear_stack_to_context("table", "template")
            tb.insert_element(t)
            tb.state = IN_TABLE_BODY
        elif name in C_TABLE_ADD_BODY:
            tb.clear_stack_to_context("table", "template")
            tb.process_start("tbody")
            return tb.process(t)
        elif name == "table":
            tb.error("nested table")
            if not tb.in_table_scope(name):
                return False
            tb.pop_to_close(name)
            if not tb.reset_insertion_mode():
                tb.insert_element(t)
                return True
            return tb.process(t)
        elif name in C_TABLE_TO_HEAD:
            return _in_head(tb, t)
        elif name == "noscript":
            tb.start_noscript(t)
        elif name == "input":
            typ = ""
            if t.attrs:
                for k, v in t.attrs:
                    if k.lower() == "type":
                        typ = (v or "").lower()
                        break
            if typ != "hidden":
                return _in_table_anything(tb, t)
            tb.insert_empty_element(t)
        elif name == "form":
            tb.error("form in table")
            if tb.form_el is not None or tb.on_stack_name("template"):
                return False
            tb.insert_form_element(t, False, False)
        else:
            return _in_table_anything(tb, t)
        return True
    if tt == tz.T_END:
        name = t.normal
        if name == "table":
            if not tb.in_table_scope(name):
                tb.error("table not in scope")
                return False
            tb.pop_to_close("table")
            tb.reset_insertion_mode()
        elif name in C_TABLE_END_ERR:
            tb.error("stray table end tag")
            return False
        elif name == "template":
            _in_head(tb, t)
        else:
            return _in_table_anything(tb, t)
        return True
    if tt == tz.T_EOF:
        if tb.current_is("html"):
            tb.error("eof in table")
        return True
    return _in_table_anything(tb, t)


def _in_table_text(tb, t):
    if t.type in (tz.T_CHAR, tz.T_CDATA):
        tb.pending_table_chars.append(t)
    else:
        if tb.pending_table_chars:
            og = tb.current_token
            for c in tb.pending_table_chars:
                tb.current_token = c
                if not _is_ws_token(c):
                    tb.error("non-whitespace in table text")
                    if tb.current_element().name in C_TABLE_FOSTER:
                        tb.foster_inserts = True
                        _in_body(tb, c)
                        tb.foster_inserts = False
                    else:
                        _in_body(tb, c)
                else:
                    tb.insert_character(c)
            tb.current_token = og
            tb.pending_table_chars = []
        tb.state = tb.original_state
        return tb.process(t)
    return True


def _in_caption(tb, t):
    tt = t.type
    if tt == tz.T_END and t.normal == "caption":
        if not tb.in_table_scope("caption"):
            tb.error("caption not in scope")
            return False
        tb.generate_implied_end()
        if not tb.current_is("caption"):
            tb.error("unexpected open elements")
        tb.pop_to_close("caption")
        tb.clear_formatting_to_marker()
        tb.state = IN_TABLE
    elif ((tt == tz.T_START and t.normal in C_CELL_COL)
          or (tt == tz.T_END and t.normal == "table")):
        if not tb.in_table_scope("caption"):
            tb.error("caption not in scope")
            return False
        tb.generate_implied_end()
        if not tb.current_is("caption"):
            tb.error("unexpected open elements")
        tb.pop_to_close("caption")
        tb.clear_formatting_to_marker()
        tb.state = IN_TABLE
        _in_table(tb, t)
    elif tt == tz.T_END and t.normal in C_CAPTION_IGNORE:
        tb.error("stray end tag in caption")
        return False
    else:
        return _in_body(tb, t)
    return True


def _in_column_group_anything(tb, t):
    if not tb.current_is("colgroup"):
        tb.error("colgroup not current")
        return False
    tb.pop()
    tb.state = IN_TABLE
    tb.process(t)
    return True


def _in_column_group(tb, t):
    if _is_ws_token(t):
        tb.insert_character(t)
        return True
    tt = t.type
    if tt == tz.T_COMMENT:
        tb.insert_comment(t)
    elif tt == tz.T_DOCTYPE:
        tb.error("doctype")
    elif tt == tz.T_START:
        name = t.normal
        if name == "html":
            return _in_body(tb, t)
        if name == "col":
            tb.insert_empty_element(t)
        elif name == "template":
            _in_head(tb, t)
        else:
            return _in_column_group_anything(tb, t)
    elif tt == tz.T_END:
        name = t.normal
        if name == "colgroup":
            if not tb.current_is(name):
                tb.error("colgroup not current")
                return False
            tb.pop()
            tb.state = IN_TABLE
        elif name == "template":
            _in_head(tb, t)
        else:
            return _in_column_group_anything(tb, t)
    elif tt == tz.T_EOF:
        if tb.current_is("html"):
            return True
        return _in_column_group_anything(tb, t)
    else:
        return _in_column_group_anything(tb, t)
    return True


def _exit_table_body(tb, t):
    if not (tb.in_table_scope("tbody") or tb.in_table_scope("thead")
            or tb.in_table_scope("tfoot")):
        tb.error("table body not in scope")
        return False
    tb.clear_stack_to_context("tbody", "tfoot", "thead", "template")
    tb.process_end(tb.current_element().name)
    return tb.process(t)


def _in_table_body(tb, t):
    tt = t.type
    if tt == tz.T_START:
        name = t.normal
        if name == "tr":
            tb.clear_stack_to_context("tbody", "tfoot", "thead", "template")
            tb.insert_element(t)
            tb.state = IN_ROW
        elif name in C_CELL_NAMES:
            tb.error("cell without row")
            tb.process_start("tr")
            return tb.process(t)
        elif name in C_TABLE_BODY_EXIT:
            return _exit_table_body(tb, t)
        else:
            return _in_table(tb, t)
    elif tt == tz.T_END:
        name = t.normal
        if name in C_TABLE_END_IGNORE:
            if not tb.in_table_scope(name):
                tb.error("not in scope")
                return False
            tb.clear_stack_to_context("tbody", "tfoot", "thead", "template")
            tb.pop()
            tb.state = IN_TABLE
        elif name == "table":
            return _exit_table_body(tb, t)
        elif name in C_TABLE_BODY_END_IGNORE:
            tb.error("stray end tag")
            return False
        else:
            return _in_table(tb, t)
    else:
        return _in_table(tb, t)
    return True


def _in_row(tb, t):
    tt = t.type
    if tt == tz.T_START:
        name = t.normal
        if name in C_CELL_NAMES:
            tb.clear_stack_to_context("tr", "template")
            tb.insert_element(t)
            tb.state = IN_CELL
            tb.insert_formatting_marker()
        elif name in C_ROW_MISSING:
            if not tb.in_table_scope("tr"):
                tb.error("tr not in scope")
                return False
            tb.clear_stack_to_context("tr", "template")
            tb.pop()
            tb.state = IN_TABLE_BODY
            return tb.process(t)
        else:
            return _in_table(tb, t)
    elif tt == tz.T_END:
        name = t.normal
        if name == "tr":
            if not tb.in_table_scope(name):
                tb.error("tr not in scope")
                return False
            tb.clear_stack_to_context("tr", "template")
            tb.pop()
            tb.state = IN_TABLE_BODY
        elif name == "table":
            if not tb.in_table_scope("tr"):
                tb.error("tr not in scope")
                return False
            tb.clear_stack_to_context("tr", "template")
            tb.pop()
            tb.state = IN_TABLE_BODY
            return tb.process(t)
        elif name in C_TABLE_TO_BODY:
            if not tb.in_table_scope(name):
                tb.error("not in scope")
                return False
            if not tb.in_table_scope("tr"):
                return False
            tb.clear_stack_to_context("tr", "template")
            tb.pop()
            tb.state = IN_TABLE_BODY
            return tb.process(t)
        elif name in C_ROW_IGNORE:
            tb.error("stray end tag")
            return False
        else:
            return _in_table(tb, t)
    else:
        return _in_table(tb, t)
    return True


def _close_cell(tb):
    if tb.in_table_scope("td"):
        tb.process_end("td")
    else:
        tb.process_end("th")


def _in_cell(tb, t):
    tt = t.type
    if tt == tz.T_END:
        name = t.normal
        if name in C_CELL_NAMES:
            if not tb.in_table_scope(name):
                tb.error("cell not in scope")
                tb.state = IN_ROW
                return False
            tb.generate_implied_end()
            if not tb.current_is(name):
                tb.error("unexpected open elements")
            tb.pop_to_close(name)
            tb.clear_formatting_to_marker()
            tb.state = IN_ROW
        elif name in C_CELL_BODY:
            tb.error("stray end tag")
            return False
        elif name in C_CELL_TABLE:
            if not tb.in_table_scope(name):
                tb.error("not in scope")
                return False
            _close_cell(tb)
            return tb.process(t)
        else:
            return _in_body(tb, t)
    elif tt == tz.T_START and t.normal in C_CELL_COL:
        if not (tb.in_table_scope("td") or tb.in_table_scope("th")):
            tb.error("no cell in scope")
            return False
        _close_cell(tb)
        return tb.process(t)
    else:
        return _in_body(tb, t)
    return True


def _in_select(tb, t):
    tt = t.type
    if tt in (tz.T_CHAR, tz.T_CDATA):
        tb.insert_character(t)
    elif tt == tz.T_COMMENT:
        tb.insert_comment(t)
    elif tt == tz.T_DOCTYPE:
        tb.error("doctype")
        return False
    elif tt == tz.T_START:
        name = t.normal
        if name == "html":
            return _in_body(tb, t)
        if name == "option":
            if tb.current_is("option"):
                tb.process_end("option")
            tb.insert_element(t)
        elif name == "optgroup":
            if tb.current_is("option"):
                tb.process_end("option")
            if tb.current_is("optgroup"):
                tb.process_end("optgroup")
            tb.insert_element(t)
        elif name == "select":
            tb.error("nested select")
            return tb.process_end("select")
        elif name in C_SELECT_END:
            tb.error("input-like in select")
            if not tb.in_select_scope("select"):
                return False
            while True:
                tb.pop_to_close("select")
                tb.reset_insertion_mode()
                if not tb.in_select_scope("select"):
                    break
            return tb.process(t)
        elif name in ("script", "template"):
            return _in_head(tb, t)
        elif name == "noscript":
            tb.start_noscript(t)
        else:
            tb.error("unexpected in select")
            return False
    elif tt == tz.T_END:
        name = t.normal
        if name == "optgroup":
            if tb.current_is("option"):
                above = tb.above_on_stack(tb.current_element())
                if above is not None and above.name == "optgroup":
                    tb.process_end("option")
            if tb.current_is("optgroup"):
                tb.pop()
            else:
                tb.error("stray optgroup end")
        elif name == "option":
            if tb.current_is("option"):
                tb.pop()
            else:
                tb.error("stray option end")
        elif name == "select":
            if not tb.in_select_scope(name):
                tb.error("select not in scope")
                return False
            tb.pop_to_close(name)
            tb.reset_insertion_mode()
        elif name == "template":
            return _in_head(tb, t)
        else:
            tb.error("unexpected in select")
            return False
    elif tt == tz.T_EOF:
        if not tb.current_is("html"):
            tb.error("eof in select")
    else:
        tb.error("unexpected in select")
        return False
    return True


def _in_select_in_table(tb, t):
    tt = t.type
    if tt == tz.T_START and t.normal in C_SELECT_TABLE_END:
        tb.error("table element in select-in-table")
        tb.pop_to_close("select")
        tb.reset_insertion_mode()
        return tb.process(t)
    if tt == tz.T_END and t.normal in C_SELECT_TABLE_END:
        tb.error("table end in select-in-table")
        if tb.in_table_scope(t.normal):
            tb.pop_to_close("select")
            tb.reset_insertion_mode()
            return tb.process(t)
        return False
    return _in_select(tb, t)


def _in_template(tb, t):
    tt = t.type
    if tt in (tz.T_CHAR, tz.T_CDATA, tz.T_COMMENT, tz.T_DOCTYPE):
        _in_body(tb, t)
    elif tt == tz.T_START:
        name = t.normal
        if name in C_TEMPLATE_TO_HEAD:
            _in_head(tb, t)
        elif name in C_TEMPLATE_TO_TABLE:
            tb.pop_template_mode()
            tb.push_template_mode(IN_TABLE)
            tb.state = IN_TABLE
            return tb.process(t)
        elif name == "col":
            tb.pop_template_mode()
            tb.push_template_mode(IN_COLUMN_GROUP)
            tb.state = IN_COLUMN_GROUP
            return tb.process(t)
        elif name == "tr":
            tb.pop_template_mode()
            tb.push_template_mode(IN_TABLE_BODY)
            tb.state = IN_TABLE_BODY
            return tb.process(t)
        elif name in ("td", "th"):
            tb.pop_template_mode()
            tb.push_template_mode(IN_ROW)
            tb.state = IN_ROW
            return tb.process(t)
        else:
            tb.pop_template_mode()
            tb.push_template_mode(IN_BODY)
            tb.state = IN_BODY
            return tb.process(t)
    elif tt == tz.T_END:
        if t.normal == "template":
            _in_head(tb, t)
        else:
            tb.error("unexpected end tag in template")
            return False
    elif tt == tz.T_EOF:
        if not tb.on_stack_name("template"):
            return True
        tb.error("eof in template")
        tb.pop_to_close("template")
        tb.clear_formatting_to_marker()
        tb.pop_template_mode()
        tb.reset_insertion_mode()
        if tb.state != IN_TEMPLATE and len(tb.tmpl_modes) < 12:
            return tb.process(t)
        return True
    return True


def _after_body(tb, t):
    html = tb.get_from_stack("html")
    if _is_ws_token(t):
        if html is not None:
            tb.insert_character_to(html, t)
        else:
            _in_body(tb, t)
    elif t.type == tz.T_COMMENT:
        tb.insert_comment(t)
    elif t.type == tz.T_DOCTYPE:
        tb.error("doctype")
        return False
    elif t.type == tz.T_START and t.normal == "html":
        return _in_body(tb, t)
    elif t.type == tz.T_END and t.normal == "html":
        if tb.fragment:
            tb.error("html end in fragment")
            return False
        if tb.track and html is not None:
            # html stays on stack for trailers (HtmlTreeBuilderState.java:1624)
            tb._track(html, False)
        tb.state = AFTER_AFTER_BODY
    elif t.type == tz.T_EOF:
        pass
    else:
        tb.error("unexpected after body")
        tb.reset_body()
        return tb.process(t)
    return True


def _in_frameset(tb, t):
    if _is_ws_token(t):
        tb.insert_character(t)
    elif t.type == tz.T_COMMENT:
        tb.insert_comment(t)
    elif t.type == tz.T_DOCTYPE:
        tb.error("doctype")
        return False
    elif t.type == tz.T_START:
        name = t.normal
        if name == "html":
            return _in_body(tb, t)
        if name == "frameset":
            tb.insert_element(t)
        elif name == "frame":
            tb.insert_empty_element(t)
        elif name == "noframes":
            return _in_head(tb, t)
        else:
            tb.error("unexpected in frameset")
            return False
    elif t.type == tz.T_END and t.normal == "frameset":
        if not tb.current_is("frameset"):
            tb.error("frameset not current")
            return False
        tb.pop()
        if not tb.fragment and not tb.current_is("frameset"):
            tb.state = AFTER_FRAMESET
    elif t.type == tz.T_EOF:
        if not tb.current_is("html"):
            tb.error("eof in frameset")
        return True
    else:
        tb.error("unexpected in frameset")
        return False
    return True


def _after_frameset(tb, t):
    if _is_ws_token(t):
        tb.insert_character(t)
    elif t.type == tz.T_COMMENT:
        tb.insert_comment(t)
    elif t.type == tz.T_DOCTYPE:
        tb.error("doctype")
        return False
    elif t.type == tz.T_START and t.normal == "html":
        return _in_body(tb, t)
    elif t.type == tz.T_END and t.normal == "html":
        tb.state = AFTER_AFTER_FRAMESET
    elif t.type == tz.T_START and t.normal == "noframes":
        return _in_head(tb, t)
    elif t.type == tz.T_EOF:
        pass
    else:
        tb.error("unexpected after frameset")
        return False
    return True


def _after_after_body(tb, t):
    if t.type == tz.T_COMMENT:
        tb.insert_comment(t)
    elif t.type == tz.T_DOCTYPE or (t.type == tz.T_START and t.normal == "html"):
        return _in_body(tb, t)
    elif _is_ws_token(t):
        tb.insert_character_to(tb.doc, t)
    elif t.type == tz.T_EOF:
        pass
    else:
        tb.error("unexpected after after body")
        tb.reset_body()
        return tb.process(t)
    return True


def _after_after_frameset(tb, t):
    if t.type == tz.T_COMMENT:
        tb.insert_comment(t)
    elif (t.type == tz.T_DOCTYPE or _is_ws_token(t)
          or (t.type == tz.T_START and t.normal == "html")):
        return _in_body(tb, t)
    elif t.type == tz.T_EOF:
        pass
    elif t.type == tz.T_START and t.normal == "noframes":
        return _in_head(tb, t)
    else:
        tb.error("unexpected after after frameset")
        return False
    return True


def _foreign_content(tb, t):
    tt = t.type
    if tt in (tz.T_CHAR, tz.T_CDATA):
        if _is_ws_token(t):
            tb.insert_character(t)
        else:
            tb.insert_character(t, replace_nulls=True)
            tb.frameset_ok = False
        return True
    if tt == tz.T_COMMENT:
        tb.insert_comment(t)
        return True
    if tt == tz.T_DOCTYPE:
        tb.error("doctype in foreign content")
        return True
    if tt == tz.T_START:
        name = t.normal
        if name in C_FOREIGN_TO_HTML:
            return _MODES[tb.state](tb, t)
        if name == "font" and t.attrs and any(
                k.lower() in ("color", "face", "size") for k, _ in t.attrs):
            return _MODES[tb.state](tb, t)
        ns = tb.current_element().ns
        el = tb.insert_foreign_element(t, ns)
        # browser behavior: svg script enters ScriptData; custom data tags.
        # NOTE: applies even to self-closing foreign tags (the mode handler
        # transitions unconditionally; HtmlTreeBuilderState.java:1778-1786)
        fl = tb._flags(name, ns)
        if fl & tags.DATA:
            if name == "script":
                tb.tok.state = tz.SCRIPT_DATA
            else:
                tb.tok.state = tz.RAWTEXT
        return True
    if tt == tz.T_END:
        name = t.normal
        if name in ("br", "p"):
            return _MODES[tb.state](tb, t)
        if name == "script" and tb.stack and \
                tb.stack[-1].name == "script" and tb.stack[-1].ns == NS_SVG:
            tb.pop()
            return True
        stack = tb.stack
        if not stack:
            return True
        i = len(stack) - 1
        el = stack[i]
        if el.name != name:
            tb.error("mismatched foreign end tag")
        while i != 0:
            if el.name == name:
                tb.pop_to_close_any_ns(el.name)
                return True
            i -= 1
            el = stack[i]
            if el.ns == NS_HTML:
                return _MODES[tb.state](tb, t)
        return True
    return True


_MODES = [
    _initial, _before_html, _before_head, _in_head, _after_head, _in_body,
    _text, _in_table, _in_table_text, _in_caption, _in_column_group,
    _in_table_body, _in_row, _in_cell, _in_select, _in_select_in_table,
    _in_template, _after_body, _in_frameset, _after_frameset,
    _after_after_body, _after_after_frameset, _foreign_content,
]


if _FT is not None:
    from .nodes import CommentNode as _CommentNode, TextNode as _TextNode

    _FT.configure(
        _build_fasttree_actions(), NS_HTML, Element, _TextNode,
        ("dropped duplicate attributes", "not in scope",
         "unexpected open elements", "li not in scope", "no p to close",
         "no matching element", "cannot close through special element",
         "nested heading", "no heading in scope"),
        IN_BODY, tags.DATA, _CommentNode)
    from . import tokenizer as _tz_mod
    from .nodes import CDataNode as _CDataNode, DataNode as _DataNode
    from .nodes import resolve_url as _resolve_url

    _FT.configure_head(
        C_IN_HEAD_EMPTY, _resolve_url, _DataNode, _CDataNode,
        BEFORE_HEAD, IN_HEAD, AFTER_HEAD, TEXT,
        tz.RCDATA, tz.RAWTEXT, tz.SCRIPT_DATA)
    if _tz_mod._C is not None:
        _FT.configure_tokens(_tz_mod._C.FastToken)
    # C-side queue refill (pump-lite): one apply() call usually covers a
    # whole document instead of one per tokenizer batch
    _FT.configure_pump(tz._STATES, tz.Character)
    # full pump: apply() runs the Data-state scanner itself (struct tokens,
    # no FastToken/deque round trip); same grammar + stop set as
    # jsoup_fastscan, which remains the source of truth for the non-pump
    # path
    _FT.configure_scan(tz._BATCH_STOP, tz._decode_attr_value, tz.DATA)
    _FT.configure_prelude(
        C_END_OTHER_ERRORS,
        # after-head start bails: real rules exist for these (frameset
        # switch, misplaced head content, head error)
        frozenset({"html", "head", "frameset"}) | C_TO_HEAD,
        C_BEFORE_HTML_TO_HEAD,
        # in-head start bails: html (InBody rules), noscript (noscript
        # island), head (error+ignore), template
        frozenset({"html", "noscript", "head", "template"}),
        INITIAL, BEFORE_HTML, AFTER_BODY, AFTER_AFTER_BODY,
        ("body not in scope", "no body open",
         "unexpected end tag", "unexpected end tag in head"))
    _FT.configure_table(
        IN_TABLE, IN_TABLE_BODY, IN_ROW, IN_CELL,
        # reset_insertion_mode targets after </table>
        IN_SELECT, IN_CAPTION, IN_COLUMN_GROUP, IN_FRAMESET,
        ("no cell in scope", "cell not in scope", "stray end tag",
         "tr not in scope", "cell without row", "table body not in scope",
         "table not in scope", "stray table end tag"))
    #: insertion modes the C applier may enter with
    _FT_STATES = frozenset(
        (IN_BODY, BEFORE_HEAD, IN_HEAD, AFTER_HEAD, TEXT,
         INITIAL, BEFORE_HTML, AFTER_BODY, AFTER_AFTER_BODY,
         IN_TABLE, IN_TABLE_BODY, IN_ROW, IN_CELL))
else:
    _FT_STATES = frozenset()


def parse(html: str, base_uri: str = "",
          track_positions: bool = False,
          utf16_offsets: bool = False,
          tag_set=None,
          settings: ParseSettings | None = None) -> Document:
    """Parse an HTML document (Jsoup.parse equivalent).

    track_positions enables source-range tracking
    (Parser.setTrackPosition, nodes/Range.java): nodes get
    .source_range() / .end_source_range() offset tuples.

    utf16_offsets (opt-in) reports every tracked offset in UTF-16 code
    units — the unit the reference's Java reader counts — instead of
    Unicode codepoints, making ranges reference-exact on astral-plane
    inputs (post-pass; see positions.convert_ranges_utf16).

    tag_set: optional tags.TagSet customizing per-tag parse options
    (reference Parser.tagSet; see tags.TagSet.on_new_tag/register_tag).

    settings: optional ParseSettings (reference Parser.settings /
    parser/ParseSettings.java:1) — e.g. PRESERVE_CASE keeps original tag
    and attribute name case instead of the HTML default lowercasing."""
    tb = HtmlTreeBuilder()
    if tag_set is not None:
        tb.set_tag_set(tag_set)
    if settings is not None and (settings.preserve_tag_case
                                 or settings.preserve_attribute_case):
        tb.settings = settings
    doc = tb.parse(html, base_uri, track_positions)
    if track_positions and utf16_offsets:
        from .positions import convert_ranges_utf16
        convert_ranges_utf16(doc, html)
    return doc


def parse_fragment(html: str, context: str | None = None,
                   base_uri: str = "",
                   track_positions: bool = False,
                   tag_set=None,
                   settings: ParseSettings | None = None) -> list:
    """Parse an HTML fragment in an optional context element."""
    tb = HtmlTreeBuilder()
    if tag_set is not None:
        tb.set_tag_set(tag_set)
    if settings is not None and (settings.preserve_tag_case
                                 or settings.preserve_attribute_case):
        tb.settings = settings
    return tb.parse_fragment(html, context, base_uri, track_positions)


def parse_body_fragment(html: str, base_uri: str = "") -> Document:
    """Parser.parseBodyFragment: fragment assumed <body> content."""
    doc = Document(base_uri)
    body_nodes = HtmlTreeBuilder().parse_fragment(html, "body", base_uri)
    html_el = Element("html", NS_HTML)
    head_el = Element("head", NS_HTML)
    body_el = Element("body", NS_HTML)
    doc.append(html_el)
    html_el.append(head_el)
    html_el.append(body_el)
    for n in body_nodes:
        body_el.append(n)
    return doc
