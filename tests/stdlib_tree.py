"""Independent oracle for the production tree: the stdlib
``html.parser.HTMLParser`` driven through ``feed(payload); close()``
with tree-building handler methods, building a tree of plain node
objects with child lists.

``webtext_extraction_spark.html.fastfeed.fast_feed`` re-implements the
stdlib's dispatch loop and writes a flat tree of index ranges
(``html/dom.py``); nothing here is shared with it except the two
tree-policy constants (``VOID_ELEMENTS``, ``MAX_DEPTH``).  The node
classes below are the object-walk reference for the range logic:
``decompose`` detaches a subtree from its parent's child list, and
``descendants`` / ``get_text`` / ``get_text_tracked`` walk child
lists.  ``naive_select`` is a recursive selector matcher that works on
both trees.  ``tests/test_fastfeed_diff.py`` and
``scripts/soak_fastfeed.py`` compare the two trees node for node and
under decomposition.
"""

from __future__ import annotations

import html as _html
from html import _invalid_charrefs, _invalid_codepoints
from html.parser import HTMLParser

from webtext_extraction_spark.html.fastfeed import MAX_DEPTH, VOID_ELEMENTS
from webtext_extraction_spark.html.selector import _parse_selector


class TextNode:
    __slots__ = ("pieces", "parent")

    def __init__(self, pieces, parent):
        self.pieces = pieces  # [(text, src_start, src_end, literal)]
        self.parent = parent

    @property
    def text(self) -> str:
        return "".join(p[0] for p in self.pieces)


class Element:
    def __init__(self, name: str, attrs: dict, parent, order: int = 0):
        self.name = name
        self.attrs = attrs
        self.parent = parent
        self.children: list = []
        self.decomposed = False
        self.order = order

    def iter_text_nodes(self) -> list:
        if self.decomposed:
            return []
        out = []
        stack = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if isinstance(node, TextNode):
                out.append(node)
            elif not node.decomposed:
                stack.extend(reversed(node.children))
        return out

    def descendants(self) -> list:
        out = []
        stack = list(reversed(self.children))
        while stack:
            node = stack.pop()
            if isinstance(node, Element) and not node.decomposed:
                out.append(node)
                stack.extend(reversed(node.children))
        return out

    def decompose(self):
        self.decomposed = True
        if self.parent is not None:
            self.parent.children = [c for c in self.parent.children if c is not self]
            self.parent = None

    def get_text(self, separator: str = "", strip: bool = False) -> str:
        texts = [tn.text for tn in self.iter_text_nodes()]
        if strip:
            texts = [t.strip() for t in texts if t.strip()]
        return separator.join(texts)

    def get_text_tracked(self, separator: str = "", strip: bool = False):
        """``(text, offsets)``: the per-character payload offsets (-1 =
        synthetic) built character by character."""
        text: list[str] = []
        off: list[int] = []
        for n, tn in enumerate(self.iter_text_nodes()):
            chars, offs = [], []
            for pt, ps, _pe, lit in tn.pieces:
                chars.extend(pt)
                offs.extend(range(ps, ps + len(pt)) if lit else [-1] * len(pt))
            if strip:
                s = "".join(chars)
                a, b = len(s) - len(s.lstrip()), len(s.rstrip())
                if a >= b:
                    continue
                chars, offs = chars[a:b], offs[a:b]
            if text or (n and not strip):
                text.extend(separator)
                off.extend([-1] * len(separator))
            text.extend(chars)
            off.extend(offs)
        return "".join(text), off

    def select(self, selector: str) -> list:
        return naive_select(self, selector)

    def find_all(self, names=None, class_pred=None, id_pred=None) -> list:
        if isinstance(names, str):
            names = [names]
        return [
            el
            for el in self.descendants()
            if (names is None or el.name in names)
            and (class_pred is None or class_pred(el.attrs.get("class")))
            and (id_pred is None or id_pred(el.attrs.get("id")))
        ]


class Document(Element):
    def __init__(self):
        super().__init__("[document]", {}, None)

    def _first_named(self, name):
        return next((el for el in self.descendants() if el.name == name), None)

    @property
    def body(self):
        return self._first_named("body")

    @property
    def title(self):
        return self._first_named("title")


def _compound_matches(el, compound) -> bool:
    if compound.tag and compound.tag != "*" and el.name != compound.tag:
        return False
    classes = (el.attrs.get("class") or "").split()
    if any(c not in classes for c in compound.classes):
        return False
    if any(el.attrs.get("id") != i for i in compound.ids):
        return False
    for name, op, value in compound.attrs:
        actual = el.attrs.get(name)
        if actual is None:
            return False
        if op == "=" and actual != value:
            return False
        if op == "*=" and value not in actual:
            return False
    return True


def naive_select(root, selector: str) -> list:
    """Recursive selector matcher over ``parent`` / ``children`` /
    ``descendants()`` links — independent of the production index."""
    groups = _parse_selector(selector)

    def ancestors_of(el):
        out = []
        node = el.parent
        while node is not None and node.name != "[document]":
            out.append(node)
            node = node.parent
        return out

    def prev_sibling(el):
        if el.parent is None:
            return None
        prev = None
        for s in el.parent.children:
            if s is el:
                return prev
            if getattr(s, "name", None):
                prev = s
        return None

    def chain_match(el, chain, idx):
        comb, compound = chain[idx]
        if not _compound_matches(el, compound):
            return False
        if idx == 0:
            return True
        if comb == "adjacent":
            p = prev_sibling(el)
            return p is not None and chain_match(p, chain, idx - 1)
        return any(chain_match(a, chain, idx - 1) for a in ancestors_of(el))

    return [
        el
        for el in root.descendants()
        if any(chain_match(el, chain, len(chain) - 1) for chain in groups)
    ]


class _TreeBuilder(HTMLParser):
    """Event-driven tree build with absolute source offsets.

    ``convert_charrefs=False`` so entity references arrive as discrete
    events with exact positions; adjacent data/entity fragments are
    buffered and flushed into one logical TextNode at the next tag
    boundary (matching bs4's merged-string behavior).
    """

    def __init__(self, payload: str):
        super().__init__(convert_charrefs=False)
        self.payload = payload
        # absolute-position tracking: goahead calls updatepos(i, j) after
        # every consumed segment, and every handler that reads a position
        # (data/entity/charref) fires when the previous updatepos ended
        # exactly at that handler's start — so _pos IS the handler's
        # absolute offset.  This replaces the stdlib line/column
        # bookkeeping (a str.count('\n') per event) we never used beyond
        # reconstructing absolute offsets.  _rebase covers the one place
        # indices become relative: close() re-runs goahead on the
        # unconsumed tail after feed() rebased self.rawdata.
        self._pos = 0
        self._rebase = 0
        self.root = Document()
        self.stack: list[Element] = [self.root]
        self.order = 0  # document pre-order counter (creation order)
        self.pending: list = []  # text pieces awaiting flush
        # tag names of opens beyond MAX_DEPTH (flattened, not pushed) —
        # names are kept so an end tag only consumes a flattened open it
        # actually matches; </body> arriving while a capped <div> is
        # open must reach the real stack (ADVICE r01)
        self.overflow_tags: list[str] = []

    def updatepos(self, i: int, j: int) -> int:
        self._pos = j
        return j

    def _abs(self) -> int:
        return self._rebase + self._pos

    def _flush_text(self):
        if self.pending:
            parent = self.stack[-1]
            parent.children.append(TextNode(self.pending[:], parent))
            self.pending.clear()

    # -- tag events (hot path: _flush_text and the attr dict are inlined — the
    # per-event call overhead is measurable at millions of pages) -----------
    def handle_starttag(self, tag, attrs):
        parent = self.stack[-1]
        pending = self.pending
        if pending:
            parent.children.append(TextNode(pending[:], parent))
            pending.clear()
        attr_map = {}
        for k, v in attrs:
            attr_map[k] = v if v is not None else ""
        self.order += 1
        el = Element(tag, attr_map, parent, self.order)
        parent.children.append(el)
        if tag not in VOID_ELEMENTS:
            if len(self.stack) >= MAX_DEPTH:
                self.overflow_tags.append(tag)  # attach flat; named close below
            else:
                self.stack.append(el)

    def handle_startendtag(self, tag, attrs):
        parent = self.stack[-1]
        pending = self.pending
        if pending:
            parent.children.append(TextNode(pending[:], parent))
            pending.clear()
        attr_map = {}
        for k, v in attrs:
            attr_map[k] = v if v is not None else ""
        self.order += 1
        el = Element(tag, attr_map, parent, self.order)
        parent.children.append(el)

    def handle_endtag(self, tag):
        pending = self.pending
        if pending:
            parent = self.stack[-1]
            parent.children.append(TextNode(pending[:], parent))
            pending.clear()
        if not self.overflow_tags:
            # fast path: the end tag names the innermost open element
            stack = self.stack
            if len(stack) > 1 and stack[-1].name == tag:
                stack.pop()
                return
        if self.overflow_tags:
            # consume the most recent MATCHING flattened open (closing
            # any flattened opens above it, stack-scan semantics); an
            # end tag naming no flattened open falls through to the
            # real stack below
            for i in range(len(self.overflow_tags) - 1, -1, -1):
                if self.overflow_tags[i] == tag:
                    del self.overflow_tags[i:]
                    return
        # pop to the most recent matching open tag; ignore strays
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == tag:
                # every flattened open is logically ABOVE any real-stack
                # element: closing a real element closes them all, so a
                # stale overflow entry must not swallow a later legitimate
                # close (ADVICE r02)
                self.overflow_tags.clear()
                del self.stack[i:]
                break

    # -- text events ---------------------------------------------------------
    def handle_data(self, data):
        start = self._rebase + self._pos
        self.pending.append((data, start, start + len(data), True))

    def handle_entityref(self, name):
        start = self._abs()
        end = start + 1 + len(name)
        if end < len(self.payload) and self.payload[end] == ";":
            end += 1
        decoded = _html.unescape(self.payload[start:end])
        self.pending.append((decoded, start, end, False))

    def handle_charref(self, name):
        start = self._abs()
        end = start + 2 + len(name)
        if end < len(self.payload) and self.payload[end] == ";":
            end += 1
        try:
            code = int(name[1:], 16) if name.lower().startswith("x") else int(name)
        except (ValueError, OverflowError):
            decoded = self.payload[start:end]
        else:
            # html.unescape numeric semantics (= bs4 convert_charrefs):
            # cp1252 remap for the &#128;-&#159; block (Word-exported
            # curly quotes/dashes), U+FFFD for surrogates and
            # out-of-range, noncharacters dropped — NOT bare chr()
            if code in _invalid_charrefs:
                decoded = _invalid_charrefs[code]
            elif 0xD800 <= code <= 0xDFFF or code > 0x10FFFF:
                decoded = "�"
            elif code in _invalid_codepoints:
                decoded = ""
            else:
                decoded = chr(code)
        self.pending.append((decoded, start, end, False))

    # comments / declarations / PIs contribute no text
    def handle_comment(self, data):
        if self.pending:
            self._flush_text()

    def handle_decl(self, decl):
        if self.pending:
            self._flush_text()

    def handle_pi(self, data):
        if self.pending:
            self._flush_text()

    def unknown_decl(self, data):
        if self.pending:
            self._flush_text()


def parse_stdlib(payload: str) -> Document:
    """Reference parse via the stdlib incremental parser — the behavior
    oracle for fastfeed.fast_feed's differential tests."""
    builder = _TreeBuilder(payload)
    builder.feed(payload)
    # feed() rebased self.rawdata to the unconsumed tail; events fired
    # during close() carry tail-relative positions
    builder._rebase = len(payload) - len(builder.rawdata)
    builder._pos = 0
    builder.close()
    builder._flush_text()
    return builder.root
