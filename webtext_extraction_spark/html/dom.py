"""Minimal offset-tracking DOM for the extraction kernel.

A from-scratch, stdlib-only HTML tree used *inside* vectorized pandas
UDF batches (never as a Spark type).  Behavior pins the subset of
BeautifulSoup(html, 'html.parser') semantics the reference engine
relies on (see /root/reference/common_scripts/
web_text_extractor_ver1.5.py — cited as W throughout):

- ``get_text(separator, strip=True)``: per-text-node strip, drop
  empties, join by separator (W:815, W:1288, W:1354, W:625).
  Comments / doctypes / processing instructions contribute no text.
- ``decompose()``: subtree removal that later selections and
  ``get_text`` observe (W:1285-1287).
- script/style/noscript raw-text (CDATA) contents *are* text nodes
  (which is exactly why the reference decomposes those tags first).
- adjacent character data and decoded entities merge into a single
  logical text node (bs4 ``convert_charrefs=True`` behavior), so a
  run like ``a &amp; b`` strips as one string.

Every character of every text node carries its offset into the raw
payload so extracted text can be emitted with character-span
provenance (new-engine obligation; the reference never records
offsets).  Entity-decoded characters are flagged as non-literal: the
decoded char is not a verbatim slice of the payload.
"""

from __future__ import annotations


class TextNode:
    """One logical run of character data.

    ``pieces`` is a list of ``(text, src_start, src_end, literal)``
    fragments: ``literal`` fragments satisfy
    ``payload[src_start:src_end] == text``; non-literal fragments are
    entity decodes whose source range covers the entity reference.
    """

    __slots__ = ("pieces", "parent")

    def __init__(self, pieces, parent):
        self.pieces = pieces
        self.parent = parent

    @property
    def text(self) -> str:
        pieces = self.pieces
        if len(pieces) == 1:  # the overwhelmingly common shape
            return pieces[0][0]
        return "".join(p[0] for p in pieces)


class Element:
    """A DOM element.

    STRUCTURAL MUTATION INVARIANT (ADVICE r03): the tree is
    append-only at PARSE time and decompose-only AFTERWARDS.  There is
    deliberately no insertion/reattachment API — ``_DomIndex`` is
    built once per Document and only tracks liveness via
    ``decompose_epoch``, so an element attached after ``ensure_index``
    has run would be invisible to ``select``/``find_all`` with no
    signal.  Any future attachment path MUST either invalidate
    ``Document._dom_index`` (set it to None) or assert that
    ``ensure_index`` has not yet run."""

    __slots__ = ("name", "attrs", "parent", "children", "decomposed", "_classes", "order")

    def __init__(self, name: str, attrs: dict, parent, order: int = 0):
        self.name = name
        self.attrs = attrs
        self.parent = parent
        self.children: list = []
        self.decomposed = False
        self._classes = None  # lazy class-token cache (attrs are immutable)
        self.order = order  # document pre-order position (parse-time)

    # -- attribute helpers -------------------------------------------------
    def get(self, key: str, default=None):
        if key == "class":
            return self.class_list() or default
        return self.attrs.get(key, default)

    def class_list(self) -> list[str]:
        if self._classes is None:
            raw = self.attrs.get("class")
            self._classes = raw.split() if raw else []
        return self._classes

    @property
    def id(self):
        return self.attrs.get("id")

    # -- tree walks (iterative: real pages nest 1000+ levels deep, which
    # overflows the python stack with recursive generators) ----------------
    def iter(self):
        """Yield self + all live descendant Elements, document order."""
        if self.decomposed:
            return
        yield self
        yield from self.descendants()

    def iter_text_nodes(self):
        """Live TextNodes in document order (list — every caller
        consumes the walk fully; an explicit-stack list build avoids
        per-node generator resume overhead in the hot path)."""
        out: list = []
        if self.decomposed:
            return out
        children, i = self.children, 0
        stack: list = []
        while True:
            if i < len(children):
                child = children[i]
                i += 1
                if type(child) is TextNode:
                    out.append(child)
                elif not child.decomposed:
                    stack.append((children, i))
                    children, i = child.children, 0
            elif stack:
                children, i = stack.pop()
            else:
                return out

    def descendants(self):
        """Live descendant Elements in document order (list; see
        ``iter_text_nodes`` for why not a generator)."""
        out: list = []
        children, i = self.children, 0
        stack: list = []
        while True:
            if i < len(children):
                child = children[i]
                i += 1
                if type(child) is not TextNode and not child.decomposed:
                    out.append(child)
                    stack.append((children, i))
                    children, i = child.children, 0
            elif stack:
                children, i = stack.pop()
            else:
                return out

    def ancestors(self):
        node = self.parent
        while node is not None:
            yield node
            node = node.parent

    def prev_element_sibling(self):
        if self.parent is None:
            return None
        prev = None
        for child in self.parent.children:
            if child is self:
                return prev
            if isinstance(child, Element) and not child.decomposed:
                prev = child
        return None

    # -- mutation -----------------------------------------------------------
    def decompose(self):
        """Remove this subtree from the document (W:1285-1287 analogue)."""
        self.decomposed = True
        if self.parent is not None:
            # invalidate the owning document's clean-index guarantee
            # BEFORE detaching (only a decompose inside the live tree can
            # change liveness of indexed elements)
            top = self
            while top.parent is not None:
                top = top.parent
            if isinstance(top, Document):
                top.decompose_epoch += 1
            self.parent.children = [c for c in self.parent.children if c is not self]
            self.parent = None

    # -- text assembly (the D6 kernel, W:815/W:1288) -------------------------
    def get_text(self, separator: str = "", strip: bool = False) -> str:
        parts = []
        for tn in self.iter_text_nodes():
            s = tn.text
            if strip:
                s = s.strip()
                if not s:
                    continue
            parts.append(s)
        return separator.join(parts)

    def get_text_tracked(self, separator: str = "", strip: bool = False):
        """Like get_text but returns a TrackedText with payload offsets."""
        from webtext_extraction_spark.kernel.tracked import TrackedText

        return TrackedText.from_text_nodes(self.iter_text_nodes(), separator, strip)

    # -- queries -------------------------------------------------------------
    def select(self, selector: str) -> list["Element"]:
        from webtext_extraction_spark.html.selector import select

        return select(self, selector)

    def select_one(self, selector: str):
        matches = self.select(selector)
        return matches[0] if matches else None

    def find_all(self, names=None, class_pred=None, id_pred=None):
        """Subset of bs4 find_all used by the per-site handlers
        (W:765, W:773, W:778, W:864, W:1157): match by tag-name list
        and/or predicates over the raw class string / id string."""
        if isinstance(names, str):
            names = [names]
        candidates = None
        if names is not None:
            doc = owning_document(self)
            if doc is not None:
                idx = doc.ensure_index()
                candidates = []
                for n in dict.fromkeys(names):  # dedup: repeated names must not double-yield
                    candidates.extend(idx.by_tag.get(n, ()))
                if len(names) > 1:
                    candidates.sort(key=_order_key)
                if not (self is doc and doc.decompose_epoch == idx.epoch):
                    candidates = [el for el in candidates if is_under(el, self)]
        out = []
        for el in candidates if candidates is not None else self.descendants():
            if candidates is None and names is not None and el.name not in names:
                continue
            if class_pred is not None and not class_pred(el.attrs.get("class")):
                continue
            if id_pred is not None and not id_pred(el.attrs.get("id")):
                continue
            out.append(el)
        return out

    def __repr__(self):  # pragma: no cover - debug aid
        return f"<{self.name} {self.attrs}>"


class _DomIndex:
    """Liveness-at-build-time snapshot of (tag|class|id|attr-name) →
    doc-order element lists.  Queries taken at ``epoch`` ==
    ``doc.decompose_epoch`` need no liveness re-check; after further
    decomposes, candidates are re-verified with :func:`is_under`."""

    __slots__ = ("by_tag", "by_class", "by_id", "by_attr", "epoch")

    def __init__(self, root: "Document"):
        self.by_tag: dict = {}
        self.by_class: dict = {}
        self.by_id: dict = {}
        self.by_attr: dict = {}
        self.epoch = root.decompose_epoch
        for el in root.descendants():
            self.by_tag.setdefault(el.name, []).append(el)
            for c in el.class_list():
                self.by_class.setdefault(c, []).append(el)
            for k in el.attrs:
                self.by_attr.setdefault(k, []).append(el)
            i = el.attrs.get("id")
            if i is not None:
                self.by_id.setdefault(i, []).append(el)


def _order_key(el) -> int:
    return el.order


def owning_document(el):
    """The Document at the top of ``el``'s parent chain, or None when
    the chain is broken (el sits in a decomposed/detached subtree)."""
    node = el
    while node.parent is not None:
        node = node.parent
    return node if isinstance(node, Document) else None


def is_under(el, root) -> bool:
    """True iff ``root`` is a PROPER ancestor of ``el`` along live
    parent links — exactly the elements a ``root.descendants()`` walk
    yields (decomposed subtrees are detached, breaking the chain)."""
    node = el
    while True:
        parent = node.parent
        if parent is None:
            return False
        if parent is root:
            return True
        node = parent


class Document(Element):
    """Root node; also exposes ``body`` and ``title`` (W:1341, W:1359).

    Carries the lazily-built ``_DomIndex`` and the ``decompose_epoch``
    that keeps it honest under decomposition — see the structural
    mutation invariant on :class:`Element`: parse-time append-only,
    decompose-only afterwards, no attachment without index
    invalidation."""

    def __init__(self):
        super().__init__("[document]", {}, None)
        self.decompose_epoch = 0
        self._dom_index: _DomIndex | None = None
        # document-order element list maintained by the parse-time
        # builder (append-only pre-order == walk order); valid as a
        # descendants() shortcut only while NOTHING has been decomposed
        self._parse_order: list | None = None

    def descendants(self):
        if self.decompose_epoch == 0 and self._parse_order is not None:
            return list(self._parse_order)
        return super().descendants()

    def ensure_index(self) -> _DomIndex:
        if self._dom_index is None:
            self._dom_index = _DomIndex(self)
        return self._dom_index

    def _first_named(self, name):
        idx = self.ensure_index()
        clean = self.decompose_epoch == idx.epoch
        for el in idx.by_tag.get(name, ()):
            if clean or is_under(el, self):
                return el
        return None

    @property
    def body(self):
        return self._first_named("body")

    @property
    def title(self):
        return self._first_named("title")


def parse(payload: str) -> Document:
    """Parse an HTML payload into an offset-tracking Document tree.

    The single-pass builder in html/fastfeed.py builds every node; it
    is differentially tested against the stdlib parser in
    tests/test_fastfeed_diff.py."""
    from webtext_extraction_spark.html.fastfeed import fast_feed  # imports this module

    return fast_feed(payload)
