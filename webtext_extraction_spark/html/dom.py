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

Representation: the tree is flat.  ``html/fastfeed.py`` writes the
parse into the Document's parallel lists in document pre-order, so an
element's subtree and its text nodes are index intervals.
``decompose()`` records the element in ``Document.dropped``; walks read
the live part of an interval (minus the outermost dropped subtrees
strictly inside it).  :class:`Element` and :class:`TextNode` are views
the Document creates on demand, one per index, so ``is`` holds.
"""

from __future__ import annotations

from bisect import bisect_left


class TextNode:
    """View of one logical run of character data.

    ``pieces`` is a list of ``(text, src_start, src_end, literal)``
    fragments: ``literal`` fragments satisfy
    ``payload[src_start:src_end] == text``; non-literal fragments are
    entity decodes whose source range covers the entity reference.
    """

    __slots__ = ("doc", "index")

    def __init__(self, doc: "Document", index: int):
        self.doc = doc
        self.index = index

    @property
    def pieces(self) -> list:
        return self.doc.pieces_of(self.index)

    @property
    def parent(self) -> "Element":
        return self.doc.node(self.doc.tx_parent[self.index])

    @property
    def text(self) -> str:
        return "".join(p[0] for p in self.pieces)


class Element:
    """View of one element: ``order`` is its document pre-order index.

    STRUCTURAL MUTATION INVARIANT (ADVICE r03): the tree is
    append-only at PARSE time and decompose-only AFTERWARDS.  The flat
    representation enforces it: an element's subtree is the fixed
    interval ``[order, el_end[order])`` written by the parser, and the
    only mutation is adding an index to ``Document.dropped``, which
    every walk and index lookup reads at query time.  There is no
    insertion/reattachment API."""

    __slots__ = ("doc", "order", "name", "attrs", "_classes")

    def __init__(self, doc: "Document", order: int):
        self.doc = doc
        self.order = order
        self.name = doc.el_tag[order]
        self.attrs = doc.el_attrs[order]
        self._classes = None  # lazy class-token cache (attrs are immutable)

    def class_list(self) -> list[str]:
        if self._classes is None:
            raw = self.attrs.get("class")
            self._classes = raw.split() if raw else []
        return self._classes

    # -- tree navigation (live links: a decomposed element has no parent
    # and is no longer among its parent's children) --------------------------
    @property
    def parent(self):
        doc, i = self.doc, self.order
        if i == 0 or doc.is_dropped(i):
            return None
        return doc.node(doc.el_parent[i])

    @property
    def children(self) -> list:
        """Live child elements and text nodes, in document order."""
        doc, r = self.doc, self.order
        ends, text_start, text_end = doc.el_end, doc.el_text, doc.el_text_end
        out = []
        t, c = text_start[r], r + 1
        while c < ends[r]:
            while t < text_start[c]:  # text between children belongs to r
                out.append(doc.text_node(t))
                t += 1
            if not doc.is_dropped(c):
                out.append(doc.node(c))
            t, c = text_end[c], ends[c]
        out.extend(doc.text_node(t) for t in range(t, text_end[r]))
        return out

    def ancestors(self):
        node = self.parent
        while node is not None:
            yield node
            node = node.parent

    def prev_element_sibling(self):
        if self.parent is None:
            return None
        doc, i, prev = self.doc, self.order, None
        c = doc.el_parent[i] + 1
        while c < i:
            if not doc.is_dropped(c):
                prev = c
            c = doc.el_end[c]
        return None if prev is None else doc.node(prev)

    def descendants(self) -> list:
        """Live descendant Elements in document order."""
        node = self.doc.node
        return [node(e) for lo, hi in self.doc.live_ranges(self.order) for e in range(lo, hi)]

    def iter_text_nodes(self) -> list:
        """Live TextNodes in document order (none if self is decomposed)."""
        doc = self.doc
        if doc.is_dropped(self.order):
            return []
        ranges = doc.live_text_ranges(self.order)
        return [doc.text_node(t) for lo, hi in ranges for t in range(lo, hi)]

    # -- mutation -----------------------------------------------------------
    def decompose(self):
        """Remove this subtree from the document (W:1285-1287 analogue)."""
        dropped = self.doc.dropped
        k = bisect_left(dropped, self.order)
        if k == len(dropped) or dropped[k] != self.order:
            dropped.insert(k, self.order)

    # -- text assembly (the D6 kernel, W:815/W:1288) -------------------------
    def get_text(self, separator: str = "", strip: bool = False) -> str:
        doc = self.doc
        if doc.is_dropped(self.order):
            return ""
        texts = []
        payload, tx_piece, bounds, decoded = doc.payload, doc.tx_piece, doc.pc_bounds, doc.pc_text
        for lo, hi in doc.live_text_ranges(self.order):
            for t in range(lo, hi):
                p = tx_piece[t]
                if tx_piece[t + 1] == p + 2 and p not in decoded:  # one literal piece
                    texts.append(payload[bounds[p] : bounds[p + 1]])
                else:
                    texts.append("".join(q[0] for q in doc.pieces_of(t)))
        if strip:
            texts = [s for s in map(str.strip, texts) if s]
        return separator.join(texts)

    def get_text_tracked(self, separator: str = "", strip: bool = False):
        """Like get_text but returns a TrackedText with payload offsets:
        a (start, len) run per kept piece (start -1 = synthetic), turned
        into the offset array by one vectorized pass at the end."""
        from webtext_extraction_spark.kernel.tracked import TrackedText, _offsets_from_runs

        doc = self.doc
        if doc.is_dropped(self.order):
            return TrackedText.empty()
        payload, tx_piece, bounds, decoded = doc.payload, doc.tx_piece, doc.pc_bounds, doc.pc_text
        texts: list[str] = []
        run_starts: list[int] = []  # src_start, or -1 for synthetic
        run_lens: list[int] = []
        sep_len = len(separator)
        first = True
        for lo, hi in doc.live_text_ranges(self.order):
            for t in range(lo, hi):
                p = tx_piece[t]
                if tx_piece[t + 1] == p + 2 and p not in decoded:  # one literal piece
                    pieces, s = None, payload[bounds[p] : bounds[p + 1]]
                else:
                    pieces = doc.pieces_of(t)
                    s = "".join(q[0] for q in pieces)
                a, b = 0, len(s)
                if strip:
                    stripped = s.strip()
                    if not stripped:
                        continue
                    if len(stripped) != b:
                        a = b - len(s.lstrip())
                        b = a + len(stripped)
                        s = stripped
                if not first and separator:
                    texts.append(separator)
                    run_starts.append(-1)
                    run_lens.append(sep_len)
                first = False
                if pieces is None:  # one literal piece: the kept window is one run
                    texts.append(s)
                    run_starts.append(bounds[p] + a)
                    run_lens.append(b - a)
                    continue
                # multi-piece node: clip each piece to the [a, b) keep-window
                pos = 0
                for pt, ps, _pe, lit in pieces:
                    lo_, hi_ = max(a - pos, 0), min(b - pos, len(pt))
                    if hi_ > lo_:
                        texts.append(pt[lo_:hi_])
                        run_starts.append(ps + lo_ if lit else -1)
                        run_lens.append(hi_ - lo_)
                    pos += len(pt)
        if first:
            return TrackedText.empty()
        return TrackedText("".join(texts), _offsets_from_runs(run_starts, run_lens))

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
        doc, attrs = self.doc, self.doc.el_attrs
        if names is None:
            found = [e for lo, hi in doc.live_ranges(self.order) for e in range(lo, hi)]
        else:
            # set: repeated names must not double-yield
            found = sorted(e for n in set([names] if isinstance(names, str) else names)
                           for e in doc.by_tag.get(n, ()))
            found = doc.live_under(self.order, found)
        return [
            doc.node(e)
            for e in found
            if (class_pred is None or class_pred(attrs[e].get("class")))
            and (id_pred is None or id_pred(attrs[e].get("id")))
        ]

    def __repr__(self):  # pragma: no cover - debug aid
        return f"<{self.name} {self.attrs}>"


class Document(Element):
    """Root node (``order`` 0); also exposes ``body`` and ``title``
    (W:1341, W:1359).

    Holds the parse as parallel lists written by ``fastfeed.fast_feed``,
    indexed by element pre-order position: ``el_tag``, ``el_attrs``,
    ``el_parent``, ``el_end`` (one past the last descendant) and the
    text-node interval ``[el_text, el_text_end)``.  Text node ``t`` has
    parent ``tx_parent[t]`` and pieces ``pc_bounds[tx_piece[t]:tx_piece[t
    + 1]]`` — flat (start, end) pairs; a piece whose position is a key
    of ``pc_text`` is a decode with that text, any other is literal.
    ``by_tag`` is filled during the parse, the other indexes by
    ``ensure_index``; they hold every element, and liveness is read
    from ``dropped`` at query time."""

    __slots__ = (
        "payload", "el_tag", "el_attrs", "el_parent", "el_end", "el_text", "el_text_end",
        "tx_parent", "tx_piece", "pc_bounds", "pc_text", "by_tag", "by_class", "by_id",
        "by_attr", "dropped", "_views", "_text_views",
    )

    def __init__(self, payload: str):
        self.payload = payload
        self.el_tag, self.el_attrs, self.el_parent = ["[document]"], [{}], [-1]
        self.el_end, self.el_text, self.el_text_end = [1], [0], [0]
        self.tx_parent, self.tx_piece, self.pc_bounds, self.pc_text = [], [], [], {}
        self.by_tag: dict[str, list[int]] = {}
        self.by_class = self.by_id = self.by_attr = None
        self.dropped: list[int] = []  # sorted indexes of decomposed elements
        self._views = {0: self}
        self._text_views: dict = {}
        super().__init__(self, 0)

    def node(self, i: int) -> Element:
        """The canonical view of element ``i``."""
        view = self._views.get(i)
        if view is None:
            view = self._views[i] = Element(self, i)
        return view

    def text_node(self, t: int) -> TextNode:
        view = self._text_views.get(t)
        if view is None:
            view = self._text_views[t] = TextNode(self, t)
        return view

    def pieces_of(self, t: int) -> list:
        """Text node ``t``'s ``(text, src_start, src_end, literal)`` pieces."""
        payload, bounds, decoded = self.payload, self.pc_bounds, self.pc_text
        out = []
        for p in range(self.tx_piece[t], self.tx_piece[t + 1], 2):
            s, e = bounds[p], bounds[p + 1]
            out.append((decoded[p], s, e, False) if p in decoded else (payload[s:e], s, e, True))
        return out

    @property
    def pristine(self) -> bool:
        """Nothing was decomposed: indistinguishable from a fresh parse."""
        return not self.dropped

    def is_dropped(self, i: int) -> bool:
        dropped = self.dropped
        k = bisect_left(dropped, i)
        return k < len(dropped) and dropped[k] == i

    def _cuts(self, r: int) -> list[int]:
        """The outermost decomposed elements strictly inside ``r``."""
        dropped = self.dropped
        if not dropped:
            return []
        ends = self.el_end
        out, reach = [], r + 1
        for k in range(bisect_left(dropped, reach), len(dropped)):
            d = dropped[k]
            if d >= ends[r]:
                break
            if d >= reach:
                out.append(d)
                reach = ends[d]
        return out

    def live_ranges(self, r: int) -> list[tuple[int, int]]:
        """Element index ranges of ``r``'s live descendants."""
        lo = r + 1
        out = []
        for d in self._cuts(r):
            out.append((lo, d))
            lo = self.el_end[d]
        out.append((lo, self.el_end[r]))
        return out

    def live_text_ranges(self, r: int) -> list[tuple[int, int]]:
        """Text-node index ranges of ``r``'s live subtree."""
        lo = self.el_text[r]
        out = []
        for d in self._cuts(r):
            out.append((lo, self.el_text[d]))
            lo = self.el_text_end[d]
        out.append((lo, self.el_text_end[r]))
        return out

    def live_under(self, r: int, found) -> list[int]:
        """The members of the ascending index list ``found`` that are
        live descendants of ``r``."""
        found = found[bisect_left(found, r + 1) : bisect_left(found, self.el_end[r])]
        cuts = self._cuts(r)
        if not cuts:
            return found
        ends = self.el_end
        out = []
        k = 0
        for e in found:
            while k < len(cuts) and ends[cuts[k]] <= e:
                k += 1
            if k == len(cuts) or e < cuts[k]:
                out.append(e)
        return out

    def ensure_index(self) -> "Document":
        """Build the class / id / attribute-name indexes (once)."""
        if self.by_class is None:
            self.by_class, self.by_id, self.by_attr = {}, {}, {}
            for e, attrs in enumerate(self.el_attrs):
                for k in attrs:
                    self.by_attr.setdefault(k, []).append(e)
                for c in (attrs.get("class") or "").split():
                    self.by_class.setdefault(c, []).append(e)
                if "id" in attrs:
                    self.by_id.setdefault(attrs["id"], []).append(e)
        return self

    def _first_named(self, name):
        found = self.live_under(0, self.by_tag.get(name, []))
        return self.node(found[0]) if found else None

    @property
    def body(self):
        return self._first_named("body")

    @property
    def title(self):
        return self._first_named("title")


def parse(payload: str) -> Document:
    """Parse an HTML payload into an offset-tracking Document tree.

    The single-pass builder in html/fastfeed.py writes the flat tree;
    it is differentially tested against the stdlib parser in
    tests/test_fastfeed_diff.py."""
    from webtext_extraction_spark.html.fastfeed import fast_feed  # imports this module

    return fast_feed(payload)
