"""CSS selector subset — exactly the grammar the reference uses.

Covers every selector appearing in the reference extractor
(/root/reference/common_scripts/web_text_extractor_ver1.5.py):

- tag, ``.class`` (multi), ``#id``, compound combinations
  (``section.article``, ``h1.FAo.dyH``)        — W:1244-1248, W:1018
- attribute selectors ``[attr="v"]`` / ``[attr='v']`` exact and
  ``[attr*='v']`` substring                     — W:1247, W:1000-1004, W:1075
- comma groups                                  — W:1259, W:1216
- descendant combinator (whitespace)            — W:1000, W:1021
- adjacent-sibling combinator ``+``             — W:1057, W:1072

No general CSS engine: pseudo-classes, child (``>``), sibling (``~``)
are unsupported by design (absent from the reference).

Matching returns elements in document order, like bs4 ``select``.
"""

from __future__ import annotations

import re
from functools import lru_cache

_COMPOUND_RE = re.compile(
    r"""
    (?P<tag>[a-zA-Z][\w-]*|\*)?
    (?P<rest>(?:
        \.[\w-]+ |
        \#[\w-]+ |
        \[[^\]]+\]
    )*)
    """,
    re.VERBOSE,
)

_PART_RE = re.compile(r"\.([\w-]+)|#([\w-]+)|\[([^\]]+)\]")
_ATTR_RE = re.compile(r"""^\s*([\w-]+)\s*(\*?=)\s*(?:"([^"]*)"|'([^']*)'|([^\s\]]*))\s*$""")


class _Compound:
    __slots__ = ("tag", "classes", "ids", "attrs")

    def __init__(self, tag, classes, ids, attrs):
        self.tag = tag
        self.classes = classes
        self.ids = ids
        self.attrs = attrs  # list of (name, op, value); op in {"=", "*="}

    def matches(self, el) -> bool:
        if self.tag and self.tag != "*" and el.name != self.tag:
            return False
        if self.classes:
            cls = el.class_list()
            if not all(c in cls for c in self.classes):
                return False
        for i in self.ids:
            if el.attrs.get("id") != i:
                return False
        for name, op, value in self.attrs:
            actual = el.attrs.get(name)
            if actual is None:
                return False
            if op == "=" and actual != value:
                return False
            if op == "*=" and value not in actual:
                return False
        return True


def _parse_compound(token: str) -> _Compound:
    m = _COMPOUND_RE.match(token)
    if not m or m.end() != len(token):
        raise ValueError(f"unsupported selector token: {token!r}")
    classes, ids, attrs = [], [], []
    for cm in _PART_RE.finditer(m.group("rest") or ""):
        if cm.group(1):
            classes.append(cm.group(1))
        elif cm.group(2):
            ids.append(cm.group(2))
        else:
            am = _ATTR_RE.match(cm.group(3))
            if not am:
                raise ValueError(f"unsupported attribute selector: [{cm.group(3)}]")
            value = next(v for v in am.groups()[2:] if v is not None)
            attrs.append((am.group(1), am.group(2), value))
    return _Compound(m.group("tag"), classes, ids, attrs)


def _tokenize(alt: str) -> list[str]:
    """Split a selector alternative on whitespace / ``+`` outside
    brackets (attr values may contain spaces and ``+``)."""
    tokens: list[str] = []
    buf: list[str] = []
    depth = 0
    for ch in alt:
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        if depth == 0 and (ch.isspace() or ch == "+"):
            if buf:
                tokens.append("".join(buf))
                buf = []
            if ch == "+":
                tokens.append("+")
            continue
        buf.append(ch)
    if buf:
        tokens.append("".join(buf))
    return tokens


def _split_groups(selector: str) -> list[str]:
    """Split on commas outside brackets."""
    groups: list[str] = []
    buf: list[str] = []
    depth = 0
    for ch in selector:
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        if depth == 0 and ch == ",":
            groups.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    groups.append("".join(buf))
    return groups


@lru_cache(maxsize=512)
def _parse_selector(selector: str):
    """Parse into a list of alternatives; each alternative is a list of
    (combinator, _Compound) with combinator in {'descendant', 'adjacent'}
    applied between the previous compound and this one."""
    groups = []
    for alt in _split_groups(selector):
        alt = alt.strip()
        if not alt:
            continue
        tokens = _tokenize(alt)
        chain = []
        combinator = "descendant"
        for tok in tokens:
            if tok == "+":
                combinator = "adjacent"
                continue
            chain.append((combinator, _parse_compound(tok)))
            combinator = "descendant"
        if chain:
            groups.append(chain)
    return groups


def _chain_matches(el, chain, idx) -> bool:
    """Does ``el`` terminate ``chain[:idx+1]``?"""
    comb, compound = chain[idx]
    if not compound.matches(el):
        return False
    if idx == 0:
        return True
    if comb == "adjacent":
        prev = el.prev_element_sibling()
        return prev is not None and _chain_matches(prev, chain, idx - 1)
    # descendant: some ancestor terminates the prefix
    for anc in el.ancestors():
        if anc.name == "[document]":
            break
        if _chain_matches(anc, chain, idx - 1):
            return True
    return False


@lru_cache(maxsize=128)
def _compile_decompose_set(selectors: tuple[str, ...]):
    """Split a selector batch into (simple_tags, simple_classes,
    complex_chains, has_adjacent) — pure function of the selector
    strings, memoized because the built-in unwanted-selector batches
    are fixed lists applied once per extracted page.  Every call with
    the same batch shares the result, so it is returned immutable."""
    has_adjacent = any(
        comb == "adjacent"
        for s in selectors
        for chain in _parse_selector(s)
        for comb, _c in chain
    )
    simple_tags: set[str] = set()
    simple_classes: set[str] = set()
    complex_chains: list = []
    if not has_adjacent:
        for selector in selectors:
            for chain in _parse_selector(selector):
                if len(chain) == 1:
                    c = chain[0][1]
                    if c.tag and c.tag != "*" and not c.classes and not c.ids and not c.attrs:
                        simple_tags.add(c.tag)
                        continue
                    if not c.tag and len(c.classes) == 1 and not c.ids and not c.attrs:
                        simple_classes.add(c.classes[0])
                        continue
                complex_chains.append(tuple(chain))
    return frozenset(simple_tags), frozenset(simple_classes), tuple(complex_chains), has_adjacent


def decompose_all(root, selectors: list[str]) -> None:
    """Decompose every descendant matching ANY selector — one pass over
    the root's live index range instead of one walk per selector.  The
    final tree equals sequential per-selector select+decompose, except
    with adjacent-sibling (``+``) chains, whose matches can depend on
    earlier decompositions: a batch containing one is applied
    sequentially (round-3 review; the built-in batches have none).

    Bare-tag and single-class compounds (all 26 boilerplate selectors)
    are two set-membership tests per element, read from the Document's
    lists without creating element views."""
    simple_tags, simple_classes, complex_chains, has_adjacent = (
        _compile_decompose_set(tuple(selectors))
    )
    if has_adjacent:
        # exact sequential semantics, in list order
        for s in selectors:
            for el in select(root, s):
                el.decompose()
        return
    doc = root.doc
    tags, attrs = doc.el_tag, doc.el_attrs
    matches = []
    for lo, hi in doc.live_ranges(root.order):
        for e in range(lo, hi):
            if tags[e] in simple_tags:
                matches.append(e)
                continue
            if simple_classes:
                raw = attrs[e].get("class")
                if raw and not simple_classes.isdisjoint(raw.split()):
                    matches.append(e)
                    continue
            for chain in complex_chains:
                if _chain_matches(doc.node(e), chain, len(chain) - 1):
                    matches.append(e)
                    break
    for e in matches:
        doc.node(e).decompose()


def _index_candidates(doc, compound):
    """Ascending candidate index list for a compound from the most
    selective available index key (every element for a bare ``*``)."""
    if compound.ids:
        return doc.ensure_index().by_id.get(compound.ids[0], [])
    if compound.classes:
        return doc.ensure_index().by_class.get(compound.classes[0], [])
    if compound.tag and compound.tag != "*":
        return doc.by_tag.get(compound.tag, [])
    if compound.attrs:
        return doc.ensure_index().by_attr.get(compound.attrs[0][0], [])
    return range(len(doc.el_tag))


def select(root, selector: str) -> list:
    """All live descendant elements of ``root`` matching ``selector``,
    in document order (bs4 ``select`` contract).

    Candidates come from the Document's tag/class/id/attr index and are
    kept when they lie in the root's live index range — instead of one
    full tree walk per ``select`` call.  Results are identical to the
    walk."""
    doc = root.doc
    hits: dict[int, object] = {}
    for chain in _parse_selector(selector):
        last_idx = len(chain) - 1
        for e in doc.live_under(root.order, _index_candidates(doc, chain[-1][1])):
            if e not in hits:
                el = doc.node(e)
                if _chain_matches(el, chain, last_idx):
                    hits[e] = el
    return [hits[k] for k in sorted(hits)]
