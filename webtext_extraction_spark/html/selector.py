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


def decompose_all(root, selectors: list[str]) -> None:
    """Decompose every live descendant of ``root`` that matches ANY of
    ``selectors`` — one pass over the root's live index range.

    Entries must be bare tags or single ``.class`` names, as are all
    three boilerplate lists (rules.UNWANTED_SELECTORS,
    BODY_UNWANTED_SELECTORS, SELENIUM_BODY_UNWANTED).  Such a match
    does not depend on tree shape, so the pass drops the same set as
    select-then-decompose per selector; each element costs a tag-set
    and a class-set test, read from the Document's lists without
    creating element views."""
    tags = {s for s in selectors if s[0] != "."}
    classes = {s[1:] for s in selectors if s[0] == "."}
    doc = root.doc
    el_tag, el_attrs = doc.el_tag, doc.el_attrs
    matches = []
    for lo, hi in doc.live_ranges(root.order):
        for e in range(lo, hi):
            if el_tag[e] in tags:
                matches.append(e)
                continue
            raw = el_attrs[e].get("class")
            if raw and not classes.isdisjoint(raw.split()):
                matches.append(e)
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
