"""Selector-engine fuzz parity: the production matcher vs a naive,
independent recursive reimplementation (``tests.stdlib_tree.naive_select``),
over random trees × the real selector inventory (every selector the
rules/handlers actually use)."""

from hypothesis import given, settings, strategies as st

from webtext_extraction_spark import rules
from webtext_extraction_spark.html.dom import parse
from webtext_extraction_spark.html.selector import _parse_selector, decompose_all, select

from tests.stdlib_tree import naive_select

SELECTORS = list(
    dict.fromkeys(
        rules.MAIN_CONTENT_SELECTORS
        + rules.UNWANTED_SELECTORS
        + rules.BODY_UNWANTED_SELECTORS
        + [s for sels in rules.DOMAIN_SELECTORS.values() for s in sels]
        + rules.SELENIUM_BODY_UNWANTED
        + [
            ", ".join(rules.SELENIUM_BODY_UNWANTED),
            "[data-test-id='pin-domain-link'] span",
            "span[style*='text-decoration: underline']",
            "a[href*='http']",
            "h1.FAo.dyH.Cc2",
            "[data-test-id='pinner-avatar'] + div",
            "div[class*='comment']",
            "h1, span",
        ]
    )
)

TAGS = ["div", "p", "main", "article", "span", "section", "nav", "h1", "a"]
CLASSES = ["article", "content", "ad", "FAo", "dyH", "Cc2", "comment-box", "x"]
ATTRS = [
    ("data-test-id", "pin-domain-link"),
    ("data-test-id", "pinner-avatar"),
    ("style", "color:red; text-decoration: underline"),
    ("href", "https://x.example"),
    ("itemprop", "articleBody"),
]


# -- random tree generator -------------------------------------------------------


@st.composite
def html_tree(draw, depth=0):
    if depth >= 3 or draw(st.booleans()):
        return "t"
    tag = draw(st.sampled_from(TAGS))
    bits = [tag]
    if draw(st.booleans()):
        cls = " ".join(draw(st.lists(st.sampled_from(CLASSES), min_size=1, max_size=3)))
        bits.append(f'class="{cls}"')
    if draw(st.booleans()):
        k, v = draw(st.sampled_from(ATTRS))
        bits.append(f'{k}="{v}"')
    children = "".join(draw(st.lists(html_tree(depth=depth + 1), max_size=4)))
    return f"<{' '.join(bits)}>{children}</{tag}>"


@settings(max_examples=80, deadline=None)
@given(st.lists(html_tree(), min_size=1, max_size=5))
def test_selector_engine_matches_naive_reimplementation(nodes):
    dom = parse("<html><body>" + "".join(nodes) + "</body></html>")
    for selector in SELECTORS:
        fast = dom.select(selector)
        slow = naive_select(dom, selector)
        assert [id(e) for e in fast] == [id(e) for e in slow], selector


@settings(max_examples=80, deadline=None)
@given(st.lists(html_tree(), min_size=1, max_size=5), st.data())
def test_index_select_survives_decompose_interleavings(nodes, data):
    """The lazy DOM index must stay walk-equivalent through arbitrary
    decompose interleavings (dirty-epoch liveness path), for selects on
    the Document AND on subtree roots, and for find_all."""
    dom = parse("<html><body>" + "".join(nodes) + "</body></html>")
    # force the index to exist BEFORE mutations (worst case: stale index)
    dom.ensure_index()
    for _round in range(3):
        # decompose a random live element (if any remain)
        live = dom.descendants()
        if live and data.draw(st.booleans()):
            victim = data.draw(st.sampled_from(live))
            victim.decompose()
        roots = [dom] + dom.descendants()[:3]
        for root in roots:
            for selector in SELECTORS[:6]:
                fast = root.select(selector)
                slow = naive_select(root, selector)
                assert [id(e) for e in fast] == [id(e) for e in slow], selector
            fa = root.find_all(["div", "p", "span"])
            walk = [
                el for el in root.descendants() if el.name in ("div", "p", "span")
            ]
            assert [id(e) for e in fa] == [id(e) for e in walk]


BOILERPLATE_LISTS = {
    "UNWANTED_SELECTORS": rules.UNWANTED_SELECTORS,
    "BODY_UNWANTED_SELECTORS": rules.BODY_UNWANTED_SELECTORS,
    "SELENIUM_BODY_UNWANTED": rules.SELENIUM_BODY_UNWANTED,
}
BOILERPLATE_TAGS = TAGS + ["header", "footer", "aside", "script", "style", "noscript"]
BOILERPLATE_CLASSES = CLASSES + ["header", "menu", "sidebar", "tag", "ad-x", "news"]


def test_boilerplate_lists_hold_only_bare_tags_and_single_classes():
    """decompose_all handles only these two entry forms."""
    for name, selectors in BOILERPLATE_LISTS.items():
        for sel in selectors:
            (chain,) = _parse_selector(sel)
            assert len(chain) == 1, (name, sel)
            c = chain[0][1]
            assert not c.ids and not c.attrs, (name, sel)
            bare_tag = c.tag not in (None, "*") and not c.classes
            single_class = c.tag is None and len(c.classes) == 1
            assert bare_tag or single_class, (name, sel)


@st.composite
def boilerplate_tree(draw, depth=0):
    if depth >= 3 or draw(st.booleans()):
        return "t"
    tag = draw(st.sampled_from(BOILERPLATE_TAGS))
    attr = ""
    if draw(st.booleans()):
        cls = draw(st.lists(st.sampled_from(BOILERPLATE_CLASSES), min_size=1, max_size=3))
        attr = f' class="{" ".join(cls)}"'
    children = "".join(draw(st.lists(boilerplate_tree(depth=depth + 1), max_size=4)))
    return f"<{tag}{attr}>{children}</{tag}>"


@settings(max_examples=80, deadline=None)
@given(st.lists(boilerplate_tree(), min_size=1, max_size=5), st.data())
def test_decompose_all_equals_select_then_decompose(nodes, data):
    """One pass of decompose_all drops the same elements as the selector
    engine's select-then-decompose, for each boilerplate list, from the
    Document or a random element as root."""
    payload = "<html><body>" + "".join(nodes) + "</body></html>"
    for name, selectors in BOILERPLATE_LISTS.items():
        fast, slow = parse(payload), parse(payload)
        k = data.draw(st.integers(0, len(fast.el_tag) - 1))  # 0 is the Document
        decompose_all(fast.node(k), selectors)
        for el in select(slow.node(k), ", ".join(selectors)):
            el.decompose()
        assert fast.dropped == slow.dropped, name
