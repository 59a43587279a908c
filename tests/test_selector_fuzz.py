"""Selector-engine fuzz parity: the production matcher vs a naive,
independent recursive reimplementation (``tests.stdlib_tree.naive_select``),
over random trees × the real selector inventory (every selector the
rules/handlers actually use)."""

import pytest
from hypothesis import given, settings, strategies as st

from webtext_extraction_spark import rules
from webtext_extraction_spark.html.dom import parse

from tests.stdlib_tree import naive_select

SELECTORS = list(
    dict.fromkeys(
        rules.MAIN_CONTENT_SELECTORS
        + rules.UNWANTED_SELECTORS
        + rules.BODY_UNWANTED_SELECTORS
        + [s for sels in rules.DOMAIN_SELECTORS.values() for s in sels]
        + [
            rules.SELENIUM_BODY_UNWANTED,
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


def test_decompose_all_adjacent_chain_sequential_semantics():
    """decompose_all with an adjacent-sibling chain must equal
    sequential per-selector select+decompose: '.x' removes the first
    sibling, after which '.y + .z' no longer matches (round-3 review
    finding — the batch walk used to match '+' against the pristine
    tree)."""
    from webtext_extraction_spark.html.selector import decompose_all

    dom = parse('<html><body><p class="x y">a</p><p class="z">keep</p></body></html>')
    decompose_all(dom.body, [".x", ".y + .z"])
    assert [el.get_text() for el in dom.select("p")] == ["keep"]


def test_compiled_decompose_set_is_immutable():
    """_compile_decompose_set is lru_cached, so every decompose_all call
    with the same selector batch shares its result: a caller mutating it
    would corrupt all later calls (ADVICE r6 #2).  Mutation must fail."""
    from webtext_extraction_spark.html.selector import _compile_decompose_set

    tags, classes, chains, has_adjacent = _compile_decompose_set(("nav", ".ad", "div p"))
    assert (tags, classes, len(chains), has_adjacent) == ({"nav"}, {"ad"}, 1, False)
    with pytest.raises(AttributeError):
        tags.add("p")
    with pytest.raises(AttributeError):
        classes.discard("ad")
    with pytest.raises(AttributeError):
        chains.append(chains[0])
    with pytest.raises(TypeError):
        chains[0][0] = chains[0][1]
    assert _compile_decompose_set(("nav", ".ad", "div p"))[:2] == ({"nav"}, {"ad"})
