"""Differential tests: the production tree builder (html/fastfeed.py,
reached through dom.parse) must produce a tree IDENTICAL — element
names, attrs, order counters, structure, text pieces with absolute
offsets and literal flags — to the independent oracle in
tests/stdlib_tree.py, which drives the stdlib incremental parser
through tree-building handler methods, on every input, including
hostile ones.  Where one path raises, the other must raise the same
exception type.

``assert_same_under_decompose`` checks the range logic of the flat tree
(html/dom.py) against the oracle's object walks: after every step of a
seeded decompose sequence, text assembly (plain and tracked, with
offsets), descendants, select, find_all, body, title and the whole
tree dump must agree.  The larger off-suite soak reuses both checks:
``python scripts/soak_fastfeed.py``.
"""

import random
import string
import sys

import pytest
from hypothesis import given, settings, strategies as st

from webtext_extraction_spark.fixtures_pages import heavy_payload_for, payload_for
from webtext_extraction_spark.html import dom as htmldom

from tests.stdlib_tree import parse_stdlib

sys.setrecursionlimit(20000)  # dumps of MAX_DEPTH-capped trees


def dump(node):
    """The compared fields of a node of either tree: production views
    and oracle nodes expose the same names."""
    if not hasattr(node, "name"):  # a text node
        return ("text", tuple(node.pieces))
    return (
        "el",
        node.name,
        node.order,
        tuple(sorted((k, v) for k, v in node.attrs.items())),
        tuple(dump(c) for c in node.children),
    )


def assert_same_tree(payload: str):
    try:
        fast = dump(htmldom.parse(payload))
        fast_exc = None
    except Exception as e:  # noqa: BLE001 - comparing failure modes
        fast, fast_exc = None, type(e)
    try:
        ref = dump(parse_stdlib(payload))
        ref_exc = None
    except Exception as e:  # noqa: BLE001
        ref, ref_exc = None, type(e)
    assert fast_exc == ref_exc, (fast_exc, ref_exc, payload[:200])
    assert fast == ref, payload[:200]


WALK_SELECTORS = ["p", "div", "div p", ".a", "#x", "[data-k*='v']", "div + p", "main .a, span"]


def _orders(els) -> list:
    return [el.order for el in els]


def _compare_walks(fast, ref):
    for sep, strip in (("", False), ("\n", True), (" ", True)):
        assert fast.get_text(sep, strip) == ref.get_text(sep, strip)
        tt = fast.get_text_tracked(sep, strip)
        assert (tt.text, tt.off.tolist()) == ref.get_text_tracked(sep, strip)
    assert _orders(fast.descendants()) == _orders(ref.descendants())
    for selector in WALK_SELECTORS:
        assert _orders(fast.select(selector)) == _orders(ref.select(selector)), selector
    assert _orders(fast.find_all(["p", "div", "p"])) == _orders(ref.find_all(["p", "div"]))
    assert _orders(fast.find_all(class_pred=bool)) == _orders(ref.find_all(class_pred=bool))


def assert_same_under_decompose(payload: str, seed: int, steps: int = 6):
    """Decompose the same elements in both trees — a seeded mix of any
    element, one inside the last decomposed subtree (nested, or inside
    a detached subtree), an ancestor of it, and the same one again —
    comparing every walk from several roots after each step."""
    try:
        fast, ref = htmldom.parse(payload), parse_stdlib(payload)
    except Exception:  # noqa: BLE001 - parse parity is assert_same_tree's job
        return
    pairs = [(fast, ref)] + list(zip(fast.descendants(), ref.descendants()))
    parent = {r.order: r.parent.order for _f, r in pairs[1:]}
    rng = random.Random(seed)
    last = None
    for _ in range(steps if len(pairs) > 1 else 0):
        inside = [i for i in parent if last and _within(parent, i, last)]
        kind = rng.randrange(4)
        if kind == 1 and inside:
            pick = rng.choice(inside)
        elif kind == 2 and last and parent[last]:
            pick = parent[last]
        elif kind == 3 and last:
            pick = last
        else:
            pick = rng.randrange(1, len(pairs))
        last = pick
        pairs[pick][0].decompose()
        pairs[pick][1].decompose()
        assert dump(fast) == dump(ref)
        for root in {0, pick, parent[pick], rng.randrange(len(pairs))}:
            _compare_walks(*pairs[root])
        for name in ("body", "title"):
            f, r = getattr(fast, name), getattr(ref, name)
            assert (f and f.order) == (r and r.order)


def _within(parent: dict, i: int, top: int) -> bool:
    while i:
        i = parent[i]
        if i == top:
            return True
    return False


ADVERSARIAL = [
    "",
    "plain text no markup",
    "<",
    "a<",
    "<3 not a tag",
    "<div",
    "<div ",
    "<div class",
    '<div class="x',
    "<div class='x'",
    "<div/",
    "<div /",
    "<a/>",
    "<a />",
    "<a b=c d>x</a>",
    "<a b = 'c'>x</a>",
    '<a b="c" b="d">dup attr</a>',
    "<a b>x</a>",
    '<a "bogus">x</a>',
    "<a b=&amp;>ent in attr</a>",
    "<p>unclosed",
    "</p>stray close",
    "</>",
    "</ p>",
    "</p attr='x'>after</p>",
    "<!-- comment --><p>x</p>",
    "<!-- unterminated",
    "<!--->",
    "<!---->",
    "<!-- -- >legacy close<p>y</p>",
    "<!doctype html><p>x</p>",
    "<!DOCTYPE html PUBLIC 'x'><i>y</i>",
    "<!doctype html",
    "<!bogus decl><p>x</p>",
    "<!>",
    "<!",
    "<![CDATA[raw <b> inside]]><p>x</p>",
    "<![CDATA[unterminated",
    "<![if gte IE 8]>cond<![endif]><p>x</p>",
    "<![rcdata[y]]>z",
    "<?php echo 1 ?><p>x</p>",
    "<?pi unterminated",
    "<?>",
    "&amp; &lt; &gt; &quot;",
    "&amp no-semicolon",
    "&amp",
    "&notarealentity; tail",
    "&#65;&#x41;&#X41;",
    "&#65 no-semi",
    "&#xZZ; bogus",
    "&# bogus",
    "&#",
    "&",
    "a & b",
    "a &! b",
    "&a",
    "<script>if (a<b && c>d) {}</script><p>x</p>",
    "<script>unterminated cdata",
    "<script>x</script ><p>y</p>",
    "<SCRIPT>x</SCRIPT><p>y</p>",
    "<script>x</style>y</script><p>z</p>",
    "<script></scr</script>ipt><p>x</p>",
    "<style>p { color: red; }</style><p>x</p>",
    "<style>x</style\t><p>y</p>",
    "<title>t &amp; t</title><body>b</body>",
    "<br><img src='x'><hr/>",
    "<b><i>misnested</b></i>",
    "x\x00y<z\x00>w",
    "日本語<p>テキスト&#x3042;</p>",
    "<p>\r\nCRLF\r\n</p>",
    "<div>" * 600 + "deep" + "</div>" * 600,
    "<div>" * 600 + "</body><p>after-cap</p>",
    "< p>space before name</p>",
    "<p >space after name</p>",
    "<p/ >odd slash</p>",
    "<a href='x'/><a href=\"y\"/>",
    "<a href=x/>selfclose-unquoted</a>",
    "tail<",
    "tail&",
    "tail&#",
    "tail<!",
    "tail</",
    "tail<!-",
    "<p>x</p>trailing text",
    # a -1 construct (unterminated quote / comment / PI) followed by a
    # bogus '&#': the stdlib feed pass breaks at the construct, so its
    # close-pass '&#' bail dumps the tail as data instead of resuming
    # parsing (code-review r3 finding; fastfeed `bailed` at recovery)
    "<a b='c>x&#z;<b>bold</b>",
    "<!-- open&#z;<b>bold</b>",
    "<?pi open&#z;<i>x</i>",
    "<![CDATA[open&#z;<i>x</i>",
    "<a b='c>x&#z;y&#q;<b>two bails</b>",
    "&#z;<a b='c>x&#q;<b>bail then construct</b>",
    # numeric charref classes: cp1252 remap, surrogate, out of range,
    # overflowing the code space, noncharacter, and more decimal digits
    # than int() converts
    "<p>a&#150;b&#xD800;c&#x110000;d</p>",
    "<p>&#99999999999999999999;&#xFDD0;x</p>",
    "<p>&#" + "9" * 5000 + ";x</p>",
    "<p>x&amp",
    # flattened opens past MAX_DEPTH closed by a stray end tag, an end
    # tag that reaches the real stack, and matching ones
    "<div>" * 600 + "a</span>b</body>c" + "</div>" * 600 + "d",
    "<body>" + "<div>" * 600 + "a</span>b" + "</div>" * 300 + "c</body>d",
    "<body>" + "<div>" * 600 + "</body><div>x</div>y",
    # text on both sides of a comment / PI / declaration stays split
    "a<!-- c -->b<?pi?>c<!doctype x>d<![if x]>e</1>f",
    # a script/style closer whose name only case-folds to the element's
    # (U+017F long s, U+0131 dotless i): the stdlib keeps it as text
    "<script>x</\u017fcript>y</script><p>z</p>",
    "<script>x</scr\u0131pt>y</script><p>z</p>",
    "<style>x</\u017ftyle >y</style>",
]


@pytest.mark.parametrize("idx", range(len(ADVERSARIAL)))
def test_adversarial_snippets(idx):
    assert_same_tree(ADVERSARIAL[idx])


def test_archetype_pages():
    for i in range(40):
        for t in range(1 + i % 12):
            payload, _tool = payload_for(f"conv{i:06d}", t)
            assert_same_tree(payload)


def test_heavy_pages():
    for i in range(4):
        p = heavy_payload_for(f"conv{i}", i)
        payload = p[0] if isinstance(p, tuple) else p
        assert_same_tree(payload)


def test_mutated_archetypes():
    """Mutation fuzz (same scheme as test_properties) — 300 seeded
    cases of deletes / duplications / swaps / truncations / splices
    over real archetype pages, compared tree-exactly."""
    rng = random.Random(20260817)
    pool = [payload_for(f"conv{i:06d}", t)[0] for i in range(30) for t in range(1 + i % 8)]

    def mutate(s):
        s = list(s)
        for _ in range(rng.randint(1, 4)):
            if not s:
                break
            kind = rng.randint(0, 4)
            i, j = rng.randrange(len(s)), rng.randrange(len(s))
            lo, hi = min(i, j), max(i, j)
            if kind == 0:
                del s[lo : min(hi, lo + 200)]
            elif kind == 1:
                s[lo:lo] = s[lo : min(hi, lo + 300)]
            elif kind == 2:
                s[i], s[j] = s[j], s[i]
            elif kind == 3:
                del s[i:]
            else:
                other = pool[rng.randrange(len(pool))]
                frag = other[rng.randrange(max(len(other) - 200, 1)) :][:200]
                s[i:i] = list(frag)
        return "".join(s)

    for _ in range(300):
        assert_same_tree(mutate(pool[rng.randrange(len(pool))]))


def test_exhaustive_small_strings():
    """EVERY string of length <=5 over 10 markup-critical characters
    (111,111 cases, ~3 s) — a complete guarantee for short inputs.
    Lengths 6 and 7 (1M / 10M cases) were run off-suite with zero
    divergence; three further alternate alphabets stressing quoted
    attributes (`<>&;"=a/!?-`, `<>&;'=a/! \\t`, `<>&#;a"=[-]`) were
    each run exhaustively through length 6 off-suite (5.8M more
    cases), also zero divergence; the quoted-attribute alphabet
    (`<>&;"=a/!?-`) and a PI/CDATA-bracket alphabet (`<>![CD/]?-a`)
    additionally each ran exhaustively at length 7 (19.5M cases
    apiece), plus 30k long random markup-soup strings — all zero
    divergence (~46M exhaustive differential cases total on record).
    ``python scripts/soak_fastfeed.py`` re-runs all five alphabets
    through length 6 plus a seeded 30k construct/attr soup."""
    import itertools

    alpha = "<>&#;a'/!-"
    for length in range(0, 6):
        for tup in itertools.product(alpha, repeat=length):
            assert_same_tree("".join(tup))


def test_construct_bail_fuzz():
    """Seeded fuzz over concatenations of incomplete constructs
    (unterminated quoted-attr tags / comments / PIs / marked sections)
    and charref-bail fragments — the family that exposed the
    feed-vs-close pass divergence (30k cases run off-suite; 2k pinned)."""
    rng = random.Random(7)
    constructs = ["<a b='c>", '<x y="z>', "<!--", "<?", "<![", "<![CDATA[", "<script>", "<!doctype"]
    fillers = ["x", "&#z;", "&#1;", "&#;", "<b>t</b>", "&amp;", "</b>", "&#q", "<", "&"]
    pool = constructs + fillers
    for _ in range(2000):
        assert_same_tree("".join(rng.choice(pool) for _ in range(rng.randint(1, 8))))


MARKUP_CHARS = string.ascii_letters + string.digits + " \n\t<>&;/=\"'!?#-[]日本あ"


@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=MARKUP_CHARS, max_size=160))
def test_markup_char_soup(payload):
    assert_same_tree(payload)


@settings(max_examples=150, deadline=None)
@given(st.text(max_size=200))
def test_arbitrary_text(payload):
    assert_same_tree(payload)


TREE_TAGS = ["div", "p", "main", "span", "nav", "aside", "body", "title", "script"]
TREE_TEXT = ["t", " a b ", "&amp;", "x&#65;y", "\n", "<!-- c -->", "&#xFDD0;", "a</>b",
             "<br>", "<img src='i'/>", "</span>", "&lt"]


@st.composite
def _html_tree(draw, depth=0):
    if depth >= 4 or draw(st.integers(0, 2)) == 0:
        return draw(st.sampled_from(TREE_TEXT))
    tag = draw(st.sampled_from(TREE_TAGS))
    attrs = draw(st.sampled_from(["", ' class="a"', ' class="b a"', ' id="x"', " data-k=v"]))
    inner = "".join(draw(st.lists(_html_tree(depth=depth + 1), max_size=4)))
    return f"<{tag}{attrs}>{inner}</{tag}>"


@settings(max_examples=200, deadline=None)
@given(st.lists(_html_tree(), min_size=1, max_size=5), st.integers(0, 2**32))
def test_range_walks_under_decomposition(nodes, seed):
    assert_same_under_decompose("<html>" + "".join(nodes), seed)
