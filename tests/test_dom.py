"""DOM + selector engine unit tests (tokenizer modes, get_text parity,
decompose, selector grammar — FIXTURES.md H18 behaviors)."""

from webtext_extraction_spark.html.dom import parse
from webtext_extraction_spark.kernel.tracked import reconstruct


def test_basic_tree_and_get_text():
    dom = parse("<html><body><p>one</p><p> two </p><p></p></body></html>")
    assert dom.body.get_text(separator="\n", strip=True) == "one\ntwo"
    assert dom.body.get_text(separator=" ", strip=True) == "one two"
    assert dom.body.get_text() == "one two "


def test_entities_merge_into_one_string():
    # bs4 convert_charrefs behavior: 'a &amp; b' is ONE string
    dom = parse("<p> a &amp; b </p>")
    p = dom.select("p")[0]
    assert p.get_text(strip=True) == "a & b"
    tt = p.get_text_tracked(separator="\n", strip=True)
    assert tt.text == "a & b"
    assert reconstruct("<p> a &amp; b </p>", tt.text, tt.span_tuples()) == tt.text


def test_charref_hex_and_dec():
    dom = parse("<p>x&#65;&#x42;y</p>")
    assert dom.select("p")[0].get_text() == "xABy"


def test_script_style_are_text_bearing():
    # raw-text (CDATA) contents ARE strings — reason the reference
    # decomposes script/style before get_text (W:1279)
    dom = parse('<div><script>var x = "<p>hi</p>";</script>real</div>')
    div = dom.select("div")[0]
    assert '"<p>hi</p>"' in div.get_text()
    for tag in div.select("script"):
        tag.decompose()
    assert div.get_text() == "real"


def test_comments_and_doctype_excluded():
    dom = parse("<!DOCTYPE html><div>a<!-- hidden -->b</div>")
    assert dom.select("div")[0].get_text() == "ab"


def test_void_elements_do_not_nest():
    dom = parse("<div>a<br>b<img src='x'>c</div>")
    assert dom.select("div")[0].get_text() == "abc"


def test_unclosed_and_stray_tags():
    dom = parse("<div><p>a<span>b</div>tail</p>")
    assert dom.select("div")[0].get_text() == "ab"


def test_selector_grammar():
    html = """
    <div class="article main">
      <h1 id="t">T</h1>
      <section class="article"><p itemprop="articleBody">body</p></section>
      <span style="color:red; text-decoration: underline">u</span>
      <a href="https://x.example">l</a>
      <i class="k"></i><div class="after">adj</div>
    </div>"""
    dom = parse(html)
    assert len(dom.select("div.article")) == 1
    assert dom.select("#t")[0].name == "h1"
    assert dom.select("section.article p")[0].get_text() == "body"
    assert dom.select('[itemprop="articleBody"]')[0].get_text() == "body"
    assert dom.select("span[style*='text-decoration: underline']")[0].get_text() == "u"
    assert dom.select("a[href*='http']")[0].get_text() == "l"
    assert dom.select("h1, p")[0].name == "h1"  # document order
    assert [e.name for e in dom.select("h1, p")] == ["h1", "p"]
    assert dom.select("i + div")[0].get_text() == "adj"
    assert dom.select(".missing") == []


def test_multi_class_compound():
    dom = parse('<h1 class="FAo dyH Cc2">x</h1><h1 class="FAo">y</h1>')
    assert [e.get_text() for e in dom.select("h1.FAo.dyH.Cc2")] == ["x"]


def test_decompose_affects_later_queries():
    dom = parse('<main><nav>n</nav><p>keep</p></main>')
    main = dom.select("main")[0]
    for el in main.select("nav"):
        el.decompose()
    assert main.get_text(separator="\n", strip=True) == "keep"
    assert main.select("nav") == []


def test_get_text_tracked_offsets_literal():
    payload = "<div>hello <b>world</b></div>"
    dom = parse(payload)
    tt = dom.select("div")[0].get_text_tracked(separator="\n", strip=True)
    assert tt.text == "hello\nworld"
    spans = tt.span_tuples()
    assert spans[0][2] == "src"
    assert payload[spans[0][0] : spans[0][1]] == "hello"
    assert payload[spans[2][0] : spans[2][1]] == "world"


def test_depth_cap_keeps_pathological_pages_bounded():
    # 5000-deep nesting: no RecursionError, bounded time, text intact
    # (MAX_DEPTH guard — the engine's deterministic answer to the
    # reference's 600s straggler timeouts)
    import time

    from webtext_extraction_spark.kernel.extract import extract_payload
    from webtext_extraction_spark.kernel.tracked import reconstruct

    deep = "<html><body>" + "<div>" * 5000 + "text here body content" + "</div>" * 5000 + "</body></html>"
    t0 = time.time()
    r = extract_payload(deep)
    assert time.time() - t0 < 30
    assert r.text == "text here body content"
    assert reconstruct(deep, r.text, r.spans) == r.text


def test_depth_cap_balances_unmatched_closes():
    # closes beyond the cap are absorbed by the overflow counter and
    # do NOT pop real ancestors
    deep = "<main>" + "<div>" * 600 + "x" + "</div>" * 600 + "<p>after</p></main>"
    from webtext_extraction_spark.html.dom import parse

    dom = parse(deep)
    main = dom.select("main")[0]
    assert "after" in main.get_text()


def test_depth_cap_named_close_reaches_real_stack():
    # </body> arriving while a depth-capped <div> is still open must
    # close the REAL body — the old counter consumed ANY end tag as a
    # flattened close, so later content mis-nested (ADVICE r01)
    from webtext_extraction_spark.html.dom import parse

    deep = (
        "<html><body>"
        + "<div>" * 600  # 600 > MAX_DEPTH: the innermost opens flatten
        + "inner"
        + "</body><p>tail</p></html>"  # capped <div>s never closed
    )
    dom = parse(deep)
    body = dom.select("body")[0]
    assert "inner" in body.get_text()
    assert "tail" not in body.get_text()  # tail is OUTSIDE the closed body


def test_depth_cap_interleaved_named_closes():
    # flattened opens of different names close by name, not by count
    from webtext_extraction_spark.html.dom import parse

    deep = (
        "<main>"
        + "<div>" * 520  # last 8+ flatten
        + "<span>capped</span>"  # flattened open+close pair, by name
        + "x"
        + "</div>" * 520
        + "<p>after</p></main>"
    )
    dom = parse(deep)
    main = dom.select("main")[0]
    assert "after" in main.get_text()
    assert "capped" in main.get_text()


def test_depth_cap_fallthrough_clears_stale_overflow():
    # ADVICE r02: an end tag that falls THROUGH overflow_tags to the
    # real stack (</body> while capped <div>s are flattened) must clear
    # the stale flattened opens — otherwise they later swallow
    # legitimate </div> closes and post-body content mis-nests
    from webtext_extraction_spark.html.dom import parse

    deep = (
        "<html><body>"
        + "<div>" * 600  # > MAX_DEPTH: innermost opens flatten
        + "inner"
        + "</body>"  # falls through to the real stack
        + "<div>x</div>ZTAIL</html>"
    )
    dom = parse(deep)
    post = [d for d in dom.select("div") if d.get_text() == "x"]
    assert post, "post-body <div>x</div> must parse as its own element"
    # ZTAIL is a SIBLING of that div, not swallowed inside it
    assert "ZTAIL" not in post[0].get_text()


def test_find_all_duplicate_names_yield_once():
    """find_all with a repeated tag in the names list must return each
    matching element exactly once (walk semantics; the index fast path
    dedups the names — code-review r3 finding)."""
    from webtext_extraction_spark.html import dom as htmldom

    doc = htmldom.parse("<div>a</div><p>b</p><div>c</div>")
    assert len(doc.find_all(["div", "div"])) == 2
    assert len(doc.find_all(["div", "p", "div"])) == 3


def test_numeric_charrefs_follow_html_unescape():
    """bs4 convert_charrefs pin: numeric charrefs decode via
    html.unescape's HTML5 tables — cp1252 remap for &#128;-&#159;
    (Word curly quotes/dashes), U+FFFD for surrogates/overflow — not
    bare chr() (code-review r3 finding)."""
    import html as html_mod

    from webtext_extraction_spark.html import dom as htmldom

    for ref in ["&#147;", "&#151;", "&#145;", "&#0;", "&#xD800;", "&#x110000;", "&#65;", "&#x3042;"]:
        doc = htmldom.parse(f"<p>a{ref}b</p>")
        expected = html_mod.unescape(f"a{ref}b")
        assert doc.select("p")[0].get_text() == expected, ref


def test_duplicate_attribute_last_wins():
    """bs4 html.parser builder pin: on a duplicated attribute the LAST
    value wins (on_duplicate_attribute=REPLACE default) — selection by
    class must see the final value (code-review r3 finding)."""
    from webtext_extraction_spark.html import dom as htmldom

    doc = htmldom.parse('<div class="a" class="b">x</div>')
    el = doc.select("div")[0]
    assert el.attrs["class"] == "b"
    assert doc.select(".b") and not doc.select(".a")
