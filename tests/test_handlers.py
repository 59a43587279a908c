"""Handler sub-path unit tests beyond the golden archetypes
(kernel/handlers.py + dispatch paths in kernel/extract.py)."""

from webtext_extraction_spark.html.dom import parse
from webtext_extraction_spark.kernel import handlers
from webtext_extraction_spark.kernel.extract import extract_payload


def test_instagram_fallback_selector():
    # no >20-char h1/span captions → '._a9zs' fallback (W:666-672)
    html = (
        '<html><head><base href="https://instagram.com/p/9"></head>'
        "<body><article><span>short</span></article>"
        "<div class='_a9zs'>fallback caption text body</div></body></html>"
    )
    tt, fail = handlers.handle_instagram(parse(html), "https://instagram.com/p/9")
    assert fail is None
    assert tt.text == "fallback caption text body"


def test_instagram_no_captions_failure():
    tt, fail = handlers.handle_instagram(
        parse("<html><body><article><span>x</span></article></body></html>"),
        "https://instagram.com/p/9",
    )
    assert tt is None and "Instagramポスト" in fail


def test_chiebukuro_titled_selector_cascade():
    # no #leftColumn → .Title__title / .ClapLv1__content / .ClapLv2__item
    # path with 【質問】/【回答】 labels (W:823-893)
    html = (
        '<html><head><base href="https://detail.chiebukuro.yahoo.co.jp/q/2"></head>'
        "<body><h2 class='Title__title'>どうすれば?</h2>"
        "<div class='ClapLv1__content'>質問の本文です。</div>"
        "<div class='ClapLv2__item'>回答その一。</div>"
        "<div class='ClapLv2__item'>回答その二。</div></body></html>"
    )
    tt, fail = handlers.handle_chiebukuro(parse(html), "u")
    assert fail is None
    assert tt.text.startswith("【質問】どうすれば?")
    assert "\n【回答】" in tt.text
    assert tt.text.index("回答その一。") < tt.text.index("回答その二。")


def test_twitter_empty_returns_empty_not_failure():
    tt, fail = handlers.handle_twitter(parse("<html><body></body></html>"), "u")
    assert fail is None and tt.text == ""


def test_target_domain_returns_uncleaned_q1():
    # Q1: target-domain (youtube) successes bypass _cleanup_extracted_text
    # — URLs in the extracted text SURVIVE (W:399-407)
    body = (
        "Watch at https://youtube.com/watch?v=abc plus enough prose to pass the "
        "one hundred character success threshold for the main content cascade here."
    )
    html = (
        '<html><head><base href="https://youtube.com/watch?v=abc"></head>'
        f"<body><main><p>{body}</p></main></body></html>"
    )
    r = extract_payload(html)
    assert r.status == "ok"
    assert "https://youtube.com/watch?v=abc" in r.text  # NOT url-stripped


def test_normal_domain_is_cleaned():
    body = (
        "Read https://example.org/a plus enough prose to pass the one hundred "
        "character success threshold for the main content cascade here okay."
    )
    html = (
        '<!-- domain: normal.example --><html><body>'
        f"<main><p>{body}</p></main></body></html>"
    )
    r = extract_payload(html)
    assert "https://example.org/a" not in r.text  # C1 strips URLs


def test_yahoo_image_search_failure_template():
    html = (
        '<html><head><base href="https://search.yahoo.co.jp/image/search?p=x">'
        "</head><body></body></html>"
    )
    r = extract_payload(html)
    assert r.status == "failure_template"
    assert r.text.startswith("Yahoo画像検索の抽出に失敗しました (Jina & Selenium):")


def test_pinterest_wide_fallback_dedups_nested_identical_divs():
    """W:1166-1169 — the wide fallback checks each candidate div's full
    text against the LIVE result list, so a wrapper div and its inner
    div with identical text append only once (ADVICE r01)."""
    inner = "pin body text " * 10  # >100 chars, <1000 — dedupable
    html = (
        "<html><body><div class='wrapper'><div class='inner'>"
        + inner.strip()
        + "</div></div></body></html>"
    )
    tt, fail = handlers.handle_pinterest(parse(html), "https://pinterest.com/pin/1")
    assert fail is None
    assert tt.text.count(inner.strip()) == 1


def test_markdown_path_applies_second_cleanup():
    """W:576 + W:593: the Jina/markdown result is cleaned at step 5 and
    AGAIN in the final-return block; cleanup is not idempotent (the
    printable filter can expose a URL pass 1 missed), so the double
    application is semantic (round-3 review finding)."""
    from webtext_extraction_spark.kernel.extract import extract_payload

    payload = (
        "Title: x\nURL Source: y\nMarkdown Content:\n"
        "see example\x01.com/page for details\n\n"
        + "filler text to clear the fifty character jina minimum gate\n"
    )
    r = extract_payload(payload)
    assert r.strategy == "markdown"
    # pass 1: printable filter removes \x01, exposing example.com/page;
    # pass 2's URL strip must remove it
    assert "example.com/page" not in r.text
    assert "details" in r.text
