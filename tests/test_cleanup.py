"""Cleanup-chain parity tests.

``_oracle_cleanup`` is an independent plain-string reimplementation of
the reference's _cleanup_extracted_text / _remove_duplicate_content
(web_text_extractor_ver1.5.py:161-343) — deliberately sharing no code
with the TrackedText engine path — so equality here is a genuine
two-implementation check of the C1-C5 + A2 semantics.
"""

import re
from difflib import SequenceMatcher

from webtext_extraction_spark.kernel.cleanup import (
    cleanup_extracted_text,
    is_nav_only,
    jina_markdown_cleanup,
    remove_duplicate_content,
)
from webtext_extraction_spark.kernel.tracked import TrackedText, reconstruct


def _oracle_remove_dups(text):
    if not text or len(text.strip()) < 100:
        return text
    paragraphs = [p.strip() for p in text.split("\n\n") if p.strip()]
    if len(paragraphs) < 2:
        return text
    unique, seen = [], []
    for para in paragraphs:
        dup = False
        for sp in seen:
            if SequenceMatcher(None, para, sp).ratio() > 0.8:
                dup = True
                break
        if not dup:
            unique.append(para)
            seen.append(para)
    return "\n\n".join(unique)


def _oracle_cleanup(text):
    if not text:
        return text
    text = re.sub(r"https?://\S+", "", text)
    text = re.sub(r"www\.\S+", "", text)
    text = re.sub(
        r"(?i)\b((?:https?://|www\d{0,3}[.]|[a-z0-9.\-]+[.][a-z]{2,4}/)"
        r"(?:[^\s()<>]+|\(([^\s()<>]+|(\([^\s()<>]+\)))*\))+"
        r"(?:\(([^\s()<>]+|(\([^\s()<>]+\)))*\)|[^\s`!()\[\]{};:\'\".,<>?«»“”‘’]))",
        "",
        text,
    )
    text = re.sub(r"\n\s*\n\s*\n+", "\n\n", text)
    text = text.strip()
    text = text.replace("�", "")
    cleaned = []
    for ch in text:
        if ch in "\n\t\r":
            cleaned.append(ch)
        elif ch.isprintable():
            cleaned.append(ch)
    text = "".join(cleaned)
    return _oracle_remove_dups(text)


CASES = [
    "",
    "short text",
    "see https://deep.example/a?b=c and www.other.example/zz plus bare foo.example/path here",
    "a\n\n\n\n\nb\n \n \nc",
    "  padded  \n\n\n  text  ",
    "repl�acement and bell\x07 and zwsp​ kept\ttab",
    # near-dup paragraphs (long enough to trigger the 100-char gate)
    ("The quick brown fox jumps over the lazy dog near the river bank today. " * 2)
    + "\n\n"
    + ("The quick brown fox jumps over the lazy dog near the river bank today. " * 2)[:-8]
    + "tonight."
    + "\n\nCompletely different final paragraph talking about something else entirely.",
    # exact dup
    "Paragraph one is long enough to matter for the dedup threshold check okay.\n\n"
    "Paragraph one is long enough to matter for the dedup threshold check okay.\n\n"
    "Paragraph two stands alone.",
    # <2 paragraphs long text returns unchanged (incl. whitespace)
    "x" * 150,
    # 日本語 with URLs
    "これは本文です https://例.example/あ と www.テスト.example の後も続く",
]


def test_cleanup_parity_with_reference_oracle():
    for case in CASES:
        tt = cleanup_extracted_text(TrackedText.literal(case, 0))
        assert tt.text == _oracle_cleanup(case), f"mismatch for {case!r}"
        assert reconstruct(case, tt.text, tt.span_tuples()) == tt.text


def test_near_dup_strict_greater_and_vs_kept_only():
    # ratio exactly 1.0 > 0.8 → removed; order preserved; comparisons
    # run against *kept* paragraphs only (Q6)
    a = "alpha " * 30
    b = "beta " * 30
    text = f"{a.strip()}\n\n{b.strip()}\n\n{a.strip()}"
    out = remove_duplicate_content(TrackedText.literal(text, 0))
    assert out.text == f"{a.strip()}\n\n{b.strip()}"


def test_below_100_chars_returns_unchanged():
    text = "p1\n\np1\n\np1"  # dups but < 100 chars → untouched (W:307)
    out = remove_duplicate_content(TrackedText.literal(text, 0))
    assert out.text == text


def test_jina_markdown_cleanup():
    md = (
        "Title: T\nURL Source: https://x\nPublished Time: y\nMarkdown Content:\n"
        "Body [link](https://a) text ![i](https://b) tail\n\n\nend"
    )
    out = jina_markdown_cleanup(TrackedText.literal(md, 0))
    assert out.text == "Body text tail\n\nend"
    assert reconstruct(md, out.text, out.span_tuples()) == out.text


def test_nav_only_detector():
    nav_page = (
        "Skip to content Explore ideas Search for easy dinners, fashion, etc. "
        "When autocomplete results are available use up and down arrows to review "
        "and enter to select. Touch device users, explore by touch or with swipe "
        "gestures. Log in Sign up"
    )
    assert is_nav_only(nav_page)
    # content indicator (date) defeats the detector
    assert not is_nav_only(nav_page + " 2024-01-02")
    # long text with few nav phrases is fine
    assert not is_nav_only("Log in to read this interesting article body " * 10)
    assert not is_nav_only("")


def test_url_broad_strips_trailing_curly_quote():
    """W:187 byte-exact: the reference's final char class carries ASCII
    straight quotes (its curly quotes were historically mangled to
    ASCII), so a URL ENDING in a curly quote is stripped including the
    quote (round-3 review finding — the engine used to exclude curly
    quotes and leave a stray ” behind)."""
    from webtext_extraction_spark.kernel.cleanup import _URL_BROAD
    from webtext_extraction_spark.kernel.tracked import TrackedText

    src = "レシピは cookpad.com/recipe/123” をご覧ください"
    out = TrackedText.literal(src, 0).sub(_URL_BROAD, "")
    assert "”" not in out.text
    assert out.text == "レシピは  をご覧ください"


def test_url_broad_guard_is_implied_by_every_branch():
    """cleanup_extracted_text skips the _URL_BROAD scan when the text
    contains neither '/' nor case-insensitive 'www' — sound because
    every alternation branch requires one of them.  Each branch must
    still strip through the guarded path, and the implication must
    hold for whatever the pattern matches."""
    from webtext_extraction_spark.kernel.cleanup import _URL_BROAD

    # one probe per alternation branch, exercised through the full chain
    for probe in (
        "see https://ex.ample/x page",   # branch 1: scheme
        "see WWW2.example-site.org page",  # branch 2: www\d{0,3}[.] (case-insens)
        "see ex.ample.net/path page",    # branch 3: bare domain + slash
    ):
        out = cleanup_extracted_text(TrackedText.literal(probe, 0))
        assert out.text == "see  page".strip() or "ample" not in out.text
    # implication: any matched span contains '/' or 'www'
    import random

    rng = random.Random(11)
    alphabet = "abwz09.:-/ \n"
    for _ in range(3000):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40)))
        m = _URL_BROAD.search(s)
        if m is not None:
            assert "/" in s or "www" in s.lower()
        if "/" not in s and "www" not in s.lower():
            assert m is None
