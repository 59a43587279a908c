"""The per-turn extraction cascade — the engine's semantic core.

``extract_main_content`` reimplements W:1239-1363 (D1→D5) and
``extract_payload`` reimplements the per-record decision tree of
``extract_text_from_url`` (W:345-601) for the single-payload world:
the reference cascades over *fetchers* (requests → Selenium → Jina)
that can return different pages for the same URL; a transcript turn
has exactly ONE payload, so the cascade collapses onto *extraction
strategies* over that payload (SURVEY.md §3.2).  Where the reference's
Selenium pass adds its own body fallback + keep-longer rule
(W:1213-1221, W:549-564), the engine replays that on a fresh parse of
the same payload, preserving the decision structure exactly.

This module is pure Python and only ever runs inside Arrow-batched
pandas UDFs (operators/extraction.py) — never per-row Spark Python.

Returned record: (text, spans, strategy, status) with
status ∈ {ok, pdf_empty, failure_template, timeout, empty}.
(error_pattern status is layered on afterwards by the extraction batch,
operators/extraction._extract_batch, mirroring save_results
W:1557-1656 which scans final text.)
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from webtext_extraction_spark import rules
from webtext_extraction_spark.html import dom as htmldom
from webtext_extraction_spark.html.selector import decompose_all
from webtext_extraction_spark.kernel import handlers
from webtext_extraction_spark.kernel.cleanup import (
    cleanup_extracted_text,
    is_nav_only,
    jina_markdown_cleanup,
)
from webtext_extraction_spark.kernel.pdfish import PdfCorrupt, extract_pdfish, is_pdfish
from webtext_extraction_spark.kernel.tracked import TrackedText

# domain extraction — the *correct* variant (W:1206); rule keys are
# normalized to both www/non-www forms so the W:519 typo variant
# (SURVEY.md §7.5 Q3) needs no bug-for-bug emulation
_DOMAIN_RE = re.compile(r"https?://(?:www\.)?([^/]+)")
_BASE_HREF_RE = re.compile(r"<base\s+href=[\"']([^\"']+)[\"']", re.IGNORECASE)
_DOMAIN_COMMENT_RE = re.compile(r"<!--\s*domain:\s*([^\s>]+)\s*-->")
_MD_HEADER_RE = re.compile(r"^(Title|URL Source|Published Time|Markdown Content):")


@dataclass
class ExtractResult:
    text: str
    spans: list  # (start, end, kind) tuples
    strategy: str
    status: str

    @classmethod
    def from_tracked(cls, tt: TrackedText, strategy: str, status: str = "ok"):
        return cls(tt.text, tt.span_tuples(), strategy, status)

    @classmethod
    def synthetic(cls, text: str, strategy: str, status: str):
        return cls.from_tracked(TrackedText.synthetic(text), strategy, status)


def derive_url_and_domain(payload: str) -> tuple[str, str]:
    """Derive (url, domain) from the payload itself (FIXTURES.md §1):
    <base href> wins for the url; a leading <!-- domain: X --> comment
    overrides the domain; else domain comes from the url via the
    corrected W:1206 regex."""
    url = ""
    m = _BASE_HREF_RE.search(payload[:2048])
    if m:
        url = m.group(1)
    domain = ""
    m = _DOMAIN_COMMENT_RE.search(payload[:2048])
    if m:
        domain = m.group(1)
    elif url:
        dm = _DOMAIN_RE.search(url)
        if dm:
            domain = dm.group(1)
    if not url and domain:
        url = f"https://{domain}/"
    return url, domain


def extract_main_content(
    dom, domain: str, site_rules: dict | None = None
) -> tuple[TrackedText, str]:
    """D1→D5 cascade (W:1239-1363).  Returns (tracked_text, strategy);
    empty text + strategy 'empty' when nothing matched.  Mutates the
    tree (decompose), exactly like the reference mutates its soup.

    ``site_rules`` overrides the built-in domain→selectors table — the
    executor-side view of a broadcast rule table (J3)."""
    # D1 — site-specific selectors: ALL matches joined '\n\n', no
    # unwanted-removal, returns even when the join is empty (W:1263-1268)
    table = site_rules if site_rules is not None else rules.DOMAIN_SELECTORS
    domain_selectors = table.get(domain)
    if domain_selectors:
        for selector in domain_selectors:
            elements = dom.select(selector)
            if elements:
                parts = [el.get_text_tracked(separator="\n", strip=True) for el in elements]
                return TrackedText.join("\n\n", parts), "site-rule"

    # D2 — generic selectors: max-text element, decompose unwanted,
    # return first non-empty (W:1271-1290)
    for selector in rules.MAIN_CONTENT_SELECTORS:
        elements = dom.select(selector)
        if elements:
            # singleton fast path: the ranking walk is pure tie-breaking,
            # a single candidate needs no get_text pass
            if len(elements) == 1:
                best = elements[0]
            else:
                best = max(elements, key=lambda e: len(e.get_text(strip=True)))
            decompose_all(best, rules.UNWANTED_SELECTORS)
            main_text = best.get_text_tracked(separator="\n", strip=True)
            if main_text.text:
                return main_text, "generic"

    # D3 — heuristic block scoring (W:1295-1338)
    text_blocks = []
    for block in dom.find_all(rules.BLOCK_TAGS):
        # exclusion masks replicate the reference's str(list).lower()
        # containment check on the class attribute (W:1304-1306)
        cls_repr = str(block.class_list()).lower()
        id_repr = str(block.attrs.get("id") or "").lower()
        if (
            any(c in cls_repr for c in rules.BLOCK_EXCLUDE_CLASSES)
            or block.name in rules.BLOCK_EXCLUDE_TAGS
            or any(c in id_repr for c in rules.BLOCK_EXCLUDE_CLASSES)
        ):
            continue
        plain = block.get_text(strip=True)
        if len(plain) > rules.BLOCK_MIN_CHARS:
            score = float(len(plain))
            for parent in block.ancestors():
                if parent.name == "[document]":
                    break
                parent_cls = str(parent.class_list()).lower()
                if any(c in parent_cls for c in rules.ANCESTOR_BOOST_CLASSES):
                    score *= rules.ANCESTOR_BOOST
                    break
            text_blocks.append((block, score))
    if text_blocks:
        text_blocks.sort(key=lambda x: x[1], reverse=True)  # stable: doc order ties
        best_block = text_blocks[0][0]
        decompose_all(best_block, rules.UNWANTED_SELECTORS)
        best_text = best_block.get_text_tracked(separator="\n", strip=True)
        if best_text.text:
            return best_text, "heuristic"

    # D4 — body fallback (W:1340-1356)
    body = dom.body
    if body is not None:
        decompose_all(body, rules.BODY_UNWANTED_SELECTORS)
        body_text = body.get_text_tracked(separator="\n", strip=True)
        if body_text.text and len(body_text.text) > rules.BODY_MIN_CHARS:
            return body_text, "body"

    # D5 — title fallback (W:1358-1363)
    title = dom.title
    if title is not None:
        title_text = title.get_text_tracked(strip=True)
        if title_text.text:
            return title_text, "title"

    return TrackedText.empty(), "empty"


def _selenium_variant(
    payload: str, domain: str, site_rules: dict | None = None, pristine_dom=None
) -> tuple[TrackedText, str]:
    """The Selenium-path variant (W:1187-1224): extract_main_content on
    a fresh parse, then the W:1216 body fallback with keep-longer.

    ``pristine_dom``: an existing parse of the SAME payload whose tree
    was never mutated (``dom.pristine``) — indistinguishable
    from a fresh parse, so the re-parse is skipped.  Callers must not
    use the tree afterwards (this variant mutates it)."""
    dom = pristine_dom if pristine_dom is not None else htmldom.parse(payload)
    tt, strategy = extract_main_content(dom, domain, site_rules)
    if not tt.text or len(tt.text.strip()) < rules.SUCCESS_MIN_CHARS:
        decompose_all(dom, rules.SELENIUM_BODY_UNWANTED)
        body = dom.body
        body_text = (
            body.get_text_tracked(separator="\n", strip=True) if body is not None else None
        )
        if body_text is not None and body_text.text and len(body_text.text) > len(tt.text):
            tt, strategy = body_text, "selenium-body"
    tt = tt.strip()
    return tt, strategy


def extract_payload(
    payload: str,
    tool: str = "",
    site_rules: dict | None = None,
    url_domain: tuple[str, str] | None = None,
) -> ExtractResult:
    """Per-turn decision tree (W:345-601 collapsed onto one payload).

    ``site_rules`` (optional) is the broadcast per-site selector
    override table; None uses the built-in rules.

    Hostile-payload containment: the parser deliberately mirrors the
    stdlib's exceptions (e.g. AssertionError on ``<![bogus]>`` marked
    sections), but ONE mangled page must never kill a whole Spark task
    at 100 TB — the reference likewise funnels any per-URL exception
    into the generic failure row (W:437-442, W:580-601).  Any exception
    here becomes the generic failure_template row."""
    payload = payload or ""
    # callers that already derived (url, domain) for the output row
    # pass it in so the header regexes run once per payload
    url, domain = url_domain if url_domain is not None else derive_url_and_domain(payload)

    # timeout turns (P2): marker kept in output (W:1391-1393, Q5)
    if tool == "timeout":
        return ExtractResult.synthetic(rules.TIMEOUT_MARKER, "timeout", "timeout")

    try:
        return _extract_payload_unsafe(payload, tool, site_rules, url, domain)
    except Exception:  # noqa: BLE001 - containment boundary (see docstring)
        return ExtractResult.synthetic(
            f"すべての抽出方法でテキストを抽出できませんでした: {url}",
            "empty",
            "failure_template",
        )


def _extract_payload_unsafe(
    payload: str, tool: str, site_rules: dict | None, url: str, domain: str
) -> ExtractResult:
    # 1. content-kind dispatch — PDF first (W:353-370 / S5)
    if is_pdfish(payload) or tool == "pdf":
        try:
            tt = extract_pdfish(payload)
        except PdfCorrupt:
            return ExtractResult.synthetic(
                f"PDFファイルの処理中にエラーが発生しました: {url}",
                "pdf",
                "failure_template",
            )
        if tt.text:
            return ExtractResult.from_tracked(cleanup_extracted_text(tt), "pdf")
        # Q9: the empty-PDF message does NOT contain 失敗しました, so the
        # reference cleans it (stripping the URL) and KEEPS the row
        # (W:365-367 vs W:1592-1606) — replicated as status 'pdf_empty'
        msg = TrackedText.synthetic(f"PDFからテキストを抽出できませんでした: {url}")
        return ExtractResult.from_tracked(cleanup_extracted_text(msg), "pdf", "pdf_empty")

    # markdown payloads = reader-service output (S7/C2)
    is_markdown = bool(_MD_HEADER_RE.match(payload))

    # 2. target domain / yahoo image search: Jina → Selenium, results
    # returned UNCLEANED on success (W:386-412, Q1)
    is_target = any(d in url for d in rules.TARGET_DOMAINS)
    is_yahoo_image = url.startswith(rules.YAHOO_IMAGE_SEARCH_PREFIX)
    if is_target or is_yahoo_image:
        log_prefix = "特定ドメイン" if is_target else "Yahoo画像検索"
        if is_markdown:
            tt = jina_markdown_cleanup(TrackedText.literal(payload, 0))
            if tt.text and len(tt.text) > 50:  # W:109 minimum-length gate
                return ExtractResult.from_tracked(tt, "markdown")
        tt, strategy = _selenium_variant(payload, domain, site_rules)
        if tt.text:
            return ExtractResult.from_tracked(tt, strategy)
        return ExtractResult.synthetic(
            f"{log_prefix}の抽出に失敗しました (Jina & Selenium): {url}",
            "empty",
            "failure_template",
        )

    # normal-path markdown payload: Jina strip + cleanup (W:568-576),
    # then the reference's FINAL-RETURN flow (W:580-601): the step-5
    # Jina result is cleaned once at W:576 and then passes through the
    # Pinterest nav-only check and the W:593 SECOND cleanup — cleanup
    # is not idempotent (e.g. the printable filter can expose a URL the
    # first URL-strip pass missed), so the double application is
    # semantic, not redundant (round-3 review finding).
    if is_markdown:
        tt = jina_markdown_cleanup(TrackedText.literal(payload, 0))
        if tt.text and len(tt.text) > 50:
            md_extracted = cleanup_extracted_text(tt)
            if md_extracted.text.strip():
                if "pinterest.com" in url and is_nav_only(md_extracted.text):
                    pdom = htmldom.parse(payload)
                    p_tt, _p_fail = handlers.handle_pinterest(pdom, url)
                    if (
                        p_tt is not None
                        and p_tt.text.strip()
                        and "失敗しました" not in p_tt.text
                    ):
                        return ExtractResult.from_tracked(
                            cleanup_extracted_text(p_tt), "special-pinterest"
                        )
                return ExtractResult.from_tracked(
                    cleanup_extracted_text(md_extracted.strip()), "markdown"
                )
        return ExtractResult.synthetic(
            f"すべての抽出方法でテキストを抽出できませんでした: {url}",
            "empty",
            "failure_template",
        )

    # 3. special handlers (W:418-442)
    special_failed_message = None
    handler = None
    handler_name = ""
    if "detail.chiebukuro.yahoo.co.jp" in url:
        handler, handler_name = handlers.handle_chiebukuro, "chiebukuro"
    elif "instagram.com" in url:
        handler, handler_name = handlers.handle_instagram, "instagram"
    elif "x.com" in url or "twitter.com" in url:
        handler, handler_name = handlers.handle_twitter, "twitter"

    sdom = None
    if handler is not None:
        sdom = htmldom.parse(payload)
        tt, failure = handler(sdom, url)
        if tt is not None and tt.text.strip() and "失敗しました" not in tt.text:
            return ExtractResult.from_tracked(
                cleanup_extracted_text(tt), f"special-{handler_name}"
            )
        if failure is not None and "失敗しました" in failure:
            special_failed_message = failure
        # fall through to the normal path (W:437-442)

    # 4. requests-path extraction (W:446-537) — a handler-path tree the
    # handler never mutated is identical to a fresh parse; reuse it
    if sdom is not None and sdom.pristine:
        dom = sdom
    else:
        dom = htmldom.parse(payload)
    tt, strategy = extract_main_content(dom, domain, site_rules)
    extracted: TrackedText | None = None
    if tt.text and len(tt.text.strip()) >= rules.SUCCESS_MIN_CHARS:
        extracted = tt.strip()  # W:525
    elif tt.text:
        extracted = tt  # short result held unstripped (W:528)

    # 5. Selenium-variant retry when absent/short (W:539-564); a
    # never-mutated requests-path tree doubles as the "fresh parse"
    if extracted is None or len(extracted.text.strip()) < rules.SUCCESS_MIN_CHARS:
        selenium_tt, selenium_strategy = _selenium_variant(
            payload, domain, site_rules,
            pristine_dom=dom if dom.pristine else None,
        )
        if selenium_tt.text and len(selenium_tt.text.strip()) >= rules.SUCCESS_MIN_CHARS:
            extracted, strategy = selenium_tt, selenium_strategy
        else:
            current = extracted.text if extracted is not None else ""
            if len(selenium_tt.text) > len(current):  # keep-longer (W:551-564)
                extracted, strategy = selenium_tt, selenium_strategy
            elif not current:
                extracted = None
        # step 6 (Jina refetch, W:568-577) has no analogue: there is no
        # alternate payload for the same turn

    # 7./8. final return with Pinterest nav-only special case (W:580-601)
    if extracted is not None and extracted.text.strip():
        if "pinterest.com" in url and is_nav_only(extracted.text):
            pdom = htmldom.parse(payload)
            p_tt, _p_fail = handlers.handle_pinterest(pdom, url)
            if p_tt is not None and p_tt.text.strip() and "失敗しました" not in p_tt.text:
                return ExtractResult.from_tracked(
                    cleanup_extracted_text(p_tt), "special-pinterest"
                )
        return ExtractResult.from_tracked(
            cleanup_extracted_text(extracted.strip()), strategy
        )

    if special_failed_message:
        return ExtractResult.synthetic(special_failed_message, "empty", "failure_template")
    return ExtractResult.synthetic(
        f"すべての抽出方法でテキストを抽出できませんでした: {url}",
        "empty",
        "failure_template",
    )
