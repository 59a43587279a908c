"""Per-site special handlers (D7–D9, D11) re-expressed over the engine DOM.

Each handler consumes a parsed Document (the reference fetches its own
page via Selenium; in the new engine the payload IS the page, so the
browser interaction steps — waits, scrolls, button clicks — vanish and
only the DOM→text semantics remain).  Returns
``(TrackedText | None, failure_message | None)``.

Citations into /root/reference/common_scripts/web_text_extractor_ver1.5.py:
  handle_twitter_page      W:603-635
  handle_instagram_page    W:637-680
  handle_yahoo_chiebukuro  W:682-909
  handle_pinterest_page    W:957-1185

Selenium ``element.text`` (rendered text) is approximated by
``get_text(separator='\\n', strip=True)``; fixtures pin the outputs.
"""

from __future__ import annotations

from webtext_extraction_spark.kernel.cleanup import collapse_blank2
from webtext_extraction_spark.kernel.tracked import TrackedText


def _class_str(el) -> str:
    raw = el.attrs.get("class")
    return raw if raw else ""


def handle_twitter(dom, url: str):
    """W:603-635 — every <article> as get_text(' ', strip), join '\\n\\n'."""
    tweets = dom.select("article")
    parts = []
    for tweet in tweets:
        tt = tweet.get_text_tracked(separator=" ", strip=True)
        if tt.text:
            parts.append(tt)
    if parts:
        return TrackedText.join("\n\n", parts), None
    # empty result (no exception possible DOM-side): reference returns ""
    return TrackedText.empty(), None


def handle_instagram(dom, url: str):
    """W:637-680 — article h1/span captions > 20 chars; '._a9zs' fallback."""
    post_texts = []
    for article in dom.select("article"):
        for caption in article.select("h1, span"):
            tt = caption.get_text_tracked(strip=True)
            if tt.text and len(tt.text) > 20:
                post_texts.append(tt)
    if not post_texts:
        for caption in dom.select("._a9zs"):
            post_texts.append(caption.get_text_tracked(separator="\n", strip=True))
        post_texts = [t for t in post_texts if t.text]
    if post_texts:
        return TrackedText.join("\n\n", post_texts), None
    return None, f"Instagramポストからテキストが見つかりませんでした: {url}"


def _find_first(dom, name, id_value=None):
    for el in dom.descendants():
        if el.name == name and (id_value is None or el.attrs.get("id") == id_value):
            return el
    return None


def handle_chiebukuro(dom, url: str):
    """W:682-909 — #leftColumn subtree minus related/ads/sidebar/nav
    sections, else titled-selector cascade, else top-3 longest blocks
    labeled 【質問】/【回答】."""
    left_column = _find_first(dom, "div", id_value="leftColumn")
    if left_column is not None:
        related_sections = []
        # 1. heading text contains the related marker → its parent (W:765-770)
        for heading in left_column.find_all(["h2", "h3", "h4", "div"]):
            if heading.get_text() and "あわせて知りたい" in heading.get_text():
                parent = heading.parent
                if parent is not None and parent not in related_sections:
                    related_sections.append(parent)
        # 2./3. class or id contains RelatedContent / related (W:773-780)
        for div in left_column.find_all("div"):
            cls = _class_str(div)
            idv = div.attrs.get("id") or ""
            if (
                "RelatedContent" in cls or "related" in cls.lower()
                or "RelatedContent" in idv or "related" in idv.lower()
            ) and div not in related_sections:
                related_sections.append(div)
        # 4. text node contains marker → nearest div ancestor (W:783-788)
        for tn in left_column.iter_text_nodes():
            if "あわせて知りたい" in tn.text:
                parent = tn.parent
                while parent is not None and parent.name != "div" and parent is not left_column:
                    parent = parent.parent
                if (
                    parent is not None
                    and parent is not left_column
                    and parent not in related_sections
                ):
                    related_sections.append(parent)
        for section in related_sections:
            section.decompose()
        # more-answers / popular-questions headings → parent removed (W:795-800)
        for heading in left_column.find_all(["h2", "h3", "h4"]):
            heading_text = heading.get_text().lower()
            if any(
                kw in heading_text
                for kw in ["その他の回答をもっと見る", "q&aをもっと見る", "人気の質問"]
            ):
                if heading.parent is not None:
                    heading.parent.decompose()
        # ads / sidebar / page-nav divs (W:803-812)
        for div in list(left_column.find_all("div")):
            cls = _class_str(div).lower()
            if not cls:
                continue
            if (
                "ad" in cls
                or "sidebar" in cls
                or "side-bar" in cls
                or "navigation" in cls
                or "pagination" in cls
            ):
                div.decompose()
        content = left_column.get_text_tracked(separator="\n", strip=True)
        return collapse_blank2(content), None

    # -- no leftColumn: titled-selector cascade (W:823-857) -----------------
    title_tt = TrackedText.empty()
    for sel in [".Title__title", ".ColumnHead__title", ".QuestionDetail__title"]:
        el = dom.select_one(sel)
        if el is not None:
            title_tt = el.get_text_tracked(strip=True)
            break
    content_tt = TrackedText.empty()
    for sel in [".ClapLv1__content", ".QuestionDetail__content", ".Question__body"]:
        el = dom.select_one(sel)
        if el is not None:
            content_tt = el.get_text_tracked(strip=True)
            break
    answers: list[TrackedText] = []
    for sel in [".ClapLv2__item", ".AnswerItem", ".Answer__body"]:
        els = dom.select(sel)
        if els:
            for answer in els:
                tt = answer.get_text_tracked(separator="\n", strip=True)
                if tt.text:
                    answers.append(tt)
            break
    if not answers:
        for answer in dom.select(
            "div.Answer, div.AnswerItem, div.ClapLv2__item, div[data-testid='answer']"
        ):
            tt = answer.get_text_tracked(separator="\n", strip=True)
            if tt.text and len(tt.text) > 50:
                answers.append(tt)

    # -- top-3 longest blocks fallback (W:860-883, A4) -----------------------
    if not title_tt.text and not content_tt.text and not answers:
        main_blocks = []
        for tag in dom.find_all(["div", "section", "article"]):
            tt = tag.get_text_tracked(strip=True)
            if len(tt.text) > 100 and not any(
                kw in tt.text.lower() for kw in ["あわせて知りたい", "人気の質問"]
            ):
                main_blocks.append((tag, tt))
        main_blocks.sort(key=lambda x: len(x[1].text), reverse=True)
        if main_blocks:
            title_candidate = None
            for el in main_blocks[0][0].descendants():
                if el.name in ("h1", "h2", "h3"):
                    title_candidate = el
                    break
            if title_candidate is not None:
                title_tt = title_candidate.get_text_tracked(strip=True)
            for i, (_block, tt) in enumerate(main_blocks[:3]):
                if i == 0 and not content_tt.text:
                    content_tt = tt
                else:
                    answers.append(tt)

    result: list[TrackedText] = []
    if title_tt.text:
        result.append(TrackedText.synthetic("【質問】").concat(title_tt))
    if content_tt.text:
        result.append(content_tt)
    if answers:
        result.append(TrackedText.synthetic("\n【回答】"))
        result.extend(answers)
    if not result:
        return None, f"知恵袋からコンテンツを抽出できませんでした: {url}"
    return TrackedText.join("\n\n", result), None


_PINTEREST_DOMAIN_SELECTORS = [
    "[data-test-id='pin-domain-link'] span",
    "[data-test-id='pin-domain-link'] a",
    "[data-test-id='pin-domain-link']",
    "span[style*='text-decoration: underline']",
    "a[href*='http']",
]
_PINTEREST_TITLE_SELECTORS = [
    "h1.FAo.dyH.Cc2.X8m.V2L.G1E",
    "h1[data-test-id='pin-title']",
    "h1[data-test-id='title']",
    "div[data-test-id='pin-description'] h1",
    "div[data-test-id='closeup-title'] h1",
    "h1",
    ".FAo.dyH.Cc2.X8m.V2L.G1E",
]
_PINTEREST_DESC_SELECTORS = [
    "span.X8m.zDA.IZT.eSP.dyH.llN.ryr",
    "div[data-test-id='pin-description'] span",
    "div[data-test-id='closeup-description'] span",
    "span[data-test-id='description-text']",
    ".X8m.zDA.IZT.eSP.dyH.llN.ryr",
]
_PINTEREST_PINNER_SELECTORS = [
    ".X8m.zDA.IZT.eSP.dyH.llN.Kv8",
    "div[data-test-id='pinner-name']",
    "a[data-test-id='pinner-name']",
    "[data-test-id='pinner-avatar'] + div",
    ".Kv8",
]
_PINTEREST_COMMENT_SELECTORS = [
    "h2.FAo.dyH.c51.X8m.V2L.G1E",
    "[data-test-id='comment-avatar-container'] + div",
    "[data-test-id='author-and-comment-container']",
    "[data-test-id='text-container']",
    "div[class*='comment']",
]
_PINTEREST_MAIN_SELECTORS = [
    "div.KS5.hs0.un8.C9i.TB_",
    "[data-test-id='pin-close-up-content']",
    "[data-test-id='closeup-body']",
    "main",
    "article",
]


def _collect(dom, selectors, keep):
    """Dedup-by-text ordered collection shared by the six Pinterest
    selector groups (W:997-1111)."""
    seen: list[str] = []
    out: list[TrackedText] = []
    for selector in selectors:
        for elem in dom.select(selector):
            tt = elem.get_text_tracked(strip=True)
            if tt.text and tt.text not in seen and keep(tt.text):
                seen.append(tt.text)
                out.append(tt)
    return out


def handle_pinterest(dom, url: str):
    """W:957-1185 — six capped selector groups, then a top-2 largest-div
    fallback with a 1000-char truncate when the result is under 200
    chars."""
    result: list[TrackedText] = []

    domain_links = _collect(
        dom,
        _PINTEREST_DOMAIN_SELECTORS,
        lambda t: ("." in t or "http" in t) and len(t) < 100,
    )
    pin_titles = _collect(dom, _PINTEREST_TITLE_SELECTORS, lambda t: len(t) > 5)
    descriptions = _collect(dom, _PINTEREST_DESC_SELECTORS, lambda t: len(t) > 10)
    pinner_names = _collect(dom, _PINTEREST_PINNER_SELECTORS, lambda t: 2 < len(t) < 50)
    comments_info = _collect(dom, _PINTEREST_COMMENT_SELECTORS, lambda t: len(t) > 5)

    # 6. comprehensive main areas: raw text nodes > 3 chars outside
    # script/style/noscript, joined '\n' (W:1085-1111)
    main_content_areas: list[TrackedText] = []
    seen_areas: list[str] = []
    for selector in _PINTEREST_MAIN_SELECTORS:
        for elem in dom.select(selector):
            filtered: list[TrackedText] = []
            for tn in elem.iter_text_nodes():
                if tn.parent is not None and tn.parent.name in ("script", "style", "noscript"):
                    continue
                tt = TrackedText.from_pieces(tn.pieces).strip()
                if tt.text and len(tt.text) > 3:
                    filtered.append(tt)
            if filtered:
                area = TrackedText.join("\n", filtered)
                if area.text not in seen_areas and len(area.text) > 50:
                    seen_areas.append(area.text)
                    main_content_areas.append(area)

    result.extend(domain_links[:3])
    result.extend(pin_titles[:2])
    result.extend(descriptions[:3])
    result.extend(pinner_names[:2])
    result.extend(comments_info[:5])
    result.extend(main_content_areas[:2])

    # 8. wide fallback when under 200 chars (W:1144-1169)
    if len("\n".join(t.text for t in result)) < 200:
        for unwanted in dom.select(
            "script, style, nav, header, footer, .ad, .advertisement, noscript"
        ):
            unwanted.decompose()
        body = dom.body
        if body is not None:
            large_divs = []
            for div in body.find_all("div"):
                plain = div.get_text(separator=" ", strip=True)
                if len(plain) > 100:
                    large_divs.append((div, len(plain)))
            large_divs.sort(key=lambda x: x[1], reverse=True)
            for div, _n in large_divs[:2]:
                div_content = div.get_text_tracked(separator="\n", strip=True)
                # membership test against the LIVE result list (W:1168),
                # full text vs the already-truncated entries — so a
                # wrapper/inner pair with identical ≤1000-char text
                # appends once, while identical >1000-char divs append
                # twice (reference quirk, pinned as-is)
                if div_content.text and div_content.text not in [t.text for t in result]:
                    result.append(div_content.slice(0, 1000))

    if result:
        return TrackedText.join("\n\n", result), None
    return None, f"Pinterestからコンテンツを抽出できませんでした: {url}"
