"""Broadcast rule tables for the extraction engine.

Single source of truth for every rule constant the reference hardcodes
inline; in the Spark job these are shipped to executors once as a
broadcast variable (J3 in SURVEY.md §2.3 — the canonical rule-table
broadcast) instead of being re-read per record the way the reference
re-reads config.ini per call (W:1422-1444).

All values pin reference behavior; citations are into
/root/reference/common_scripts/web_text_extractor_ver1.5.py (W) and
/root/reference/WebText_extraction5/config.ini.
"""

from __future__ import annotations

RULE_VERSION = "r1.0"

# ---------------------------------------------------------------------------
# D2 — generic main-content selectors, priority order (W:1244-1248)
# ---------------------------------------------------------------------------
MAIN_CONTENT_SELECTORS = [
    "main",
    "article",
    ".article",
    ".post",
    ".entry",
    ".content",
    "#content",
    ".main-content",
    ".post-content",
    ".article-content",
    ".entry-content",
    "section.article",
    "div.article",
    '[itemprop="articleBody"]',
    ".story-body",
]

# ---------------------------------------------------------------------------
# D1 — per-domain selector overrides (W:1251-1261).  Keys are stored in
# both www- and non-www form so lookup is independent of which of the
# reference's two (mutually inconsistent — SURVEY.md §7.5 Q3) domain
# regexes produced the domain.
# ---------------------------------------------------------------------------
_DOMAIN_SELECTORS_RAW = {
    "news.yahoo.co.jp": [".article_body", ".highLightSearchTarget"],
    "www.nikkansports.com": [".articleText"],
    "ja.wikipedia.org": ["#mw-content-text"],
    "number.bunshun.jp": [".p-article__body"],
    "gendai.media": [".article-body"],
    "www.oricon.co.jp": [".full-text"],
    "www.chunichi.co.jp": [".article-body"],
    "www.sanspo.com": [
        ".article-header, .article-body",
        ".article-body",
        ".article__text",
        "article",
        "main",
    ],
    # engine-native fixture domains (new rules, same shape)
    "newsa.example": [".article_body", ".highlight-target"],
    "rules.example": [".article-header, .article-body"],
}


def _normalize_domain_keys(raw: dict) -> dict:
    out = {}
    for key, selectors in raw.items():
        out[key] = selectors
        alt = key[4:] if key.startswith("www.") else "www." + key
        out.setdefault(alt, selectors)
    return out


DOMAIN_SELECTORS = _normalize_domain_keys(_DOMAIN_SELECTORS_RAW)

# ---------------------------------------------------------------------------
# D2/D3 — boilerplate selectors decomposed inside the selected subtree
# (W:1278-1287, repeated at W:1326-1332)
# ---------------------------------------------------------------------------
UNWANTED_SELECTORS = [
    "header", "footer", "nav", "aside", "script", "style", "noscript",
    ".related", ".recommend", ".sidebar", ".ad", ".banner",
    ".ranking", ".sports", ".entame", ".latest", ".news", ".links",
    ".more", ".topics", ".column", ".comment", ".social", ".share",
    ".breadcrumb", ".pagination", ".tag", ".category",
]

# D4 — body-fallback removal list (W:1344-1350; note the extra dotted
# header/footer/nav/menu/advertisement entries vs UNWANTED_SELECTORS)
BODY_UNWANTED_SELECTORS = [
    "header", "footer", "nav", "script", "style", "aside", "noscript",
    ".header", ".footer", ".nav", ".menu", ".sidebar", ".ad",
    ".advertisement", ".banner",
    ".related", ".recommend", ".ranking", ".sports", ".entame", ".latest",
    ".news", ".links", ".more", ".topics", ".column", ".comment",
    ".social", ".share", ".breadcrumb", ".pagination", ".tag", ".category",
]

# Selenium-path body fallback (W:1216) — a *different*, shorter list
SELENIUM_BODY_UNWANTED = (
    "header, footer, nav, script, style, .header, .footer, .nav, .menu, "
    ".sidebar, .ad, .advertisement, .banner, noscript"
)

# ---------------------------------------------------------------------------
# D3 — heuristic block scoring (W:1295-1338)
# ---------------------------------------------------------------------------
BLOCK_TAGS = ["div", "section", "article", "main", "p"]
BLOCK_EXCLUDE_CLASSES = [
    "header", "footer", "nav", "sidebar", "ad", "banner", "menu", "related",
    "recommend", "ranking", "sports", "entame", "latest", "news", "links",
    "more", "topics", "column",
]
BLOCK_EXCLUDE_TAGS = ["header", "footer", "nav", "aside", "script", "style", "noscript"]
BLOCK_MIN_CHARS = 200          # W:1310
ANCESTOR_BOOST_CLASSES = ["content", "article", "main", "post", "entry", "body"]
ANCESTOR_BOOST = 1.5           # W:1316
BODY_MIN_CHARS = 50            # W:1355
SUCCESS_MIN_CHARS = 100        # F4 — W:523, W:542, W:545, W:570

# ---------------------------------------------------------------------------
# F6 — error patterns (substring containment), config.ini:8-12
# ---------------------------------------------------------------------------
ERROR_PATTERNS = [
    "このサイトにアクセスできません",
    "ERR_TIMED_OUT",
    "からの応答時間が長すぎます",
    "接続を確認する",
    "プロキシとファイアウォールを確認する",
]

# ---------------------------------------------------------------------------
# F5 — failure-message templates, exact match after .format(url)
# (W:1592-1606) and prefix patterns (W:1608-1610); the timeout marker
# is explicitly kept (W:1628-1630).
# ---------------------------------------------------------------------------
FAILURE_TEMPLATES_WITH_URL = [
    "PDFからテキストを抽出できませんでした: {}",
    "PDFファイルのダウンロードに失敗しました: {}",
    "PDFファイルの処理中にエラーが発生しました: {}",
    "すべての抽出方法でテキストを抽出できませんでした: {}",
    "特定ドメインの抽出に失敗しました (Jina & Selenium): {}",
    "Yahoo画像検索の抽出に失敗しました (Jina & Selenium): {}",
    "ドライバーの初期化に失敗したため、{} からテキストを抽出できませんでした。",
    "X (Twitter) ページからのテキスト抽出に失敗しました: {}",
    "Instagramポストからテキストが見つかりませんでした: {}",
    "Instagramページからのテキスト抽出に失敗しました: {}",
    "Yahoo知恵袋ページからのテキスト抽出に失敗しました: {}",
    "知恵袋からコンテンツを抽出できませんでした: {}",
    "YouTubeページからのテキスト抽出に失敗しました: {}",
]
FAILURE_PREFIXES = ["エラーが発生しました:"]
TIMEOUT_MARKER = "（テキスト抽出タイムアウト）"

# ---------------------------------------------------------------------------
# F8 — Pinterest nav-only detector (W:210-295)
# ---------------------------------------------------------------------------
CONTENT_INDICATOR_PATTERNS = [
    r"\b[a-zA-Z0-9-]+\.(com|net|org|jp|co\.jp)\b",
    r"https?://[^\s]+",
    r"[あ-んア-ンア-ヶー一-龯]{10,}",
    r"\b[A-Z][a-z]+(?:\s+[A-Z][a-z]+){3,}",
    r"(?:目次|第\d+章|\d+\.\s)",
    r"\d{4}[-/]\d{1,2}[-/]\d{1,2}",
]
NAV_PHRASES = [
    "Skip to content",
    "Explore ideas",
    "Search for easy dinners",
    "When autocomplete results are available",
    "Log in",
    "Sign up",
    "コンテンツへスキップ",
    "アイデアを探す",
    "簡単ディナーレシピ",
]
STRICT_NAV_PATTERN = (
    "Skip to content "
    "Explore ideas "
    "Search for easy dinners, fashion, etc. "
    "When autocomplete results are available use up and down arrows to review "
    "and enter to select. Touch device users, explore by touch or with swipe gestures. "
    "Log in "
    "Sign up"
)
NAV_MIN_PHRASES = 4       # W:271
NAV_RATIO_THRESHOLD = 0.7  # W:273
STRICT_NAV_MAX_LEN = 300   # W:292

# ---------------------------------------------------------------------------
# F1/F2 — URL exclusion regexes: the exact UNION of the reference's two
# lists (google_url_serch.py:22-48 ∪ yahoo_url_search.py:23-53), order
# google-then-yahoo, shared resource-file pattern deduped.  Note the
# reference quirks kept as-is: bare-substring `privacy`/`terms` (they
# subsume privacy.yahoo/terms.yahoo, also kept verbatim), and the
# commented-out image/news/chiebukuro-detail entries are NOT excluded.
# ---------------------------------------------------------------------------
URL_EXCLUDE_PATTERNS = [
    # google_url_serch.py:22-48
    r"google\.com/search",
    r"support\.google\.com",
    r"accounts\.google\.com",
    r"ads\.google\.com",
    r"translate\.google\.com",
    r"maps\.google\.com",
    r"google\.com/maps",
    r"google\.com/travel",
    r"google\.co\.jp/intl",
    r"google\.com/advanced_search",
    r"policies\.google\.com",
    r"privacy",
    r"terms",
    r"google\.com/preferences",
    r"google\.com/webhp",
    r"chrome\.google\.com",
    r".*\.(css|js|xml|ico)$",
    # yahoo_url_search.py:23-53
    r"search\.yahoo\.co\.jp/search",
    r"search\.yahoo\.co\.jp/video",
    r"support\.yahoo\.co\.jp",
    r"accounts\.yahoo\.co\.jp",
    r"search\.yahoo\.co\.jp/.*\?rs=4",
    r"search\.yahoo\.co\.jp/.*\?sqs=1",
    r"ads\.yahoo\.co\.jp",
    r"shopping\.yahoo\.co\.jp",
    r"map\.yahoo\.co\.jp",
    r"translate\.yahoo\.co\.jp",
    r"auctions\.yahoo\.co\.jp",
    r"chiebukuro\.yahoo\.co\.jp/search",
    r"privacy\.yahoo\.co\.jp",
    r"terms\.yahoo\.co\.jp",
    r"yahoo\.co\.jp/preferences",
    r"b\.hatena\.ne\.jp/entry",
]

# F3 — navigation anchor-text words: the reference's nav_patterns list
# verbatim (google_url_serch.py:59-70 == yahoo_url_search.py:63-70;
# substring containment + the ≤2-char rule applied by the operator).
# The duplicate アカウント entry in the reference is deduped; 規約
# subsumes the reference's intent for 利用規約-style anchors.
NAV_TEXT_WORDS = [
    "設定", "検索設定", "ログイン", "画像", "動画", "地図", "ニュース",
    "一覧", "メニュー", "トップ", "今すぐ", "使い方", "条件指定",
    "アクティビティ", "日本語のみ", "リアルタイム", "ウェブ", "アカウント",
    "ヘルプ", "プライバシー", "規約", "メールアドレス", "ホーム",
    "ショッピング", "マップ", "カレンダー", "ブラウザ", "アプリ",
    "最近の検索", "メール", "ファイナンス", "ブックマーク", "設定する",
]

# ---------------------------------------------------------------------------
# special-handler dispatch (W:386-429, W:580-591)
# ---------------------------------------------------------------------------
TARGET_DOMAINS = ["youtube.com"]
YAHOO_IMAGE_SEARCH_PREFIX = "https://search.yahoo.co.jp/image/search"
