"""Deterministic fixture-page archetype pool (FIXTURES.md §3/§4).

Each archetype pins one reference behavior; builders are pure
functions of an integer seed (no wall clock, no RNG state), so the
same (conv_id, turn_idx) always yields the same payload on any
executor — the property that makes distributed generation and golden
comparison possible.

``payload_for(conv_id, turn_idx)`` is the generator entry used by
sources/transcripts.py.  A seeded hash picks the archetype; ~5% of
conversations map to "hot" archetypes with 20× payloads to exercise
skew handling (FIXTURES.md T04).
"""

from __future__ import annotations

import hashlib

_WORDS = (
    "spark shuffle partition broadcast catalyst arrow vector batch column "
    "predicate pushdown lineage snapshot executor driver stage task codegen "
    "tungsten parquet iceberg schema struct array window salting skew "
    "throughput latency pipeline operator selector heuristic fallback "
    "threshold cascade extraction boilerplate density readability content"
).split()


def _lcg(seed: int):
    state = (seed * 2654435761 + 1013904223) & 0xFFFFFFFF
    while True:
        state = (state * 1664525 + 1013904223) & 0xFFFFFFFF
        yield state


def filler(seed: int, n_words: int) -> str:
    gen = _lcg(seed)
    return " ".join(_WORDS[next(gen) % len(_WORDS)] for _ in range(n_words))


def sentences(seed: int, n: int, words_per: int = 12) -> list[str]:
    out = []
    for i in range(n):
        body = filler(seed * 97 + i, words_per)
        out.append(body[0].upper() + body[1:] + ".")
    return out


# ---------------------------------------------------------------------------
# HTML archetypes (H01-H21)
# ---------------------------------------------------------------------------


def h01_main_article(seed: int, scale: int = 1) -> str:
    """H01 — <main> with header/footer/nav siblings + unwanted inside."""
    paras = sentences(seed, 3 * scale, 18)
    body = "\n".join(f"<p>{p}</p>" for p in paras)
    return f"""<!-- domain: blog.example --><html><head><title>Post {seed % 1000}</title><base href="https://blog.example/post/{seed % 1000}"></head>
<body><header>Site Header Login Signup</header><nav>home about contact</nav>
<main><h1>Article {seed % 1000}</h1>
{body}
<div class="related">you might also like</div><aside class="sidebar">ads here</aside></main>
<footer>copyright fineprint</footer></body></html>"""


def h02_decoy_content(seed: int) -> str:
    """H02 — <article> + longer decoy .content → max-text selection."""
    short = sentences(seed, 2, 10)
    long_ = sentences(seed + 1, 6, 16)
    return f"""<!-- domain: decoy.example --><html><head><title>Decoy</title></head>
<body><article>{'<p>' + '</p><p>'.join(short) + '</p>'}</article>
<article>{'<p>' + '</p><p>'.join(long_) + '</p>'}</article></body></html>"""


def h03_site_rule(seed: int) -> str:
    """H03 — rule-table domain, two matching nodes, unwanted NOT removed."""
    a = sentences(seed, 3, 14)
    b = sentences(seed + 7, 2, 14)
    return f"""<!-- domain: newsa.example --><html><head><title>Rule</title><base href="https://newsa.example/n/{seed % 100}"></head>
<body><div class="article_body"><p>{a[0]}</p><p>{a[1]}</p><nav>in-rule nav text kept</nav><p>{a[2]}</p></div>
<div class="article_body"><p>{b[0]}</p><p>{b[1]}</p></div>
<div class="content"><p>generic decoy that must not win</p></div></body></html>"""


def h04_comma_rule(seed: int) -> str:
    """H04 — comma-group site rule (.article-header, .article-body)."""
    a = sentences(seed, 2, 12)
    b = sentences(seed + 3, 3, 15)
    return f"""<!-- domain: rules.example --><html><head><title>Comma</title></head>
<body><div class="article-header"><h1>{a[0]}</h1></div>
<main>decoy main</main>
<div class="article-body"><p>{b[0]}</p><p>{b[1]}</p><p>{b[2]}</p></div></body></html>"""


def h05_heuristic_blocks(seed: int) -> str:
    """H05 — no selector match; block scoring with ×1.5 ancestor boost."""
    big = " ".join(sentences(seed, 5, 16))
    bigger = " ".join(sentences(seed + 11, 6, 16))
    return f"""<!-- domain: plain.example --><html><head><title>Blocks</title></head>
<body><div><div class="wrapper"><div>{bigger}</div></div></div>
<div class="content-wrap"><div>{big}</div></div>
<div class="menu">{' '.join(sentences(seed + 5, 4, 16))}</div></body></html>"""


def h06_body_fallback(seed: int) -> str:
    """H06 — all blocks ≤200 chars, body >50 chars."""
    bits = sentences(seed, 3, 4)
    return f"""<!-- domain: tiny.example --><html><head><title>Tiny</title></head>
<body><span>{bits[0]}</span><span>{bits[1]}</span><span>{bits[2]}</span></body></html>"""


def h07_title_only(seed: int) -> str:
    """H07 — near-empty body, title fallback."""
    return f"""<!-- domain: bare.example --><html><head><title>Bare Title {seed % 100}</title></head><body><span>ok</span></body></html>"""


def h08_short_main(seed: int) -> str:
    """H08 — main <100 chars, richer body → keep-longer across strategies."""
    rich = " ".join(sentences(seed, 4, 14))
    return f"""<!-- domain: short.example --><html><head><title>Short</title></head>
<body><main>tiny main.</main>
<span>{rich}</span></body></html>"""


def h09_urls_in_text(seed: int) -> str:
    """H09 — URL-strip chain order (http/www/bare-domain)."""
    p = sentences(seed, 2, 12)
    return f"""<!-- domain: links.example --><html><head><title>Links</title></head>
<body><main><p>{p[0]} see https://deep.example/a?b=c and www.other.example/zz plus bare foo.example/path too.</p>
<p>{p[1]}</p></main></body></html>"""


def h10_blank_lines(seed: int) -> str:
    """H10 — triple+ blank lines inside a <pre>-ish block + trim."""
    p = sentences(seed, 2, 20)
    return f"""<!-- domain: blank.example --><html><head><title>Blank</title></head>
<body><main><pre>  {p[0]}



{p[1]}  </pre></main></body></html>"""


def h11_unprintable(seed: int) -> str:
    """H11 — U+FFFD and control/format chars mixed with \\n\\t."""
    p = sentences(seed, 2, 18)
    return (
        '<!-- domain: ctrl.example --><html><head><title>Ctrl</title></head>'
        f"<body><main><p>{p[0]}�midbell​zwsp</p>\n<p>\t{p[1]}</p></main></body></html>"
    )


def h12_near_dup(seed: int) -> str:
    """H12 — exact dup + ~85% similar paragraph → difflib removal."""
    base = " ".join(sentences(seed, 3, 14))
    variant = base[:-20] + " slightly changed end."
    other = " ".join(sentences(seed + 31, 3, 14))
    # blank lines live inside ONE text node: '\n\n' paragraph boundaries
    # survive get_text and are what A2 splits on (W:311)
    return f"""<!-- domain: dup.example --><html><head><title>Dup</title></head>
<body><main><p>{base}

{base}

{variant}

{other}</p></main></body></html>"""


def h13_pinterest_nav(seed: int) -> str:
    """H13 — pinterest nav-only page triggering the F8 detector + handler."""
    hidden = " ".join(sentences(seed, 4, 16))
    return f"""<html><head><title>pin</title><base href="https://pinterest.com/pin/{seed % 1000}"></head>
<body><main>Skip to content
Explore ideas
Search for easy dinners, fashion, etc.
When autocomplete results are available use up and down arrows to review and enter to select. Touch device users, explore by touch or with swipe gestures.
Log in
Sign up</main>
<div data-test-id="pin-title"><h1 data-test-id="pin-title">Seeded pin title {seed % 997}</h1></div>
<div data-test-id="pin-description"><span>{hidden}</span></div></body></html>"""


def h14_chiebukuro(seed: int) -> str:
    """H14 — #leftColumn Q&A with related/ads/sidebar sections removed."""
    q = " ".join(sentences(seed, 2, 14))
    a1 = " ".join(sentences(seed + 1, 2, 14))
    a2 = " ".join(sentences(seed + 2, 2, 14))
    return f"""<html><head><title>qa</title><base href="https://detail.chiebukuro.yahoo.co.jp/qa/{seed % 1000}"></head>
<body><div id="leftColumn"><h2 class="Title__title">Question {seed % 97}</h2>
<div class="ClapLv1__content">{q}</div>
<div class="AnswerItem">{a1}</div>
<div class="AnswerItem">{a2}</div>
<div class="RelatedContentBox">related question links junk</div>
<div class="AdBlock">ad text</div>
<div class="sidebarBox">side text</div></div>
<div id="rightColumn">unrelated rail</div></body></html>"""


def h15_chiebukuro_fallback(seed: int) -> str:
    """H15 — no #leftColumn, no titled selectors: top-3 longest blocks."""
    blocks = [" ".join(sentences(seed + i, 3, 14)) for i in range(4)]
    divs = "\n".join(f"<div>{b}</div>" for b in blocks)
    return f"""<html><head><title>qa2</title><base href="https://detail.chiebukuro.yahoo.co.jp/qa2/{seed % 1000}"></head>
<body>{divs}</body></html>"""


def h16_twitter(seed: int) -> str:
    """H16 — multiple <article>, get_text(' ', strip) join '\\n\\n'."""
    t1 = " ".join(sentences(seed, 1, 10))
    t2 = " ".join(sentences(seed + 1, 1, 10))
    return f"""<html><head><title>x</title><base href="https://x.com/user/status/{seed % 10**6}"></head>
<body><article><div><span>{t1}</span><span>reply</span></div></article>
<article><span>{t2}</span></article></body></html>"""


def h17_instagram(seed: int) -> str:
    """H17 — article h1/span captions >20 chars, decoys ≤20."""
    cap = " ".join(sentences(seed, 1, 12))
    return f"""<html><head><title>ig</title><base href="https://instagram.com/p/{seed % 10**6}"></head>
<body><article><h1>{cap}</h1><span>short</span><span>{cap} extended caption body</span></article></body></html>"""


def h18_tokenizer_edges(seed: int) -> str:
    """H18 — script/style decoys, comments, void elements, entities."""
    p = sentences(seed, 2, 16)
    return f"""<!-- domain: edge.example --><html><head><title>Edge</title>
<script>var decoy = "<p>not content</p>";</script><style>.x{{content:"nope"}}</style></head>
<body><!-- a comment --><main><p>{p[0]} &amp; more &#x2713; done</p><br><img src="x.png">
<p>{p[1]}</p></main><noscript>enable js</noscript></body></html>"""


def h19_error_pattern(seed: int) -> str:
    """H19 — body text contains a browser error pattern (F6)."""
    return """<!-- domain: err.example --><html><head><title>err</title></head>
<body><main>このサイトにアクセスできません ERR_TIMED_OUT 接続を確認する プロキシとファイアウォールを確認する reload and retry the page please, the server closed the connection unexpectedly.</main></body></html>"""


def h20_markdown(seed: int) -> str:
    """H20 — reader-service markdown payload (C2 chain)."""
    body = " ".join(sentences(seed, 3, 16))
    return f"""Title: Some Reader Page
URL Source: https://reader.example/{seed % 100}
Published Time: 2024-01-01
Markdown Content:
{body}
[a link](https://reader.example/x) trailing words ![img](https://reader.example/i.png) [![badge](https://b.example/i)](https://b.example/t)


more tail text here."""


def h21_japanese(seed: int) -> str:
    """H21 — multibyte JP content with full-width punctuation."""
    jp = "これは日本語の本文です。全角句読点、長音符ーや漢字文字列を含む十分に長い段落が続きます。"
    p = sentences(seed, 1, 10)
    return f"""<!-- domain: jp.example --><html><head><title>日本語</title></head>
<body><main><p>{jp}</p><p>{jp}抽出エンジンの検証のための追加文面。{p[0]}</p></main></body></html>"""


def p01_pdf(seed: int, scale: int = 1) -> str:
    pages = "\n".join(
        f"%%page {i + 1}\n" + "\n".join(sentences(seed + i, 2 * scale, 12))
        for i in range(3)
    )
    return f"%PDF-SYNTH\n{pages}"


def p02_pdf_broken_page(seed: int) -> str:
    s = sentences(seed, 4, 12)
    return (
        f"%PDF-SYNTH\n%%page 1\n{s[0]}\n{s[1]}\n%%page 2 broken\nGARBLED\n%%page 3\n{s[2]}\n{s[3]}"
    )


def p03_pdf_empty(seed: int) -> str:
    return "%PDF-SYNTH\n%%page 1\n%%page 2 broken\nX"


def p04_pdf_corrupt(seed: int) -> str:
    return "%PDF-SYNTH-CORRUPT\n\x00binary-ish garbage"


def h_hot_domain(seed: int) -> str:
    """T04 — hot-domain page: 20× payload (skew ballast)."""
    return h01_main_article(seed, scale=20)


# (name, builder, tool) — pool order is part of the deterministic contract
ARCHETYPES = [
    ("h01_main_article", h01_main_article, "fetch"),
    ("h02_decoy_content", h02_decoy_content, "fetch"),
    ("h03_site_rule", h03_site_rule, "fetch"),
    ("h04_comma_rule", h04_comma_rule, "fetch"),
    ("h05_heuristic_blocks", h05_heuristic_blocks, "fetch"),
    ("h06_body_fallback", h06_body_fallback, "fetch"),
    ("h07_title_only", h07_title_only, "fetch"),
    ("h08_short_main", h08_short_main, "fetch"),
    ("h09_urls_in_text", h09_urls_in_text, "fetch"),
    ("h10_blank_lines", h10_blank_lines, "fetch"),
    ("h11_unprintable", h11_unprintable, "fetch"),
    ("h12_near_dup", h12_near_dup, "fetch"),
    ("h13_pinterest_nav", h13_pinterest_nav, "fetch"),
    ("h14_chiebukuro", h14_chiebukuro, "fetch"),
    ("h15_chiebukuro_fallback", h15_chiebukuro_fallback, "fetch"),
    ("h16_twitter", h16_twitter, "fetch"),
    ("h17_instagram", h17_instagram, "fetch"),
    ("h18_tokenizer_edges", h18_tokenizer_edges, "fetch"),
    ("h19_error_pattern", h19_error_pattern, "fetch"),
    ("h20_markdown", h20_markdown, "fetch"),
    ("h21_japanese", h21_japanese, "fetch"),
    ("p01_pdf", p01_pdf, "pdf"),
    ("p02_pdf_broken_page", p02_pdf_broken_page, "pdf"),
    ("p03_pdf_empty", p03_pdf_empty, "pdf"),
    ("p04_pdf_corrupt", p04_pdf_corrupt, "pdf"),
]

_HOT = ("hot_domain", h_hot_domain, "fetch")
_TIMEOUT_EVERY = 211  # sparse timeout turns (T02)


def _stable_hash(key: str) -> int:
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big")


def archetype_for(conv_id: str, turn_idx: int) -> tuple[str, callable, str]:
    h = _stable_hash(f"{conv_id}#{turn_idx}")
    if _stable_hash(conv_id) % 20 == 0:  # ~5% hot conversations (T04)
        return _HOT
    return ARCHETYPES[h % len(ARCHETYPES)]


def payload_for(conv_id: str, turn_idx: int) -> tuple[str, str]:
    """(payload_text, tool) for a turn — the datagen contract."""
    h = _stable_hash(f"{conv_id}#{turn_idx}")
    if h % _TIMEOUT_EVERY == 17:
        return "", "timeout"
    name, builder, tool = archetype_for(conv_id, turn_idx)
    seed = h % 100003
    return builder(seed), tool


def bench_payload_for(conv_id: str, turn_idx: int, heavy_scale: int = 25) -> tuple[str, str]:
    """Bench-profile payloads: half the turns are realistic-size article
    pages (~10-20 KB — real web pages run 10-500 KB, the golden pool's
    ~1 KB pages exist for test readability, not realism), the other
    half the full golden archetype mix."""
    h = _stable_hash(f"{conv_id}#{turn_idx}")
    if h % 2 == 0:
        return h01_main_article(h % 100003, scale=heavy_scale), "fetch"
    return payload_for(conv_id, turn_idx)


def heavy_payload_for(conv_id: str, turn_idx: int, scale: int = 1500) -> tuple[str, str]:
    """Heavy-profile payloads: every turn a ~0.7 MB article page —
    ~100× the golden pool's per-turn bytes.  The heavy-row parse
    differential (tests/test_fastfeed_diff.py) reads it; the Arrow
    transport profile it fed is recorded in BENCH/BASELINE.md
    ("Heavy-payload")."""
    h = _stable_hash(f"{conv_id}#{turn_idx}")
    return h01_main_article(h % 100003, scale=scale), "fetch"
