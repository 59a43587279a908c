"""Generate the committed Q8 render golden (tests/goldens/render_q8.txt).

Pure-Python (no Spark) replica of the reference's save_results output
file shape (web_text_extractor_ver1.5.py:1660-1726, quirk Q8):

    <source banner: name '='-padded to 62 chars>\n\n
    <input URL list minus filtered-out URLs, '\n'-joined>
    \n\n\n\n\n                      (exactly five newlines, W:1700)
    [timeout warning header        (integrated.py:19-51)]
    url\ntext [\n\n\n url\ntext]...

over the golden transcript skeleton (40 conversations — the same
skeleton tests/test_spark_e2e.py drives through Spark).  The Spark
renderer (plans/pipeline.render_extracted with source_name='google')
must reproduce the file byte-for-byte.

Regenerate ONLY after intentional semantic changes:
    python tests/gen_render_golden.py
"""

import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from webtext_extraction_spark import rules
from webtext_extraction_spark.fixtures_pages import payload_for
from webtext_extraction_spark.kernel.extract import derive_url_and_domain, extract_payload

N_CONV = 40
OUT = pathlib.Path(__file__).parent / "goldens" / "render_q8.txt"
EXCLUDED_STATUSES = {"failure_template", "error_pattern"}


def build_rows():
    rows = []
    for i in range(N_CONV):
        conv_id = f"conv{i:06d}"
        for t in range(1 + i % 12):
            payload, tool = payload_for(conv_id, t)
            r = extract_payload(payload, tool)
            url, _domain = derive_url_and_domain(payload)
            status = r.status
            # F6 layering (replica of the one in extraction._extract_batch)
            if status == "ok" and any(p in r.text for p in rules.ERROR_PATTERNS):
                status = "error_pattern"
            rows.append((conv_id, t, url, r.text, status))
    rows.sort(key=lambda x: (x[0], x[1]))
    return rows


def render(rows, source_name="google"):
    banner = source_name + "=" * (62 - len(source_name)) + "\n\n"
    excluded_urls = {u for _, _, u, _, s in rows if s in EXCLUDED_STATUSES and u}
    url_list = []
    for _, _, u, _, _ in rows:
        if u and u not in excluded_urls and u not in url_list:
            url_list.append(u)
    header = banner + "\n".join(url_list) + "\n\n\n\n\n"

    kept = [r for r in rows if r[4] not in EXCLUDED_STATUSES]
    timeout_urls = [
        (u or f"{c}#{t}") for c, t, u, _, s in kept if s == "timeout"
    ]
    blocks = [f"{u or f'{c}#{t}'}\n{text}" for c, t, u, text, _ in kept]
    body = "\n\n\n".join(blocks)
    if timeout_urls:
        body = (
            "テキスト抽出タイムアウトページあり（該当URL表示）\n"
            + "\n".join(timeout_urls)
            + "\n\n\n"
            + body
        )
    return header + body


def main():
    text = render(build_rows())
    OUT.write_text(text, encoding="utf-8")
    print(f"wrote {len(text)} chars to {OUT}")


if __name__ == "__main__":
    main()
