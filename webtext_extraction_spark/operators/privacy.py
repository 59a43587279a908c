"""PII scrubbing — the redaction pass every shipped training corpus
runs before the tokenizer (the same operator family Dolma's
`pii_removal` taggers and FineWeb's anonymization step implement:
regex-level email/IP/phone redaction, not NER).

Pure column expressions (regexp_count + regexp_replace chains):
whole-stage codegen, zero shuffle, zero Python — the scrubber adds no
exchange to any plan it is composed into.  Patterns are RE2-safe (no
lookarounds, no backrefs) so the DuckDB oracle replays them verbatim
with the 'g' flag; counts are taken on the progressively-scrubbed
text in the SAME fixed order on both engines (email → ipv4 → phone),
so a redacted email's digit runs are never double-counted as phones.

Reference scope note: the reference pipeline
(web_text_extractor_ver1.5.py) stores extracted page text verbatim
with no redaction — this operator is part of the engine's
training-data surface (SURVEY §2's LLM-pipeline additions), not a
reference port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# (name, pattern, replacement) — applied IN ORDER; order is part of
# the contract (the oracle replays it):
#  - email first: its local part may contain digit runs a later phone
#    pattern would half-eat;
#  - ipv4 before phone: dotted quads are digit runs but dots break the
#    phone class, and scrubbing them first makes that independence
#    explicit rather than incidental.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    # conservative phone shape: leading digit (optional +), >= 8 total
    # chars of digits/space/()- , trailing digit.  Heuristic by design
    # (scrubbers over-redact rather than leak); both engines agree.
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
]


def scrub_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Redact emails / IPv4 addresses / phone-shaped digit runs: the
    columns of :func:`with_scrubbed_pii` keyed by id, (id,
    scrubbed_text, n_email, n_ipv4, n_phone), one row per input row."""
    out = with_scrubbed_pii(df, text_col)
    return out.select(id_col, "scrubbed_text", "n_email", "n_ipv4", "n_phone")


def with_scrubbed_pii(df: DataFrame, text_col: str) -> DataFrame:
    """``df`` plus ``scrubbed_text`` and ``n_<category>`` match counts,
    NULL text as the empty document.  Each count is taken when its
    category is scrubbed (sequential, see PII_RULES ordering)."""
    cur = F.coalesce(F.col(text_col), F.lit(""))
    counts = {}
    for name, pattern, repl in PII_RULES:
        counts[f"n_{name}"] = F.regexp_count(cur, F.lit(pattern))
        cur = F.regexp_replace(cur, pattern, repl)
    return df.withColumns({"scrubbed_text": cur, **counts})
