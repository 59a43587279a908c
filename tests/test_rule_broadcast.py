"""Runtime rule-table broadcast (J3, north star): a per-site selector
override shipped via SparkContext.broadcast changes extraction without
code redeploy; default rules are untouched."""

from pyspark.sql import functions as F

from webtext_extraction_spark import rules
from webtext_extraction_spark.operators.extraction import extract_turns


def _page():
    body = " ".join(["alpha beta gamma delta epsilon zeta"] * 8)
    return (
        "<!-- domain: override.example --><html><head><title>T</title></head>"
        f"<body><main><p>{body} generic main body content long enough here</p></main>"
        f"<div class='custom-zone'><p>{body} custom zone body content long enough</p></div>"
        "</body></html>"
    )


def test_broadcast_site_rule_override(spark):
    df = spark.createDataFrame(
        [("c0", 0, "user", _page(), "fetch", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )

    # default rules: override.example has no site rule → generic <main>
    base = extract_turns(df).select("strategy", "extracted_text").first()
    assert base["strategy"] == "generic"
    assert "custom zone body" not in base["extracted_text"]

    # broadcast override: site rule routes the domain to .custom-zone
    table = dict(rules.DOMAIN_SELECTORS)
    table["override.example"] = [".custom-zone"]
    overridden = (
        extract_turns(df, site_rules=table).select("strategy", "extracted_text").first()
    )
    assert overridden["strategy"] == "site-rule"
    assert "custom zone body" in overridden["extracted_text"]

    # default path unchanged afterwards (no module-state mutation)
    again = extract_turns(df).select("strategy").first()
    assert again["strategy"] == "generic"


def test_default_rules_equal_the_same_table_passed_explicitly(spark):
    """With no ``site_rules`` extract_turns broadcasts the built-in
    table: the output equals passing that table explicitly, row for
    row, over every synth archetype."""
    from webtext_extraction_spark.sources.transcripts import synth_transcripts

    df = synth_transcripts(spark, num_conversations=60)
    keys = ["conv_id", "turn_idx"]
    default = extract_turns(df).orderBy(*keys).collect()
    explicit = (
        extract_turns(df, site_rules=dict(rules.DOMAIN_SELECTORS)).orderBy(*keys).collect()
    )
    assert len(default) == df.count()
    assert any(r["strategy"] == "site-rule" for r in default)
    assert default == explicit
