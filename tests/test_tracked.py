"""TrackedText unit tests: offset bookkeeping through every transform."""

import re

import numpy as np

from webtext_extraction_spark.kernel.tracked import TrackedText, reconstruct


def _check(payload, tt):
    assert reconstruct(payload, tt.text, tt.span_tuples()) == tt.text


def test_literal_and_spans():
    tt = TrackedText.literal("hello", 10)
    spans = tt.span_tuples()
    assert spans == [(10, 15, "src")]


def test_join_inserts_synthetic():
    payload = "abcdef"
    a = TrackedText.literal("abc", 0)
    b = TrackedText.literal("def", 3)
    j = TrackedText.join("|", [a, b])
    assert j.text == "abc|def"
    kinds = [kind for _s, _e, kind in j.span_tuples()]
    assert kinds == ["src", "syn", "src"]
    _check(payload, j)


def test_strip_preserves_offsets():
    tt = TrackedText.literal("  x y  ", 5).strip()
    assert tt.text == "x y"
    assert tt.span_tuples() == [(7, 10, "src")]


def test_sub_deletion_matches_re_sub():
    s = "keep https://x.example/a keep2 www.y.example end"
    tt = TrackedText.literal(s, 0)
    out = tt.sub(r"https?://\S+", "")
    assert out.text == re.sub(r"https?://\S+", "", s)
    _check(s, out)
    out2 = out.sub(r"www\.\S+", "")
    assert out2.text == re.sub(r"www\.\S+", "", re.sub(r"https?://\S+", "", s))
    _check(s, out2)


def test_sub_with_replacement_is_synthetic():
    s = "a\n\n\n\nb"
    tt = TrackedText.literal(s, 0)
    out = tt.sub(r"\n\s*\n\s*\n+", "\n\n")
    assert out.text == "a\n\nb"
    kinds = [kind for _s, _e, kind in out.span_tuples()]
    assert kinds == ["src", "syn", "src"]
    _check(s, out)


def test_filter_chars():
    s = "ab\x07cd"
    tt = TrackedText.literal(s, 0)
    keep = np.array([ch.isprintable() for ch in s])
    out = tt.filter_chars(keep)
    assert out.text == "abcd"
    _check(s, out)


def test_split_roundtrip():
    s = "p1\n\np2\n\np3"
    tt = TrackedText.literal(s, 0)
    parts = tt.split("\n\n")
    assert [p.text for p in parts] == ["p1", "p2", "p3"]
    rejoined = TrackedText.join("\n\n", parts)
    assert rejoined.text == s
