"""Off-suite parity soak for the production HTML tree builder.

Compares ``dom.parse`` (html/fastfeed.py) with the independent stdlib
oracle (tests/stdlib_tree.py) through ``assert_same_tree`` from
tests/test_fastfeed_diff.py, over:

- every string of length <= 6 over each of the five markup-critical
  alphabets named in ``test_exhaustive_small_strings`` (8,905,979
  cases; the suite itself only runs the first alphabet through
  length 5);
- 30,000 seeded construct/attribute soup strings: concatenations of
  incomplete constructs, charref-bail fragments, attribute shapes,
  CDATA elements and tag soup;
- the same 30,000 soup strings through ``assert_same_under_decompose``:
  a seeded decompose sequence per string (seeded by its position),
  with text assembly (plain and tracked), descendants, select,
  find_all, body and title compared against the oracle's object walks
  after every step.

Run after any change to the tree builder or the tree's range logic:

    python scripts/soak_fastfeed.py

Settings are fixed.  Prints the case count per family and the
divergences found (the first few payloads of each), and exits non-zero
on any divergence.  Takes about a minute and a half on 4 cores.
"""

from __future__ import annotations

import itertools
import multiprocessing as mp
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ALPHABETS = ["<>&#;a'/!-", '<>&;"=a/!?-', "<>&;'=a/! \t", '<>&#;a"=[-]', "<>![CD/]?-a"]
MAX_LENGTH = 6
SOUP_CASES = 30_000
SOUP_SEED = 7
SOUP_CHUNK = 1_000
WORKERS = 4
SHOW = 3  # payloads kept per diverging task

SOUP_POOL = [
    # incomplete constructs (the feed-vs-close pass family)
    "<a b='c>", '<x y="z>', "<!--", "<?", "<![", "<![CDATA[", "<!doctype",
    "<script>", "<style>", "</script>", "</style >", "</ſcript>",
    # charref / entity fragments, complete and bailing
    "x", "&#z;", "&#1;", "&#;", "&#150;", "&#xD800;", "&#x110000;", "&#xFDD0;",
    "&#99999999999999999999;", "&#q", "&amp;", "&amp", "&lt", "&", "<",
    # attribute shapes: duplicates, bare, unquoted, entity-bearing, odd slashes
    '<p class="a" class="b">', "<a href=x/>", "<a b>", "<a b = 'c'>",
    '<div id="i" data-x="&amp;y">', "<img src='s'/>", "<br/>", "<p/ >",
    '<a "bogus">', "<input value=&lt;v>",
    # tag soup and markup
    "<b>t</b>", "</b>", "</>", "</ p>", "</p attr='x'>", "<!-- c -->",
    "<![if x]>", "<![endif]>", "<?pi ?>", "<div>", "</div>", "</span>",
    "</body>", "日本",
]


def _exhaustive(task):
    alphabet, length, prefix = task
    rest = itertools.product(alphabet, repeat=length - len(prefix))
    return _check(prefix + "".join(t) for t in rest)


def _check_walks(task):
    start, payloads = task
    return _check(payloads, start)


def _check(payloads, walk_seed=None):
    """Tree parity per payload, or with ``walk_seed`` the decompose-walk
    check seeded by ``walk_seed`` + the payload's position."""
    from tests.test_fastfeed_diff import assert_same_tree, assert_same_under_decompose

    sys.setrecursionlimit(20000)
    cases, failed, shown = 0, 0, []
    for n, payload in enumerate(payloads):
        cases += 1
        try:
            if walk_seed is None:
                assert_same_tree(payload)
            else:
                assert_same_under_decompose(payload, walk_seed + n)
        except AssertionError:
            failed += 1
            if len(shown) < SHOW:
                shown.append(payload)
    return cases, failed, shown


def _soup_payloads():
    rng = random.Random(SOUP_SEED)
    out = []
    for _ in range(SOUP_CASES):
        parts = [rng.choice(SOUP_POOL) for _ in range(rng.randint(1, 12))]
        if rng.random() < 0.02:  # cross MAX_DEPTH with a long unclosed run
            parts.insert(rng.randrange(len(parts) + 1), "<div>" * rng.randint(500, 700))
        out.append("".join(parts))
    return out


def main() -> int:
    t0 = time.perf_counter()
    families = []
    for alphabet in ALPHABETS:
        # one task per (length, first character); the empty string is its own
        tasks = [(alphabet, 0, "")]
        tasks += [(alphabet, length, c) for length in range(1, MAX_LENGTH + 1) for c in alphabet]
        families.append((f"exhaustive len<=6 over {alphabet!r}", _exhaustive, tasks))
    payloads = _soup_payloads()
    chunks = [payloads[i : i + SOUP_CHUNK] for i in range(0, len(payloads), SOUP_CHUNK)]
    families.append((f"construct/attr soup seed={SOUP_SEED}", _check, chunks))
    walk_tasks = [(i, payloads[i : i + SOUP_CHUNK]) for i in range(0, len(payloads), SOUP_CHUNK)]
    families.append((f"decompose walks over the soup seed={SOUP_SEED}", _check_walks, walk_tasks))

    total_cases = total_failed = 0
    with mp.get_context("spawn").Pool(WORKERS) as pool:
        for name, fn, tasks in families:
            cases, failed, shown = 0, 0, []
            for c, f, s in pool.imap_unordered(fn, tasks):
                cases += c
                failed += f
                shown.extend(s[: SHOW - len(shown)])
            total_cases += cases
            total_failed += failed
            print(f"{name}: {cases:,} cases, {failed} divergent", flush=True)
            for payload in shown:
                print(f"  divergent: {payload[:200]!r}")
    elapsed = time.perf_counter() - t0
    print(f"total: {total_cases:,} cases, {total_failed} divergent, {elapsed:.0f} s")
    return 1 if total_failed else 0


if __name__ == "__main__":
    sys.exit(main())
