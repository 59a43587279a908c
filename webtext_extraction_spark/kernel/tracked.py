"""TrackedText — a string whose every character knows its origin.

The north rule requires emitting character-span offsets into the raw
payload alongside the extracted text (the reference only emits text,
never offsets).  The whole cleanup chain
(/root/reference/common_scripts/web_text_extractor_ver1.5.py:161-343)
is therefore implemented over (text, offsets) pairs: deletions drop
offsets, inserted characters (separators, labels, entity decodes,
regex replacements) carry offset -1 ("synthetic").

Offsets are a numpy int64 array of the same length as the text, so
all transforms are vectorized slices/takes — no per-character Python
in the hot path beyond regex scanning (C-speed).

Span encoding (run-length):
  kind='src': payload[start:end] == the next (end-start) chars of text
  kind='syn': start/end index *the extracted text itself* (synthetic
              chars: separators, labels, templates, entity decodes)
Walking spans in order tiles the extracted text exactly; tests assert
the reconstruction invariant (FIXTURES.md §2).
"""

from __future__ import annotations

import itertools
import re

import numpy as np

_EMPTY = np.empty(0, dtype=np.int64)


def _offsets_from_runs(run_starts: list[int], run_lens: list[int]) -> np.ndarray:
    """Offset array for parallel (src_start | -1, length) run lists —
    the vectorized equivalent of concatenating ``arange(s, s+l)``
    (literal) and ``full(l, -1)`` (synthetic) per run."""
    if not run_starts:
        return _EMPTY
    if len(run_starts) == 1:
        s, l = run_starts[0], run_lens[0]
        if s < 0:
            return np.full(l, -1, dtype=np.int64)
        return np.arange(s, s + l, dtype=np.int64)
    starts = np.array(run_starts, dtype=np.int64)
    lens = np.array(run_lens, dtype=np.int64)
    firstpos = np.cumsum(lens) - lens
    lit = starts >= 0
    base = np.where(lit, starts - firstpos, -1)
    total = int(firstpos[-1] + lens[-1])
    return np.repeat(base, lens) + np.arange(total, dtype=np.int64) * np.repeat(
        lit.view(np.int8), lens
    )


class TrackedText:
    __slots__ = ("text", "off")

    def __init__(self, text: str, off: np.ndarray):
        self.text = text
        self.off = off

    # -- constructors --------------------------------------------------------
    @classmethod
    def synthetic(cls, text: str) -> "TrackedText":
        return cls(text, np.full(len(text), -1, dtype=np.int64))

    @classmethod
    def literal(cls, text: str, start: int) -> "TrackedText":
        return cls(text, np.arange(start, start + len(text), dtype=np.int64))

    @classmethod
    def empty(cls) -> "TrackedText":
        return cls("", _EMPTY)

    @classmethod
    def from_pieces(cls, pieces) -> "TrackedText":
        """From DOM text-node pieces (text, src_start, src_end, literal)."""
        return cls(
            "".join(p[0] for p in pieces),
            _offsets_from_runs([p[1] if p[3] else -1 for p in pieces], [len(p[0]) for p in pieces]),
        )

    @classmethod
    def join(cls, sep: str, parts: list["TrackedText"]) -> "TrackedText":
        if not parts:
            return cls.empty()
        if len(parts) == 1:
            return parts[0]
        sep_off = np.full(len(sep), -1, dtype=np.int64)
        texts, offs = [], []
        for i, p in enumerate(parts):
            if i:
                texts.append(sep)
                offs.append(sep_off)
            texts.append(p.text)
            offs.append(p.off)
        return cls("".join(texts), np.concatenate(offs) if offs else _EMPTY)

    # -- transforms (all offset-preserving) -----------------------------------
    def __len__(self) -> int:
        return len(self.text)

    def __bool__(self) -> bool:
        return bool(self.text)

    def slice(self, start: int, end: int) -> "TrackedText":
        return TrackedText(self.text[start:end], self.off[start:end])

    def concat(self, other: "TrackedText") -> "TrackedText":
        return TrackedText(self.text + other.text, np.concatenate([self.off, other.off]))

    def strip(self) -> "TrackedText":
        stripped = self.text.strip()
        if not stripped:
            return TrackedText.empty()
        if len(stripped) == len(self.text):  # nothing to strip — no copy
            return self
        lead = len(self.text) - len(self.text.lstrip())
        return self.slice(lead, lead + len(stripped))

    def sub(self, pattern, repl: str = "", flags: int = 0) -> "TrackedText":
        """re.sub with a constant replacement; replacement chars are
        synthetic.  Semantics identical to ``re.sub`` on plain text."""
        rx = re.compile(pattern, flags) if isinstance(pattern, str) else pattern
        it = rx.finditer(self.text)
        first = next(it, None)
        if first is None:  # no-match fast path: no copies
            return self
        pieces_t, pieces_o = [], []
        pos = 0
        repl_off = np.full(len(repl), -1, dtype=np.int64)
        for m in itertools.chain((first,), it):
            s, e = m.span()
            pieces_t.append(self.text[pos:s])
            pieces_o.append(self.off[pos:s])
            if repl:
                pieces_t.append(repl)
                pieces_o.append(repl_off)
            pos = e
        pieces_t.append(self.text[pos:])
        pieces_o.append(self.off[pos:])
        return TrackedText("".join(pieces_t), np.concatenate(pieces_o) if pieces_o else _EMPTY)

    def filter_chars(self, keep_mask: np.ndarray) -> "TrackedText":
        """Keep characters where mask is True (C5 printable filter)."""
        idx = np.flatnonzero(keep_mask)
        return TrackedText("".join(self.text[i] for i in idx), self.off[idx])

    def split(self, sep: str) -> list["TrackedText"]:
        if not sep:  # str.split parity; find('') would loop forever
            raise ValueError("empty separator")
        out = []
        start = 0
        while True:
            i = self.text.find(sep, start)
            if i == -1:
                out.append(self.slice(start, len(self.text)))
                return out
            out.append(self.slice(start, i))
            start = i + len(sep)

    # -- span encoding ---------------------------------------------------------
    def span_tuples(self) -> list[tuple]:
        """Run-length encode offsets into (start, end, kind) tuples — the
        one span form, which the extraction UDF emits (dict construction
        is measurable at millions of rows)."""
        n = len(self.text)
        if n == 0:
            return []
        off = self.off
        prev, cur = off[:-1], off[1:]
        contiguous = ((prev == -1) & (cur == -1)) | ((prev != -1) & (cur == prev + 1))
        bounds = np.concatenate(([0], np.flatnonzero(~contiguous) + 1, [n]))
        run_starts = bounds[:-1]
        lengths = bounds[1:] - run_starts
        firsts = off[run_starts]
        syn = firsts == -1
        out_start = np.where(syn, run_starts, firsts)
        out_end = out_start + lengths
        return [
            (s, e, "syn" if m else "src")
            for s, e, m in zip(out_start.tolist(), out_end.tolist(), syn.tolist())
        ]


def reconstruct(payload: str, extracted: str, spans: list) -> str:
    """Rebuild extracted text from payload + (start, end, kind) spans
    (test invariant)."""
    parts = []
    for start, end, kind in spans:
        parts.append(payload[start:end] if kind == "src" else extracted[start:end])
    return "".join(parts)
