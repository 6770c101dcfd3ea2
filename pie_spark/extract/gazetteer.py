"""M6: dictionary / gazetteer mention matcher (SURVEY.md §2.3).

Pure-Python Aho-Corasick automaton (no external deps) built **once per
Python worker** from the broadcast surface list, then streamed over
Arrow batches by the fused detector UDF (extract/fused.py) — the
standard broadcast-dictionary pattern from the spec (BASELINE.json:6
"broadcast dictionary").

Scale notes:
  * the automaton build is O(total surface chars) and happens once per
    executor Python worker, not per task/row/batch
    (:func:`cached_automaton`, a module-level cache keyed by a content
    hash of the surface list).
  * matches are emitted for *all* dictionary hits incl. overlaps;
    overlap resolution is the merge operator's job (T3/W3) so priority
    rules live in exactly one place.
  * word-boundary guard: a hit is dropped when flanked by [A-Za-z0-9]
    so 'Mei Novak' never fires inside 'Amei Novakov'.
"""

from __future__ import annotations

import re
from collections import deque


class AhoCorasick:
    """Classic trie + failure links; finds all dictionary substrings."""

    def __init__(self, patterns: list[str]):
        # nodes as dict-of-dicts; node 0 = root
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[str]] = [[]]
        self.fail: list[int] = [0]
        for p in patterns:
            self._insert(p)
        self._build_failures()
        # C-speed prefilter: any hit must contain one of the patterns'
        # first characters, so a text without any of them can skip the
        # (pure-Python) automaton walk entirely — exact, not heuristic.
        firsts = sorted(self.goto[0].keys())
        self.prefilter = (
            re.compile("[" + "".join(re.escape(c) for c in firsts) + "]")
            if firsts
            else None
        )

    def _insert(self, p: str) -> None:
        node = 0
        for ch in p:
            nxt = self.goto[node].get(ch)
            if nxt is None:
                self.goto.append({})
                self.out.append([])
                self.fail.append(0)
                nxt = len(self.goto) - 1
                self.goto[node][ch] = nxt
            node = nxt
        self.out[node].append(p)

    def _build_failures(self) -> None:
        q: deque[int] = deque()
        for ch, nxt in self.goto[0].items():
            self.fail[nxt] = 0
            q.append(nxt)
        while q:
            node = q.popleft()
            for ch, nxt in self.goto[node].items():
                q.append(nxt)
                f = self.fail[node]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[nxt] = self.goto[f].get(ch, 0)
                if self.fail[nxt] == nxt:
                    self.fail[nxt] = 0
                self.out[nxt].extend(self.out[self.fail[nxt]])

    def finditer(self, text: str):
        """Yield (start, end, pattern) for every dictionary hit."""
        node = 0
        for i, ch in enumerate(text):
            while node and ch not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(ch, 0)
            for p in self.out[node]:
                yield i + 1 - len(p), i + 1, p


def _boundary_ok(text: str, s: int, e: int) -> bool:
    if s > 0 and text[s - 1].isalnum():
        return False
    if e < len(text) and text[e].isalnum():
        return False
    return True


def find_gazetteer_matches(text: str, ac: AhoCorasick) -> list[dict]:
    if ac.prefilter is None or ac.prefilter.search(text) is None:
        return []
    out = []
    for s, e, p in ac.finditer(text):
        if _boundary_ok(text, s, e):
            out.append(
                {"start": s, "end": e, "mention_type": "PERSON", "surface": p, "score": 0.9}
            )
    return out


# per-worker automaton cache: {crc32 of the surface list: AhoCorasick}.
# Only :func:`cached_automaton` may touch it: a UDF closure that named
# this dict directly would be cloudpickled with a *copy* of it, so every
# task would unpickle an empty cache and rebuild the automaton. A
# module-level function is pickled by reference and sees the worker's
# real module globals.
_AC_CACHE: dict[int, AhoCorasick] = {}


def cached_automaton(cache_key: int, surfaces) -> AhoCorasick:
    """The worker's automaton for ``cache_key`` (a content hash of the
    surface list), built from ``surfaces.value`` (a broadcast) on first
    use in this Python process."""
    ac = _AC_CACHE.get(cache_key)
    if ac is None:
        ac = _AC_CACHE[cache_key] = AhoCorasick(surfaces.value)
    return ac
