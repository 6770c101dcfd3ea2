"""M1–M5: regex PII matchers — one fused, Arrow-batched pass (SURVEY.md §2.3).

PII types from the spec: EMAIL, SSN, ADDRESS (+ PHONE, inferred
standard PII set, flag-gated) — BASELINE.json:6.

Design for scale:
  * a single combined alternation regex ⇒ one scan per text for all
    types (M5 "batched multi-pattern matcher"); the compiled regex is a
    module constant, reused across every Arrow batch of the fused
    detector UDF (extract/fused.py).
  * validity filters are pure post-checks (no extra scans): SSN area
    000/666/9xx rejected; emails immediately preceded by ``/ : @``
    rejected (URL/userinfo contexts — adversarial negatives in the
    fixture corpus).

The pure function :func:`find_matches` is the unit-testable core that
the fused detector calls per span text.
"""

from __future__ import annotations

import re

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
SSN_RE = r"\b\d{3}-\d{2}-\d{4}\b"
PHONE_RE = r"\([2-9]\d{2}\) [2-9]\d{2}-\d{4}"
# 1-3 capitalized street words, abbreviated OR spelled-out suffix
# (longest-first so 'Street' is not clipped to 'St'), optional unit.
# r01's fixture-tuned regex accepted only `\d{1,5} [A-Z][a-z]+
# (St|Ave|Rd|Blvd)` — exactly the generator's shapes (VERDICT missing#3).
ADDRESS_SUFFIXES = (
    "Street|Avenue|Boulevard|Road|Lane|Drive|Court|Place|St|Ave|Blvd|Rd|Ln|Dr|Ct|Pl|Way"
)
ADDRESS_RE = (
    r"\b\d{1,5} (?:[A-Z][a-z]+ ){1,3}(?:" + ADDRESS_SUFFIXES + r")\b"
    r"(?:,? (?:Apt|Suite|Unit) [A-Za-z0-9]+\b)?"
)

_COMBINED = re.compile(
    f"(?P<EMAIL>{EMAIL_RE})|(?P<SSN>{SSN_RE})|(?P<PHONE>{PHONE_RE})|(?P<ADDRESS>{ADDRESS_RE})"
)

_SSN_SPLIT = re.compile(r"^(\d{3})-(\d{2})-(\d{4})$")

# The validity rule as a pure regular language (no lookahead — RE2/DuckDB
# compatible): area 001-899 except 666, group 01-99, serial 0001-9999.
# test_matchers.py proves equivalence with _ssn_valid by enumeration.
SSN_VALID_RE = (
    r"\b(?:0(?:0[1-9]|[1-9]\d)|[1-57-8]\d\d|6(?:[0-57-9]\d|6[0-57-9]))"
    r"-(?:0[1-9]|[1-9]\d)"
    r"-(?:000[1-9]|00[1-9]\d|0[1-9]\d\d|[1-9]\d{3})\b"
)


def _ssn_valid(s: str) -> bool:
    m = _SSN_SPLIT.match(s)
    if not m:
        return False
    area, group, serial = m.groups()
    return area not in ("000", "666") and area < "900" and group != "00" and serial != "0000"


def find_matches(text: str, enable_phone: bool = True) -> list[dict]:
    """All PII regex matches with char offsets; validity-filtered."""
    out: list[dict] = []
    for m in _COMBINED.finditer(text):
        kind = m.lastgroup
        s, e = m.start(), m.end()
        surface = m.group(0)
        if kind == "EMAIL":
            # reject URL / userinfo contexts: http://host/user@x, scheme:user@x
            if s > 0 and text[s - 1] in "/:@":
                continue
        elif kind == "SSN":
            if not _ssn_valid(surface):
                continue
        elif kind == "PHONE" and not enable_phone:
            continue
        out.append(
            {"start": s, "end": e, "mention_type": kind, "surface": surface, "score": 1.0}
        )
    return out

