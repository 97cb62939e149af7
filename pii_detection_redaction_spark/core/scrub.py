"""Scrub operators: mask / label-replace / relationship masking.

Re-expresses the reference's anonymization operators:

- ``mask``: presidio ``OperatorConfig('mask', masking_char='*',
  chars_to_mask=100, from_end=False)`` — the first ``min(len, 100)`` chars of
  the span are replaced by the masking char, the remainder of the span is
  preserved, so total length never changes (reference
  ``csv_redactor/redactor.py:110-112``).
- ``replace``: span -> ``<ENTITY_TYPE>`` (reference
  ``csv_redactor/redactor.py:104-108``; ``text_detector/anonymize.py:13-17``).
- ``relationship``: see ``relationships.mask_with_relationships``.

Because the reference applies replacements by blind right-to-left splicing,
its input spans must not overlap. Presidio guarantees that upstream (its
``_remove_conflicts`` keeps the HIGHER-SCORE span of an intersecting
pair); our documented equivalent is ``select_nonoverlapping``:
score-descending greedy — sort candidates by ``(-score, start, end,
entity_type)`` and accept spans that do not overlap an already-accepted
span. Score-first matters for safety, not just parity: an
earlier-starting weaker span (a 0.5 AU_STATE overlapping a 0.6
REPEATED_NAME surname) must not evict the stronger PII span and leak it
unscrubbed. Fixtures pin this choice.
"""

from __future__ import annotations

from bisect import bisect_left, insort
from typing import List, Sequence

from .relationships import mask_with_relationships
from .spans import Detection, splice_spans

MASK_CHARS_TO_MASK = 100  # presidio cap used by the reference (redactor.py:111)


def select_nonoverlapping(results: Sequence[Detection]) -> List[Detection]:
    ordered = sorted(
        results, key=lambda d: (-d.score, d.start, d.end, d.entity_type)
    )
    accepted: List[Detection] = []
    # accepted (start, end) pairs in sorted order. Accepted spans never
    # overlap, so their ends ascend with their starts: a candidate overlaps
    # some accepted span iff the last one starting before its end reaches
    # past its start — one bisect instead of a scan of every accepted span.
    bounds: List[tuple] = []
    for d in ordered:
        # score-first greedy (presidio _remove_conflicts semantics): a span
        # is dropped only when a HIGHER-priority span overlaps it
        i = bisect_left(bounds, (d.end,))
        if i and bounds[i - 1][1] > d.start:
            continue
        insort(bounds, (d.start, d.end))
        accepted.append(d)
    accepted.sort(key=lambda d: d.start)
    return accepted


def _splice(text: str, spans: List[tuple]) -> str:
    # the one shared right-to-left splice (core.spans.splice_spans)
    return splice_spans(text, spans)


def replace_with_labels(text: str, results: Sequence[Detection]) -> str:
    """Each span -> ``<ENTITY_TYPE>`` (reference 'replace' operator)."""
    keep = select_nonoverlapping(results)
    return _splice(text, [(d.start, d.end, f"<{d.entity_type}>") for d in keep])


def mask_spans(
    text: str,
    results: Sequence[Detection],
    masking_char: str = "*",
    chars_to_mask: int = MASK_CHARS_TO_MASK,
) -> str:
    """Presidio-style mask: first min(len, chars_to_mask) chars replaced,
    remainder preserved (length-preserving for spans <= cap)."""
    keep = select_nonoverlapping(results)
    spans = []
    for d in keep:
        span_text = text[d.start : d.end]
        k = min(len(span_text), chars_to_mask)
        spans.append((d.start, d.end, masking_char * k + span_text[k:]))
    return _splice(text, spans)


def scrub_document(
    text: str,
    results: Sequence[Detection],
    mode: str = "relationship",
    masking_char: str = "*",
) -> str:
    """Scrub one document. ``mode``: relationship | replace | mask.

    ``relationship`` is the pipeline default (the flagship byte-identical
    transform, reference ``relationships.py:109-155``); detections are first
    reduced to a non-overlapping set per the documented spec.
    """
    if not results:
        return text
    if mode == "relationship":
        return mask_with_relationships(text, select_nonoverlapping(results))
    if mode == "replace":
        # replace_with_labels / mask_spans select the non-overlapping set
        # themselves — no second pass here
        return replace_with_labels(text, results)
    if mode == "mask":
        return mask_spans(text, results, masking_char=masking_char)
    raise ValueError(f"unknown scrub mode: {mode}")
