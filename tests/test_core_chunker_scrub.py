"""Chunker window semantics, cross-chunk dedup, scrub operators,
relationship masking — pinned against reference behavior
(text_detector/chunker.py, relationships.py, csv_redactor/redactor.py)."""

import re

from pii_detection_redaction_spark.core import (
    analyze,
    analyze_long_text,
    chunk_text,
    mask_with_relationships,
    scrub_document,
)
from pii_detection_redaction_spark.core.scrub import (
    mask_spans,
    replace_with_labels,
    select_nonoverlapping,
)
from pii_detection_redaction_spark.core.spans import Detection


def test_chunk_windows_match_reference_formula():
    # reference chunker.py:19-26: start = i if i==0 else max(0, i-overlap)
    text = "x" * 12_000
    chunks = list(chunk_text(text, size=5000, overlap=300))
    assert [(s, len(c)) for s, c in chunks] == [(0, 5000), (4700, 5300), (9700, 2300)]


def test_chunk_validation():
    import pytest

    with pytest.raises(ValueError):
        list(chunk_text("abc", size=0))
    with pytest.raises(ValueError):
        list(chunk_text("abc", overlap=-1))


def test_boundary_spanning_entity_found():
    # Entity begins right before the 5000-char boundary: the overlap window
    # must recover the full span.
    pad = ("word " * 999)  # 4995 chars
    text = pad + "call 0412 345 678 now " + ("tail " * 200)
    dets = analyze_long_text(text, size=5000, overlap=300)
    phones = [d for d in dets if d.entity_type == "AU_PHONE_NUMBER"]
    assert phones and text[phones[0].start : phones[0].end] == "0412 345 678"


def test_chunking_invariance_small_text():
    text = "Hello James Walker, tfn 123-456-789 and card 4242 4242 4242 4242."
    assert [d.as_tuple() for d in analyze_long_text(text)] == [
        d.as_tuple() for d in analyze(text)
    ]


def test_argmax_dedup_keeps_max_score():
    # Same span seen by two chunks keeps the higher score
    # (reference chunker.py:52-63); single-chunk result must equal long-text.
    text = ("a " * 2490) + "tfn 123-456-789" + (" b" * 2490)
    d1 = analyze_long_text(text, size=2600, overlap=600)
    spans1 = {(d.entity_type, text[d.start : d.end]) for d in d1 if d.entity_type == "AU_TFN"}
    assert ("AU_TFN", "123-456-789") in spans1


def test_mask_operator_semantics():
    # presidio mask: chars_to_mask=100, from_end=False → length preserved
    # for spans <= 100 (reference csv_redactor/redactor.py:110-112).
    text = "id 123456789 x"
    dets = analyze(text, entities=["AU_ACN"])
    masked = mask_spans(text, dets)
    assert masked == "id ********* x"
    assert len(masked) == len(text)


def test_mask_cap_100():
    long_span = "a" * 150
    d = [Detection("X", 0, 150, 1.0)]
    out = mask_spans(long_span, d)
    assert out == "*" * 100 + "a" * 50


def test_replace_operator():
    text = "mail bob.smith@ex.com ok"
    out = replace_with_labels(text, analyze(text, entities=["EMAIL_ADDRESS"]))
    assert out == "mail <EMAIL_ADDRESS> ok"


def test_select_nonoverlapping_prefers_higher_score_then_earlier():
    """Score-first greedy (presidio _remove_conflicts semantics): the
    HIGHER-score span of an overlapping pair wins regardless of start
    order — an earlier weaker span must not evict a stronger PII span
    (which would leak it unscrubbed)."""
    ds = [
        Detection("A", 0, 10, 0.5),
        Detection("B", 5, 15, 0.9),  # overlaps A with higher score → wins
        Detection("C", 15, 20, 0.4),
    ]
    kept = select_nonoverlapping(ds)
    assert [d.entity_type for d in kept] == ["B", "C"]
    ds2 = [Detection("A", 0, 10, 0.5), Detection("B", 0, 8, 0.9)]
    assert [d.entity_type for d in select_nonoverlapping(ds2)] == ["B"]
    # equal scores: earlier start wins (deterministic tie-break)
    ds3 = [Detection("A", 2, 10, 0.5), Detection("B", 0, 8, 0.5)]
    assert [d.entity_type for d in select_nonoverlapping(ds3)] == ["B"]


def _select_nonoverlapping_quadratic(results):
    # the original all-pairs form of the score-first greedy: the reference
    # the bisect version must reproduce exactly
    ordered = sorted(results, key=lambda d: (-d.score, d.start, d.end, d.entity_type))
    accepted = []
    for d in ordered:
        if all(not (d.start < a.end and a.start < d.end) for a in accepted):
            accepted.append(d)
    accepted.sort(key=lambda d: d.start)
    return accepted


def test_select_nonoverlapping_matches_quadratic_greedy():
    """Seeded random span sets — score ties, equal starts, equal spans under
    different types, zero-length spans — select the same spans in the same
    order as the all-pairs greedy."""
    import random

    rng = random.Random(20261017)
    for _ in range(3000):
        n = rng.randint(0, 25)
        width = rng.choice([5, 20, 80])
        ds = []
        for _ in range(n):
            start = rng.randint(0, width)
            end = start + rng.choice([0, 0, 1, 2, rng.randint(0, width // 2 + 1)])
            ds.append(Detection(
                rng.choice("ABC"), start, end, rng.choice([0.3, 0.5, 0.5, 0.9]),
                pattern_name=str(len(ds)),
            ))
        got = select_nonoverlapping(ds)
        want = _select_nonoverlapping_quadratic(ds)
        assert [d.as_tuple() for d in got] == [d.as_tuple() for d in want], ds


def test_relationship_masking_full_composition():
    text = (
        "Hello James Walker, see attached.\n"
        "Sarah King can be reached on 0412 345 678.\n"
        "Send the file to james.walker@mail.example.com soon."
    )
    dets = analyze(text)
    out = mask_with_relationships(text, select_nonoverlapping(dets))
    # owners numbered in first-appearance order
    assert "PERSON_1" in out and "PERSON_2" in out
    # same-line phone owned by Sarah (PERSON_2)
    assert "<AU_PHONE_NUMBER_PERSON_2>" in out
    # email assigned to James via local-part token join (off-line)
    assert "<EMAIL_ADDRESS_PERSON_1>" in out
    assert "james.walker" not in out and "0412" not in out


def test_unowned_generic_phone_digit_masking():
    # reference relationships.py:142-145: only generic PHONE_NUMBER with no
    # owner becomes <PHONE_NUMBER_***...>; digit count preserved.
    text = "hotline +1 212 555 0123 available"
    dets = analyze(text, entities=["PHONE_NUMBER"])
    out = mask_with_relationships(text, dets)
    digits = len(re.sub(r"\D", "", "+1 212 555 0123"))
    assert f"<PHONE_NUMBER_{'*' * digits}>" in out


def test_scrub_idempotent():
    text = "Hello James Walker, tfn 123-456-789, mail james.walker@ex.com."
    once = scrub_document(text, analyze_long_text(text))
    twice = scrub_document(once, analyze_long_text(once))
    # After scrubbing, re-detection finds nothing new to change except the
    # PERSON_1 label itself must stay stable.
    assert once == twice


def test_scrub_modes():
    text = "mail bob.smith@ex.com ok"
    dets = analyze(text, entities=["EMAIL_ADDRESS"])
    assert scrub_document(text, dets, mode="replace") == "mail <EMAIL_ADDRESS> ok"
    assert scrub_document(text, dets, mode="mask") == "mail " + "*" * 16 + " ok"
    assert "<EMAIL_ADDRESS>" in scrub_document(text, dets, mode="relationship")
