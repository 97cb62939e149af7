"""Entity taxonomy: severity dimension, functional groups, person types.

Constants transcribed as behavior from the reference's
``entity_mapping/entity_config.py`` — the severity map (``:5-38``), the
functional groups (``:77-125``), and the full AU entity list (``:50-74``).
This is the single source the three engines consume: the Python oracle and
UDF bank import it directly, the Spark severity dim table and the DuckDB
oracle VALUES list are generated from ``SEVERITY_DIM`` (plans.queries /
plans.oracles).

Entity types the engine never emits (LOCATION/CITY/AU_ADDRESS/... — spaCy
NER surfaces replaced per SURVEY.md §2.8 C5) keep their severity rows so the
dimension stays reference-complete for user-supplied detections.
"""

from __future__ import annotations

from typing import Dict, FrozenSet, Iterable, List, Optional, Set, Tuple

# reference entity_config.py:5-38 (AU_ENTITY_SEVERITY_MAP), verbatim
ENTITY_SEVERITY: Dict[str, str] = {
    "AU_TFN": "critical",
    "AU_MEDICARE": "critical",
    "AU_PASSPORT": "critical",
    "AU_CENTRELINK_CRN": "critical",
    "AU_DRIVER_LICENSE": "high",
    "AU_ABN": "high",
    "AU_ACN": "high",
    "AU_BANK_ACCOUNT": "high",
    "AU_BSB": "high",
    "CREDIT_CARD": "high",
    "IBAN_CODE": "high",
    "AU_ACCOUNT_NUMBER": "high",
    "PERSON": "medium",
    "PERSON_WITH_TITLE": "medium",
    "PERSON_AFTER_GREETING": "medium",
    "REPEATED_NAME": "medium",
    "EMAIL_ADDRESS": "medium",
    "AU_PHONE_NUMBER": "medium",
    "PHONE_NUMBER": "medium",
    "DATE_TIME": "medium",
    "AU_ADDRESS": "medium",
    "ORGANIZATION": "medium",
    "IP_ADDRESS": "medium",
    "URL": "medium",
    "AU_STATE": "low",
    "AU_POSTCODE": "low",
    "NAME_TITLE": "low",
    "LOCATION": "low",
    "CITY": "low",
}

DEFAULT_SEVERITY = "medium"  # entity_config.py:128-129 get() default

# severity -> highlight RGB for downstream report/overlay consumers
# (reference entity_config.py:41-47, AU_ENTITY_COLOR_MAP, verbatim)
SEVERITY_COLORS: Dict[str, Tuple[float, float, float]] = {
    "critical": (0.90, 0.00, 0.00),
    "high": (0.85, 0.10, 0.10),
    "medium": (1.00, 0.55, 0.00),
    "low": (0.10, 0.40, 0.85),
    "_default": (0.00, 0.00, 0.00),
}


def color_of(entity_type: str) -> Tuple[float, float, float]:
    """Severity color for an entity type (entity_config.py color lookup):
    the type's severity (``ENTITY_SEVERITY``, else ``DEFAULT_SEVERITY``)
    then the color map, defaulting to ``_default``."""
    return SEVERITY_COLORS.get(
        ENTITY_SEVERITY.get(entity_type, DEFAULT_SEVERITY), SEVERITY_COLORS["_default"]
    )


# (entity_type, severity) rows for the broadcast dim table / SQL VALUES list
SEVERITY_DIM: List[Tuple[str, str]] = sorted(ENTITY_SEVERITY.items())

# (entity_type, severity, r, g, b) — the dim with its display color joined
# in, for report consumers that colorize by severity (C17 analog)
SEVERITY_DIM_WITH_COLORS: List[Tuple[str, str, float, float, float]] = [
    (e, s, *SEVERITY_COLORS[s]) for e, s in SEVERITY_DIM
]

# reference entity_config.py:50-74 (ALL_AU_ENTITY_TYPES), verbatim order
ALL_AU_ENTITY_TYPES: List[str] = [
    "AU_TFN",
    "AU_MEDICARE",
    "AU_PASSPORT",
    "AU_CENTRELINK_CRN",
    "AU_DRIVER_LICENSE",
    "AU_ABN",
    "AU_ACN",
    "AU_BANK_ACCOUNT",
    "AU_BSB",
    "AU_PHONE_NUMBER",
    "AU_STATE",
    "AU_POSTCODE",
    "PERSON",
    "EMAIL_ADDRESS",
    "PHONE_NUMBER",
    "CREDIT_CARD",
    "DATE_TIME",
    "LOCATION",
    "ORGANIZATION",
]

# reference entity_config.py:77-125 (AU_ENTITY_GROUPS), verbatim
ENTITY_GROUPS: Dict[str, List[str]] = {
    "financial": [
        "AU_ABN",
        "AU_ACN",
        "AU_BANK_ACCOUNT",
        "AU_BSB",
        "CREDIT_CARD",
        "IBAN_CODE",
    ],
    "government_id": [
        "AU_TFN",
        "AU_MEDICARE",
        "AU_PASSPORT",
        "AU_DRIVER_LICENSE",
        "AU_CENTRELINK_CRN",
    ],
    "personal": [
        "PERSON",
        "PERSON_WITH_TITLE",
        "PERSON_AFTER_GREETING",
        "REPEATED_NAME",
        "EMAIL_ADDRESS",
        "AU_PHONE_NUMBER",
        "PHONE_NUMBER",
        "DATE_TIME",
    ],
    "geographic": [
        "AU_STATE",
        "AU_POSTCODE",
        "LOCATION",
        "CITY",
        "AU_ADDRESS",
    ],
    "all_au_specific": [
        "AU_TFN",
        "AU_MEDICARE",
        "AU_PASSPORT",
        "AU_CENTRELINK_CRN",
        "AU_DRIVER_LICENSE",
        "AU_ABN",
        "AU_ACN",
        "AU_BANK_ACCOUNT",
        "AU_BSB",
        "AU_PHONE_NUMBER",
        "AU_STATE",
        "AU_POSTCODE",
    ],
    "all_au": ALL_AU_ENTITY_TYPES,
}

# Person-class types: all enumerate as relationship-mask owners and all seed
# repeated-name propagation (entity_config.py:20-23 groups them at the same
# severity; REPEATED_NAME is the propagation output type).
PERSON_TYPES: FrozenSet[str] = frozenset(
    {"PERSON", "PERSON_WITH_TITLE", "PERSON_AFTER_GREETING", "REPEATED_NAME"}
)


def expand_entities(entities: Optional[Iterable[str]]) -> Optional[Set[str]]:
    """Expand a user entity request into a concrete type set: each element is
    either a group name (reference ``--entities financial`` style subsetting
    over AU_ENTITY_GROUPS) or a literal entity type. None stays None (= all).

    ``PERSON`` expands to the whole person class (PERSON_WITH_TITLE /
    PERSON_AFTER_GREETING / REPEATED_NAME included): before the round-2 type
    split those patterns all emitted PERSON, and a user asking to scrub
    "PERSON" means person names — silently narrowing that request to the
    gazetteer pattern alone would be a recall regression (a titled
    non-gazetteer name would sail through). Request a literal
    ``PERSON_WITH_TITLE`` etc. for type-precise subsetting.
    """
    if entities is None:
        return None
    out: Set[str] = set()
    for name in entities:
        out.update(ENTITY_GROUPS.get(name, (name,)))
    # widen AFTER group expansion: a group whose member list says PERSON
    # (e.g. all_au / personal) means person names exactly like a literal
    # PERSON request — expanding only the literal spelling silently
    # narrowed groups to the gazetteer pattern, skipping the titled/
    # greeting/repeated-name recognizers (the very recall regression this
    # widening exists to prevent)
    if "PERSON" in out:
        out.update(PERSON_TYPES)
    return out
