"""Toxicity lexicon filter + masker — the north-rule "toxicity-scrub" stage.

The reference repo has no toxicity surface (verified — its scope is PII
only), so this stage is built to the north_star clause "PII/toxicity-scrub
pipeline" from public designs: C4's bad-word document filter (Raffel et al.
2019, the "List of Dirty, Naughty, Obscene..." lexicon approach) combined
with Gopher-style thresholding (Rae et al. 2021). The lexicon below is OUR
pinned spec (a representative profanity subset; extend by appending — the
regex, rule, and mask derive from it), frozen by fixtures like every other
rule constant.

Semantics (pinned):
- a *hit* is a case-insensitive whole-word match of a lexicon term
  (``TOXICITY_REGEX`` — ASCII alternation, word boundaries);
- rule ``toxicity`` passes iff ``tox_hits <= MAX_TOXICITY_HITS`` — documents
  above the threshold are dropped with reason ``toxicity``;
- kept documents are masked: every hit replaced by ``TOXIC_MASK``, applied
  AFTER the PII scrub (PII replacement labels contain no lexicon words, so
  the composition order only matters for offset bookkeeping, which the
  post-scrub application sidesteps).

The regex is evaluated by three engines — Python ``re`` (this oracle), Java
regex (Spark ``regexp_count``/``regexp_replace``, JVM-side, no Python in the
hot path), and RE2 (DuckDB differential oracle). Word-boundary semantics,
measured in this environment and pinned as the spec:

- Python's default ``\\b`` and Java's ``\\b`` are BOTH Unicode-aware
  (verified: ``pissé`` hides the ``piss`` boundary in both — Java's ``\\b``
  uses Unicode word chars even though its bare ``\\w`` is ASCII), so the
  oracle and the Spark hot path agree exactly on arbitrary text. That
  agreement is the authoritative spec.
- RE2's ``\\b`` is ASCII-only and RE2 has no lookaround, so no shared regex
  can make DuckDB match on non-ASCII adjacency: the DuckDB oracle counts a
  hit when a lexicon word abuts an accented letter (``pissé`` → 1) where
  Python/Java count 0. ``tests`` guard that the synthetic corpus contains no
  such adjacency, keeping the differential exact where it runs.
"""

from __future__ import annotations

import re
from typing import List, Tuple

from .casefold import ascii_ci_expand

# Representative single-word profanity lexicon (ASCII letters only — keeps
# \b semantics identical across re/Java/RE2). Both stem and common inflected
# forms are listed explicitly: \b matching is exact-word, not prefix.
TOXICITY_LEXICON = (
    "arsehole",
    "asshole",
    "bastard",
    "bastards",
    "bitch",
    "bitches",
    "bollocks",
    "bullshit",
    "cunt",
    "cunts",
    "dickhead",
    "dickheads",
    "fuck",
    "fucked",
    "fucker",
    "fuckers",
    "fucking",
    "motherfucker",
    "motherfuckers",
    "piss",
    "pissed",
    "shit",
    "shits",
    "shitty",
    "slut",
    "sluts",
    "twat",
    "twats",
    "wanker",
    "wankers",
    "whore",
    "whores",
)

MAX_TOXICITY_HITS = 2
TOXIC_MASK = "<TOXIC>"

TOXICITY_REGEX = r"(?i)\b(?:" + "|".join(TOXICITY_LEXICON) + r")\b"
# two-case expansion for engines whose (?i) folds Unicode (Python re folds
# ſ→s and U+212A→k; RE2/DuckDB likewise) — Java's ASCII-only fold is the
# spec, so the JVM keeps the (?i) form and the Python oracle + DuckDB SQL
# consume this expansion (core.casefold.ascii_ci_expand).
TOXICITY_REGEX_CI = ascii_ci_expand(TOXICITY_REGEX)

# default (Unicode) \b — matches Java regex exactly; see module doc for the
# measured RE2 divergence on non-ASCII adjacency.
_tox_re = re.compile(TOXICITY_REGEX_CI)


def toxicity_hits(text: str) -> int:
    """Number of lexicon hits in ``text``."""
    return len(_tox_re.findall(text))


def toxicity_spans(text: str) -> List[Tuple[int, int]]:
    """Half-open char spans of every hit (for lineage / span reports)."""
    return [(m.start(), m.end()) for m in _tox_re.finditer(text)]


def mask_toxicity(text: str) -> str:
    """Replace every lexicon hit with ``TOXIC_MASK``."""
    return _tox_re.sub(TOXIC_MASK, text)
