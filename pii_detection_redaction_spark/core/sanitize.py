"""Filesystem-name hygiene for file-per-document sinks.

Reference parity: ``interface/helpers.py:42-46`` replaces the characters
Windows/POSIX reject in filenames with underscores; same contract here for
any sink that derives file names from urls/doc ids.
"""

from __future__ import annotations

import os
import re
from typing import Set

_UNSAFE_RE = re.compile(r'[<>:"/\\|?*]')


def safe_filename(name: str) -> str:
    """Replace ``< > : " / \\ | ? *`` with ``_`` (reference C19)."""
    return _UNSAFE_RE.sub("_", name)


def claim_filename(name: str, used: Set[str]) -> str:
    """Collision-safe ``safe_filename(name)`` within one export: when an
    earlier claim in ``used`` already took the name, this one gets a ``_2``
    (``_3``, ...) suffix before the extension instead of silently
    overwriting it — distinct ids can sanitize to one name
    (``http://a.com/x`` and ``http://a.com?x``), and a .csv and a .txt
    sharing a stem both emit ``{stem}_detections.json``. Adds the claimed
    name to ``used``."""
    name = safe_filename(name)
    base, ext = os.path.splitext(name)
    n, candidate = 1, name
    while candidate in used:
        n += 1
        candidate = f"{base}_{n}{ext}"
    used.add(candidate)
    return candidate
