"""URL canonicalization spec — single source for three engines.

A Common-Crawl-scale corpus sees the same page under many URL spellings:
tracking query parameters (utm_*, gclid, fbclid, ref), fragments, mixed-case
hosts, explicit default ports, trailing slashes. Canonicalizing before
url-level dedup is the standard first pass of a crawl pipeline (the reference
has no URL notion — this is a north-rule addition for the web-page input
schema of BASELINE.json's input_hint).

The spec is an ordered list of regex rewrite steps plus one authority
(scheme://host[:port]) lowering step. Every pattern is shared verbatim by

- Spark (Java regex, ``F.regexp_replace`` — always global, ``$1`` backrefs),
- DuckDB (RE2, ``regexp_replace(..., 'g')`` — ``\\1`` backrefs),
- Python ``re`` (the pure-Python mirror used by unit tests).

so patterns must avoid lookaround and non-ASCII classes, and replacement
strings that use a backreference are stored per-engine (the ONLY part of the
spec the engines spell differently).

Rule order matters and is pinned by tests:
1. strip fragment;
2. drop tracking params (capture the ``?``/``&`` separator, keep it);
3-5. collapse the separator debris (``?&&`` -> ``?``, ``&&`` -> ``&``,
   trailing ``?``/``&`` -> '');
6. lowercase the authority and strip an explicit default port (:80/:443);
7. strip trailing slashes.
Real (non-tracking) query parameters survive — ``?id=7&utm_medium=x&page=2``
canonicalizes to ``?id=7&page=2``, a DIFFERENT page than the bare URL.
"""

from __future__ import annotations

import re

from .casefold import simple_lower

# step 1: fragment
FRAGMENT_RE = r"#.*$"
# step 2: tracking params — anchored to a real separator so e.g. a value
# containing "ref=" cannot match; the separator is kept via the backref
TRACKING_RE = r"([?&])(?:utm_[a-z0-9]+|gclid|fbclid|ref)=[^&]*"
TRACKING_REPL_JAVA = "$1"
TRACKING_REPL_RE2 = r"\1"  # also the Python `re` spelling
# steps 3-5: separator cleanup
QMARK_AMP_RE = r"\?&+"
MULTI_AMP_RE = r"&&+"
TRAILING_SEP_RE = r"[?&]+$"
# step 6: authority = scheme://host[:port] (everything before path/query)
AUTHORITY_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*"
DEFAULT_PORT_RE = r":(80|443)$"

# --- host KEY spec (blocklists / per-host caps / rollups; operators.web +
# the DuckDB oracle fragments consume these verbatim) -----------------------
# The host key is the authority with USERINFO and ANY port stripped, then
# one-char-lowered, NULL coalesced to ''. Keying on the raw authority would
# let a blocked/capped host evade by spelling ('http://u@blocked.com',
# 'http://blocked.com:80') — the same evasion class the query-string
# hardening closed. Distinct from canonical_url_col's authority (which
# keeps non-default ports: ':8080' IS a different origin for dedup
# identity, but the same HOST for quota/blocklist purposes). The port strip
# is IPv6-safe: '[::1]:8080' ends in a digit-run after ':', '[::1]' does
# not.
HOST_REGEX = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)"
HOST_USERINFO_RE = r"^[^@]*@"
HOST_PORT_RE = r":[0-9]+$"
# step 7
TRAILING_SLASH_RE = r"/+$"

def canonicalize_url(url: str) -> str:
    """Pure-Python mirror of the Spark/DuckDB expression chain (unit-test
    oracle). Must stay step-for-step identical to
    ``operators.web.canonical_url_col`` and ``plans.oracles._canon_url_sql``.
    """
    u = re.sub(FRAGMENT_RE, "", url)
    u = re.sub(TRACKING_RE, TRACKING_REPL_RE2, u)
    u = re.sub(QMARK_AMP_RE, "?", u)
    u = re.sub(MULTI_AMP_RE, "&", u)
    u = re.sub(TRAILING_SEP_RE, "", u)
    m = re.match(AUTHORITY_RE, u)
    if m:
        auth = re.sub(DEFAULT_PORT_RE, "", simple_lower(m.group(0)))
        u = auth + u[m.end():]
    return re.sub(TRAILING_SLASH_RE, "", u)
