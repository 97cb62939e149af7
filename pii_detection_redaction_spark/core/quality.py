"""Gopher/C4-style heuristic quality rules — the keep/drop specification.

The rule set (constants below) is OUR pinned spec, modeled on the published
Gopher (Rae et al. 2021) and C4 (Raffel et al. 2019) filters. Every metric is
defined so it is *expressible identically three ways*:

1. this pure-Python oracle (golden labels),
2. Spark DataFrame column expressions (``..functions.quality``) — JVM-side,
   no Python in the hot path,
3. ANSI SQL for the DuckDB differential oracle (``__spark_entry__``).

Word-based rules auto-pass for char-based languages (``CHAR_BASED_LANGS`` =
zh, ja — whitespace tokenization is meaningless there); their analog of the
min-length rule uses chars.

Final ``keep`` additionally requires language confidence and LM perplexity
bounds (UDF-computed, pinned by fixtures; not part of the SQL-expressible
subset).
"""

from __future__ import annotations

import re
from typing import Dict, List, Tuple

import numpy as np

from .casefold import NONSPACE_RUN, ascii_ci_expand
from .langprofiles import CHAR_BASED_LANGS
from .toxicity import MAX_TOXICITY_HITS, TOXICITY_REGEX_CI

# --- thresholds (frozen spec) ---------------------------------------------
MIN_WORDS = 20
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 2.0
MAX_MEAN_WORD_LEN = 12.0
MAX_SYMBOL_RATIO = 0.05
MIN_STOPWORD_HITS = 2
MAX_DUP_LINE_FRAC = 0.30
MAX_ELLIPSIS_LINE_FRAC = 0.30
MIN_LANG_CONF = 0.30
# Junk (symbol soup / non-language) scores ~1e7 under every LM; clean text
# tops out ~515 (zh char-level LM is the loosest). 1000 splits with 2x margin.
MAX_PERPLEXITY = 1000.0
# Corpus-level boilerplate: a (space-trimmed, non-empty) line appearing in at
# least this many distinct documents is boilerplate (CC-Net-style nav/footer
# stripping, one granularity below document dedup).
BOILERPLATE_MIN_DOCS = 5

# Gopher's canonical 8-word English stopword presence list.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
SYMBOL_CHARS = "#…{}<>\\^~|"

STOPWORD_REGEX = r"(?i)\b(?:" + "|".join(GOPHER_STOPWORDS) + r")\b"
SYMBOL_REGEX = "[" + re.escape(SYMBOL_CHARS) + "]"

RULE_NAMES = (
    "min_words",
    "max_words",
    "mean_word_len",
    "symbol_ratio",
    "stopwords",
    "dup_lines",
    "ellipsis_lines",
    "toxicity",
)

# engine-portable \S+ (core.casefold NONSPACE_RUN): Python's Unicode \S
# forks from Java/RE2 on NBSP/U+2028/etc — the class every real web page
# contains — so word counts and mean_word_len would disagree between the
# oracle and both engines (the C4 path hit exactly this; now one constant)
_word_re = re.compile(NONSPACE_RUN)
# default (Unicode) \b in both \b-bearing patterns: matches Java regex
# exactly (measured — Java's \b is Unicode-aware); RE2/DuckDB is ASCII-\b
# and diverges on non-ASCII adjacency, guarded by a corpus test
# (core.toxicity module doc). CASE is pinned separately: Python's (?i)
# folds Unicode (ſ→s) where Java folds ASCII only, so the compiled oracle
# patterns use the explicit two-case expansion (core.casefold
# ascii_ci_expand); the (?i) constants remain the JVM spelling.
_stop_re = re.compile(ascii_ci_expand(STOPWORD_REGEX))
_symbol_re = re.compile(SYMBOL_REGEX)
_tox_re = re.compile(TOXICITY_REGEX_CI)  # the ONE expanded spelling


def text_metrics(text: str) -> Dict[str, float]:
    """Raw per-document metrics underlying the rules (all SQL-expressible)."""
    words = _word_re.findall(text)
    n_words = len(words)
    n_chars = len(text)
    sum_word_len = sum(len(w) for w in words)
    # strip spaces only (== SQL trim semantics in Spark and DuckDB)
    lines = [ln.strip(" ") for ln in text.split("\n")]
    lines = [ln for ln in lines if ln]
    n_lines = len(lines)
    n_distinct = len(set(lines))
    n_ellipsis = sum(1 for ln in lines if ln.endswith("...") or ln.endswith("…"))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": (sum_word_len / n_words) if n_words else 0.0,
        "symbol_ratio": (len(_symbol_re.findall(text)) / n_chars) if n_chars else 0.0,
        "stop_hits": len(_stop_re.findall(text)),
        "n_lines": n_lines,
        "dup_line_frac": (1.0 - n_distinct / n_lines) if n_lines else 0.0,
        "ellipsis_line_frac": (n_ellipsis / n_lines) if n_lines else 0.0,
        "tox_hits": len(_tox_re.findall(text)),
    }


def rule_flags_batch(metrics, lang) -> Dict[str, np.ndarray]:
    """True = rule passes: one bool array per ``RULE_NAMES`` entry.

    ``metrics`` maps the ``text_metrics`` fields to per-document arrays (a
    dict, or the frame of JVM-computed metric columns); ``lang`` holds each
    document's (predicted) language. NULL and ``und`` take the word-based
    branches and pass the English-only stopword rule — the same as the
    DuckDB oracle's ``plans.oracles.RULE_FLAGS_SQL``. This is the one
    Spark-side spelling of the thresholds: the fused pipeline UDF applies
    it, and the catalog's rule entries read its result."""
    lang = np.asarray(lang, dtype=object)
    ws_lang = ~np.isin(lang, list(CHAR_BASED_LANGS))
    n_words = np.asarray(metrics["n_words"])
    mwl = np.asarray(metrics["mean_word_len"])
    return {
        "min_words": np.where(ws_lang, n_words >= MIN_WORDS,
                              np.asarray(metrics["n_chars"]) >= MIN_WORDS),
        "max_words": n_words <= MAX_WORDS,
        "mean_word_len": ~ws_lang
        | ((mwl >= MIN_MEAN_WORD_LEN) & (mwl <= MAX_MEAN_WORD_LEN)),
        "symbol_ratio": np.asarray(metrics["symbol_ratio"]) <= MAX_SYMBOL_RATIO,
        "stopwords": (lang != "en")
        | (np.asarray(metrics["stop_hits"]) >= MIN_STOPWORD_HITS),
        "dup_lines": np.asarray(metrics["dup_line_frac"]) <= MAX_DUP_LINE_FRAC,
        "ellipsis_lines": np.asarray(metrics["ellipsis_line_frac"])
        <= MAX_ELLIPSIS_LINE_FRAC,
        "toxicity": np.asarray(metrics["tox_hits"]) <= MAX_TOXICITY_HITS,
    }


def drop_reasons_batch(flags: Dict[str, np.ndarray], lang_conf, ppl) -> List[List[str]]:
    """Per-document drop reasons (empty = keep): the failed rules in
    ``RULE_NAMES`` order, then ``lang_conf``, then ``perplexity``."""
    gates = [(name, flags[name]) for name in RULE_NAMES]
    gates += [("lang_conf", np.asarray(lang_conf) >= MIN_LANG_CONF),
              ("perplexity", np.asarray(ppl) <= MAX_PERPLEXITY)]
    reasons: List[List[str]] = [[] for _ in range(len(gates[0][1]))]
    for name, passed in gates:
        for i in np.flatnonzero(~passed):
            reasons[i].append(name)
    return reasons


def _metrics_of_one(text: str) -> Dict[str, list]:
    return {k: [v] for k, v in text_metrics(text).items()}


def rule_flags(text: str, lang: str) -> Dict[str, bool]:
    """True = rule passes. ``lang`` is the document's (predicted) language."""
    flags = rule_flags_batch(_metrics_of_one(text), [lang])
    return {name: bool(arr[0]) for name, arr in flags.items()}


def quality_decision(
    text: str, lang: str, lang_conf: float, ppl: float
) -> Tuple[bool, List[str]]:
    """Full keep/drop: heuristic rules + langid confidence + perplexity.

    Returns (keep, drop_reasons) — reasons empty when keep (per-rule lineage,
    FIXTURES.md §4).
    """
    flags = rule_flags_batch(_metrics_of_one(text), [lang])
    reasons = drop_reasons_batch(flags, [lang_conf], [ppl])[0]
    return (not reasons), reasons


# --- compression ratio (extended metric) -----------------------------------
# deflate-compressed size / raw UTF-8 size at a pinned zlib level. Very low
# ratios flag templated/repetitive text that n-gram rules miss; very high
# ratios flag high-entropy non-language (base64 blobs, minified js). Not
# ANSI-SQL-expressible — value-gated through the golden-parquet route, which
# also pins the zlib build: the golden is produced by this same function in
# this environment, so engine/oracle can never disagree on codec output.

ZLIB_LEVEL = 6


def compression_ratio(text: str) -> float:
    """len(zlib.compress(utf8, 6)) / len(utf8); 0.0 for empty text."""
    import zlib

    raw = text.encode("utf-8")
    if not raw:
        return 0.0
    return len(zlib.compress(raw, ZLIB_LEVEL)) / len(raw)


# --- Gopher repetition metrics (extended; NOT part of the frozen keep/drop
# spec — reported as per-doc metrics so downstream pipelines can gate on
# them without changing this engine's pinned decision) ----------------------
# Definitions (this repo's frozen spec; Gopher §A1.1 leaves ties/denominators
# ambiguous, so we pin them):
# - dup_line_char_frac: chars in line occurrences BEYOND the first
#   (sum (count-1)*len over distinct trimmed non-empty lines) / total chars
#   of all trimmed non-empty line occurrences; 0 when no lines.
# - top_{bigram,trigram}_char_frac: take the MOST FREQUENT word n-gram
#   (count ties broken by larger char mass, so the stat is deterministic);
#   fraction = count * (sum of word lengths in the gram) / total word chars
#   ("\S+" words). Frequency-first matters: a long singleton gram must not
#   outrank a short gram repeated many times.


def repetition_metrics(text: str) -> Dict[str, float]:
    from collections import Counter

    lines = [ln.strip(" ") for ln in text.split("\n")]
    lines = [ln for ln in lines if ln]
    tot_line_chars = sum(len(ln) for ln in lines)
    lc = Counter(lines)
    extra = sum((c - 1) * len(ln) for ln, c in lc.items())
    words = _word_re.findall(text)
    wchars = sum(len(w) for w in words)
    out = {
        "dup_line_char_frac": (extra / tot_line_chars) if tot_line_chars else 0.0
    }
    for n, name in ((2, "top_bigram_char_frac"), (3, "top_trigram_char_frac")):
        grams: Counter = Counter(
            tuple(words[i : i + n]) for i in range(len(words) - n + 1)
        )
        best = max(
            ((c, c * sum(len(w) for w in g)) for g, c in grams.items()),
            default=(0, 0),
        )[1]
        out[name] = (best / wchars) if wchars else 0.0
    return out


# --- corpus-level boilerplate lines (CC-Net-style) -------------------------
# Spec shared with operators.dedup.strip_boilerplate_lines (Spark) and the
# line_dedup_pages DuckDB oracle. Line key = line with ASCII spaces trimmed
# from both ends (== Spark/DuckDB `trim`, deliberately NOT Python .strip()'s
# all-whitespace set); empty keys never count as boilerplate.


def boilerplate_line_set(docs, min_docs: int = BOILERPLATE_MIN_DOCS) -> set:
    """Trimmed lines appearing in >= min_docs DISTINCT documents."""
    from collections import Counter

    c: Counter = Counter()
    for text in docs:
        keys = {ln.strip(" ") for ln in text.split("\n")}
        keys.discard("")
        c.update(keys)
    return {k for k, n in c.items() if n >= min_docs}


def strip_boilerplate(text: str, hot: set) -> Tuple[str, int]:
    """(cleaned_text, n_lines_removed): drop lines whose trimmed form is in
    ``hot``, preserving all other lines (including blanks) in order."""
    kept, removed = [], 0
    for ln in text.split("\n"):
        if ln.strip(" ") in hot:
            removed += 1
        else:
            kept.append(ln)
    return "\n".join(kept), removed


# --- C4 line filter (Raffel et al. 2020 §2.2) -------------------------------
# "We only retained lines that ended in a terminal punctuation mark" with a
# minimum word count; lines containing '{' are code/JS debris. Line identity
# uses the same ASCII-space trim as the other line operators. One spec for
# the Spark JVM exprs (functions.quality.c4_line_filter_exprs), the DuckDB
# oracle (plans.oracles), and this Python mirror.

C4_TERMINAL_PUNCT = (".", "!", "?", '"')
C4_MIN_LINE_WORDS = 3

# ASCII \S: Java regex and RE2 treat only ASCII whitespace as \s, so a
# NBSP-joined run is ONE word in all three engines — Python's default
# Unicode \s (and str.split()) would fork on exactly that input
_c4_word_re = re.compile(NONSPACE_RUN)  # same portable class as _word_re now


def c4_keep_line(line: str) -> bool:
    t = line.strip(" ")
    return (
        bool(t)
        and t[-1] in C4_TERMINAL_PUNCT
        and len(_c4_word_re.findall(t)) >= C4_MIN_LINE_WORDS
        and "{" not in t
    )


def c4_line_clean(text: str) -> Tuple[str, int]:
    """(cleaned_text, n_lines_removed) under the C4 line rules; NULL/None
    text behaves as the empty string (one empty line, removed) — matching
    the engines' coalesce."""
    lines = (text or "").split("\n")
    kept = [ln for ln in lines if c4_keep_line(ln)]
    return "\n".join(kept), len(lines) - len(kept)
