"""Quality metrics as Spark column expressions (no Python in hot path).

Mirrors ``core.quality`` metric-for-metric — same regexes, same arithmetic,
same guards — so Spark output equals the oracle bit-for-bit (these are the
Gopher/C4-style metrics the survey maps to plain column expressions,
SURVEY.md §2.11). They are JVM expressions but not all whole-stage code:
the line metrics' ``transform``/``filter`` lambdas run interpreted, and so
does the Project that holds them.

``quality_metric_columns(text)`` returns the metric columns: n_chars
n_words mean_word_len symbol_ratio stop_hits n_lines dup_line_frac
ellipsis_line_frac tox_hits. The rule thresholds over them are
``core.quality.rule_flags_batch``, applied in the pipeline's fused UDF under
its language prediction.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..core import casefold as CF
from ..core import quality as Q
from ..core.toxicity import TOXIC_MASK, TOXICITY_REGEX

# One spec, three engines: the word/nonspace classes come from
# core.casefold (the explicit six-char ASCII set — Java's own \S equals it,
# Python's Unicode \S and RE2's \s do NOT, so the bare escape was never
# actually identical across engines); the stopword/symbol patterns import
# the core.quality constants verbatim. Case-insensitivity stays in Java's
# (?i) spelling here — Java folds ASCII only, which IS the spec; the
# Python oracle and DuckDB SQL consume the expanded two-case form.
WORD_RE = CF.NONSPACE_RUN
NONSPACE_RE = CF.NONSPACE_ONE
STOP_RE = Q.STOPWORD_REGEX
SYMBOL_RE = Q.SYMBOL_REGEX

# --- JVM fast equivalents ---------------------------------------------------
# Spark-engine derivations of the shared spec constants above. The CONSTANTS
# remain the one spec all three engines consume (the DuckDB oracle keeps the
# plain forms — RE2 has no lookahead); these derived forms change only how
# the JVM evaluates them, never what they match, and the equivalence is
# pinned Spark-vs-Spark on corpus + adversarial inputs by
# tests/test_jvm_fast_exprs.py.

# Java \s without UNICODE_CHARACTER_CLASS is exactly these six ASCII chars;
# unicode spaces (\xa0,  , ...) are \S in Java and survive translate,
# so the counts agree on ALL inputs.
_JAVA_WS = CF.WS_CHARS  # the pinned six-char set (core.casefold)


def nonspace_count(text: Column) -> Column:
    """``regexp_count(text, r"\\S")`` without the regex engine: strip the
    Java ``\\s`` charset with ``translate`` and measure the length.
    Measured 2.2x faster on the bench corpus (the metric runs over every
    document's full text)."""
    return F.length(F.translate(text, _JAVA_WS, ""))


_PLAIN_WORD = _re.compile(r"[A-Za-z][A-Za-z0-9']*\Z")


def fast_word_alternation(rx: str) -> str:
    """Derive a Java-faster form of a ``(?i)\\b(?:w1|...|wk)\\b`` literal
    word-alternation by inserting a first-char class lookahead:
    ``\\b(?=[heads])(?:...)\\b``. Java regex has no multi-literal (Aho-
    Corasick/Boyer-Moore) optimization, so the plain alternation re-tries
    every alternative at every position; the one-char class test rejects
    most positions first (measured 1.9x on tox_hits). Match-equivalent in
    JAVA semantics: every match starts with some alternative's first char,
    and ``(?i)`` without UNICODE_CASE folds ASCII only, which the two-case
    class covers exactly. Returns ``rx`` unchanged when the shape isn't the
    expected all-literal alternation."""
    pre, body = "", rx
    if body.startswith("(?i)"):
        pre, body = "(?i)", body[4:]
    if not (body.startswith(r"\b(?:") and body.endswith(r")\b")):
        return rx
    words = body[len(r"\b(?:") : -len(r")\b")].split("|")
    heads = set()
    for w in words:
        if not _PLAIN_WORD.match(w):
            return rx
        heads.add(w[0].lower())
        heads.add(w[0].upper())
    cls = "".join(sorted(heads))
    return pre + r"\b(?=[" + cls + r"])(?:" + "|".join(words) + r")\b"


STOP_RE_JVM = fast_word_alternation(STOP_RE)
TOXICITY_RE_JVM = fast_word_alternation(TOXICITY_REGEX)

# Possessive run count: counting word runs has no following constraint,
# so possessive matching is observably identical while skipping Java's
# backtrack bookkeeping (measured 1.35x). Spark-engine form of WORD_RE.
WORD_RE_JVM = CF.NONSPACE_ONE + "++"


def _nonempty_lines(text: Column) -> Column:
    # NB: must wrap trim in a 1-arg lambda — F.trim has an optional second
    # parameter in Spark 4, so passing it bare makes transform() feed it the
    # element *index* as the trim-character set (silent no-op).
    return F.filter(
        F.transform(F.split(text, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )


def quality_metric_columns(text: Column) -> dict:
    n_chars = F.length(text)
    n_words = F.regexp_count(text, F.lit(WORD_RE_JVM))
    nonspace = nonspace_count(text)
    lines = _nonempty_lines(text)
    n_lines = F.size(lines)
    n_distinct = F.size(F.array_distinct(lines))
    n_ellipsis = F.size(
        F.filter(lines, lambda x: x.endswith("...") | x.endswith("…"))
    )
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": F.when(n_words > 0, nonspace / n_words).otherwise(F.lit(0.0)),
        "symbol_ratio": F.when(
            n_chars > 0, F.regexp_count(text, F.lit(SYMBOL_RE)) / n_chars
        ).otherwise(F.lit(0.0)),
        "stop_hits": F.regexp_count(text, F.lit(STOP_RE_JVM)),
        "n_lines": n_lines,
        "dup_line_frac": F.when(n_lines > 0, 1.0 - n_distinct / n_lines).otherwise(
            F.lit(0.0)
        ),
        "ellipsis_line_frac": F.when(n_lines > 0, n_ellipsis / n_lines).otherwise(
            F.lit(0.0)
        ),
        "tox_hits": F.regexp_count(text, F.lit(TOXICITY_RE_JVM)),
    }


# --- Gopher repetition metrics (core.quality.repetition_metrics spec) ------
# All pure JVM higher-order expressions — no shuffle, no Python:
# - duplicate-line chars: sort the line array, then a line occurrence is
#   "beyond the first" iff it equals its sorted predecessor — computed as a
#   fold carrying the previous element in the accumulator ('' sentinel is
#   safe: the array is pre-filtered to non-empty lines). A transform-with-
#   index + F.get(sorted, i-1) formulation was rejected: Spark re-evaluates
#   the full sort subtree per element inside HOF lambdas (no subexpression
#   elimination across the lambda boundary) — O(L^2 log L) per doc;
# - top-n-gram chars: fold (F.aggregate) over the SORTED gram array with
#   (prev, run, best) struct state — equal grams are adjacent after the
#   sort, so the running run-length reaches each gram's full count and
#   best = max over grams of count * gram_chars. O(G log G) per doc vs the
#   O(G^2) per-element recount a naive filter would cost.


def _ngram_array(words: Column, n: int) -> Column:
    """Space-joined word n-grams; words contain no spaces ("\\S+"), so the
    join is reversible and gram char length = length - (n-1)."""
    size = F.size(words)
    arr = F.slice(words, 1, size - (n - 1))
    for i in range(1, n):
        arr = F.zip_with(
            arr,
            F.slice(words, i + 1, size - (n - 1)),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return arr


def _top_gram_chars(grams: Column, n: int) -> Column:
    """count*chars of the most frequent gram (frequency first, char mass as
    tiebreak — core.quality spec): the fold tracks the best (run, chars)
    pair lexicographically as runs grow through the sorted array."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best_run"),
        F.lit(0).alias("best"),
    )

    def merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        chars = (F.length(x) - F.lit(n - 1)) * run
        better = (run > acc["best_run"]) | (
            (run == acc["best_run"]) & (chars > acc["best"])
        )
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best_run"]).alias("best_run"),
            F.when(better, chars).otherwise(acc["best"]).alias("best"),
        )

    return F.aggregate(F.array_sort(grams), init, merge, lambda acc: acc["best"])


def repetition_metric_columns(text: Column) -> dict:
    lines = _nonempty_lines(text)
    extra = F.aggregate(
        F.array_sort(lines),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("extra")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            (
                acc["extra"]
                + F.when(x == acc["prev"], F.length(x)).otherwise(F.lit(0))
            ).alias("extra"),
        ),
        lambda acc: acc["extra"],
    )
    tot_line_chars = F.aggregate(lines, F.lit(0), lambda a, b: a + F.length(b))
    words = F.regexp_extract_all(text, F.lit(WORD_RE), F.lit(0))
    wchars = F.aggregate(words, F.lit(0), lambda a, b: a + F.length(b))
    out = {
        "dup_line_char_frac": F.when(
            tot_line_chars > 0, extra / tot_line_chars
        ).otherwise(F.lit(0.0))
    }
    for n, name in ((2, "top_bigram_char_frac"), (3, "top_trigram_char_frac")):
        best = F.when(F.size(words) >= n, _top_gram_chars(_ngram_array(words, n), n)).otherwise(F.lit(0))
        out[name] = F.when(wchars > 0, best / wchars).otherwise(F.lit(0.0))
    return out


def mask_toxicity_column(text: Column) -> Column:
    """JVM-side toxicity masking (same matches/label as the oracle's
    ``core.toxicity.mask_toxicity``; evaluated via the derived
    ``TOXICITY_RE_JVM`` form — same matches, faster Java scan); applied to
    kept docs after PII scrub."""
    return F.regexp_replace(text, TOXICITY_RE_JVM, TOXIC_MASK)


def c4_line_keep_cond(line):
    """JVM keep-predicate for one line under the C4 rules (core.quality
    spec): trimmed non-empty, ends in terminal punctuation, >= min words,
    no '{' debris. ASCII-space trim == DuckDB trim == the mirror's
    .strip(' ')."""
    t = F.trim(line)
    return (
        (t != "")
        & F.substring(t, -1, 1).isin(*Q.C4_TERMINAL_PUNCT)
        & (F.regexp_count(t, F.lit(WORD_RE_JVM)) >= Q.C4_MIN_LINE_WORDS)
        & ~t.contains("{")
    )


def c4_lines_kept_cols(text_col):
    """The C4 line-filter building blocks as (lines, kept) column pair —
    the ONE Spark spelling (split + NULL-as-'' coalesce + keep condition)
    consumed by ``c4_filter_lines`` and the fused ``page_signals`` catalog
    query alike (one-spec rule: a fork here would silently diverge the
    gated entries)."""
    lines = F.split(F.coalesce(text_col, F.lit("")), "\n")
    return lines, F.filter(lines, c4_line_keep_cond)


def c4_filter_lines(
    df, id_col: str = "url", text_col: str = "text"
):
    """(id, text_clean, n_lines_removed): the C4 line filter (Raffel et al.
    2020 §2.2) as pure row-local JVM higher-order expressions — no shuffle,
    no Python (the ``filter`` lambda runs interpreted); at 100 TB this runs
    at scan speed."""
    lines, kept = c4_lines_kept_cols(F.col(text_col))
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text_clean"),
        (F.size(lines) - F.size(kept)).cast("long").alias("n_lines_removed"),
    )
