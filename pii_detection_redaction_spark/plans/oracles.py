"""DuckDB ANSI-SQL oracles for the query catalog (driver contract).

Each SQL string is the independent re-derivation of the matching Spark query
in ``queries.py``, runnable by DuckDB over the same parquet tables
(pre-registered views). Construction rules:

- regexes / thresholds / stopword lists are injected from the same Python
  constants the Spark side uses — one source of truth, two engines;
- unsigned 64-bit md5-hash values are converted to signed BIGINT two's
  complement (``u64_signed_sql``) to match Spark LongType;
- every DuckDB sum over integers is CAST to BIGINT (DuckDB widens to
  HUGEINT, Spark stays long);
- arithmetic is written with the same association order as the Spark/oracle
  code so float results match bit-for-bit before rounding.
"""

from __future__ import annotations

from ..core import langid as LID
from ..core import quality as Q
from ..core import casefold as CF
from ..core.casefold import ascii_ci_expand
from ..core.toxicity import MAX_TOXICITY_HITS, TOXIC_MASK, TOXICITY_REGEX_CI
from .queries import (
    DATE_RE,
    EMAIL_RE,
    IP_RE,
    SEVERITY_DIM,
    TOKEN_RE,
    URL_RE,
    u64_signed_sql,
)


def _q(s: str) -> str:
    """SQL single-quote escaping for regex literals."""
    return s.replace("'", "''")


# ---------------------------------------------------------------------------
# shared fragments
# ---------------------------------------------------------------------------

# engine-portable \S (core.casefold: RE2's \s excludes \x0b, Python's
# Unicode \s adds NBSP & friends — the explicit class is what all three
# engines parse identically)
_WORDS = CF.NONSPACE_RUN
_NONSPACE = CF.NONSPACE_ONE


def _minhash_perms_sql(num_hashes: int = 16) -> str:
    """VALUES table of the affine-permutation constants (seed, a, b) — the
    same ``core.hashing.MINHASH_A/B`` integers the Spark UDFs use (one-spec
    rule). HUGEINT-typed so ``a * h + b`` (< 2**127) never overflows before
    the ``% 2**64``."""
    from ..core.hashing import MINHASH_A, MINHASH_B

    rows = ", ".join(
        f"({i}, {MINHASH_A[i]}::HUGEINT, {MINHASH_B[i]}::HUGEINT)"
        for i in range(num_hashes)
    )
    return f"(SELECT * FROM (VALUES {rows}) AS perms(seed, a, b))"


# sig CTE body shared by minhash_bands and the near-dup replay: one md5 per
# shingle, then the vectorized-identical uint64 affine permutation
# (numpy wrap-around == HUGEINT % 2**64).
_MINHASH_SIG_CTES = f"""hashes AS (
  SELECT doc_id, md5_number_lower(s) AS h FROM expl
), sig AS (
  SELECT doc_id, seed,
    min(CAST((a * CAST(h AS HUGEINT) + b) % (1::HUGEINT << 64) AS UBIGINT)) AS m
  FROM hashes CROSS JOIN {_minhash_perms_sql(16)} GROUP BY doc_id, seed
)"""
# SQL IN-list of the char-based languages (word rules switch to char analogs)
_CHAR_LANGS_SQL = "(" + ", ".join(f"'{l}'" for l in Q.CHAR_BASED_LANGS) + ")"
_SYMBOLS = Q.SYMBOL_REGEX  # THE symbol-class spec (core.quality) — no fork
# two-case expansion, not (?i): RE2's (?i) folds Unicode (ſ→s) where the
# Java spec folds ASCII only (core.casefold.ascii_ci_expand)
_STOPS = ascii_ci_expand(Q.STOPWORD_REGEX)

def _langid_sql() -> str:
    """Generated from the same language tables as the Python/UDF/JVM paths
    (``_SCORED_LANGS``, ``SCRIPT_OVERRIDES``): per-language stopword/charset
    counts, left-to-right total, script-fraction overrides (ja > ko > zh),
    und on zero evidence, first-max tie-break in evidence order.

    Stopword counts use the TOKEN spec (``core.langid.stopword_hit_rows``):
    maximal word-char runs of the simple-lowercased text, membership
    against ``STOPWORD_SETS``. Replicated here as one tokenization
    (``[\\p{{L}}\\p{{N}}_]+`` over ``lower(text)`` — RE2's spelling of
    Python's ``\\w+``; equality incl. combining marks pinned by
    ``test_stopword_token_spec_cross_engine``) + ``list_contains`` probes.
    The previous ``(?i)`` regex replay diverged from the token path on
    Unicode case-fold-only characters (RE2 simple-folds ſ→s; neither
    engine's ``lower`` does), so the fold behavior is now pinned to
    ``lower()`` in every engine — with the one place the engines' OWN
    lower()s disagree, U+0130 İ (Python/JVM expand to i+U+0307, DuckDB
    maps to plain i), pinned to DuckDB's one-char mapping by the İ→i
    pre-translate in ``core.casefold``; this SQL needs no change because
    DuckDB's ``lower`` IS the one-char mapping."""
    langs = list(LID._SCORED_LANGS)
    count_cols = [f"len(regexp_extract_all(text, '{_NONSPACE}')) AS nonspace"]
    for lg, pat, _thr in LID.SCRIPT_OVERRIDES:
        count_cols.append(
            f"len(regexp_extract_all(text, '{_q(pat)}')) AS sc_{lg}"
        )
    score_cols = []
    toks = r"regexp_extract_all(lower(text), '[\p{L}\p{N}_]+')"
    for lg in langs:
        words = ", ".join(
            "'" + w + "'" for w in sorted(LID.STOPWORD_SETS[lg])
        )
        count_cols.append(
            f"len(list_filter({toks}, t -> list_contains([{words}], t)))"
            f" AS sw_{lg}"
        )
        ch_pat = LID.CHARSET_PATTERNS[lg]
        if ch_pat:
            count_cols.append(
                f"len(regexp_extract_all(text, '{_q(ch_pat)}')) AS ch_{lg}"
            )
            score_cols.append(f"2.0 * sw_{lg} + 1.0 * ch_{lg} AS s_{lg}")
        else:
            score_cols.append(f"2.0 * sw_{lg} + 0.0 AS s_{lg}")
    total = "(" + " + ".join(f"s_{lg}" for lg in langs) + ")"

    lang_arms, conf_arms = [], []
    for lg, _pat, thr in LID.SCRIPT_OVERRIDES:
        cond = f"nonspace > 0 AND CAST(sc_{lg} AS DOUBLE) / nonspace > {thr}"
        lang_arms.append(f"WHEN {cond} THEN '{lg}'")
        conf_arms.append(
            f"WHEN {cond} THEN least(1.0, CAST(sc_{lg} AS DOUBLE) / nonspace)"
        )
    lang_arms.append(f"WHEN {total} <= 0.0 THEN 'und'")
    conf_arms.append(f"WHEN {total} <= 0.0 THEN 0.0")
    for i, lg in enumerate(langs[:-1]):
        cond = " AND ".join(f"s_{lg} >= s_{o}" for o in langs[i + 1 :])
        lang_arms.append(f"WHEN {cond} THEN '{lg}'")
        conf_arms.append(f"WHEN {cond} THEN s_{lg} / {total}")
    lang_arms.append(f"ELSE '{langs[-1]}'")
    conf_arms.append(f"ELSE s_{langs[-1]} / {total}")

    sc_list = ", ".join(["nonspace"] + [f"sc_{lg}" for lg, _p, _t in LID.SCRIPT_OVERRIDES])
    nl = "\n       "
    return f"""
WITH c AS (
  SELECT doc_id,
    {(',' + chr(10) + '    ').join(count_cols)}
  FROM documents
), s AS (
  SELECT doc_id, {sc_list},
    {(',' + chr(10) + '    ').join(score_cols)}
  FROM c
)
SELECT doc_id,
  CASE {nl.join(lang_arms)} END AS lang_pred,
  round(CASE {nl.join(conf_arms)} END, 6) AS lang_conf
FROM s ORDER BY doc_id
"""


# The eight rule flags over the metric columns and a ``lang`` column — the
# SQL spelling of ``core.quality.rule_flags_batch``. NULL and 'und' take the
# word-based branches and pass the English-only stopword rule, as there.
_LANG = "coalesce(lang, '')"
RULE_FLAGS_SQL = f"""
    CASE WHEN {_LANG} NOT IN {_CHAR_LANGS_SQL} THEN n_words >= {Q.MIN_WORDS} ELSE n_chars >= {Q.MIN_WORDS} END AS rule_min_words,
    n_words <= {Q.MAX_WORDS} AS rule_max_words,
    CASE WHEN {_LANG} NOT IN {_CHAR_LANGS_SQL}
         THEN mean_word_len >= {Q.MIN_MEAN_WORD_LEN} AND mean_word_len <= {Q.MAX_MEAN_WORD_LEN}
         ELSE TRUE END AS rule_mean_word_len,
    symbol_ratio <= {Q.MAX_SYMBOL_RATIO} AS rule_symbol_ratio,
    ({_LANG} <> 'en' OR stop_hits >= {Q.MIN_STOPWORD_HITS}) AS rule_stopwords,
    dup_line_frac <= {Q.MAX_DUP_LINE_FRAC} AS rule_dup_lines,
    ellipsis_line_frac <= {Q.MAX_ELLIPSIS_LINE_FRAC} AS rule_ellipsis_lines,
    tox_hits <= {MAX_TOXICITY_HITS} AS rule_toxicity"""

# metrics and rule flags per document, judged under DuckDB's own language
# prediction (the langid_documents oracle) — the language the pipeline's
# keep decision uses
_METRICS_CTE = f"""
WITH m AS (
  SELECT doc_id, l.lang_pred AS lang, text,
    length(text) AS n_chars,
    len(regexp_extract_all(text, '{_WORDS}')) AS n_words,
    len(regexp_extract_all(text, '{_NONSPACE}')) AS nonspace,
    len(regexp_extract_all(text, '{_SYMBOLS}')) AS n_symbols,
    len(regexp_extract_all(text, '{_STOPS}')) AS stop_hits,
    len(regexp_extract_all(text, '{TOXICITY_REGEX_CI}')) AS tox_hits,
    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                x -> x <> '') AS lines
  FROM documents JOIN ({_langid_sql()}) l USING (doc_id)
), mm AS (
  SELECT doc_id, lang, n_chars, n_words, stop_hits, tox_hits,
    CASE WHEN n_words > 0 THEN CAST(nonspace AS DOUBLE) / n_words ELSE 0.0 END AS mean_word_len,
    CASE WHEN n_chars > 0 THEN CAST(n_symbols AS DOUBLE) / n_chars ELSE 0.0 END AS symbol_ratio,
    len(lines) AS n_lines,
    CASE WHEN len(lines) > 0
         THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)
         ELSE 0.0 END AS dup_line_frac,
    CASE WHEN len(lines) > 0
         THEN CAST(len(list_filter(lines, x -> x LIKE '%...' OR x LIKE '%…')) AS DOUBLE) / len(lines)
         ELSE 0.0 END AS ellipsis_line_frac
  FROM m
), fl AS (
  SELECT *, {RULE_FLAGS_SQL}
  FROM mm
)
"""

_RULES_PASS = " AND ".join(f"rule_{n}" for n in Q.RULE_NAMES)

# word-3gram shingle list from a word array `ws` (matches core.hashing.shingles)
_SHINGLES = (
    "CASE WHEN len(ws) = 0 THEN CAST([] AS VARCHAR[]) "
    "WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')] "
    "ELSE list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END"
)

ORACLE_SQL = {}

# ---------------------------------------------------------------------------
# documents: quality / stats / langid
# ---------------------------------------------------------------------------

ORACLE_SQL["doc_quality_flags"] = (
    _METRICS_CTE
    + f"""
SELECT doc_id, CAST(n_words AS INTEGER) AS n_words,
  round(mean_word_len, 6) AS mean_word_len,
  round(symbol_ratio, 6) AS symbol_ratio,
  CAST(stop_hits AS INTEGER) AS stop_hits,
  CAST(tox_hits AS INTEGER) AS tox_hits,
  round(dup_line_frac, 6) AS dup_line_frac,
  {', '.join(f'rule_{n}' for n in Q.RULE_NAMES)},
  ({_RULES_PASS}) AS rules_pass
FROM fl ORDER BY doc_id
"""
)

ORACLE_SQL["quality_funnel"] = (
    _METRICS_CTE
    + f"""
SELECT CASE {' '.join(f"WHEN NOT rule_{n} THEN '{n}'" for n in Q.RULE_NAMES)}
            ELSE 'kept' END AS first_fail,
       CAST(count(*) AS BIGINT) AS n_docs
FROM fl GROUP BY first_fail ORDER BY first_fail
"""
)

ORACLE_SQL["doc_quality_agg"] = (
    _METRICS_CTE
    + f"""
SELECT lang AS lang_pred, count(*) AS n_docs,
  CAST(sum(CASE WHEN {_RULES_PASS} THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
  {', '.join(f'CAST(sum(CASE WHEN NOT rule_{n} THEN 1 ELSE 0 END) AS BIGINT) AS fail_{n}' for n in Q.RULE_NAMES)}
FROM fl GROUP BY lang ORDER BY lang
"""
)

ORACLE_SQL["toxicity_scrub"] = f"""
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{TOXICITY_REGEX_CI}')) AS INTEGER) AS tox_hits,
  len(regexp_extract_all(text, '{TOXICITY_REGEX_CI}')) <= {MAX_TOXICITY_HITS} AS rule_toxicity,
  md5(regexp_replace(text, '{TOXICITY_REGEX_CI}', '{TOXIC_MASK}', 'g')) AS masked_md5
FROM documents ORDER BY doc_id
"""

ORACLE_SQL["doc_token_stats"] = f"""
SELECT doc_id,
  CAST(length(text) AS INTEGER) AS n_chars,
  CAST(len(regexp_extract_all(text, '{_WORDS}')) AS INTEGER) AS n_words,
  CAST(len(regexp_extract_all(text, '{_q(TOKEN_RE)}')) AS INTEGER) AS n_tokens
FROM documents ORDER BY doc_id
"""


ORACLE_SQL["doc_fingerprints"] = f"""
WITH docs AS (
  SELECT doc_id, text, regexp_extract_all(lower(text), '{_WORDS}') AS ws FROM documents
), sh AS (
  SELECT doc_id, text, {_SHINGLES} AS shingles FROM docs
)
SELECT doc_id, md5(coalesce(text, '')) AS content_md5,
  {u64_signed_sql(
      "CASE WHEN len(shingles) = 0 THEN 18446744073709551615::UBIGINT "
      "ELSE list_aggregate(list_transform(shingles, x -> md5_number_lower('0' || chr(31) || x)), 'min') END"
  )} AS fingerprint
FROM sh ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# dedup / fingerprints
# ---------------------------------------------------------------------------

ORACLE_SQL["exact_dup_keepers"] = """
WITH h AS (SELECT doc_id, md5(text) AS content_md5 FROM documents)
SELECT h.doc_id, h.content_md5, k.keeper_id
FROM h JOIN (SELECT content_md5, min(doc_id) AS keeper_id FROM h GROUP BY content_md5) k
  USING (content_md5)
ORDER BY doc_id
"""

ORACLE_SQL["minhash_bands"] = f"""
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_WORDS}') AS ws
  FROM documents WHERE doc_id < 200
), sh AS (
  SELECT doc_id, {_SHINGLES} AS shingles FROM docs
), expl AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), {_MINHASH_SIG_CTES}, band AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band_idx,
    md5_number_lower(string_agg(CAST(m AS VARCHAR), chr(31) ORDER BY seed)) AS bh
  FROM sig GROUP BY doc_id, seed // 4
)
SELECT doc_id, band_idx, {u64_signed_sql('bh')} AS band_hash
FROM band ORDER BY doc_id, band_idx
"""

ORACLE_SQL["simhash"] = f"""
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_WORDS}') AS toks
  FROM documents WHERE doc_id < 300
), th AS (
  SELECT doc_id, md5_number_lower(t.tok) AS h
  FROM docs, unnest(toks) AS t(tok)
), bits AS (
  SELECT doc_id, b.bit,
    sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS c
  FROM th CROSS JOIN (SELECT unnest(range(64)) AS bit) b
  GROUP BY doc_id, b.bit
)
SELECT doc_id,
  CAST(sum(CASE WHEN c > 0 THEN
    (CASE WHEN bit = 63 THEN -9223372036854775808::HUGEINT ELSE (1::BIGINT << bit)::HUGEINT END)
  ELSE 0::HUGEINT END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id ORDER BY doc_id
"""

ORACLE_SQL["jaccard_consecutive"] = f"""
WITH docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_WORDS}') AS ws
  FROM documents WHERE doc_id < 100
), sh AS (
  SELECT doc_id, list_distinct({_SHINGLES}) AS sset FROM docs
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CASE WHEN len(a.sset) = 0 AND len(b.sset) = 0 THEN 1.0
             WHEN len(a.sset) = 0 OR len(b.sset) = 0 THEN 0.0
             ELSE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sset, b.sset))) END, 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
ORDER BY id_a
"""

def _near_dup_components_sql() -> str:
    """Near-dup clustering oracle: replays MinHash bands + exact Jaccard
    verify relationally (same md5-portable fragments as minhash_bands /
    jaccard_consecutive), then closes the verified edge set transitively
    with a recursive CTE and labels each vertex with the min reachable id —
    a full value gate on connected_components. Jaccard threshold compares
    the raw double (int/int division — bit-identical across engines)."""
    from .queries import NEAR_DUP_JACCARD

    return f"""
WITH RECURSIVE docs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_WORDS}') AS ws
  FROM documents
  WHERE doc_id < 300 AND len(regexp_extract_all(text, '{_NONSPACE}')) > 0
), sh AS (
  SELECT doc_id, {_SHINGLES} AS shingles FROM docs
), expl AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
), {_MINHASH_SIG_CTES}, band AS (
  SELECT doc_id, CAST(seed // 4 AS INTEGER) AS band_idx,
    md5_number_lower(string_agg(CAST(m AS VARCHAR), chr(31) ORDER BY seed)) AS bh
  FROM sig GROUP BY doc_id, seed // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band a JOIN band b
    ON a.band_idx = b.band_idx AND a.bh = b.bh AND a.doc_id < b.doc_id
), sset AS (
  SELECT doc_id, list_distinct(shingles) AS ss FROM sh
), ver AS (
  SELECT id_a, id_b FROM cand
  JOIN sset a ON a.doc_id = id_a JOIN sset b ON b.doc_id = id_b
  WHERE (CASE WHEN len(a.ss) = 0 AND len(b.ss) = 0 THEN 1.0
              WHEN len(a.ss) = 0 OR len(b.ss) = 0 THEN 0.0
              ELSE CAST(len(list_intersect(a.ss, b.ss)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.ss, b.ss))) END)
        >= {NEAR_DUP_JACCARD}
), sym AS (
  SELECT id_a AS a, id_b AS b FROM ver
  UNION SELECT id_b, id_a FROM ver
), reach(a, b) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
)
SELECT CAST(a AS BIGINT) AS doc_id,
       CAST(least(a, min(b)) AS BIGINT) AS component
FROM reach GROUP BY a ORDER BY doc_id
"""


ORACLE_SQL["near_dup_components"] = _near_dup_components_sql()

def _severity_rollup_sql() -> str:
    values = ", ".join(f"('{e}', '{s}')" for e, s in SEVERITY_DIM)
    return f"""
WITH counts AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '{_q(EMAIL_RE)}')) AS email,
    len(regexp_extract_all(text, '{_q(IP_RE)}')) AS ip,
    len(regexp_extract_all(text, '{_q(URL_RE)}')) AS url,
    len(regexp_extract_all(text, '{_q(DATE_RE)}')) AS dt
  FROM documents
), long AS (
  SELECT doc_id, 'EMAIL_ADDRESS' AS entity_type, email AS n FROM counts
  UNION ALL SELECT doc_id, 'IP_ADDRESS', ip FROM counts
  UNION ALL SELECT doc_id, 'URL', url FROM counts
  UNION ALL SELECT doc_id, 'DATE_TIME', dt FROM counts
), dim(entity_type, severity) AS (VALUES {values})
SELECT severity, CAST(sum(n) AS BIGINT) AS n_detections,
  count(DISTINCT CASE WHEN n > 0 THEN doc_id END) AS n_docs
FROM long JOIN dim USING (entity_type)
GROUP BY severity ORDER BY severity
"""


ORACLE_SQL["severity_rollup"] = _severity_rollup_sql()


def _pii_subset_counts_sql() -> str:
    """Value oracle for the Python recognizer bank's RE2-expressible subset:
    DuckDB re-counts matches with the BANK'S OWN regex strings (single spec
    source — core.recognizers pattern literals) over the same pages parquet
    the Spark query reads. Exact because, for these entity types on this
    corpus, per-pattern match counts sum to the bank's deduped detection
    count (patterns are span-disjoint and PII is planted in ASCII English
    text, so Unicode-vs-ASCII \\b divergence cannot trigger); the general
    conflict-resolution semantics stay pinned by pytest."""
    from ..core.recognizers import default_bank
    from .queries import PII_SQL_ENTITIES, oracle_pages_path

    bank = {s.entity_type: s for s in default_bank()}
    path = oracle_pages_path()  # guarantees the parquet exists for DuckDB
    arms = []
    for et in PII_SQL_ENTITIES:
        total = " + ".join(
            f"len(regexp_extract_all(text, '{_q(p.regex)}'))"
            for p in bank[et].patterns
        )
        arms.append(f"SELECT url, '{et}' AS entity_type, {total} AS n FROM pages")
    union = "\n  UNION ALL ".join(arms)
    return f"""
WITH pages AS (SELECT url, text FROM read_parquet('{path}')),
long AS ({union})
SELECT url, entity_type, CAST(n AS BIGINT) AS n
FROM long WHERE n > 0 ORDER BY url, entity_type
"""


def _line_dedup_pages_sql() -> str:
    """Full-SQL re-derivation of corpus-level boilerplate-line removal over
    the same pages parquet the Spark query reads: unnest lines with position,
    hot set = trimmed non-empty lines in >= BOILERPLATE_MIN_DOCS distinct
    pages, reassemble each page's kept lines in order (string_agg skips the
    NULLed-out hot lines; blank lines are kept — identical to
    operators.dedup.strip_boilerplate_lines and core.quality.
    strip_boilerplate; trim is ASCII-space-only in all three engines)."""
    from .queries import oracle_pages_path

    path = oracle_pages_path()
    return f"""
WITH pages AS (
  -- coalesce: NULL text behaves as '' (one blank kept line) so every input
  -- document yields exactly one output row — same rule as the Spark
  -- operators and functions.quality.c4_filter_lines (one-spec rule)
  SELECT url, coalesce(text, '') AS text FROM read_parquet('{path}')
),
lines AS (
  SELECT url,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM pages
),
hot AS (
  SELECT trim(line) AS k
  FROM lines
  WHERE trim(line) <> ''
  GROUP BY 1
  HAVING count(DISTINCT url) >= {Q.BOILERPLATE_MIN_DOCS}
)
SELECT l.url,
       coalesce(string_agg(CASE WHEN h.k IS NULL THEN l.line END,
                           chr(10) ORDER BY l.pos), '') AS text_clean,
       CAST(count(h.k) AS BIGINT) AS n_lines_removed
FROM lines l LEFT JOIN hot h ON trim(l.line) = h.k
GROUP BY l.url
ORDER BY l.url
"""


def _c4_line_dedup_sql() -> str:
    """Keep-first line dedup re-derived: rank every trimmed non-empty line's
    occurrences by (url, pos) corpus-wide, mark rank>1 as duplicates, then
    reassemble each page's surviving lines in order (blank lines kept —
    identical to operators.dedup.dedup_lines_keep_first)."""
    from .queries import oracle_pages_path

    path = oracle_pages_path()
    return f"""
WITH pages AS (
  -- coalesce: see _line_dedup_pages_sql (one-spec NULL-text rule)
  SELECT url, coalesce(text, '') AS text FROM read_parquet('{path}')
),
lines AS (
  SELECT url,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM pages
),
r AS (
  SELECT url, pos, line,
         (trim(line) <> '' AND
          row_number() OVER (PARTITION BY trim(line) ORDER BY url, pos) > 1)
           AS is_dup
  FROM lines
)
SELECT url,
       coalesce(string_agg(CASE WHEN NOT is_dup THEN line END,
                           chr(10) ORDER BY pos), '') AS text_clean,
       CAST(count(CASE WHEN is_dup THEN 1 END) AS BIGINT) AS n_lines_removed
FROM r
GROUP BY url
ORDER BY url
"""


def _decontaminate_sql() -> str:
    """N-gram decontamination re-derived in DuckDB from the same spec
    constants: same tokenization regex, same shingle arithmetic (DuckDB list
    slice t[i:i+n-1] is 1-based inclusive = Spark slice(t, i, n)), same
    salted eval ticket."""
    from ..core import decontam as C
    from .queries import oracle_pages_path

    path = oracle_pages_path()
    n = C.NGRAM_N
    return f"""
WITH pages AS (SELECT url, text FROM read_parquet('{path}')),
f AS (
  SELECT url, text,
         substr(md5('{C.EVAL_SALT}' || url), 1, {C.HEX_DIGITS})
           < '{C.EVAL_THRESHOLD}' AS is_eval
  FROM pages
),
toks AS (
  SELECT url, is_eval,
         list_filter(string_split_regex(lower(text), '{C.TOKEN_SPLIT_RE}'),
                     x -> x <> '') AS t
  FROM f
),
grams AS (
  SELECT url, is_eval,
         CASE WHEN len(t) >= {n}
              THEN list_transform(range(1, len(t) - {n} + 2),
                                  i -> array_to_string(t[i:i+{n - 1}], ' '))
              ELSE [] END AS gs
  FROM toks
),
eg AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE is_eval),
cg AS (SELECT url, unnest(list_distinct(gs)) AS g FROM grams WHERE NOT is_eval),
hits AS (SELECT url, count(*) AS n FROM cg JOIN eg USING (g) GROUP BY url)
SELECT f.url,
       CAST(coalesce(h.n, 0) AS BIGINT) AS n_shared_grams,
       coalesce(h.n, 0) > 0 AS contaminated
FROM f LEFT JOIN hits h ON f.url = h.url
WHERE NOT f.is_eval
ORDER BY f.url
"""


def _host_rollup_sql() -> str:
    """Host extraction (same regex literal), blocklist NOT IN, per-host
    rollup with avg derived from the two sums in the same order as Spark."""
    from ..core.urlnorm import HOST_PORT_RE, HOST_REGEX, HOST_USERINFO_RE
    from .queries import BLOCKED_HOSTS, oracle_pages_path

    path = oracle_pages_path()
    blocked = ", ".join(f"'{h}'" for h in BLOCKED_HOSTS)
    return f"""
WITH pages AS (SELECT url, text FROM read_parquet('{path}')),
h AS (
  SELECT coalesce(lower(regexp_replace(regexp_replace(
           regexp_extract(url, '{_q(HOST_REGEX)}', 1),
           '{_q(HOST_USERINFO_RE)}', ''), '{_q(HOST_PORT_RE)}', '')), '') AS host,
         length(text) AS n
  FROM pages
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_pages,
       CAST(sum(n) AS BIGINT) AS total_chars,
       round(CAST(sum(n) AS DOUBLE) / count(*), 2) AS avg_chars
FROM h
WHERE host NOT IN ({blocked})
GROUP BY host
ORDER BY host
"""


def _c4_line_filter_sql() -> str:
    """Same C4 line rules in a DuckDB list_filter lambda — trim/right/word
    count/contains re-derived from the core.quality constants."""
    from ..core import quality as Q
    from .queries import oracle_pages_path

    path = oracle_pages_path()
    punct = ", ".join(f"'{p}'" for p in Q.C4_TERMINAL_PUNCT)
    cond = (
        "trim(x) <> '' AND right(trim(x), 1) IN (" + punct + ") "
        f"AND len(regexp_extract_all(trim(x), '{_WORDS}')) >= {Q.C4_MIN_LINE_WORDS} "
        "AND NOT contains(trim(x), '{')"
    )
    return f"""
WITH p AS (SELECT url, coalesce(text, '') AS text FROM read_parquet('{path}')),
l AS (
  SELECT url,
    string_split(text, chr(10)) AS lines,
    list_filter(string_split(text, chr(10)), x -> {cond}) AS kept
  FROM p
)
SELECT url,
       -- array_to_string([]) is NULL in DuckDB; Spark's array_join is ''
       md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5,
       CAST(len(lines) - len(kept) AS BIGINT) AS n_lines_removed
FROM l ORDER BY url
"""


def _host_quota_sql() -> str:
    """Plain row_number window over everything — deliberately the naive
    single-path form of the quota, so the differential checks that the
    engine's skew-safe two-path plan (broadcast anti-probe + head-only
    window) selects the identical page set."""
    from ..core.urlnorm import HOST_PORT_RE, HOST_REGEX, HOST_USERINFO_RE
    from .queries import HOST_CAP, oracle_pages_path

    path = oracle_pages_path()
    return f"""
WITH p AS (SELECT url, text FROM read_parquet('{path}')),
h AS (
  SELECT coalesce(lower(regexp_replace(regexp_replace(
           regexp_extract(url, '{_q(HOST_REGEX)}', 1),
           '{_q(HOST_USERINFO_RE)}', ''), '{_q(HOST_PORT_RE)}', '')), '') AS host,
         url, CAST(length(text) AS INTEGER) AS n_chars
  FROM p
),
r AS (
  SELECT host, url, n_chars,
    row_number() OVER (PARTITION BY host
                       ORDER BY n_chars DESC, url ASC) AS rn
  FROM h
)
SELECT host, url, n_chars FROM r WHERE rn <= {HOST_CAP}
ORDER BY host, url
"""


def _canon_ctes(src_cte: str, cols: str, p: str = "") -> str:
    """The canonical-URL derivation as a reusable CTE chain (s -> a -> k),
    re-derived in RE2 from the SAME spec constants (core.urlnorm) the Spark
    expression chain uses: identical patterns in identical order; only the
    backreference spelling differs (RE2 ``\\1`` vs Java ``$1``) and DuckDB
    needs the explicit 'g' flag (Spark's regexp_replace is always global).
    ``cols`` are passenger columns carried through to ``{p}k``; ``p``
    prefixes the CTE names so two chains can share one query."""
    from ..core import urlnorm as UN

    return f"""
{p}s AS (
  SELECT {cols},
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      url, '{UN.FRAGMENT_RE}', '', 'g'),
      '{UN.TRACKING_RE}', '{UN.TRACKING_REPL_RE2}', 'g'),
      '{UN.QMARK_AMP_RE}', '?', 'g'),
      '{UN.MULTI_AMP_RE}', '&', 'g'),
      '{UN.TRAILING_SEP_RE}', '', 'g') AS u5
  FROM {src_cte}
),
{p}a AS (
  SELECT {cols}, u5,
    regexp_replace(lower(regexp_extract(u5, '({UN.AUTHORITY_RE})', 1)),
                   '{UN.DEFAULT_PORT_RE}', '', 'g') AS auth,
    regexp_replace(u5, '{UN.AUTHORITY_RE}', '', 'g') AS rest
  FROM {p}s
),
{p}k AS (
  SELECT {cols},
    regexp_replace(auth || rest, '{UN.TRAILING_SLASH_RE}', '', 'g') AS canonical_url
  FROM {p}a
)"""


def _url_dedup_sql() -> str:
    """Canonical-URL crawl dedup over the shared canonicalization CTEs."""
    from .queries import oracle_crawl_path

    path = oracle_crawl_path()
    return f"""
WITH c AS (SELECT url, warc_ts FROM read_parquet('{path}')),
{_canon_ctes('c', 'url, warc_ts')},
r AS (
  SELECT canonical_url, url, warc_ts,
    row_number() OVER (PARTITION BY canonical_url
                       ORDER BY warc_ts DESC, url DESC) AS rn,
    CAST(count(*) OVER (PARTITION BY canonical_url) AS BIGINT) AS n_crawls
  FROM k
)
SELECT canonical_url, url,
       strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS warc_ts, n_crawls
FROM r WHERE rn = 1 ORDER BY canonical_url
"""


def _warc_pages_sql() -> str:
    """Round-trip check against the SOURCE parquet (not the parser): every
    field the WARC reader extracts, re-derived from pages_oracle. The
    writer is pinned to status 200 / this strftime format, so a reader that
    mis-parses any header or mangles one payload byte hash-mismatches."""
    from .queries import oracle_pages_path

    path = oracle_pages_path()
    return f"""
SELECT url,
       strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS warc_ts,
       CAST(200 AS INTEGER) AS http_status,
       CAST(octet_length(html) AS INTEGER) AS n_bytes,
       md5(decode(html)) AS payload_md5
FROM read_parquet('{path}')
ORDER BY url
"""


def _jsonl_pages_sql() -> str:
    """Same move as the WARC oracle: every field the JSONL reader produces,
    re-derived from the pages parquet source of truth (base64 round trip
    and timestamp parse included by implication — one mangled byte or
    second hash-mismatches)."""
    from .queries import oracle_pages_path

    path = oracle_pages_path()
    return f"""
SELECT url,
       strftime(warc_ts, '%Y-%m-%d %H:%M:%S') AS warc_ts,
       CAST(octet_length(html) AS INTEGER) AS n_bytes,
       md5(decode(html)) AS payload_md5,
       md5(text) AS text_md5,
       lang
FROM read_parquet('{path}')
ORDER BY url
"""


def _incremental_new_sql() -> str:
    """Bloom-gated incremental ingestion, fully re-derived: canonical URLs
    for history and batch (shared canonicalization CTEs), the filter's bit
    positions via the same md5-portable hash (md5_number_lower == core.
    hashing.hash64), the 'maybe' verdict as k IN-probes against the
    history's DISTINCT position set, and the exact verdict as NOT IN. The
    Spark side must agree on BOTH verdicts — including the deliberate
    false positives (maybe=true, new=true) the small sizing produces."""
    from ..core import bloom as B
    from .queries import oracle_batch_path, oracle_crawl_path

    hist, batch = oracle_crawl_path(), oracle_batch_path()

    def pos(i: int) -> str:
        return (
            f"md5_number_lower('bf{i}' || chr(31) || canonical_url) % {B.BLOOM_M}"
        )

    pos_list = ", ".join(pos(i) for i in range(B.BLOOM_K))
    maybe = " AND ".join(f"({pos(i)}) IN (SELECT p FROM hp)" for i in range(B.BLOOM_K))
    return f"""
WITH hraw AS (SELECT url FROM read_parquet('{hist}')),
{_canon_ctes('hraw', 'url', 'h')},
hist AS (SELECT DISTINCT canonical_url FROM hk),
hp AS (SELECT DISTINCT unnest([{pos_list}]) AS p FROM hist),
braw AS (SELECT url FROM read_parquet('{batch}')),
{_canon_ctes('braw', 'url', 'b')}
SELECT canonical_url,
       ({maybe}) AS bloom_maybe,
       canonical_url NOT IN (SELECT canonical_url FROM hist) AS is_new
FROM bk
ORDER BY canonical_url
"""


def _doc_repetition_metrics_sql() -> str:
    """Independent SQL re-derivation of the Gopher repetition metrics: line
    occurrence counts via GROUP BY (vs Spark's sorted-neighbor scan), word
    n-grams via window lead() (vs Spark's slice+zip_with fold) — different
    algorithms, same pinned spec (core.quality.repetition_metrics)."""
    from .queries import oracle_pages_path

    path = oracle_pages_path()
    return f"""
WITH pages AS (SELECT url, text FROM read_parquet('{path}')),
lines AS (
  SELECT url, trim(unnest(string_split(text, chr(10)))) AS line FROM pages
),
lc AS (
  SELECT url, line, count(*) AS c, length(line) AS len
  FROM lines WHERE line <> '' GROUP BY url, line
),
ld AS (
  SELECT url, sum((c - 1) * len) AS extra, sum(c * len) AS tot
  FROM lc GROUP BY url
),
w AS (
  SELECT url,
         unnest(regexp_extract_all(text, '{_WORDS}')) AS wd,
         generate_subscripts(regexp_extract_all(text, '{_WORDS}'), 1) AS pos
  FROM pages
),
wt AS (SELECT url, sum(length(wd)) AS wchars FROM w GROUP BY url),
seq AS (
  SELECT url, wd AS w1,
         lead(wd) OVER (PARTITION BY url ORDER BY pos) AS w2,
         lead(wd, 2) OVER (PARTITION BY url ORDER BY pos) AS w3
  FROM w
),
bg AS (
  SELECT url, max(c * glen) AS best2 FROM (
    SELECT url, c, glen, max(c) OVER (PARTITION BY url) AS mc FROM (
      SELECT url, count(*) AS c, length(w1) + length(w2) AS glen
      FROM seq WHERE w2 IS NOT NULL GROUP BY url, w1, w2
    )
  ) WHERE c = mc GROUP BY url
),
tg AS (
  SELECT url, max(c * glen) AS best3 FROM (
    SELECT url, c, glen, max(c) OVER (PARTITION BY url) AS mc FROM (
      SELECT url, count(*) AS c,
             length(w1) + length(w2) + length(w3) AS glen
      FROM seq WHERE w3 IS NOT NULL GROUP BY url, w1, w2, w3
    )
  ) WHERE c = mc GROUP BY url
)
SELECT p.url,
  round(coalesce(CAST(ld.extra AS DOUBLE) / ld.tot, 0), 6) AS dup_line_char_frac,
  round(coalesce(CAST(bg.best2 AS DOUBLE) / wt.wchars, 0), 6) AS top_bigram_char_frac,
  round(coalesce(CAST(tg.best3 AS DOUBLE) / wt.wchars, 0), 6) AS top_trigram_char_frac
FROM pages p
LEFT JOIN ld USING (url)
LEFT JOIN wt USING (url)
LEFT JOIN bg USING (url)
LEFT JOIN tg USING (url)
ORDER BY p.url
"""


def _sub(sql: str) -> str:
    """Wrap a full SELECT (CTEs and ORDER BY included — both are legal in
    DuckDB subqueries) so component oracles compose into the consolidated
    catalog entries by union/join without CTE-name collisions."""
    return "(" + sql + ")"


def _golden_paths(sf_dir: str) -> dict:
    """Materialize every golden parquet the catalog needs (pure-Python
    oracle outputs — ``testing.goldens``, zero Spark code) and return their
    absolute paths. Documents-table goldens are computed from
    ``{sf_dir}/documents.parquet`` — the driver contract runs the
    differential at sf0.01 (``goldens.DEFAULT_ORACLE_SF_DIR``); the pytest
    differential overrides via ``SPARK_GRAFT_ORACLE_SF_DIR``."""
    from ..testing import goldens as G

    return {
        "det": G.golden_pii_detections(),
        "ocr_det": G.golden_ocr_detections(),
        "exsub": G.golden_exsub(),
        "scrub_pages": G.golden_pii_scrub_pages(),
        "scrub_docs": G.golden_pii_scrub(sf_dir),
        "qp": G.golden_quality_pipeline(sf_dir),
        "comp": G.golden_doc_compression(sf_dir),
        "ftl": G.golden_ftlang(sf_dir),
        "ftq": G.golden_ftquality(sf_dir),
    }


# --- consolidated-entry builders (compose the component oracles above) -----


def _format_pages_sql() -> str:
    return f"""
SELECT 'warc' AS fmt, url, warc_ts, http_status, n_bytes, payload_md5,
       CAST(NULL AS VARCHAR) AS text_md5, CAST(NULL AS VARCHAR) AS lang
FROM {_sub(_warc_pages_sql())} w
UNION ALL
SELECT 'jsonl', url, warc_ts, CAST(NULL AS INTEGER), n_bytes, payload_md5,
       text_md5, lang
FROM {_sub(_jsonl_pages_sql())} j
ORDER BY fmt, url
"""


def _sampled_documents_sql() -> str:
    return f"""
SELECT 'stratified' AS method, doc_id, lang, CAST(NULL AS INTEGER) AS n_tokens
FROM {_sub(_hash_sample_sql())} h
UNION ALL
SELECT 'token_budget', doc_id, lang, n_tokens
FROM {_sub(_budget_sample_sql())} b
ORDER BY method, doc_id
"""


def _doc_token_stats_joined_sql(comp_path: str) -> str:
    return f"""
SELECT t.doc_id, t.n_chars, t.n_words, t.n_tokens,
       c.n_bytes, c.compression_ratio
FROM {_sub(ORACLE_SQL["doc_token_stats"])} t
JOIN read_parquet('{comp_path}') c USING (doc_id)
ORDER BY t.doc_id
"""


def _page_signals_sql() -> str:
    return f"""
SELECT c.url, c.clean_md5 AS c4_clean_md5,
       c.n_lines_removed AS c4_lines_removed,
       r.dup_line_char_frac, r.top_bigram_char_frac, r.top_trigram_char_frac
FROM {_sub(_c4_line_filter_sql())} c
JOIN {_sub(_doc_repetition_metrics_sql())} r USING (url)
ORDER BY c.url
"""


def _langid_joined_sql(ftl_path: str) -> str:
    return f"""
SELECT l.doc_id, l.lang_pred, l.lang_conf, f.ft_lang, f.ft_prob
FROM {_sub(_langid_sql())} l
JOIN read_parquet('{ftl_path}') f USING (doc_id)
ORDER BY l.doc_id
"""


def _doc_quality_flags_joined_sql(ftq_path: str) -> str:
    return f"""
SELECT f.*, q.quality_prob, q.quality_label
FROM {_sub(ORACLE_SQL["doc_quality_flags"])} f
JOIN read_parquet('{ftq_path}') q USING (doc_id)
ORDER BY f.doc_id
"""


def _scrub_documents_sql(scrub_docs_path: str) -> str:
    return f"""
SELECT s.doc_id, s.scrubbed_text, CAST(s.n_entities AS INTEGER) AS n_entities,
       t.tox_hits, t.rule_toxicity, t.masked_md5
FROM read_parquet('{scrub_docs_path}') s
JOIN {_sub(ORACLE_SQL["toxicity_scrub"])} t USING (doc_id)
ORDER BY s.doc_id
"""


def _pii_counts_sql(det_path: str) -> str:
    """'bank' rows: the full-bank golden re-aggregated in SQL (the GROUP BY
    itself is cross-checked, url='' marks corpus-level); 'sql_subset' rows:
    DuckDB re-counts per page with the bank's own regex strings."""
    return f"""
SELECT 'bank' AS scope, '' AS url, entity_type, count(*) AS n
FROM read_parquet('{det_path}')
GROUP BY entity_type
UNION ALL
SELECT 'sql_subset', url, entity_type, n
FROM {_sub(_pii_subset_counts_sql())} s
ORDER BY scope, url, entity_type
"""


def _redaction_plan_sql(det_path: str, ocr_det_path: str) -> str:
    """Full re-derivation of BOTH redaction surfaces.

    'pdf' rows — from the detections GOLDEN (independently gated via
    pii_detections) joined to the pages parquet: grid geometry, severity
    fill color (VALUES list generated from the same SEVERITY_DIM_WITH_COLORS
    constant), luminance label color, anchors, conf text (exact
    DECIMAL(4,2) rendering — no printf, whose tie-rounding differs across
    engines), span post-processing (analyzer.py:186-195 — colon-prefix
    whitespace skip for PERSON/ORGANIZATION, trailing '.,;:' strip; charset
    ltrim/rtrim, exact across engines), first-wins dedup over the trimmed
    spans. Spec: core.layout.

    'image' rows — from the OCR-text detections GOLDEN: the word table
    (same maximal-non-whitespace-runs regex as the Python kernel, offsets
    via a window sum over the single-space join), the presidio-style
    span→word intersection join, and the glyph-grid + padding/clamp
    arithmetic, all re-derived relationally. Spec: core.ocr."""
    from ..core import layout as L
    from ..core import ocr as O
    from ..core.entities import SEVERITY_DIM_WITH_COLORS
    from .queries import oracle_pages_path

    pages = oracle_pages_path()
    dim_vals = ", ".join(
        f"('{e}', '{sv}', {r}, {g}, {b})"
        for e, sv, r, g, b in SEVERITY_DIM_WITH_COLORS
    )
    lr, lg, lb = L.SEVERITY_COLORS[L.DEFAULT_PLAN_SEVERITY]
    wr, wg, wb = L.LUMA
    colon_types = ", ".join(f"'{t}'" for t in L.TRIM_COLON_TYPES)
    # charset trim sets as SQL literals (chr() for the control chars so the
    # SQL string survives any quoting layer)
    ws = "chr(32) || chr(9) || chr(10) || chr(13) || chr(12) || chr(11)"
    assert L.WS_CHARS == " \t\n\r\f\x0b"
    punct = f"'{L.TRAIL_PUNCT_CHARS}'"
    # image-surface spec literals: the word regex DERIVED from the one spec
    # constant (core.layout.WS_CHARS, the same class core.ocr._WORD_RE is
    # built from) as RE2 \xNN escapes — backslashes survive DuckDB's
    # standard string literals untouched; the constant image width; and the
    # luminance verdict for the constant fill (computed, not hand-written)
    wre = "[^" + "".join(f"\\x{ord(c):02X}" for c in O.WS_CHARS) + "]+"
    img_w_px = 2 * O.OCR_MARGIN_PX + O.OCR_WRAP_COLS * O.OCR_CHAR_PX
    img_label_white = "TRUE" if L.label_is_white(O.IMG_FILL_RGB) else "FALSE"
    return f"""
WITH p AS (SELECT url, text FROM read_parquet('{pages}')),
det AS (
  SELECT url, entity_type, "start", "end", score FROM read_parquet('{det_path}')
  UNION ALL
  -- layout probes, same 1-based strpos math as the Spark query
  SELECT url, 'ORGANIZATION', strpos(text, ': '),
         least(strpos(text, ': ') + 12, length(text)), 0.5
  FROM p WHERE strpos(text, ': ') > 0
  UNION ALL
  SELECT url, 'LAYOUT_PROBE', greatest(strpos(text, '. ') - 9, 0),
         strpos(text, '. '), 0.5
  FROM p WHERE strpos(text, '. ') > 0
),
raw AS (
  SELECT d.url, d.entity_type, d."start", d."end", d.score, p.text
  FROM det d JOIN p USING (url)
),
t1 AS (
  SELECT * REPLACE (
    CASE WHEN entity_type IN ({colon_types})
              AND ends_with(rtrim(substr(text, 1, "start"), {ws}), ':')
         THEN "start" + length(substr(text, "start" + 1, "end" - "start"))
                      - length(ltrim(substr(text, "start" + 1, "end" - "start"), {ws}))
         ELSE "start" END AS "start")
  FROM raw
),
t2 AS (
  SELECT * REPLACE (
    "start" + length(rtrim(substr(text, "start" + 1, "end" - "start"), {punct})) AS "end")
  FROM t1
),
j AS (
  SELECT url, entity_type, "start", "end", score, text,
         substr(text, "start" + 1, "end" - "start") AS value
  FROM t2 WHERE "end" > "start"
),
f AS (
  SELECT *, row_number() OVER (PARTITION BY url, entity_type, value
                               ORDER BY "start", "end", score) AS rn
  FROM j
),
geo AS (
  SELECT url, entity_type, value, "start", "end", score,
    len(string_split(substr(text, 1, "start"), chr(10))) - 1 AS line,
    length(string_split(substr(text, 1, "start"), chr(10))[-1]) AS col,
    length(string_split(text, chr(10))[len(string_split(substr(text, 1, "start"), chr(10)))]) AS line_len
  FROM f WHERE rn = 1
),
b AS (
  SELECT *,
    {L.MARGIN} + col * {L.CHAR_W} AS x0,
    {L.MARGIN} + (col + (least("end", "start" - col + line_len) - "start")) * {L.CHAR_W} AS x1,
    {L.PAGE_H - L.MARGIN} - line * {L.LINE_H} AS y1
  FROM geo
),
dim(entity_type, severity, fr, fg, fb) AS (VALUES {dim_vals}),
c AS (
  SELECT b.*, coalesce(dim.fr, {lr}) AS fill_r,
         coalesce(dim.fg, {lg}) AS fill_g, coalesce(dim.fb, {lb}) AS fill_b
  FROM b LEFT JOIN dim USING (entity_type)
),
pdfp AS (
  SELECT 'pdf' AS surface, url, entity_type, value,
    CAST("start" AS INTEGER) AS "start", CAST("end" AS INTEGER) AS "end", score,
    'conf: ' || CAST(CAST(round(score, 2) AS DECIMAL(4,2)) AS VARCHAR) AS conf_text,
    x0, y1 - {L.LINE_H} AS y0, x1, y1,
    greatest(0.0, x1 - x0) AS rect_w,
    greatest(0.0, y1 - (y1 - {L.LINE_H})) AS rect_h,
    x0 + {L.LABEL_DX} AS label_x,
    y1 - {L.LABEL_DY} AS label_y,
    y1 - {L.CONF_DY} AS conf_y,
    fill_r, fill_g, fill_b,
    (fill_r * {wr} + fill_g * {wg} + fill_b * {wb}) < {L.LUMA_WHITE_BELOW} AS label_white
  FROM c
),
-- image surface (spec: core.ocr). Word table == the Python kernel's
-- maximal non-whitespace runs; cs via a window sum over the single-space
-- join; mapping == presidio's span/word char-interval intersection.
iws AS (
  SELECT url, regexp_extract_all(coalesce(text, ''), '{wre}') AS ws FROM p
),
iw AS (
  SELECT url, unnest(ws) AS word, generate_subscripts(ws, 1) AS idx,
         length(array_to_string(ws, ' ')) AS ocr_len
  FROM iws
),
iwp AS (
  SELECT url, word, ocr_len,
         CAST(sum(length(word) + 1) OVER (PARTITION BY url ORDER BY idx)
              - length(word) - 1 AS BIGINT) AS cs
  FROM iw
),
idet AS (
  SELECT url, entity_type, "start", "end", score
  FROM read_parquet('{ocr_det_path}') WHERE score >= {O.IMG_SCORE_THRESHOLD}
),
ibox AS (
  SELECT d.url, d.entity_type, d."start", d."end", d.score,
         w.cs, w.cs + length(w.word) AS ce, w.ocr_len
  FROM idet d
  JOIN iwp w ON d.url = w.url AND w.cs < d."end"
            AND w.cs + length(w.word) > d."start"
),
igeo AS (
  SELECT *,
    {O.OCR_MARGIN_PX} + (cs % {O.OCR_WRAP_COLS}) * {O.OCR_CHAR_PX} AS bleft,
    {O.OCR_MARGIN_PX} + (cs // {O.OCR_WRAP_COLS}) * {O.OCR_LINE_PX} AS btop,
    least(ce - cs, {O.OCR_WRAP_COLS} - cs % {O.OCR_WRAP_COLS}) * {O.OCR_CHAR_PX} AS bwidth,
    {2 * O.OCR_MARGIN_PX} + greatest(1, (ocr_len + {O.OCR_WRAP_COLS - 1}) // {O.OCR_WRAP_COLS}) * {O.OCR_LINE_PX} AS img_h
  FROM ibox
),
ipad AS (
  SELECT url, entity_type, "start", "end", score,
    CAST(greatest(0, bleft - {O.IMG_PADDING}) AS DOUBLE) AS x0,
    CAST(greatest(0, btop - {O.IMG_PADDING}) AS DOUBLE) AS y0,
    CAST(least({img_w_px}, bleft + bwidth + {O.IMG_PADDING}) AS DOUBLE) AS x1,
    CAST(least(img_h, btop + {O.OCR_LINE_PX} + {O.IMG_PADDING}) AS DOUBLE) AS y1
  FROM igeo
),
imgp AS (
  SELECT 'image' AS surface, i.url, i.entity_type,
    substr(o.ocr_text, i."start" + 1, i."end" - i."start") AS value,
    CAST(i."start" AS INTEGER) AS "start", CAST(i."end" AS INTEGER) AS "end",
    i.score,
    CAST(NULL AS VARCHAR) AS conf_text,
    i.x0, i.y0, i.x1, i.y1,
    i.x1 - i.x0 AS rect_w, i.y1 - i.y0 AS rect_h,
    CAST(NULL AS DOUBLE) AS label_x, CAST(NULL AS DOUBLE) AS label_y,
    CAST(NULL AS DOUBLE) AS conf_y,
    CAST({O.IMG_FILL_RGB[0]} AS DOUBLE) AS fill_r,
    CAST({O.IMG_FILL_RGB[1]} AS DOUBLE) AS fill_g,
    CAST({O.IMG_FILL_RGB[2]} AS DOUBLE) AS fill_b,
    {img_label_white} AS label_white
  FROM ipad i
  JOIN (SELECT url, array_to_string(regexp_extract_all(coalesce(text, ''), '{wre}'), ' ') AS ocr_text FROM p) o
    ON o.url = i.url
)
SELECT * FROM pdfp
UNION ALL
SELECT * FROM imgp
ORDER BY surface, url, "start", "end", entity_type, x0, y0
"""


def _line_dedup_both_sql() -> str:
    return f"""
SELECT a.url, a.text_clean AS ccnet_text_clean,
       a.n_lines_removed AS ccnet_lines_removed,
       b.text_clean AS c4first_text_clean,
       b.n_lines_removed AS c4first_lines_removed
FROM {_sub(_line_dedup_pages_sql())} a
JOIN {_sub(_c4_line_dedup_sql())} b USING (url)
ORDER BY a.url
"""


def _doc_fingerprints_joined_sql() -> str:
    return f"""
SELECT f.doc_id, f.content_md5, f.fingerprint, s.simhash
FROM {_sub(ORACLE_SQL["doc_fingerprints"])} f
LEFT JOIN {_sub(ORACLE_SQL["simhash"])} s USING (doc_id)
ORDER BY f.doc_id
"""


def all_oracles() -> dict:
    """Oracle map for EXACTLY the catalog entries (plans.queries.QUERIES) —
    every entry carries a value-level oracle. Assembled here rather than at
    module import: building the golden-backed entries materializes the
    oracle/golden parquets (so DuckDB's read_parquet always finds them) and
    bakes in absolute paths — a filesystem side effect importers of this
    module must not pay. Consolidated entries compose the same component
    oracles that were individually driver-verified through r03."""
    from ..testing.goldens import oracle_sf_dir

    g = _golden_paths(oracle_sf_dir())
    return {
        "format_pages": _format_pages_sql(),
        "url_dedup": _url_dedup_sql(),
        "incremental_new": _incremental_new_sql(),
        "exsub_dedup": f"""
SELECT url, clean_md5, n_chars_removed, n_dup_windows
FROM read_parquet('{g["exsub"]}') ORDER BY url
""",
        "sampled_documents": _sampled_documents_sql(),
        "token_shards": ORACLE_SQL["token_shards"],
        # NOT a parquet read-back: DuckDB re-runs the NTILE window itself
        # over the golden (lang_pred, ppl) columns, so Spark's window
        # arithmetic is checked against an independent implementation
        "ppl_buckets": f"""
WITH r AS (
  SELECT doc_id, lang_pred, ppl,
         ntile(3) OVER (PARTITION BY lang_pred ORDER BY ppl, doc_id) AS nt
  FROM read_parquet('{g["qp"]}')
)
SELECT doc_id, lang_pred, ppl,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS ppl_bucket
FROM r ORDER BY doc_id
""",
        # NOT a parquet read-back: re-joined against the SQL token expression
        # and re-aggregated in DuckDB, so the GROUP BY itself is checked
        "corpus_summary": f"""
WITH toks AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_q(TOKEN_RE)}')) AS BIGINT)
           AS n_tokens
  FROM documents
)
SELECT q.lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN q.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round(CAST(sum(CASE WHEN q.keep THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS keep_rate,
       CAST(sum(t.n_tokens) AS BIGINT) AS total_tokens,
       round(avg(CASE WHEN q.keep THEN q.ppl END), 2) AS kept_ppl_avg
FROM read_parquet('{g["qp"]}') q JOIN toks t USING (doc_id)
GROUP BY q.lang_pred
ORDER BY q.lang_pred
""",
        "quality_pipeline": f"""
SELECT doc_id, lang_pred, ppl, keep
FROM read_parquet('{g["qp"]}') ORDER BY doc_id
""",
        "page_signals": _page_signals_sql(),
        "doc_token_stats": _doc_token_stats_joined_sql(g["comp"]),
        "langid_documents": _langid_joined_sql(g["ftl"]),
        "doc_quality_flags": _doc_quality_flags_joined_sql(g["ftq"]),
        "doc_quality_agg": ORACLE_SQL["doc_quality_agg"],
        "quality_funnel": ORACLE_SQL["quality_funnel"],
        "scrub_documents": _scrub_documents_sql(g["scrub_docs"]),
        "pii_detections": f"""
SELECT url, entity_type, CAST("start" AS INTEGER) AS "start",
       CAST("end" AS INTEGER) AS "end", score, pattern_name
FROM read_parquet('{g["det"]}') ORDER BY url, "start", "end", entity_type
""",
        "pii_counts": _pii_counts_sql(g["det"]),
        "pii_scrub_pages": f"""
SELECT url, scrubbed_text, CAST(n_entities AS INTEGER) AS n_entities
FROM read_parquet('{g["scrub_pages"]}') ORDER BY url
""",
        "redaction_plan": _redaction_plan_sql(g["det"], g["ocr_det"]),
        "line_dedup_pages": _line_dedup_both_sql(),
        "decontaminate": _decontaminate_sql(),
        "host_rollup": _host_rollup_sql(),
        "host_quota": _host_quota_sql(),
        "doc_fingerprints": _doc_fingerprints_joined_sql(),
        "exact_dup_keepers": ORACLE_SQL["exact_dup_keepers"],
        "minhash_bands": ORACLE_SQL["minhash_bands"],
        "jaccard_consecutive": ORACLE_SQL["jaccard_consecutive"],
        "near_dup_components": ORACLE_SQL["near_dup_components"],
        "severity_rollup": ORACLE_SQL["severity_rollup"],
    }


def _hash_sample_sql() -> str:
    """Same salted-md5-prefix ticket, same thresholds (core.sampling
    constants) — DuckDB's md5() and Spark's F.md5 agree byte-for-byte on
    UTF-8 input, so the keep set is identical by construction."""
    from ..core import sampling as S

    whens = " ".join(
        f"WHEN '{k}' THEN '{S.hex_threshold(r)}'"
        for k, r in sorted(S.SAMPLE_RATES.items())
    )
    return f"""
SELECT doc_id, lang FROM documents
WHERE substr(md5('{S.SAMPLE_SALT}' || CAST(doc_id AS VARCHAR)), 1, {S.HEX_DIGITS})
      < CASE lang {whens} ELSE '{S.hex_threshold(S.DEFAULT_RATE)}' END
ORDER BY doc_id
"""


def _budget_sample_sql() -> str:
    """Full re-derivation of the mixture sample: token totals per language,
    threshold = floor((double(budget)/double(total)) * 16^d) as hex (then
    an exact power-of-two multiply — bit-identical across Python/JVM/DuckDB),
    keep-all 'g' when the stratum fits its budget, inner join drops
    unbudgeted strata. Same TOKEN_RE and core.sampling constants as Spark."""
    from ..core import sampling as S
    from ..operators.textstats import TOKEN_RE

    scale = 16**S.HEX_DIGITS
    values = ", ".join(
        f"('{k}', {int(b)})" for k, b in sorted(S.TOKEN_BUDGETS.items())
    )
    return f"""
WITH t AS (
  SELECT doc_id, lang,
         CAST(len(regexp_extract_all(text, '{_q(TOKEN_RE)}')) AS INTEGER)
           AS n_tokens
  FROM documents
),
tot AS (SELECT lang, sum(n_tokens) AS total FROM t GROUP BY lang),
b(lang, budget) AS (VALUES {values}),
th AS (
  SELECT tot.lang,
    CASE WHEN total <= budget THEN 'g'
         WHEN floor((CAST(budget AS DOUBLE) / CAST(total AS DOUBLE))
                    * {scale}) >= {scale} THEN 'g'
         ELSE printf('%0{S.HEX_DIGITS}x',
                     CAST(floor((CAST(budget AS DOUBLE) / CAST(total AS DOUBLE))
                                * {scale}) AS INTEGER))
    END AS thresh
  FROM tot JOIN b USING (lang)
)
SELECT t.doc_id, t.lang, t.n_tokens
FROM t JOIN th USING (lang)
WHERE substr(md5('{S.BUDGET_SALT}' || CAST(t.doc_id AS VARCHAR)), 1, {S.HEX_DIGITS})
      < th.thresh
ORDER BY t.doc_id
"""


def _token_shards_sql() -> str:
    """The NAIVE single global window (the plan that cannot scale) — if the
    engine's two-phase bucket prefix sum diverges from it by one token
    anywhere, the hash mismatches."""
    from ..operators.packing import SHARD_TOKENS
    from ..operators.textstats import TOKEN_RE

    return f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '{_q(TOKEN_RE)}')) AS BIGINT)
           AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS ticket
  FROM documents
),
r AS (
  SELECT doc_id, n_tokens,
    sum(n_tokens) OVER (ORDER BY ticket, doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tokens AS start_offset
  FROM t
)
SELECT doc_id, n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // {SHARD_TOKENS} AS BIGINT) AS shard_id
FROM r ORDER BY doc_id
"""


ORACLE_SQL["token_shards"] = _token_shards_sql()
