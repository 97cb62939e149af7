"""Quality rules, language-ID, LM perplexity, corpus generator invariants."""

import pandas as pd

from pii_detection_redaction_spark.core.extract import extract_text
from pii_detection_redaction_spark.core.langid import detect_language
from pii_detection_redaction_spark.core.lm import perplexity
from pii_detection_redaction_spark.core.quality import (
    MAX_PERPLEXITY,
    quality_decision,
    rule_flags,
)
from pii_detection_redaction_spark.testing.corpus import pages_df


def test_rule_archetypes_fail_expected_rules():
    df = pages_df(200)
    # archetype wheel: i%20 — see corpus.py docstring
    def flags(i):
        return rule_flags(df.text[i], df.lang[i])

    assert not flags(1)["min_words"]  # too-short
    assert not flags(2)["symbol_ratio"]  # symbol soup
    assert not flags(3)["dup_lines"]  # duplicate lines
    assert not flags(4)["ellipsis_lines"]  # ellipsis lines
    assert not flags(5)["stopwords"]  # stopword-free English
    # plain long docs pass everything (arch 13; arch 10 is the toxic plant)
    ok = flags(13)
    assert all(ok.values()), ok


def test_toxicity_rule_and_mask():
    from pii_detection_redaction_spark.core.toxicity import (
        TOXIC_MASK,
        mask_toxicity,
        toxicity_hits,
        toxicity_spans,
    )

    df = pages_df(200)
    # arch-10 English docs carry 3 planted hits -> rule fails (dropped)
    toxic = [i for i in range(200) if i % 20 == 10 and df.lang[i] == "en"]
    assert toxic, "corpus must contain arch-10 English docs"
    for i in toxic:
        assert toxicity_hits(df.text[i]) >= 3
        assert not rule_flags(df.text[i], df.lang[i])["toxicity"]
    # masking removes every hit, is idempotent, and marks each span
    t = df.text[toxic[0]]
    masked = mask_toxicity(t)
    assert toxicity_hits(masked) == 0
    assert mask_toxicity(masked) == masked
    assert masked.count(TOXIC_MASK) == len(toxicity_spans(t))
    # word-boundary: no substring false positives
    assert toxicity_hits("the shitake mushroom class is fine") == 0
    assert toxicity_hits("Total BULLSHIT, frankly.") == 1


def test_langid_accuracy_on_corpus():
    df = pages_df(1000)
    plain = df[(df.index % 20 >= 10) & (df.text.str.len() > 50)]
    pred = [detect_language(t)[0] for t in plain.text]
    acc = (pd.Series(pred).values == plain.lang.values).mean()
    assert acc >= 0.98, acc


def test_perplexity_separates_clean_from_junk():
    df = pages_df(400)
    clean_rows = df[df.index % 20 == 10].head(10)
    junk = df[df.index % 20 == 2].text.head(10)
    # pipeline semantics: score against the LM of the (predicted) language
    ppl_clean = [perplexity(t, lang) for t, lang in zip(clean_rows.text, clean_rows.lang)]
    ppl_junk = [perplexity(t, "en") for t in junk]
    assert max(ppl_clean) < MAX_PERPLEXITY
    assert min(ppl_junk) > MAX_PERPLEXITY


def test_quality_decision_reasons():
    keep, reasons = quality_decision("short", "en", 0.9, 10.0)
    assert not keep and "min_words" in reasons
    text = " ".join(["the data and report of that system have with value"] * 5)
    keep2, reasons2 = quality_decision(text, "en", 0.9, 10.0)
    assert keep2 and reasons2 == []
    keep3, reasons3 = quality_decision(text, "en", 0.1, 10.0)
    assert not keep3 and reasons3 == ["lang_conf"]


def test_corpus_deterministic_and_prefix_stable():
    a = pages_df(100)
    b = pages_df(100)
    pd.testing.assert_frame_equal(a, b)
    big = pages_df(200)
    pd.testing.assert_frame_equal(a, big.head(100))


def test_html_extraction_byte_identical():
    df = pages_df(300)
    for h, t in zip(df.html, df.text):
        assert extract_text(h) == t


def test_host_skew():
    df = pages_df(2000)
    hosts = df.url.str.extract(r"https://([^/]+)/")[0]
    top2 = hosts.value_counts(normalize=True).head(2).sum()
    assert 0.30 <= top2 <= 0.55, top2


def test_word_boundary_semantics_pinned_across_engines(spark):
    """Pins the MEASURED \\b semantics per engine (core.toxicity module doc):
    Python re (default, Unicode) == Java regex (Spark) — the authoritative
    product-path agreement — while RE2 (DuckDB) is ASCII-\\b and counts a hit
    on non-ASCII adjacency the other two suppress. The RE2 divergence is
    frozen here so any engine behavior change is caught; the corpus guard
    below keeps the differential oracle exact on the synthetic data."""
    import duckdb
    from pyspark.sql import functions as F

    from pii_detection_redaction_spark.core.quality import text_metrics
    from pii_detection_redaction_spark.core.toxicity import (
        TOXICITY_REGEX,
        toxicity_hits,
    )
    from pii_detection_redaction_spark.functions.quality import STOP_RE

    # 'pissé'/'andé': one word under Unicode \b (no hit), split at the accent
    # under ASCII \b (hit). Bare 'piss' fires everywhere.
    text = "il a pissé partout mais le bastardo dit andé piss fin"
    assert toxicity_hits(text) == 1
    assert text_metrics(text)["stop_hits"] == 0

    row = (
        spark.createDataFrame([(text,)], "t string")
        .select(
            F.regexp_count("t", F.lit(TOXICITY_REGEX)).alias("tox"),
            F.regexp_count("t", F.lit(STOP_RE)).alias("stop"),
        )
        .collect()[0]
    )
    assert (row["tox"], row["stop"]) == (1, 0)  # Java == Python oracle

    duck = duckdb.sql(
        f"SELECT len(regexp_extract_all('{text}', '{TOXICITY_REGEX}')) AS tox,"
        f" len(regexp_extract_all('{text}', '{STOP_RE}')) AS stop"
    ).df()
    # RE2's ASCII \b sees 'piss'+'é' and 'and'+'é' — known, documented.
    assert (int(duck["tox"][0]), int(duck["stop"][0])) == (2, 1)


def test_corpus_free_of_re2_boundary_divergence():
    """Guard: no document in the synthetic corpus puts a lexicon/stopword
    term adjacent to a non-ASCII word char, so the DuckDB (RE2, ASCII-\\b)
    oracle counts equal the Python/Java (Unicode-\\b) counts everywhere the
    differential runs."""
    import re

    from pii_detection_redaction_spark.core.quality import STOPWORD_REGEX
    from pii_detection_redaction_spark.core.toxicity import TOXICITY_REGEX

    from pii_detection_redaction_spark.core.recognizers import default_bank
    from pii_detection_redaction_spark.plans.queries import PII_SQL_ENTITIES

    bank = {s.entity_type: s for s in default_bank()}
    patterns = [TOXICITY_REGEX, STOPWORD_REGEX]
    # the pii_subset_counts oracle re-counts with these bank regexes in RE2
    patterns += [p.regex for et in PII_SQL_ENTITIES for p in bank[et].patterns]
    texts = list(pages_df(2000).text)
    for pattern in patterns:
        uni = re.compile(pattern)
        ascii_ = re.compile(pattern, re.ASCII)
        for text in texts:
            assert len(uni.findall(text)) == len(ascii_.findall(text)), pattern


def test_documents_table_free_of_langid_re2_divergence(sf001_dir):
    """The langid_documents DuckDB oracle evaluates the stopword patterns in
    RE2, whose ASCII \\b cannot match accented stopwords (für/être/más...:
    measured 'das ist für alle...' counts 6 in Python/Java but 5 in RE2).
    The differential stays exact because the driver's documents corpus
    contains no accented-stopword occurrences — freeze that precondition so
    a corpus change fails loudly here instead of flaking the oracle."""
    import re

    import pandas as pd

    from pii_detection_redaction_spark.core.langid import STOPWORD_PATTERNS

    texts = pd.read_parquet(f"{sf001_dir}/documents.parquet", columns=["text"])["text"]
    for pattern in STOPWORD_PATTERNS.values():
        uni = re.compile("(?i)" + pattern)
        ascii_ = re.compile("(?i)" + pattern, re.ASCII)
        for text in texts:
            assert len(uni.findall(text)) == len(ascii_.findall(text))


def test_token_stopword_path_equals_regex_spec(sf001_dir):
    """The token path (core.langid.stopword_hit_rows — one tokenization
    pass, used by both Python engines) must count exactly what the
    STOPWORD_PATTERNS regexes (the spec the SQL/JVM engines consume)
    count. The equivalence holds structurally for word-char-only
    alternatives (asserted at import) plus ``(?i)`` == ``str.lower()`` on
    the stopword repertoire; this test pins it empirically on every text
    the differential gates run over, plus adversarial edge strings."""
    import re

    import pandas as pd

    from pii_detection_redaction_spark.core import langid as L

    texts = list(pages_df(2000).text)
    texts += list(
        pd.read_parquet(f"{sf001_dir}/documents.parquet", columns=["text"])["text"]
    )
    texts += [
        "",
        "the THE The tHe",
        "les le lesles le-les",
        "das ist für alle über",  # accented stopwords
        "the's that's 'the' (and) [of]",
        "und7 7und 7und7 und",
        "あいtheう",  # kana adjacent to a stopword (\w boundary)
        "dİe İst das İN the",  # İ: token fold (casefold İ→i) == (?i) regex
    ]
    for text in texts:
        rows = L.stopword_hit_rows(text)
        for i, lang in enumerate(L._SCORED_LANGS):
            assert rows[i] == len(L._stop_res[lang].findall(text)), (
                lang,
                text[:80],
            )


def test_charclass_matrix_equals_regex_counts(sf001_dir):
    """The codepoint-LUT batch counter (core.langid.charclass_count_matrix
    — one pass for all of \\S / charset / script counts in the vectorized
    UDF) must count exactly what the per-class regexes (the spec the
    oracle, JVM, and DuckDB engines consume) count, per document, for
    every class. Pinned on the differential corpora plus adversarial
    mixed-script / empty / whitespace-only / astral-plane strings."""
    import numpy as np
    import pandas as pd

    from pii_detection_redaction_spark.core import langid as L

    texts = list(pages_df(1000).text)
    texts += list(
        pd.read_parquet(f"{sf001_dir}/documents.parquet", columns=["text"])["text"]
    )
    texts += [
        "",
        " \t\n  　",  # unicode whitespace repertoire
        "汉字" * 3 + "ひらがなカタカナー" + "가나다" + "é à ñ ß õ ì ¿¡",
        "\U0001F600 astral \U00010000 plane",  # above BMP
        "ー",  # prolonged sound mark alone (kana class member)
        "edge一",  # CJK range endpoints
        "鿿가힣ぁゖァヺ",
    ]
    lens, counts = L.charclass_count_matrix(np.array(texts, dtype=object))
    for i, text in enumerate(texts):
        assert lens[i] == len(text)
        for name, rx in L._CLASS_RES:
            j = L._CLASS_BIT[name]
            assert counts[i, j] == len(rx.findall(text)), (name, text[:80])
        # the \S count the UDF derives (len - ws) == the spec regex count
        nonspace = lens[i] - counts[i, L._CLASS_BIT["ws"]]
        assert nonspace == len(L._nonspace_re.findall(text)), text[:80]


def test_all_codepoints_is_every_scalar_value_in_order():
    """The numpy-decoded string the class LUTs are built from holds every
    codepoint but the surrogate gap, in order — the same string as the
    per-codepoint ``chr`` join."""
    from pii_detection_redaction_spark.core.langid import all_codepoints

    want = "".join(map(chr, range(0xD800))) + "".join(
        map(chr, range(0xE000, 0x110000))
    )
    assert all_codepoints() == want


def test_perplexity_batch_bitwise():
    """perplexity_batch must return bit-for-bit what per-doc perplexity
    returns — the fused UDF scores with the batch path while the pure
    oracle scores per doc, so any float drift would break the pipeline
    differential. Covers short/empty/whitespace texts (the early-return
    branch) and char-based + Latin models."""
    import struct

    from pii_detection_redaction_spark.core.lm import all_models

    models = all_models()
    texts = list(pages_df(300).text)
    texts += ["", "a", "ab", "abc", "   ", "\n\t ", "x " * 500]
    # chars unseen in ANY training corpus (dense sentinel id V) + astral
    # (clamped to 0xFFFE by _encode) + mixed known/unknown boundaries
    texts += [
        "☃☄★ snowman run",
        "normal text \U0001F600 with astral \U00010348 chars",
        "ᚠᚢᚦᚨᚱᚲ runic only",
        "边界: mixed 漢字 and العربية and кириллица",
    ]
    for lang in ("en", "de", "fr", "ja", "zh"):
        m = models[lang]
        batch = m.perplexity_batch(texts)
        for t, b in zip(texts, batch):
            one = m.perplexity(t)
            assert struct.pack("<d", one) == struct.pack("<d", float(b)), (
                lang,
                t[:40],
            )


def test_stopword_token_spec_cross_engine():
    """The stopword TOKEN spec (lowercased \\w+ token membership) is
    replayed identically by the DuckDB oracle fragment — including the
    Unicode fold-only characters where (?i) regex engines disagree among
    themselves (Python re folds ı→i and ſ→s, RE2 only ſ→s, lower()
    neither): the spec pins lower()-equality in every engine."""
    import duckdb

    from pii_detection_redaction_spark.core import langid as L

    toks = r"regexp_extract_all(lower(t), '[\p{L}\p{N}_]+')"
    samples = [
        "ıt ıs ın the box",          # dotless i: no engine may fold
        "dİe İst das İN the",        # İ (U+0130): the one length-changing
        "altrİ beİ depoİs sİn İl",   # lower(); pinned to DuckDB's one-char
        "İ dİedİe ̇die di̇e",         # i̇ mapping via core.casefold İ→i
        "iſt das gut iſt",           # long s: RE2's (?i) used to fold this
        "müfür für dafür fürs",      # accent-adjacent boundaries
        "café étre être the",
        "日本語 the中文 und",
        "étre et les the",     # combining mark inside a token
        "",
        "the THE ThE tHE",
        "das ist für alle über",
    ]
    con = duckdb.connect()
    for s in samples:
        rows = L.stopword_hit_rows(s)
        for i, lg in enumerate(L._SCORED_LANGS):
            words = ", ".join("'" + w + "'" for w in sorted(L.STOPWORD_SETS[lg]))
            got = con.execute(
                f"SELECT len(list_filter({toks},"
                f" x -> list_contains([{words}], x))) FROM (SELECT ? AS t)",
                [s],
            ).fetchone()[0]
            assert got == rows[i], (lg, s)


def test_charset_evidence_is_language_exclusive():
    """Charset lists hold only characters exclusive to their language among
    the scored set: shared accents (á/í/ó/ú es+pt, à/ç/ê fr+pt+it) must sit
    in NO list — listing them under one language confidently mislabeled
    genuine Portuguese as es and Italian as fr."""
    from pii_detection_redaction_spark.core import langid as L
    from pii_detection_redaction_spark.core.langprofiles import CHARSETS

    shared = set("áíóúàâçèêôù")
    for lang, chars in CHARSETS.items():
        assert not (set(chars) & shared), (lang, set(chars) & shared)
    # the chars of each list appear in no OTHER list
    for lang, chars in CHARSETS.items():
        for other, ochars in CHARSETS.items():
            if other != lang:
                assert not (set(chars) & set(ochars)), (lang, other)
    # probes: exclusive evidence wins; ambiguous-only text is und (honest),
    # never a confident wrong language
    assert L.detect_language("qualità della città è così bella")[0] == "it"
    assert L.detect_language("la casa bonita y el niño pequeño")[0] == "es"
    assert L.detect_language("le garçon était ailleurs ça s'île flûte œuvre")[0] == "fr"
    got = L.detect_language("análise do relatório histórico e económico")
    assert got[0] in ("pt", "und") and got != ("es", 1.0)


def test_rule_flags_threshold_edges_agree_across_engines():
    """The DuckDB oracle's rule flags (``plans.oracles.RULE_FLAGS_SQL``) and
    the Python ``rule_flags_batch`` (the fused UDF's and the oracle's one
    spelling) agree on hand-built metric rows at every threshold and one
    ulp (one unit for counts) on each side, for word-based, char-based,
    ``und`` and NULL languages."""
    import math

    import duckdb
    import numpy as np
    import pandas as pd

    from pii_detection_redaction_spark.core import quality as Q
    from pii_detection_redaction_spark.core.toxicity import MAX_TOXICITY_HITS
    from pii_detection_redaction_spark.plans.oracles import RULE_FLAGS_SQL

    def around(x):
        if isinstance(x, int):
            return [x - 1, x, x + 1]
        return [math.nextafter(x, -math.inf), x, math.nextafter(x, math.inf)]

    base = {"n_chars": 1000, "n_words": 200, "mean_word_len": 5.0,
            "symbol_ratio": 0.0, "stop_hits": 10, "dup_line_frac": 0.0,
            "ellipsis_line_frac": 0.0, "tox_hits": 0}
    edges = {
        "n_chars": around(Q.MIN_WORDS),
        "n_words": around(Q.MIN_WORDS) + around(Q.MAX_WORDS),
        "mean_word_len": around(Q.MIN_MEAN_WORD_LEN) + around(Q.MAX_MEAN_WORD_LEN),
        "symbol_ratio": around(Q.MAX_SYMBOL_RATIO),
        "stop_hits": around(Q.MIN_STOPWORD_HITS),
        "dup_line_frac": around(Q.MAX_DUP_LINE_FRAC),
        "ellipsis_line_frac": around(Q.MAX_ELLIPSIS_LINE_FRAC),
        "tox_hits": around(MAX_TOXICITY_HITS),
    }
    variants = [dict(base, **{k: v}) for k, vals in edges.items() for v in vals]
    # both length rules at once: n_chars passes while n_words fails
    variants.append(dict(base, n_words=Q.MIN_WORDS - 1, mean_word_len=50.0))
    fields = list(base)
    rows = [tuple(v[f] for f in fields) + (lang,)
            for v in variants for lang in ("en", "de", "zh", "ja", "und", None)]
    frame = pd.DataFrame(rows, columns=fields + ["lang"])
    frame["i"] = np.arange(len(frame))
    con = duckdb.connect()
    con.register("edges", frame)
    got = con.execute(
        f"SELECT {RULE_FLAGS_SQL} FROM edges ORDER BY i").df()
    py = Q.rule_flags_batch(frame, frame["lang"])
    for name in Q.RULE_NAMES:
        sql = got[f"rule_{name}"].tolist()
        assert sql == py[name].tolist(), name
        assert set(sql) == {True, False}, name  # every edge is exercised
    # NULL and 'und' take the word-based branch (and skip stopwords)
    for i, r in enumerate(rows):
        if r[-1] in (None, "und"):
            assert py["min_words"][i] == (r[1] >= Q.MIN_WORDS)
            assert py["stopwords"][i]
