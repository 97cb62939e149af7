"""Operator tests: dedup recall on planted near-dups, cell-wise CSV
redaction, sampling, decontamination, packing, layout/OCR."""

import random

import pytest
from pyspark.sql import functions as F

from pii_detection_redaction_spark.core import hashing as H
from pii_detection_redaction_spark.operators import dedup as D
from pii_detection_redaction_spark.operators.csvops import (
    cell_detections_long,
    detect_cells,
    detection_summary,
    redact_cells,
    unpivot_cells,
)


def _near_dup_corpus():
    """30 base docs + 10 near-dups (1 word changed) + 2 exact dups."""
    rng = random.Random(7)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = []
    for i in range(30):
        words = [rng.choice(vocab) for _ in range(60)]
        docs.append((i, " ".join(words)))
    for j in range(10):  # near-dups of docs 0-9
        words = docs[j][1].split()
        words[30] = "CHANGED"
        docs.append((100 + j, " ".join(words)))
    docs.append((200, docs[0][1]))  # exact dup
    docs.append((201, docs[1][1]))
    return docs


@pytest.fixture(scope="module")
def dup_df(spark):
    return spark.createDataFrame(_near_dup_corpus(), "doc_id long, text string")


def test_exact_dedup(spark, dup_df):
    groups = D.exact_duplicates(dup_df).collect()
    assert len(groups) == 2
    assert {g["keeper_id"] for g in groups} == {0, 1}
    kept = D.dedup_exact(dup_df)
    assert kept.count() == 40
    assert kept.filter(F.col("doc_id").isin(200, 201)).count() == 0


def test_minhash_recall_and_precision(spark, dup_df):
    pairs = {(r["id_a"], r["id_b"]) for r in D.minhash_candidate_pairs(dup_df).collect()}
    # every planted near-dup pair must be a candidate (high-Jaccard recall)
    for j in range(10):
        assert (j, 100 + j) in pairs, f"missing near-dup pair {j}"
    assert (0, 200) in pairs and (1, 201) in pairs
    verified = D.jaccard_verify_pairs(dup_df, D.minhash_candidate_pairs(dup_df),
                                      threshold=0.5).collect()
    vpairs = {(r["id_a"], r["id_b"]) for r in verified}
    for j in range(10):
        assert (j, 100 + j) in vpairs
    for r in verified:
        assert r["jaccard"] >= 0.5


def test_minhash_num_hashes_bounded(spark, dup_df):
    """num_hashes beyond the affine constant table must raise everywhere —
    silently truncating would give non-empty docs shorter signatures than
    the empty-doc sentinel path (inconsistent band spaces)."""
    with pytest.raises(ValueError, match="MINHASH_MAX_HASHES"):
        H.minhash_signature("some text", num_hashes=H.MINHASH_MAX_HASHES + 1)
    with pytest.raises(ValueError, match="MINHASH_MAX_HASHES"):
        H.minhash_signature("", num_hashes=128)  # empty-doc path too
    # the operator entry point fails on the driver at plan-build time
    with pytest.raises(ValueError, match="MINHASH_MAX_HASHES"):
        D.minhash_band_table(dup_df, num_hashes=128)
    # the max itself works, both paths
    assert len(H.minhash_signature("abcdef", num_hashes=H.MINHASH_MAX_HASHES)) == 64
    assert len(H.minhash_signature("", num_hashes=H.MINHASH_MAX_HASHES)) == 64


def test_csv_cell_redaction(spark):
    rows = [
        (1, "Bob Smith", "bob.smith@ex.com", "tfn 123-456-789"),
        (2, "", "no pii here at all", "plain note"),
    ]
    df = spark.createDataFrame(rows, "row_id long, name string, email string, notes string")
    long = unpivot_cells(df, "row_id", ["name", "email", "notes"])
    assert long.count() == 6
    detected = detect_cells(long)
    # empty cell: the ROW survives (single-shuffle reassembly needs it) but
    # analysis is gated — no detections
    empty_cell = detected.filter(
        (F.col("row_id") == 2) & (F.col("col_name") == "name")
    ).collect()
    assert len(empty_cell) == 1 and empty_cell[0]["detections"] == []
    dets = cell_detections_long(detected, "row_id")
    types = {r["entity_type"] for r in dets.collect()}
    assert "EMAIL_ADDRESS" in types and "AU_TFN" in types
    red = redact_cells(detected).collect()
    email_cell = [r for r in red if r["col_name"] == "email" and r["row_id"] == 1][0]
    assert "bob.smith@ex.com" not in email_cell["redacted_cell"]
    assert len(email_cell["redacted_cell"]) == len("bob.smith@ex.com")  # mask preserves length
    summary = detection_summary(dets, "row_id").collect()
    assert all(r["n_detections"] >= r["n_cells"] for r in summary)


def test_connected_components_round_count(spark):
    """Pointer jumping contracts paths exponentially: a 64-vertex chain must
    converge in O(log n) rounds (min-label alone needs ~63), and labels must
    still be the component-min ids."""
    from pii_detection_redaction_spark.operators.graph import (
        connected_components_with_rounds,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    labels, rounds = connected_components_with_rounds(chain)
    got = {r["id"]: r["component"] for r in labels.collect()}
    assert got == {i: 0 for i in range(64)}
    assert rounds <= 8, rounds


def test_lsh_band_join_aqe_skew_split(spark):
    """Boilerplate-duplicate clusters are the canonical LSH hot key: every
    clone shares every band, so one (band_idx, band_hash) key holds the
    whole cluster and the band self-join's shuffle partition for it grows
    quadratically. Evidence for the 100-TB path: with AQE skew-join
    thresholds scaled down to test-corpus sizes, Spark splits the skewed
    partition (SortMergeJoin(skew=true) in the final adaptive plan) and the
    candidate set is still exactly complete — skew handling is a pure
    physical re-plan, never a semantics change."""
    import pandas as pd

    from pii_detection_redaction_spark.operators.dedup import minhash_candidate_pairs
    from pii_detection_redaction_spark.testing.corpus import pages_df

    boiler = (
        "Subscribe to our newsletter today. All rights reserved worldwide. "
        "Cookie policy applies here.\n" * 5
    )
    rows = [{"doc_id": i, "text": t} for i, t in enumerate(pages_df(400).text)]
    n_clones = 25  # ~6% of the corpus is one identical boilerplate doc
    rows += [{"doc_id": 10_000 + j, "text": boiler} for j in range(n_clones)]
    sdf = spark.createDataFrame(pd.DataFrame(rows)).repartition(8)

    keys = [
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0"),
        ("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB"),
        ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB"),
        ("spark.sql.adaptive.forceOptimizeSkewedJoin", "true"),
    ]
    saved = {}
    for k, v in keys:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        cand = minhash_candidate_pairs(sdf)
        got = {(r["id_a"], r["id_b"]) for r in cand.collect()}
        expected = {
            (10_000 + a, 10_000 + b)
            for a in range(n_clones)
            for b in range(a + 1, n_clones)
        }
        assert expected <= got  # all 300 clone pairs survive the split
        plan = cand._sc._jvm.PythonSQLUtils.explainString(
            cand._jdf.queryExecution(), "simple"
        )
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_compression_stats_matches_spec(spark):
    """Spark compression_stats == core.quality.compression_ratio per doc,
    and the signal separates repetitive from high-entropy text."""
    import pytest as _pytest

    from pii_detection_redaction_spark.core.quality import compression_ratio
    from pii_detection_redaction_spark.operators.textstats import compression_stats

    import hashlib as _hl

    texts = ["abc " * 200, "the quick brown fox jumps over the lazy dog", "", "x",
             "".join(_hl.md5(str(i).encode()).hexdigest() for i in range(50))]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    got = {r.doc_id: r for r in compression_stats(df).collect()}
    for i, t in enumerate(texts):
        assert got[i].n_bytes == len(t.encode("utf-8"))
        assert got[i].compression_ratio == _pytest.approx(compression_ratio(t))
    assert got[0].compression_ratio < 0.1  # repetitive compresses hard
    assert got[4].compression_ratio > 0.4  # high-entropy hex barely compresses


# --- deterministic stratified hash sampling ---------------------------------


def test_hash_sample_matches_python_mirror(spark):
    from pii_detection_redaction_spark.core.sampling import keep_row
    from pii_detection_redaction_spark.operators.sampling import stratified_sample

    rows = [(i, "en" if i % 3 else "fr") for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    got = {r.doc_id for r in stratified_sample(df, "doc_id", "lang").collect()}
    rates = {"en": 0.25}
    want = {i for i, l in rows if keep_row(str(i), rates.get(l, 1.0))}
    assert got == want
    # stratification is real: all fr rows kept, en rows thinned near 25%
    fr = {i for i, l in rows if l == "fr"}
    assert fr <= got
    en_kept = len(got - fr) / len([1 for _, l in rows if l == "en"])
    assert 0.1 < en_kept < 0.45


def test_hash_sample_partitioning_invariant(spark):
    """The keep set is a pure function of the key — identical under any
    physical layout (the property rand()/DataFrame.sample cannot give)."""
    from pii_detection_redaction_spark.operators.sampling import stratified_sample

    rows = [(i, "en") for i in range(300)]
    a = spark.createDataFrame(rows, ["doc_id", "lang"]).repartition(1)
    b = spark.createDataFrame(rows, ["doc_id", "lang"]).repartition(17, "lang")
    ka = sorted(r.doc_id for r in stratified_sample(a, "doc_id", "lang").collect())
    kb = sorted(r.doc_id for r in stratified_sample(b, "doc_id", "lang").collect())
    assert ka == kb and len(ka) > 0


def test_hash_sample_plan_scan_side(spark):
    """Zero shuffle: the sampling predicate is a codegen'd Filter directly
    over the scan."""
    from pii_detection_redaction_spark.operators.sampling import stratified_sample

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang"
    )
    plan = (
        stratified_sample(df, "doc_id", "lang")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "*(1) Filter" in plan  # '*' = whole-stage codegen stage


def test_ppl_threshold_buckets_agree_with_window(spark):
    """The broadcast-cutoff scale path reproduces the exact NTILE bucketing
    when cutoffs are the tertile maxima (tie-free input)."""
    from pii_detection_redaction_spark.operators.textstats import (
        ppl_tertile_buckets,
        ppl_threshold_buckets,
    )

    rows = [(i, "en" if i % 2 else "de", float(100 + 7 * i % 97) + i / 1000.0)
            for i in range(120)]
    df = spark.createDataFrame(rows, ["doc_id", "lang_pred", "ppl"])
    exact = ppl_tertile_buckets(df)
    cutoffs = (
        exact.groupBy("lang_pred")
        .agg(
            F.max(F.when(F.col("ppl_bucket") == "head", F.col("ppl"))).alias("t1"),
            F.max(F.when(F.col("ppl_bucket") == "middle", F.col("ppl"))).alias("t2"),
        )
    )
    approx = ppl_threshold_buckets(df, cutoffs)
    a = {r.doc_id: r.ppl_bucket for r in exact.collect()}
    b = {r.doc_id: r.ppl_bucket for r in approx.collect()}
    assert a == b
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # corpus side never shuffles


# --- test-set decontamination ------------------------------------------------


def test_decontamination_ngram_overlap(spark):
    from pii_detection_redaction_spark.operators.decontam import flag_contaminated

    shared = "the quick brown fox jumps over the lazy dog tonight"
    corpus = spark.createDataFrame(
        [
            (1, "intro words here then " + shared + " and a long tail of words"),
            (2, "completely different content with no overlap at all in any span"),
            (3, "short doc"),  # < 8 tokens -> zero grams, never contaminated
        ],
        ["doc_id", "text"],
    )
    eval_df = spark.createDataFrame(
        [(100, "benchmark question: " + shared + " answer choice")], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in flag_contaminated(corpus, eval_df).collect()}
    assert out[1].contaminated and out[1].n_shared_grams >= 1
    assert not out[2].contaminated and out[2].n_shared_grams == 0
    assert not out[3].contaminated
    assert len(out) == 3  # every corpus row preserved


def test_decontamination_repeated_gram_probes_once(spark):
    """array_distinct before explode: a doc repeating one contaminated gram
    many times counts it once."""
    from pii_detection_redaction_spark.operators.decontam import flag_contaminated

    gram = "one two three four five six seven eight"
    corpus = spark.createDataFrame(
        [(1, " . ".join([gram] * 50))], ["doc_id", "text"]
    )
    eval_df = spark.createDataFrame([(9, gram)], ["doc_id", "text"])
    row = flag_contaminated(corpus, eval_df).collect()[0]
    # repeats of the same shingle collapse; only the distinct shingles that
    # appear in the eval set count (the joined '. '-separated text also forms
    # cross-boundary shingles, which are distinct and uncontaminated)
    assert row.contaminated and row.n_shared_grams == 1


def test_decontamination_plan_broadcasts_eval(spark):
    from pii_detection_redaction_spark.operators.decontam import flag_contaminated

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    eval_df = corpus.limit(20)
    plan = (
        flag_contaminated(corpus, eval_df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_decontamination_strategies_agree(spark):
    """Broadcast and shuffle semi-join produce identical flags (the seam for
    corpus-scale eval sides / cross-deduplication)."""
    from pii_detection_redaction_spark.operators.decontam import flag_contaminated

    corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    eval_df = corpus.filter(F.col("doc_id") % 7 == 0)
    train = corpus.filter(F.col("doc_id") % 7 != 0)
    a = sorted(map(tuple, flag_contaminated(train, eval_df).collect()))
    b = sorted(map(tuple, flag_contaminated(train, eval_df, strategy="shuffle").collect()))
    assert a == b
    # no plan-shape assertion for the shuffle strategy: the hint is absent,
    # and AQE is free to (correctly) downgrade a small build side back to a
    # runtime broadcast — the seam's value is at sizes where it can't


# --- token-budget mixture sampling -------------------------------------------


def _budget_rows():
    # lang, deterministic token counts; en ~3000 tokens total (budget 900
    # binds), de ~500 (budget 10^7 keeps all), zh unbudgeted (dropped)
    rows = []
    for i in range(300):
        rows.append((i, "en", 10 + (i % 5)))
    for i in range(300, 340):
        rows.append((i, "de", 12))
    for i in range(340, 360):
        rows.append((i, "zh", 9))
    return rows


BUDGETS = {"en": 900, "de": 10_000_000}


def test_budget_sample_matches_python_mirror(spark):
    from pii_detection_redaction_spark.core.sampling import keep_row_budget
    from pii_detection_redaction_spark.operators.sampling import token_budget_sample

    rows = _budget_rows()
    df = spark.createDataFrame(rows, ["doc_id", "lang", "n_tokens"])
    got = {r.doc_id for r in token_budget_sample(df, "doc_id", "lang", "n_tokens", BUDGETS).collect()}
    totals = {}
    for _, lang, n in rows:
        totals[lang] = totals.get(lang, 0) + n
    want = {
        i
        for i, lang, _ in rows
        if lang in BUDGETS and keep_row_budget(str(i), BUDGETS[lang], totals[lang])
    }
    assert got == want
    # keep-all stratum intact, unbudgeted stratum gone, binding stratum thinned
    assert {i for i, l, _ in rows if l == "de"} <= got
    assert not any(l == "zh" for i, l, _ in rows if i in got)
    en_tokens = sum(n for i, l, n in rows if l == "en" and i in got)
    assert 450 < en_tokens < 1350  # expectation 900, O(sqrt) concentration


def test_budget_sample_variants_agree(spark):
    """Driver-literal CASE vs broadcast-join threshold column: identical
    keep set — the JVM floor/format threshold arithmetic reproduces the
    Python spec bit-for-bit."""
    from pii_detection_redaction_spark.operators.sampling import (
        token_budget_sample,
        token_budget_sample_join,
    )

    df = spark.createDataFrame(_budget_rows(), ["doc_id", "lang", "n_tokens"])
    a = sorted(r.doc_id for r in token_budget_sample(df, "doc_id", "lang", "n_tokens", BUDGETS).collect())
    b = sorted(
        r.doc_id
        for r in token_budget_sample_join(df, "doc_id", "lang", "n_tokens", BUDGETS).collect()
    )
    assert a == b and len(a) > 40


# --- Bloom-gated incremental ingestion ---------------------------------------


def test_bloom_no_false_negatives_pure():
    """Spec property: every inserted key probes true — by construction, for
    any key set and any sizing (here: adversarially small m)."""
    from pii_detection_redaction_spark.core import bloom as B

    keys = [f"https://h{i % 7}.ex/p{i}" for i in range(500)]
    bits = B.build_bitmap(keys, m=64, k=3)
    assert all(B.might_contain(k, bits, m=64, k=3) for k in keys)


def test_incremental_new_matches_exact_and_mirror(spark):
    """Engine verdicts == plain anti-join (exactness) AND Spark's
    bloom_maybe == the pure-Python probe (spec parity), on the catalog
    fixture where false positives actually occur."""
    from pii_detection_redaction_spark.core import bloom as B
    from pii_detection_redaction_spark.operators.dedup import incremental_new
    from pii_detection_redaction_spark.operators.web import canonical_url_col
    from pii_detection_redaction_spark.testing.corpus import (
        ensure_batch_parquet,
        ensure_crawl_parquet,
    )

    hist = spark.read.parquet(ensure_crawl_parquet()).select(
        canonical_url_col().alias("key")
    )
    batch = spark.read.parquet(ensure_batch_parquet()).select(
        canonical_url_col().alias("key")
    )
    got = {r.key: (r.bloom_maybe, r.is_new) for r in
           incremental_new(batch, hist, key_col="key").collect()}
    hist_keys = {r.key for r in hist.distinct().collect()}
    batch_keys = [r.key for r in batch.collect()]
    assert len(got) == len(batch_keys)
    bits = B.build_bitmap(hist_keys)
    fp = 0
    for k in batch_keys:
        maybe, new = got[k]
        assert new == (k not in hist_keys)  # exact == anti-join
        assert maybe == B.might_contain(k, bits)  # spec parity
        assert not (k in hist_keys and not maybe)  # no false negatives
        fp += int(maybe and new)
    assert fp > 0  # sizing is small enough that the FP verify path runs


# --- token-shard packing ------------------------------------------------------


def test_token_shards_two_phase_equals_global_window(spark):
    """The distributed (bucketed) prefix sum must equal the naive single
    global window bit-for-bit."""
    from pyspark.sql import Window

    from pii_detection_redaction_spark.operators.packing import token_shards

    rows = [(i, 7 + (i * 13) % 90) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    got = {r.doc_id: (r.start_offset, r.shard_id)
           for r in token_shards(df, shard_tokens=300).collect()}
    w = Window.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = df.withColumn(
        "start_offset", F.sum(F.col("n_tokens").cast("long")).over(w) - F.col("n_tokens")
    ).withColumn("shard_id", F.floor(F.col("start_offset") / F.lit(300)))
    want = {r.doc_id: (r.start_offset, r.shard_id) for r in naive.collect()}
    assert got == want
    # prefix-sum invariants: starts begin at 0 and chain exactly
    seq = sorted(got.items(), key=lambda kv: kv[1][0])
    assert seq[0][1][0] == 0
    tok = dict(rows)
    for (a, (sa, _)), (b, (sb, _)) in zip(seq, seq[1:]):
        assert sb == sa + tok[a]
    assert len({s for _, (_, s) in got.items()}) > 5  # multiple shards filled


def test_token_shards_partitioning_invariant(spark):
    from pii_detection_redaction_spark.operators.packing import token_shards

    rows = [(i, 5 + i % 11) for i in range(300)]
    a = spark.createDataFrame(rows, ["doc_id", "n_tokens"]).repartition(1)
    b = spark.createDataFrame(rows, ["doc_id", "n_tokens"]).repartition(13, "n_tokens")
    ra = sorted((r.doc_id, r.start_offset, r.shard_id)
                for r in token_shards(a, shard_tokens=100).collect())
    rb = sorted((r.doc_id, r.start_offset, r.shard_id)
                for r in token_shards(b, shard_tokens=100).collect())
    assert ra == rb


def test_budget_sample_filter_is_scan_side(spark):
    """After the (eagerly collected) totals agg, the sample itself is a
    literal-CASE Filter over the scan — zero shuffle, like
    stratified_sample."""
    from pii_detection_redaction_spark.operators.sampling import token_budget_sample

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang"
    ).withColumn("n_tokens", F.length("doc_id"))
    plan = (
        token_budget_sample(df, "doc_id", "lang", "n_tokens", {"en": 10})
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_token_shards_plan_single_payload_exchange(spark):
    """The distributed prefix sum costs ONE hash Exchange (the per-bucket
    window); bucket offsets ride a BroadcastExchange."""
    from pii_detection_redaction_spark.operators.packing import token_shards

    df = spark.createDataFrame([(i, 5) for i in range(50)], ["doc_id", "n_tokens"])
    plan = token_shards(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastExchange" in plan


def test_redaction_plan_matches_python_spec(spark):
    """operators.layout's JVM columns reproduce core.layout.plan_row exactly
    (one spec, three engines — the DuckDB side is the catalog oracle),
    including multi-line clamp, line starts/ends, first-wins dedup, unknown
    entity types (-> 'low' color), and the conf decimal rendering."""
    from pii_detection_redaction_spark.core import layout as L
    from pii_detection_redaction_spark.operators.layout import redaction_plan

    text = (
        "call 0412 345 678 now\nemail bob@x.co today\nbob@x.co again\n"
        "owner: Jane Doe.\nre:\tAcme Pty;;\nref: bob@x.co\n...."
    )
    pages = spark.createDataFrame([("u1", text)], ["url", "text"])
    ln3 = text.index("owner:")       # line 3 start
    ln4 = text.index("re:\t")        # line 4 start
    ln5 = text.index("ref: ")        # line 5 start
    ln6 = text.index("....")         # line 6 start
    dets = [
        ("u1", "AU_PHONE_NUMBER", 5, 17, 0.75),
        ("u1", "EMAIL_ADDRESS", 28, 36, 0.85),   # line 1
        ("u1", "EMAIL_ADDRESS", 43, 51, 0.85),   # same value, later -> deduped
        ("u1", "MYSTERY_TYPE", 0, 4, 1.0),       # unknown -> 'low' color
        ("u1", "DATE_TIME", 18, 25, 0.6),        # crosses the newline -> clamp
        # analyzer.py:186-195 post-processing cases:
        # PERSON after colon, leading ws + trailing '.' -> "Jane Doe"
        ("u1", "PERSON", ln3 + 6, ln3 + 16, 0.85),
        # ORGANIZATION after colon+tab, trailing ';;' -> "Acme Pty"
        ("u1", "ORGANIZATION", ln4 + 3, ln4 + 13, 0.7),
        # non-colon type after ':' keeps its leading space (colon rule is
        # PERSON/ORG-only); no trailing punct to strip
        ("u1", "EMAIL_ADDRESS", ln5 + 4, ln5 + 13, 0.85),
        # span that is ALL trailing punctuation -> emptied -> dropped
        ("u1", "URL", ln6, ln6 + 4, 0.5),
    ]
    d = spark.createDataFrame(
        dets, "url string, entity_type string, start int, end int, score double"
    )
    rows = {
        (r.entity_type, r.start): r.asDict()
        for r in redaction_plan(spark, d, pages).collect()
    }
    # pure-Python expectation: post-process, drop emptied, first-wins dedup
    exp_rows, seen = {}, set()
    for _, et, s, e, sc in sorted(dets, key=lambda t: (t[2], t[3])):
        s2, e2 = L.postprocess_span(text, s, e, et)
        if e2 <= s2:
            continue
        key = (et, text[s2:e2])
        if key in seen:
            continue
        seen.add(key)
        exp_rows[(et, s2)] = L.plan_row(text, s2, e2, et, round(sc, 4))
    assert set(rows) == set(exp_rows)
    # first-wins: the second identical (type, value) span is gone
    assert ("EMAIL_ADDRESS", 43) not in rows
    # the all-punct span was dropped entirely
    assert not any(et == "URL" for et, _ in rows)
    for k2, got in rows.items():
        for k, v in exp_rows[k2].items():
            assert got[k] == v, (k2, k, got[k], v)
    # trims actually fired: PERSON start advanced past the space, '.' gone
    p = rows[("PERSON", ln3 + 7)]
    assert p["value"] == "Jane Doe"
    o = rows[("ORGANIZATION", ln4 + 4)]
    assert o["value"] == "Acme Pty"
    # colon rule did NOT fire for the non-PERSON/ORG type
    m2 = rows[("EMAIL_ADDRESS", ln5 + 4)]
    assert m2["value"] == " bob@x.co"[: ln5 + 13 - (ln5 + 4)]
    # unknown type got the low-severity color and its luminance label
    m = rows[("MYSTERY_TYPE", 0)]
    assert (m["fill_r"], m["fill_g"], m["fill_b"]) == L.SEVERITY_COLORS["low"]
    assert m["label_white"] == L.label_is_white(L.SEVERITY_COLORS["low"])
    # the clamped span's box ends at its line's last char
    c = rows[("DATE_TIME", 18)]
    assert c["x1"] == L.MARGIN + 21 * L.CHAR_W and c["y1"] == L.PAGE_H - L.MARGIN


def test_ocr_kernel_matches_spec(spark):
    """make_ocr_udf reproduces core.ocr.ocr_words exactly: whitespace runs
    (ASCII set incl. \\t \\n \\x0b) collapse to single spaces, offsets index
    the OCR text, empty/whitespace-only text yields no words."""
    from pii_detection_redaction_spark.core import ocr as O
    from pii_detection_redaction_spark.operators.ocr import make_ocr_udf

    texts = [
        "Contact  bob@x.co \tnow.\nSecond\x0bline",
        "",
        " \t\n ",
        "one",
    ]
    d = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    ocr = make_ocr_udf()
    got = {
        r.i: (r.o.ocr_text, [(w.word, w.cs, w.ce) for w in r.o.words])
        for r in d.select("i", ocr(F.col("text")).alias("o")).collect()
    }
    for i, t in enumerate(texts):
        ot, ws = O.ocr_words(t)
        assert got[i] == (ot, ws), (i, got[i], (ot, ws))
        # offsets really index the OCR text
        for w, cs, ce in ws:
            assert ot[cs:ce] == w


def test_image_redaction_boxes_match_python_spec(spark):
    """operators.ocr's JVM mapping + geometry reproduce the core.ocr spec:
    one padded box per (detection, intersecting word), presidio-style char
    interval intersection, glyph-grid wrap clamp, image-bounds clamp, and
    the reference's score_threshold=0.35 gate."""
    from pii_detection_redaction_spark.core import ocr as O
    from pii_detection_redaction_spark.operators.ocr import image_redaction_boxes

    text = "Call  Bob Smith about\tacct 12345 today\n" + "x" * 100 + " alpha beta gamma"
    ocr_text, words = O.ocr_words(text)
    i_bob = ocr_text.index("Bob Smith")
    i_acct = ocr_text.index("12345")
    i_x = ocr_text.index("x" * 100)
    i_ab = ocr_text.index("alpha beta")
    dets = [
        ("PERSON", i_bob, i_bob + 9, 0.85),          # two words -> two boxes
        ("ACCT", i_acct, i_acct + 5, 0.5),           # one word, exact
        ("LOW", i_acct, i_acct + 5, 0.3),            # below 0.35 -> dropped
        ("ID", i_x + 70, i_x + 90, 0.6),             # inside the wrapped word
        ("PAIR", i_ab + 4, i_ab + 7, 0.9),           # straddles 'alpha'/'beta'
    ]
    schema = (
        "url string, ocr_text string,"
        " words array<struct<word:string,cs:int,ce:int>>,"
        " detections array<struct<entity_type:string,start:int,end:int,score:double>>"
    )
    d = spark.createDataFrame(
        [("u1", ocr_text, words, dets), ("u2", "", [], [])], schema
    )
    got = {
        (r.entity_type, r.start, r.x0, r.y0): r.asDict()
        for r in image_redaction_boxes(d).collect()
    }
    img_w, img_h = O.image_dims(len(ocr_text))
    exp = {}
    for et, s, e, sc in dets:
        if round(sc, 4) < O.IMG_SCORE_THRESHOLD:
            continue
        for w, cs, ce in O.boxes_for_span(words, s, e):
            left, top, wd, h = O.word_box(cs, ce)
            x0, y0, x1, y1 = O.padded_box(left, top, wd, h, img_w, img_h)
            exp[(et, s, x0, y0)] = dict(
                url="u1", entity_type=et, value=ocr_text[s:e], start=s,
                end=e, score=round(sc, 4), x0=x0, y0=y0, x1=x1, y1=y1,
                rect_w=x1 - x0, rect_h=y1 - y0,
            )
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == v, (k, got[k], v)
    # threshold fired; the empty doc contributed nothing
    assert not any(et == "LOW" for et, *_ in got)
    assert not any(r["url"] == "u2" for r in got.values())
    # multi-word span -> one box per word
    assert sum(1 for et, *_ in got if et == "PERSON") == 2
    assert sum(1 for et, *_ in got if et == "PAIR") == 2
    # the wrapped word's box is clamped to its first line's run
    (idk,) = [k for k in got if k[0] == "ID"]
    wrap_box = got[idk]
    col = (i_x % O.OCR_WRAP_COLS)
    assert wrap_box["x1"] - wrap_box["x0"] <= (
        O.OCR_WRAP_COLS - col
    ) * O.OCR_CHAR_PX + 2 * O.IMG_PADDING


def test_layout_round_matches_spark_round():
    """core.layout._round_half_up IS goldens.spark_round (one rounding
    behavior across the pure-Python spec, Spark F.round, and the DuckDB
    oracle) — including the half-tie scores where Python's banker's round
    diverges, and plan_row's conf_text uses it."""
    from pii_detection_redaction_spark.core import layout as LAY
    from pii_detection_redaction_spark.testing.goldens import spark_round

    ties = [0.625, 0.125, 0.375, 0.875, 0.005, 0.015, 0.465, 0.995]
    vals = ties + [0.0, 1.0, 0.33333, 0.299999, 0.62499999]
    for v in vals:
        assert LAY._round_half_up(v, 2) == spark_round(v, 2), v
    # the banker's-round divergence is real on ties...
    assert round(0.625, 2) == 0.62 and LAY._round_half_up(0.625, 2) == 0.63
    # ...and plan_row's conf text takes the HALF_UP side
    row = LAY.plan_row("some sample text here", 0, 10, "EMAIL_ADDRESS", 0.625)
    assert row["conf_text"] == "conf: 0.63"


def test_token_shards_null_counts_fail_loudly(spark):
    """NULL n_tokens would make its doc's shard NULL silently (F.sum skips
    NULLs, later docs still pack) — an unassigned training document with
    no error. The export must refuse instead."""
    import pytest as _pytest

    from pii_detection_redaction_spark.operators.packing import token_shards

    df = spark.createDataFrame(
        [("a", 10), ("b", None), ("c", 7)], "doc_id string, n_tokens int"
    )
    with _pytest.raises(ValueError, match="NULL n_tokens"):
        token_shards(df).collect()


def test_token_shards_integer_division_past_double_precision(spark):
    """shard_id must be exact integer division: above 2^53 the double
    round-trip (floor(long/int)) misplaces boundary docs by one shard —
    exactly the regime of real corpus-scale token totals."""
    from pii_detection_redaction_spark.operators.packing import token_shards

    big = (1 << 53) + 1  # odd, not double-representable
    df = spark.createDataFrame(
        [("a", big), ("b", 5)], "doc_id string, n_tokens long"
    )
    rows = {r["doc_id"]: r for r in token_shards(df, shard_tokens=1).collect()}
    # whichever doc packs second starts at the first doc's token count
    second = rows["a"] if rows["a"]["start_offset"] else rows["b"]
    assert second["start_offset"] in (big, 5)
    assert second["shard_id"] == second["start_offset"]  # div 1 == identity


def test_extract_strips_nested_tags_inside_paragraphs(spark):
    """Generic pages write <p>Hello <b>world</b></p>: raw '<b>' must not
    flow downstream as document text; Python spec and the JVM expression
    stay byte-identical on it (and on the escaped fixture shape, where the
    strip is a no-op)."""
    from pii_detection_redaction_spark.core.extract import extract_text
    from pii_detection_redaction_spark.functions.udfs import extract_text_expr

    cases = [
        b"<p>Hello <b>world</b></p><p>plain</p>",
        b"<p>escaped &lt;b&gt; stays</p>",
        b"<div>chrome outside paragraphs drops</div><p>body</p>",
        b"<p>broken <unterminated</p><p>next</p>",
    ]
    py = [extract_text(c) for c in cases]
    assert py[0] == "Hello  world \nplain"
    assert py[1] == "escaped <b> stays"
    assert py[2] == "body"
    df = spark.createDataFrame([(c,) for c in cases], "html binary")
    jvm = [r.t for r in df.select(extract_text_expr(F.col("html")).alias("t")).collect()]
    assert jvm == py


def test_unpivot_handles_backslash_headers(spark):
    """Spark SQL string literals process backslash escapes: an unescaped
    'price\\total' header would emit a TAB mid-name and a trailing
    backslash would swallow the closing quote (ParseException)."""
    from pii_detection_redaction_spark.operators.csvops import unpivot_cells

    df = spark.createDataFrame(
        [("r1", "a", "b")], ["__row_id", "price\\total", "dir\\"]
    )
    out = unpivot_cells(df, id_col="__row_id",
                        value_cols=["price\\total", "dir\\"])
    got = sorted((r["col_name"], r["cell"]) for r in out.collect())
    assert got == [("dir\\", "b"), ("price\\total", "a")]


def test_ppl_threshold_buckets_missing_lang_is_middle(spark):
    """A language absent from the cutoff table must bucket 'middle' (the
    neutral keep bucket), not silently fall through NULL comparisons into
    'tail' (the CC-Net discard slice)."""
    from pii_detection_redaction_spark.operators.textstats import (
        ppl_threshold_buckets,
    )

    docs = spark.createDataFrame(
        [("d1", "en", 10.0), ("d2", "xx", 10.0)],
        "doc_id string, lang_pred string, ppl double",
    )
    cutoffs = spark.createDataFrame(
        [("en", 20.0, 40.0)], "lang_pred string, t1 double, t2 double"
    )
    got = {r["doc_id"]: r["ppl_bucket"]
           for r in ppl_threshold_buckets(docs, cutoffs).collect()}
    assert got == {"d1": "head", "d2": "middle"}


def test_fingerprints_null_text_one_story(spark):
    """NULL text must read as the empty document in BOTH columns:
    content_md5 = md5('') (not NULL — NULL never equi-joins, so md5-keyed
    dedup would silently ignore the row) and fingerprint = fp('')."""
    import hashlib

    from pii_detection_redaction_spark.operators.textstats import fingerprints

    df = spark.createDataFrame(
        [("d1", None), ("d2", "")], "doc_id string, text string"
    )
    rows = {r["doc_id"]: r for r in fingerprints(df).collect()}
    empty_md5 = hashlib.md5(b"").hexdigest()
    assert rows["d1"]["content_md5"] == rows["d2"]["content_md5"] == empty_md5
    assert rows["d1"]["fingerprint"] == rows["d2"]["fingerprint"]
