"""fastText-architecture language ID: model quality, determinism, und gate,
and bit-exact Spark(broadcast UDF) == core(predict) equality."""

import random

import numpy as np
import pytest

from pii_detection_redaction_spark.core import ftlang
from pii_detection_redaction_spark.core.langprofiles import LANGS


def _heldout(lang: str, seed: str, n: int, k: int = 1):
    rng = random.Random(f"{seed}:{lang}")
    return [
        " ".join(ftlang._train_sentence(rng, lang) for _ in range(k))
        for _ in range(n)
    ]


def test_heldout_accuracy_all_languages():
    """Sentences drawn from the same generator with a different seed (never
    seen in training) must classify correctly for every supported language,
    short single sentences included."""
    for lang in LANGS:
        preds = [ftlang.predict(s)[0] for s in _heldout(lang, "acc", 40)]
        acc = sum(p == lang for p in preds) / len(preds)
        assert acc >= 0.95, (lang, acc, preds[:10])


def test_junk_and_empty_predict_und():
    for junk in ("", "12345 67890 +++ ### 0.0012", "qqq xxx zzz @@@",
                 "!!!! ???? ....", "a1b2c3d4e5", "a"):
        assert ftlang.predict(junk) == ("und", 0.0), junk


def test_confidence_is_probability():
    for lang in LANGS:
        for s in _heldout(lang, "conf", 10, k=2):
            _, p = ftlang.predict(s)
            assert 0.0 < p <= 1.0


def test_training_is_deterministic():
    W1, langs1 = ftlang.train_model()
    W2, langs2 = ftlang.train_model()
    assert langs1 == langs2 == tuple(LANGS)
    assert W1.dtype == np.float64 and W1.shape == (ftlang.N_BUCKETS, len(LANGS))
    assert np.array_equal(W1, W2)  # bit-exact retrain


def test_oov_rows_are_zeroed_and_seen_rows_negative():
    W, _ = ftlang.model()
    seen = W.any(axis=1)
    assert 0.0 < seen.mean() < 0.5  # hash space deliberately sparse
    assert (W[seen] < 0.0).all()  # log-probs — "all zeros" marks OOV only


def test_fnv1a_reference_vector():
    # FNV-1a 32-bit of "a" is 0xE40C292C (public test vector)
    assert ftlang.fnv1a_bucket("a") == 0xE40C292C % ftlang.N_BUCKETS


def test_spark_udf_equals_core_bitexact(spark):
    """The broadcast-model UDF must reproduce core.ftlang.predict exactly —
    same floats, not approximately — because the golden-parquet oracle is
    computed by the core path."""
    from pii_detection_redaction_spark.functions.udfs import make_ftlang_udf
    from pyspark.sql import functions as F

    texts = []
    for lang in LANGS:
        texts.extend(_heldout(lang, "spark", 5, k=2))
    texts.extend(["", "12345 !!!", "the cat sat on the mat"])
    expected = ftlang.predict_many(texts)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["i", "text"]
    )
    ft = make_ftlang_udf(spark)
    rows = (
        df.withColumn("ft", ft(F.col("text")))
        .select("i", "ft.lang", "ft.prob")
        .collect()
    )
    got = {r["i"]: (r["lang"], r["prob"]) for r in rows}
    for i, (lang, prob) in enumerate(expected):
        assert got[i][0] == lang
        assert got[i][1] == prob  # bit-exact


# --- fastText-architecture quality classifier --------------------------------


def test_ftquality_separates_junk_from_fluent():
    from pii_detection_redaction_spark.core.ftquality import model, predict_quality
    from pii_detection_redaction_spark.testing.corpus import pages_df

    W = model()
    df = pages_df(400)
    by_arch = {}
    for i, r in df.iterrows():
        by_arch.setdefault(i % 20, []).append(predict_quality(r.text, W))
    junk = by_arch[1] + by_arch[2] + by_arch[5]   # short / soup / stopword-free
    plain = by_arch[12] + by_arch[14] + by_arch[16]
    assert sum(junk) / len(junk) < 0.15
    assert sum(plain) / len(plain) > 0.5
    assert predict_quality("", W) == 0.0


def test_ftquality_udf_matches_core(spark):
    from pii_detection_redaction_spark.core.ftquality import predict_quality
    from pii_detection_redaction_spark.functions.udfs import make_ftquality_udf
    from pii_detection_redaction_spark.testing.corpus import pages_df

    df = pages_df(60)
    sdf = spark.createDataFrame(df[["url", "text"]])
    fq = make_ftquality_udf(spark)
    got = {r.url: r.p for r in sdf.select("url", fq("text").alias("p")).collect()}
    for _, r in df.iterrows():
        assert got[r.url] == predict_quality(r.text)  # bit-identical


def test_broadcast_models_stay_out_of_the_udf_closure(spark):
    """With a live session every model-shipping UDF pickles only broadcast
    handles: a closure-captured model would ride inside the UDF command
    and be re-unpickled for every task (the ~2 MB quality matrix, the
    ~10 MB langid matrix, the LM dict)."""
    from pyspark import cloudpickle

    from pii_detection_redaction_spark.functions import udfs as U

    for udf in (U.make_ftlang_udf(spark), U.make_ftquality_udf(spark),
                U.make_quality_scrub_udf(quality_prob=True)):
        assert len(cloudpickle.dumps(udf.func)) < 100_000, udf.func.__name__
