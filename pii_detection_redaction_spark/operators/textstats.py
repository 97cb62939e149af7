"""Text-analysis operators over a documents table: token counting,
compression ratio, repetition metrics, perplexity buckets, document
fingerprinting.

JVM column expressions wherever the semantics allow (token counts, quality
metrics); Arrow-batched UDFs only for the deflate codec and md5-based
fingerprints (portable to the DuckDB oracle).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..core import hashing as H
from ..functions import quality as _QF

# BPE-ish tokenization: alnum runs (with apostrophe contractions) or single
# non-space symbols — a stable public approximation of subword pre-tokenizers.
TOKEN_RE = r"[A-Za-z0-9]+(?:'[a-z]+)?|[^\sA-Za-z0-9]"


def token_stat_cols(text) -> dict:
    """{n_chars, n_words, n_tokens} column map for ``text`` — the ONE
    spelling of the count expressions (all regexp_count, codegen'd),
    shared by the frame form below and the fused catalog entry."""
    return {
        "n_chars": F.length(text),
        # WORD_RE_JVM: possessive \S++ — identical counts, no backtrack
        # bookkeeping (functions.quality, pinned by test_jvm_fast_exprs)
        "n_words": F.regexp_count(text, F.lit(_QF.WORD_RE_JVM)),
        "n_tokens": F.regexp_count(text, F.lit(TOKEN_RE)),
    }


def compression_cols(text_col):
    """(n_bytes, compression_ratio) column pair for ``text_col`` — the
    composable form of ``compression_stats``, so a catalog query can fuse
    the codec signal into a wider single-pass select (no join/Exchange).
    Only the compressed byte COUNT crosses the Arrow boundary (one int64
    per doc); n_bytes is JVM octet_length and the division happens
    JVM-side, so the UDF payload is minimal and the compression work is
    embarrassingly parallel row-local CPU."""
    import zlib

    from ..core.quality import ZLIB_LEVEL

    @pandas_udf(T.LongType())
    def zlen_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            raw = (t or "").encode("utf-8")
            out.append(len(zlib.compress(raw, ZLIB_LEVEL)) if raw else 0)
        return pd.Series(out)

    # coalesce: the UDF maps NULL text to 0 compressed bytes and the golden
    # spec writes n_bytes=0 — octet_length(NULL) is NULL, which would fork
    # the engines on any table with a NULL text row (one-spec rule)
    n_bytes = F.coalesce(F.octet_length(text_col), F.lit(0))
    zl = zlen_udf(text_col)
    ratio = (
        F.when(n_bytes > 0, zl.cast("double") / n_bytes).otherwise(F.lit(0.0))
    )
    return n_bytes.cast("long"), ratio


def compression_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_bytes, compression_ratio): deflate ratio per doc
    (core.quality.compression_ratio spec, zlib level pinned there) — the
    frame form of ``compression_cols``."""
    n_bytes, ratio = compression_cols(F.col(text_col))
    return df.select(
        F.col(id_col),
        n_bytes.alias("n_bytes"),
        ratio.alias("compression_ratio"),
    )


def fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 k: int = 3) -> DataFrame:
    """(id, content_md5, fingerprint): md5 of the text plus the min-shingle-
    hash fingerprint (signed view of hashing.doc_fingerprint)."""

    @pandas_udf(T.LongType())
    def fp_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            v = H.doc_fingerprint(t or "", k=k)
            out.append(v - (1 << 64) if v >= (1 << 63) else v)
        return pd.Series(out)

    return df.select(
        F.col(id_col),
        # coalesce: the fingerprint column maps NULL text to fp('') (the
        # UDF's `t or ""`), so content_md5 must hash '' too — a NULL md5
        # in the same row would make md5-keyed dedup ignore the doc while
        # shingle dedup clusters it with empty docs (one row, two
        # NULL-text stories)
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("content_md5"),
        fp_udf(F.col(text_col)).alias("fingerprint"),
    )


PPL_BUCKET_LABELS = ("head", "middle", "tail")  # CC-Net naming, low ppl = head


def ppl_tertile_buckets(
    df: DataFrame,
    lang_col: str = "lang_pred",
    ppl_col: str = "ppl",
    order_col: str = "doc_id",
) -> DataFrame:
    """CC-Net-style perplexity bucketing: within each language, split docs
    into head/middle/tail tertiles of the LM-perplexity distribution (head =
    most fluent third — the slice CC-Net keeps or upweights).

    This exact form (NTILE window) is the oracle-checkable catalog query; it
    sorts each language partition once, and a language is a HOT key (a web
    corpus is one-third English), so at 100 TB you do NOT run this window —
    you compute the two per-language cutoffs once on a hash sample
    (percentile_approx or this window over ~1M sampled rows), broadcast the
    tiny (lang, t1, t2) table, and bucket with a scan-side comparison
    (``ppl_threshold_buckets``). The window and threshold forms agree
    everywhere except within the tie-width of the cutoffs.
    """
    from pyspark.sql import Window

    nt = F.ntile(3).over(
        Window.partitionBy(lang_col).orderBy(F.col(ppl_col), F.col(order_col))
    )
    bucket = (
        F.when(nt == 1, PPL_BUCKET_LABELS[0])
        .when(nt == 2, PPL_BUCKET_LABELS[1])
        .otherwise(PPL_BUCKET_LABELS[2])
    )
    return df.withColumn("ppl_bucket", bucket)


def ppl_threshold_buckets(df: DataFrame, cutoffs: DataFrame) -> DataFrame:
    """Scale-path bucketing: broadcast-join a tiny per-language cutoff table
    (lang_pred, t1, t2) and compare — no global sort, no hot-key window.
    ``cutoffs`` typically comes from ``ppl_tertile_buckets`` (or
    percentile_approx) over a deterministic hash sample.

    Languages ABSENT from the cutoff table (a rare language the sample
    missed, or one newly appearing mid-stream) bucket as 'middle', not
    'tail': with NULL thresholds both ``<=`` comparisons are NULL and the
    otherwise-branch would silently route every such doc into the CC-Net
    discard slice regardless of fluency; 'middle' is the neutral keep
    bucket until real cutoffs exist for that language."""
    j = df.join(F.broadcast(cutoffs), "lang_pred", "left")
    bucket = (
        F.when(F.col("t1").isNull(), PPL_BUCKET_LABELS[1])
        .when(F.col("ppl") <= F.col("t1"), PPL_BUCKET_LABELS[0])
        .when(F.col("ppl") <= F.col("t2"), PPL_BUCKET_LABELS[1])
        .otherwise(PPL_BUCKET_LABELS[2])
    )
    return j.withColumn("ppl_bucket", bucket).drop("t1", "t2")
