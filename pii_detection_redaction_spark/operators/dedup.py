"""Deduplication operators for training-data pipelines.

All hashing uses the portable md5-based ``core.hashing.hash64`` (== DuckDB
``md5_number_lower``) so every operator is differentially testable against a
pure-SQL oracle.

Scale design notes (the point of each choice):
- exact dedup: hash-groupBy on a 64-bit content hash — one shuffle keyed by
  the hash, uniform by construction; ``min(doc_id)`` as the canonical keeper
  makes the result deterministic under any partitioning.
- MinHash-LSH: per-doc signature is row-local UDF work (embarrassingly
  parallel); candidate generation explodes b band keys per doc and
  self-joins on the band key — the *only* shuffle, keyed by band hash, which
  is uniform unless two docs are near-identical (exactly the rows we want
  colliding). Equal-key skew from boilerplate dupes is handled by AQE skew
  join; band width r trades recall vs join fan-out: P(collide) = 1-(1-s^r)^b.
- SimHash: 64-bit fingerprint per doc; near-dup = Hamming distance <= k.
  Banding trick for the join: split 64 bits into (k+1) blocks — two docs
  within distance k must agree exactly on >= 1 block (pigeonhole), so the
  join keys on (block_idx, block_value) instead of an O(n^2) cross join.
- n-gram Jaccard verify: exact similarity on LSH candidates only (cheap,
  row-pair-local).
"""

from __future__ import annotations

from typing import List, Optional

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..core import hashing as H
from ..core.quality import BOILERPLATE_MIN_DOCS

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def content_hash_col(text_col: str = "text"):
    """md5 hex of the raw text — portable across Spark/DuckDB/Python."""
    return F.md5(F.col(text_col))


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: (content_md5, n_docs, keeper_id).
    Only groups with >1 member are returned."""
    return (
        df.select(F.col(id_col), content_hash_col(text_col).alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row (min id) per distinct text. Window-free formulation:
    groupBy + min + semi-join back, so the heavy payload columns are only
    shuffled once on the join."""
    keepers = (
        df.select(F.col(id_col), content_hash_col(text_col).alias("h"))
        .groupBy("h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keepers, id_col, "left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """(id, sig: array<decimal-ish bigint-as-string?>) — signatures computed
    in an Arrow-batched UDF; unsigned 64-bit values are exposed as
    ``decimal(20,0)``-compatible strings cast to DOUBLE-safe BIGINT via
    signed two's complement for storage efficiency."""
    # fail on the DRIVER, not inside the first executor task
    H.minhash_signature("", num_hashes=num_hashes)

    @pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            sig = H.minhash_signature(t or "", num_hashes=num_hashes, k=k)
            out.append([v - (1 << 64) if v >= (1 << 63) else v for v in sig])
        return pd.Series(out)

    return df.select(F.col(id_col), sig_udf(F.col(text_col)).alias("sig"))


def minhash_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
) -> DataFrame:
    """(id, band_idx, band_hash): b = num_hashes/band_size rows per doc."""
    # fail on the DRIVER, not inside the first executor task
    H.minhash_signature("", num_hashes=num_hashes)

    @pandas_udf(T.ArrayType(T.LongType()))
    def bands_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            sig = H.minhash_signature(t or "", num_hashes=num_hashes, k=k)
            bands = H.minhash_bands(sig, band_size=band_size)
            out.append([v - (1 << 64) if v >= (1 << 63) else v for v in bands])
        return pd.Series(out)

    return (
        df.select(F.col(id_col), F.posexplode(bands_udf(F.col(text_col))))
        .withColumnRenamed("pos", "band_idx")
        .withColumnRenamed("col", "band_hash")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
) -> DataFrame:
    """Distinct candidate near-dup pairs (id_a < id_b) sharing >= 1 LSH band.

    The self-join shuffles only (id, band_idx, band_hash) — 3 narrow columns;
    text never moves. Pairs are deduped with ``distinct()`` after the join.
    """
    bands = minhash_band_table(df, id_col, text_col, num_hashes, band_size, k)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact k-gram Jaccard on candidate pairs; keeps pairs >= threshold.
    Joins text onto the (small) candidate set — broadcast when it fits."""
    t_a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"))
    t_b = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"))

    @pandas_udf(T.DoubleType())
    def jac_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
        return pd.Series(
            [H.jaccard_kgrams(x or "", y or "", k=k) for x, y in zip(ta, tb)]
        )

    return (
        pairs.join(t_a, "id_a").join(t_b, "id_b")
        .withColumn("jaccard", jac_udf(F.col("text_a"), F.col("text_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    @pandas_udf(T.LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            v = H.simhash64(t or "")
            out.append(v - (1 << 64) if v >= (1 << 63) else v)
        return pd.Series(out)

    return df.select(F.col(id_col), sim_udf(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs within Hamming distance <= max_hamming via the block-pigeonhole
    join (no cross join): split 64 bits into max_hamming+1 blocks; matching
    pairs must share at least one exact block."""
    nblocks = max_hamming + 1
    width = 64 // nblocks
    sims = simhash_table(df, id_col, text_col)

    blocks = sims.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("block_val"),
                    )
                    for i in range(nblocks)
                ]
            )
        ).alias("blk"),
    ).select(id_col, "simhash", "blk.block_idx", "blk.block_val")

    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.withColumn("hamming", hamming).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# corpus-level line dedup (CC-Net-style boilerplate stripping)
# ---------------------------------------------------------------------------
# One granularity below document dedup: a (space-trimmed, non-empty) line
# appearing in >= min_docs DISTINCT documents is boilerplate (nav menus,
# cookie banners, footers — the reference has no analog; spec lives in
# core.quality.{BOILERPLATE_MIN_DOCS, boilerplate_line_set,
# strip_boilerplate}).
#
# Scale design:
# - counting branch: posexplode -> project ONLY (trimmed line, id) ->
#   countDistinct per line. Text leaves the scan once as individual lines;
#   map-side partial (line, id)-distinct collapses within-doc repeats before
#   the shuffle, and the shuffle key (the line) is the natural corpus line
#   distribution — hot keys collapse to partial counts, no skew pile-up.
# - the hot set is bounded by construction: every member occurs in
#   >= min_docs docs, so |hot| <= total_lines / min_docs, and in practice a
#   web corpus has a few thousand boilerplate lines — broadcast it.
# - "join" strategy (default, general): line-level LEFT join marks is_hot,
#   then one groupBy(id) shuffle reassembles the text. The hot side carries
#   NO broadcast hint on purpose: a hint is mandatory (AQE never demotes
#   it, so a pathological hot set would OOM the driver at broadcast time);
#   unhinted, the planner broadcasts a small hot side on its own — and AQE
#   converts the shuffle join INTO a broadcast join at runtime from the
#   hot side's true size — while a huge one degrades safely to a shuffle
#   join. Cost: one full-text shuffle.
# - "array" strategy (shuffle-free fast path): collapse the hot set to a
#   single array row, crossJoin(broadcast) it onto the ORIGINAL docs, and
#   filter split(text) with a higher-order function — the document text
#   never shuffles at all. Probe is O(|hot|) per line (Spark array_contains
#   is a scan), so use it when the hot set is small (typical); equality of
#   the two strategies is pytest-pinned.


def _reassemble_unmarked(marked: DataFrame, id_col: str, flag_col: str) -> DataFrame:
    """(id, text_clean, n_lines_removed) from a (id, pos, line, <flag>)
    frame: one groupBy(id) shuffle, order restored by pos inside the array,
    flagged lines dropped and counted. Shared by strip_boilerplate_lines
    and dedup_lines_keep_first — the mark predicates differ, the
    reassembly must not."""
    sl = F.array_sort(F.collect_list(F.struct("pos", "line", flag_col)))
    return (
        marked.groupBy(id_col)
        .agg(sl.alias("sl"))
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(
                    F.filter("sl", lambda x: ~x[flag_col]), lambda x: x["line"]
                ),
                "\n",
            ).alias("text_clean"),
            F.size(F.filter("sl", lambda x: x[flag_col])).cast("long").alias(
                "n_lines_removed"
            ),
        )
    )


def boilerplate_hot_set(
    df: DataFrame,
    id_col: str = "doc_id",
    text: "Column | str" = "text",
    min_docs: int = BOILERPLATE_MIN_DOCS,
) -> DataFrame:
    """1-column frame ``k`` of corpus-boilerplate line keys: trimmed
    non-empty lines appearing in >= min_docs DISTINCT documents. ``text``
    may be a column name or a computed Column (the pipeline passes its
    extraction expression). Counting shuffles only (key, id) projections."""
    text = F.col(text) if isinstance(text, str) else text
    lines = df.select(
        F.col(id_col).alias("_sb_id"), F.explode(F.split(text, "\n")).alias("line")
    )
    key = F.trim(F.col("line"))
    return (
        lines.where(key != "")
        .select(key.alias("k"), "_sb_id")
        .groupBy("k")
        .agg(F.countDistinct("_sb_id").alias("doc_count"))
        .where(F.col("doc_count") >= min_docs)
        .select("k")
    )


def boilerplate_hot_array(hot: DataFrame) -> DataFrame:
    """Collapse the hot set to a single broadcastable ``hot_lines`` array
    row (the shuffle-free strip strategy's build side)."""
    return hot.agg(F.collect_list("k").alias("hot_lines"))


def strip_hot_lines_exprs(text: Column, hot_lines: Column):
    """(clean_text, n_removed) column pair: drop lines whose trimmed form is
    in the ``hot_lines`` array, preserving the rest (including blanks) in
    order — the ONE Spark definition of the strip semantics, shared by the
    array strategy below and the pipeline stage (plans.pipeline)."""
    parts = F.split(text, "\n")
    kept = F.filter(
        parts,
        lambda x: ~F.coalesce(F.array_contains(hot_lines, F.trim(x)), F.lit(False)),
    )
    return (
        F.array_join(kept, "\n"),
        (F.size(parts) - F.size(kept)).cast("long"),
    )


def strip_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = BOILERPLATE_MIN_DOCS,
    strategy: str = "join",
) -> DataFrame:
    """(id, text_clean, n_lines_removed): drop corpus-boilerplate lines from
    every document, preserving the remaining lines (including blanks) in
    input order. ``n_lines_removed`` is 0-preserving: every input document
    yields exactly one output row, even when all its lines are removed."""
    if strategy not in ("join", "array"):
        raise ValueError(f"unknown strategy {strategy!r}")
    hot = boilerplate_hot_set(df, id_col, text_col, min_docs)

    if strategy == "array":
        # same NULL rule as the 'join' strategy below (and c4_filter_lines/
        # the DuckDB oracles): NULL text behaves as '' — without the
        # coalesce, split(NULL) propagates and the strategy-equality
        # contract breaks on NULL-text rows
        clean, removed = strip_hot_lines_exprs(
            F.coalesce(F.col(text_col), F.lit("")), F.col("hot_lines")
        )
        return df.crossJoin(F.broadcast(boilerplate_hot_array(hot))).select(
            F.col(id_col),
            clean.alias("text_clean"),
            removed.alias("n_lines_removed"),
        )

    lines = df.select(
        F.col(id_col),
        # coalesce: NULL text behaves as '' (one blank kept line) so every
        # input document yields exactly one output row — same rule as
        # functions.quality.c4_filter_lines and the DuckDB oracles
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line")
    )
    key = F.trim(F.col("line"))

    marked = lines.join(hot, key == F.col("k"), "left").select(
        id_col, "pos", "line", F.col("k").isNotNull().alias("is_hot")
    )
    return _reassemble_unmarked(marked, id_col, "is_hot")


def dedup_lines_keep_first(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4-style corpus-level line dedup: keep exactly the FIRST occurrence
    of every distinct (trimmed, non-empty) line across the whole corpus —
    ordered by (id, position) — and drop every later repeat, including
    repeats inside the same document. Blank lines are structure, not
    content: always kept. Complements ``strip_boilerplate_lines`` (CC-Net
    hot-set removal, which strips ALL occurrences of high-frequency lines):
    C4's rule preserves one copy of everything.

    Scale: the tempting formulation — row_number() windowed on the line key
    — is a straggler trap: a boilerplate line occurring 10^7 times is ONE
    window partition, and AQE cannot split window partitions (it splits
    join sides only). So the first occurrence is computed as
    ``min(struct(id, pos))`` per key instead: aggregation gets map-side
    partial combine, so a hot key collapses to one row per map task and
    the agg shuffle CANNOT skew; the join marking each occurrence against
    its key's minimum is an equi-join where AQE skew-split does apply
    (same shape as the LSH band join). Line text crosses the wire once per
    occurrence (probe side) plus once per DISTINCT line (min table); the
    reassembly shuffles (id, pos, line, flag). Output preserves every
    input document (possibly with empty text_clean)."""
    lines = df.select(
        F.col(id_col),
        # coalesce: NULL text behaves as '' (one blank kept line) so every
        # input document yields exactly one output row — same rule as
        # functions.quality.c4_filter_lines and the DuckDB oracles
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("pos", "line")
    )
    key = F.trim(F.col("line"))
    firsts = (
        lines.where(key != "")
        .groupBy(key.alias("k"))
        .agg(F.min(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))).alias("f"))
    )
    marked = lines.join(firsts, key == F.col("k"), "left").select(
        id_col,
        "pos",
        "line",
        (
            F.col("k").isNotNull()
            & ~((F.col("f.i") == F.col(id_col)) & (F.col("f.p") == F.col("pos")))
        ).alias("is_dup"),
    )
    return _reassemble_unmarked(marked, id_col, "is_dup")


# ---------------------------------------------------------------------------
# Bloom-filter incremental ingestion (history-aware crawl dedup)
# ---------------------------------------------------------------------------


def bloom_bitmap(history, key_col: str, m: int, k: int):
    """numpy bool bitmap of the history keys' Bloom bits (core.bloom spec).

    Build cost: one row-local positions UDF over history + a DISTINCT on
    ints bounded by min(n*k, m) — no payload ever shuffles. The driver
    collect is bounded by m bits, NOT by history size; past the
    single-bitmap boundary (~10^10 keys) the filter shards by key range
    instead (core.bloom module doc)."""
    import numpy as np

    from ..core import bloom as B

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def pos_udf(keys: pd.Series) -> pd.Series:
        return keys.map(lambda s: B.positions(s, m, k))

    rows = (
        history.select(F.explode(pos_udf(F.col(key_col))).alias("p"))
        .distinct()
        .collect()
    )
    bits = np.zeros(m, dtype=bool)
    bits[[r.p for r in rows]] = True
    return bits


def incremental_new(
    batch: DataFrame,
    history: DataFrame,
    key_col: str = "canonical_url",
    m: Optional[int] = None,
    k: Optional[int] = None,
) -> DataFrame:
    """Annotate a new crawl batch against the full ingestion history:
    ``bloom_maybe`` (Bloom verdict) and ``is_new`` (exact verdict).

    The scale contract: rows the Bloom filter rejects are DEFINITELY new
    (no false negatives by construction — property-tested) and never enter
    a join; only the "maybe seen" sliver — true re-crawls plus the
    false-positive tail, a few percent of the batch at production sizing —
    is verified exactly against the history keys. ``is_new`` therefore
    equals the plain anti-join verdict row-for-row, which is exactly what
    the DuckDB oracle re-derives (bloom arithmetic included) for the
    ``incremental_new`` catalog query.

    The history bitmap ships once per executor via SparkContext.broadcast;
    the probe is one Arrow-batched UDF pass (init-free numpy indexing)."""
    import numpy as np  # noqa: F401  (bitmap type)

    from ..core import bloom as B

    m = B.BLOOM_M if m is None else m
    k = B.BLOOM_K if k is None else k
    hist_keys = history.select(F.col(key_col)).distinct()
    bits = bloom_bitmap(hist_keys, key_col, m, k)
    bc = batch.sparkSession.sparkContext.broadcast(bits)

    @pandas_udf(T.BooleanType())
    def probe_udf(keys: pd.Series) -> pd.Series:
        b = bc.value
        return keys.map(lambda s: bool(all(b[p] for p in B.positions(s, m, k))))

    # persist: both union branches filter this frame — unpersisted, Spark
    # plans two independent scans, re-running the batch's upstream lineage
    # AND the Arrow probe UDF over every row twice (the probe cost the
    # bloom exists to bound). The increment is batch-sized by contract
    # (a day's crawl, not the corpus); MEMORY_AND_DISK spills rather than
    # recomputes, and Spark evicts it LRU after the consumer's action.
    annotated = batch.withColumn(
        "bloom_maybe", probe_udf(F.col(key_col))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    definite = annotated.filter(~F.col("bloom_maybe")).withColumn(
        "is_new", F.lit(True)
    )
    maybe = (
        annotated.filter(F.col("bloom_maybe"))
        .join(
            hist_keys.withColumn("__seen", F.lit(True)),
            key_col,
            "left",
        )
        .withColumn("is_new", F.col("__seen").isNull())
        .drop("__seen")
    )
    return definite.unionByName(maybe)
