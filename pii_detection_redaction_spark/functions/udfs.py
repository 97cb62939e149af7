"""Vectorized pandas/Arrow UDFs wrapping the ``core`` semantics library.

Design (SURVEY.md §4): the entire reference operator surface decomposes into
built-in relational ops plus a handful of fat Arrow-batched UDFs. Each UDF
here:

- is created by a *factory* so configuration (entity subset, min-score, chunk
  size) is pushed into the closure — the Spark-side analog of the reference's
  ``analyzer.analyze(entities=...)`` config pushdown;
- initializes heavyweight state (compiled regex bank, LM arrays) once per
  executor process via module-level lazy singletons — never per row, never
  per batch;
- transfers data via Arrow (``spark.sql.execution.arrow.pyspark.enabled``),
  batch-bounded by ``arrow.maxRecordsPerBatch``.

Scale note: every UDF is row-parallel with no cross-row state, so the plan
stays a single narrow pipeline — scan → ArrowEvalPython → project — with no
shuffle until an explicit repartition/aggregation. That property is what
makes the pipeline embarrassingly parallel at 10^12 documents.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..core import chunker as _chunker
from ..core import langid as _langid
from ..core import lm as _lm
from ..core import scanvec as _scanvec
from ..core import scrub as _scrub
from ..core.spans import Detection

DETECTION_FIELDS = [
    T.StructField("entity_type", T.StringType()),
    T.StructField("start", T.IntegerType()),
    T.StructField("end", T.IntegerType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("pattern_name", T.StringType()),
]
DETECTION_TYPE = T.StructType(DETECTION_FIELDS)
DETECTIONS_TYPE = T.ArrayType(DETECTION_TYPE)
LANGID_TYPE = T.StructType(
    [T.StructField("lang", T.StringType()), T.StructField("conf", T.DoubleType())]
)


def extract_text_expr(html_col):
    """JVM-only extraction for ``<p>``-structured page HTML — the exact
    inverse of ``testing.corpus.render_html`` and byte-equal to
    ``core.extract.extract_text`` on that structure: extract ``<p>`` bodies,
    join with newline, reverse html.escape(quote=False) (&lt; &gt; first,
    &amp; last). Whole-stage-codegen'd: no Python, no Arrow transfer of the
    ~30 MB/50k-doc html payload."""
    s = F.decode(html_col, "UTF-8")
    parts = F.regexp_extract_all(s, F.lit("<p>(.*?)</p>"), 1)
    # per-paragraph nested-tag strip BEFORE the join (core.extract order:
    # an unterminated '<' must not eat across the paragraph boundary);
    # no-op on the escaped fixture structure
    parts = F.transform(parts, lambda x: F.regexp_replace(x, "<[^>]+>", " "))
    joined = F.array_join(parts, "\n")
    unesc = F.replace(
        F.replace(
            F.replace(joined, F.lit("&lt;"), F.lit("<")), F.lit("&gt;"), F.lit(">")
        ),
        F.lit("&amp;"),
        F.lit("&"),
    )
    return unesc


def make_detect_udf(
    entities: Optional[Sequence[str]] = None,
    min_score: float = 0.0,
    size: int = _chunker.DEFAULT_CHUNK_SIZE,
    overlap: int = _chunker.DEFAULT_CHUNK_OVERLAP,
):
    """text -> array<struct> of detections (chunked analyze, reference
    text_detector/chunker.py:29-68 semantics). Config is closed over —
    compiled once per executor, reused across batches."""
    ent = list(entities) if entities else None

    @pandas_udf(DETECTIONS_TYPE)
    def detect_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not t:
                out.append([])
                continue
            dets = _chunker.analyze_long_text(
                t, size=size, overlap=overlap, min_score=min_score, entities=ent
            )
            out.append([d.as_tuple() for d in dets])
        return pd.Series(out)

    return detect_udf


def _coerce_detections(dets) -> List[Detection]:
    if dets is None:
        return []
    out = []
    for d in dets:
        if isinstance(d, dict):
            out.append(
                Detection(
                    d["entity_type"], d["start"], d["end"], d["score"], d.get("pattern_name", "")
                )
            )
        else:  # Row / tuple
            out.append(Detection(d[0], d[1], d[2], d[3], d[4] if len(d) > 4 else ""))
    return out


def make_scrub_udf(mode: str = "relationship", masking_char: str = "*"):
    """(text, detections) -> scrubbed text. Per-document relationship masking
    (reference relationships.py:109-155) — row-local, no shuffle."""

    @pandas_udf(T.StringType())
    def scrub_udf(texts: pd.Series, dets: pd.Series) -> pd.Series:
        return pd.Series(
            [
                _scrub.scrub_document(t or "", _coerce_detections(d), mode=mode,
                                      masking_char=masking_char)
                for t, d in zip(texts, dets)
            ]
        )

    return scrub_udf


def langid_batch(texts: pd.Series) -> pd.DataFrame:
    """Vectorized language ID: stopword hits via the shared token path
    (one tokenization pass per doc — ``core.langid.stopword_hit_rows``,
    the measured-6.5x-faster equivalent of the per-language alternation
    regexes), charset/script/non-space hits via ONE codepoint-LUT pass
    (``core.langid.charclass_count_matrix`` — replaces nine pandas
    ``str.count`` scans, count-identical by construction and pinned by
    test), then the same ``score_from_counts`` arithmetic as the oracle,
    vectorized in numpy. Returns DataFrame(lang, conf)."""
    s = texts.fillna("")
    t_arr = s.to_numpy()
    langs = _langid._SCORED_LANGS
    cm = _langid.charclass_count_matrix(t_arr)
    if cm is not None:
        lens, counts = cm
        nonspace = lens - counts[:, _langid._CLASS_BIT["ws"]]

        def _class_count(name):
            j = _langid._CLASS_BIT.get(name)
            if j is None:
                return np.zeros(len(s), np.int64)
            return counts[:, j]

    else:  # lone-surrogate batch: exact regex fallback (same spec)
        # the engine-portable nonspace class, NOT Python's Unicode \S
        # (which excludes NBSP & friends — a forked constant vs the LUT
        # path and the DuckDB oracle)
        from ..core.casefold import NONSPACE_ONE as _NS1

        nonspace = s.str.count(_NS1).to_numpy(dtype=np.int64)
        _pats = dict(_langid.CHARSET_PATTERNS)
        _pats.update({la: p for la, p, _th in _langid.SCRIPT_OVERRIDES})

        def _class_count(name):
            pat = _pats.get(name)
            if not pat:
                return np.zeros(len(s), np.int64)
            return s.str.count(pat).to_numpy(np.int64)

    # stopword hits via the shared token path (core.langid.stopword_hit_rows
    # — one tokenization pass per doc instead of 7 alternation scans;
    # regex-spec equivalence pinned by the langid guard tests)
    sw_mat = np.empty((len(s), len(langs)), dtype=np.int64)
    for i, t in enumerate(t_arr):
        sw_mat[i] = _langid.stopword_hit_rows(t)
    scores = []
    for j, lang in enumerate(langs):
        scores.append(2.0 * sw_mat[:, j] + 1.0 * _class_count(lang))
    # left-to-right accumulation — same FP association order as the oracle
    total = np.zeros(len(s), dtype=np.float64)
    for sc in scores:
        total = total + sc
    mat = np.stack(scores, axis=1)
    best_i = np.argmax(mat, axis=1)  # first max — same tie-break as oracle
    best = mat[np.arange(len(s)), best_i]

    with np.errstate(divide="ignore", invalid="ignore"):
        conf_scored = np.where(total > 0, best / np.where(total > 0, total, 1.0), 0.0)
    lang_out = np.array(langs, dtype=object)[best_i]
    lang_out = np.where(total > 0, lang_out, "und")
    conf_out = np.where(total > 0, conf_scored, 0.0)
    # script overrides (ja > ko > zh precedence): applied in reverse so the
    # decision-order winner lands last — same result as the oracle's early
    # returns, and frac/min arithmetic matches it bit-for-bit
    ns_safe = np.maximum(nonspace, 1)
    for lang, pat, threshold in reversed(_langid.SCRIPT_OVERRIDES):
        hits = _class_count(lang)
        frac = hits / ns_safe
        cond = (nonspace > 0) & (frac > threshold)
        lang_out = np.where(cond, lang, lang_out)
        conf_out = np.where(cond, np.minimum(1.0, frac), conf_out)
    return pd.DataFrame({"lang": lang_out, "conf": conf_out})


def make_langid_udf():
    @pandas_udf(LANGID_TYPE)
    def langid_udf(texts: pd.Series) -> pd.DataFrame:
        return langid_batch(texts)

    return langid_udf


FTLANG_TYPE = T.StructType(
    [T.StructField("lang", T.StringType()), T.StructField("prob", T.DoubleType())]
)


def make_ftlang_udf(spark=None):
    """fastText-architecture language ID (``core.ftlang``): hashed char
    n-gram features scored against a dense weight matrix. The model is
    trained ONCE on the driver and shipped via ``SparkContext.broadcast``
    (the north rule's "models broadcast to executors, batched inference" —
    the 10.5 MB matrix crosses the wire once per executor, not per task);
    inference is Arrow-batched through this pandas UDF and scores each doc
    with one vector-matrix product. Executors never train: they unpickle the
    broadcast arrays bit-identically, and scoring goes through the same
    ``core.ftlang.predict`` the golden oracle uses, so Spark output equals
    the golden parquet bit-for-bit."""
    from ..core import ftlang as _ftlang

    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    bc = spark.sparkContext.broadcast(_ftlang.model()) if spark else None

    @pandas_udf(FTLANG_TYPE)
    def ftlang_udf(texts: pd.Series) -> pd.DataFrame:
        m = bc.value if bc is not None else _ftlang.model()
        preds = _ftlang.predict_many(texts.fillna("").to_numpy(), m)
        return pd.DataFrame(
            {"lang": [p[0] for p in preds], "prob": [p[1] for p in preds]}
        )

    return ftlang_udf


def _validated_quality_matrix(W, param: str) -> np.ndarray:
    """Fail at FACTORY time (driver, clear message) instead of deep inside
    ``predict_quality_many`` on an executor: a langid matrix
    ``(N_BUCKETS, n_langs)``, a transposed array, or an integer count
    matrix all reach that code path otherwise — erroring late or, worse,
    silently mis-scoring if broadcasting happens to line up."""
    from ..core.ftlang import N_BUCKETS

    W = np.asarray(W)
    if W.shape != (N_BUCKETS, 2):
        raise ValueError(
            f"{param} must be the (N_BUCKETS, 2) = ({N_BUCKETS}, 2) quality "
            f"log-likelihood matrix (operators.train.train_quality_classifier "
            f"/ ftquality.train_model), got shape {W.shape}"
        )
    if not np.issubdtype(W.dtype, np.floating):
        raise ValueError(
            f"{param} must be a float log-likelihood matrix, got dtype "
            f"{W.dtype} (did you pass raw integer counts instead of "
            f"nb_loglik output?)"
        )
    return W


def make_ftquality_udf(spark=None, W=None):
    """fastText-architecture quality classifier (``core.ftquality``): same
    broadcast-once / Arrow-batched shape as ``make_ftlang_udf``; scoring
    goes through the same ``predict_quality`` the golden oracle uses, so
    Spark output equals the golden parquet bit-for-bit. Pass ``W`` to score
    with a custom-trained matrix (e.g. from
    ``operators.train.train_quality_classifier`` or a ``run_train.py``
    artifact) instead of the embedded seed model."""
    from ..core import ftquality as _ftq

    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    model = _ftq.model() if W is None else _validated_quality_matrix(W, "W")
    bc = spark.sparkContext.broadcast(model) if spark else None
    # the closure must NOT capture the matrix when a broadcast exists —
    # cloudpickle would ship the ~2 MB ndarray inside the UDF command and
    # re-unpickle it per task, defeating the broadcast it sits next to
    model_local = None if bc is not None else model

    @pandas_udf("double")
    def ftquality_udf(texts: pd.Series) -> pd.Series:
        WW = bc.value if bc is not None else model_local
        return pd.Series(_ftq.predict_quality_many(texts.fillna("").to_numpy(), WW))

    return ftquality_udf


def _ship_models(spark=None):
    """Train the LMs once on the driver and ship them by broadcast when a
    session is live (closure fallback otherwise, for unit contexts).

    Broadcast is not just bandwidth hygiene: a closure-shipped model dict is
    re-unpickled for EVERY task, so the per-instance dense n-gram caches
    (``CharTrigramLM._dense_tables``, deliberately excluded from pickle)
    were rebuilt per task — measured ~23 ms/task of Python-eval setup, the
    dominant level-invariant cost at fine task granularity. The worker-side
    broadcast registry caches the deserialized value per PROCESS, so the
    dense tables now build once per worker and persist across tasks.
    Returns (models_bc, models_local) — exactly one is non-None."""
    models = _lm.all_models()  # driver-side, once per factory call
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    if spark is not None:
        return spark.sparkContext.broadcast(models), None
    return None, models


def make_perplexity_udf():
    """(text, lang) -> double. The LMs are trained once on the driver and
    broadcast (``_ship_models``), so executor workers do zero training —
    measured to remove a ~1s-per-worker-per-language first-task stall.
    Scoring batches group by lang; the math is numpy."""
    models_bc, models_local = _ship_models()

    @pandas_udf(T.DoubleType())
    def ppl_udf(texts: pd.Series, langs: pd.Series) -> pd.Series:
        models = models_bc.value if models_bc is not None else models_local
        fallback = models["en"]
        out = np.empty(len(texts), dtype=np.float64)
        frame = pd.DataFrame(
            {"t": texts.fillna("").to_numpy(), "l": langs.fillna("und").to_numpy()}
        )
        for lang, grp in frame.groupby("l", sort=False):
            model = models.get(lang, fallback)
            # batched dense-table lookups (bit-identical to per-doc
            # perplexity — test_perplexity_batch_bitwise), same path the
            # fused pipeline UDF uses
            out[grp.index.to_numpy()] = model.perplexity_batch(
                grp["t"].to_numpy()
            )
        return pd.Series(out)

    return ppl_udf


QUALITY_SCRUB_TYPE = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("conf", T.DoubleType()),
        T.StructField("ppl", T.DoubleType()),
        T.StructField("drop_reasons", T.ArrayType(T.StringType())),
        T.StructField("detections", DETECTIONS_TYPE),
        T.StructField("scrubbed_text", T.StringType()),
        # optional fastText-architecture quality score (core.ftquality);
        # NULL unless the factory was built with quality_prob=True — kept in
        # the one struct so enabling the classifier does NOT add a second
        # Python eval node to the flagship plan
        T.StructField("q_prob", T.DoubleType()),
    ]
)

# metric fields the fused UDF needs for the lang-dependent rule flags — the
# METRICS are computed JVM-side (functions.quality.quality_metric_columns);
# only the scalar threshold comparisons happen here, vectorized in numpy,
# because the flags depend on the language PREDICTION the UDF itself makes.
QUALITY_METRIC_FIELDS = (
    "n_chars", "n_words", "mean_word_len", "symbol_ratio", "stop_hits",
    "dup_line_frac", "ellipsis_line_frac", "tox_hits",
)


def make_quality_scrub_udf(
    entities: Optional[Sequence[str]] = None,
    min_score: float = 0.0,
    size: int = _chunker.DEFAULT_CHUNK_SIZE,
    overlap: int = _chunker.DEFAULT_CHUNK_OVERLAP,
    mode: str = "relationship",
    quality_prob: bool = False,
    quality_model=None,
):
    """Single fused Python stage for the whole pipeline:
    (text, metrics_struct) -> (lang, conf, ppl, drop_reasons, detections,
    scrubbed_text).

    The JVM still owns the heavy quality METRICS (regexp counts, line dedup —
    whole-stage-codegen'd); this UDF computes langid+perplexity, evaluates
    the rule FLAGS with numpy comparisons that mirror
    ``core.quality.rule_flags`` exactly (they need the language prediction,
    which is made here), builds the drop_reasons lineage, and runs
    detect+scrub only for docs passing every gate. Identical semantics to
    the former two-stage formulation, but the document text crosses the
    Arrow boundary ONCE instead of twice and the JVM no longer materializes
    a gated third copy — measured to improve throughput AND parallel
    efficiency on this bandwidth-limited host."""
    from ..core import quality as _q
    from ..core.toxicity import MAX_TOXICITY_HITS as _MAX_TOX

    models_bc, models_local = _ship_models()
    ent = list(entities) if entities else None

    # optional fused quality classifier: train once driver-side (or take a
    # custom-trained ``quality_model`` matrix — the run_train.py /
    # operators.train loop), ship by broadcast when a session is live
    # (factory may be called without one in unit contexts — then the 2 MB
    # matrix rides the closure, LM-style)
    qprob_bc = None
    qprob_W = None
    if quality_prob:
        from pyspark.sql import SparkSession

        from ..core import ftquality as _ftq

        W = (
            _validated_quality_matrix(quality_model, "quality_model")
            if quality_model is not None
            else _ftq.model()
        )
        sess = SparkSession.getActiveSession()
        if sess is not None:
            qprob_bc = sess.sparkContext.broadcast(W)
        else:
            qprob_W = W

    @pandas_udf(QUALITY_SCRUB_TYPE)
    def quality_scrub_udf(texts: pd.Series, m: pd.DataFrame) -> pd.DataFrame:
        models = models_bc.value if models_bc is not None else models_local
        fallback = models["en"]
        lid = langid_batch(texts)
        lang = lid["lang"].to_numpy()
        ppl = np.empty(len(texts), dtype=np.float64)
        frame = pd.DataFrame({"t": texts.fillna("").to_numpy(), "l": lang})
        for lg, grp in frame.groupby("l", sort=False):
            model = models.get(lg, fallback)
            # batched lookups (5 searchsorted per language-group instead of
            # 5 per doc) — bit-identical to per-doc scoring, see
            # CharTrigramLM.perplexity_batch
            ppl[grp.index.to_numpy()] = model.perplexity_batch(
                grp["t"].to_numpy()
            )

        # rule flags — exact numpy mirror of core.quality.rule_flags
        ws = ~np.isin(lang, list(_q.CHAR_BASED_LANGS))
        n_words = m["n_words"].to_numpy()
        n_chars = m["n_chars"].to_numpy()
        mwl = m["mean_word_len"].to_numpy()
        flags = {
            "min_words": np.where(ws, n_words >= _q.MIN_WORDS,
                                  n_chars >= _q.MIN_WORDS),
            "max_words": n_words <= _q.MAX_WORDS,
            "mean_word_len": np.where(
                ws, (mwl >= _q.MIN_MEAN_WORD_LEN) & (mwl <= _q.MAX_MEAN_WORD_LEN),
                True),
            "symbol_ratio": m["symbol_ratio"].to_numpy() <= _q.MAX_SYMBOL_RATIO,
            "stopwords": (lang != "en")
            | (m["stop_hits"].to_numpy() >= _q.MIN_STOPWORD_HITS),
            "dup_lines": m["dup_line_frac"].to_numpy() <= _q.MAX_DUP_LINE_FRAC,
            "ellipsis_lines": m["ellipsis_line_frac"].to_numpy()
            <= _q.MAX_ELLIPSIS_LINE_FRAC,
            "toxicity": m["tox_hits"].to_numpy() <= _MAX_TOX,
        }
        gate_conf = lid["conf"].to_numpy() >= _q.MIN_LANG_CONF
        gate_ppl = ppl <= _q.MAX_PERPLEXITY
        ordered = [(name, flags[name]) for name in _q.RULE_NAMES]
        ordered += [("lang_conf", gate_conf), ("perplexity", gate_ppl)]
        keep = np.ones(len(texts), dtype=bool)
        for _, arr in ordered:
            keep &= arr

        dets_out: list = []
        scrub_out: list = []
        reasons_out: list = []
        t_arr = frame["t"].to_numpy()
        # batch candidate scans (core.scanvec) for the kept docs only — the
        # detect stage never sees dropped docs, so don't pay the scan for
        # them — and only for docs that fit ONE chunk: analyze_long_text's
        # multi-chunk branch ignores the bundle (chunk-local offsets don't
        # line up with document-level candidates), so scanning a long doc
        # is O(doc chars) of pure waste exactly where chars dominate.
        # None (lone-surrogate batch) falls back to per-doc scans.
        kept_idx = np.array(
            [i for i in np.nonzero(keep)[0] if len(t_arr[i] or "") <= size],
            dtype=np.int64,
        )
        bundles = _scanvec.batch_scan([t_arr[i] for i in kept_idx])
        if bundles is None:
            bundles = [None] * len(kept_idx)
        bundle_at = dict(zip(kept_idx.tolist(), bundles))
        for i in range(len(texts)):
            if keep[i]:
                reasons_out.append([])
            else:
                reasons_out.append(
                    [name for name, arr in ordered if not arr[i]]
                )
            if not keep[i] or not t_arr[i]:
                dets_out.append([])
                scrub_out.append(None)
                continue
            dets = _chunker.analyze_long_text(
                t_arr[i], size=size, overlap=overlap, min_score=min_score,
                entities=ent, scans=bundle_at.get(i),
            )
            dets_out.append([d.as_tuple() for d in dets])
            scrub_out.append(_scrub.scrub_document(t_arr[i], dets, mode=mode))
        if quality_prob:
            from ..core import ftquality as _ftq

            W = qprob_bc.value if qprob_bc is not None else qprob_W
            q_prob = _ftq.predict_quality_many(t_arr, W)
        else:
            q_prob = [None] * len(texts)
        return pd.DataFrame(
            {
                "lang": lid["lang"],
                "conf": lid["conf"],
                "ppl": ppl,
                "drop_reasons": reasons_out,
                "detections": dets_out,
                "scrubbed_text": scrub_out,
                "q_prob": pd.Series(q_prob, dtype="float64"),
            }
        )

    return quality_scrub_udf
