"""Character-trigram language model with stupid-backoff perplexity.

KenLM-style n-gram perplexity scoring is required by the north rule; the kenlm
wheel is unavailable, so this is a self-contained deterministic equivalent:

- one char-trigram LM per language, trained at first use on a seed corpus
  synthesized from ``langprofiles`` vocabulary with ``random.Random(SEED)``
  (pure function of the code — no wall clock, no external data);
- stupid-backoff scoring (Brants et al. 2007, public):
  ``p(c3|c1c2) = tri/bi`` else ``0.4 * bi2/uni`` else ``0.16 * uni/total``
  else ``FLOOR``; perplexity = ``exp(-mean(log p))`` over all char positions;
- per-doc (oracle) lookups are numpy ``searchsorted`` over sorted int64
  n-gram codes; the batched UDF path gathers from a lazily-built dense
  direct-indexed equivalent (``_dense_tables`` — bit-identical counts), so
  scoring a document is a handful of vectorized ops either way (executor-side
  init-once, model broadcast).

Text is lowercased and whitespace-collapsed before scoring; codepoints above
0xFFFE map to 0xFFFE so codes fit one int64: code(c1,c2,c3) =
(c1<<32)|(c2<<16)|c3.
"""

from __future__ import annotations

import random
from typing import Dict, List

import numpy as np

from .casefold import simple_lower
from .langprofiles import CHAR_BASED_LANGS, CONTENT_WORDS, LANGS, STOPWORDS

SEED = 42
BACKOFF = 0.4
FLOOR = 1e-7
_SEED_WORDS = 60_000  # per-language training sample size


def _seed_text(lang: str) -> str:
    # mix the language in via its fixed index (hash() is process-salted)
    rng = random.Random(SEED * 1000 + LANGS.index(lang))
    stop = STOPWORDS.get(lang, [])
    content = CONTENT_WORDS[lang]
    words: List[str] = []
    char_based = lang in CHAR_BASED_LANGS
    sep = "" if char_based else " "
    for _ in range(_SEED_WORDS):
        if stop and rng.random() < 0.4:
            words.append(rng.choice(stop))
        else:
            words.append(rng.choice(content))
        if rng.random() < 0.1:
            words.append("。" if char_based else ".")
    return sep.join(words).lower()


def _encode(text: str) -> np.ndarray:
    arr = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    return np.minimum(arr, 0xFFFE)


def doc_ngram_counts(text: str):
    """Sorted (keys, counts) char 1/2/3-gram arrays of ONE document — the
    single counting spec shared by ``CharTrigramLM.__init__`` (one text),
    the distributed trainer (``operators.train.train_char_lm``: per-doc
    counts summed across the corpus, so no phantom grams span document
    boundaries), and its test oracle. Keys pack codepoints (clamped to
    0xFFFE by ``_encode``) into 16-bit digits."""
    c = _encode(text)
    uni_keys, uni_cnt = np.unique(c, return_counts=True)
    bi = (c[:-1] << 16) | c[1:]
    bi_keys, bi_cnt = np.unique(bi, return_counts=True)
    tri = (c[:-2] << 32) | (c[1:-1] << 16) | c[2:]
    tri_keys, tri_cnt = np.unique(tri, return_counts=True)
    return (uni_keys, uni_cnt), (bi_keys, bi_cnt), (tri_keys, tri_cnt)


class CharTrigramLM:
    """Sorted-array n-gram store; picklable and broadcast-friendly."""

    def __init__(self, text: str):
        (uk, uc), (bk, bc), (tk, tc) = doc_ngram_counts(text)
        self.total = int(uc.sum()) if len(uc) else 0
        self.uni_keys, self.uni_cnt = uk, uc.astype(np.float64)
        self.bi_keys, self.bi_cnt = bk, bc.astype(np.float64)
        self.tri_keys, self.tri_cnt = tk, tc.astype(np.float64)
        self._dense = None  # lazy per-process cache, never pickled

    @classmethod
    def from_counts(cls, uni, bi, tri) -> "CharTrigramLM":
        """Build from pre-aggregated ``(keys, counts)`` pairs (each a pair of
        1-D arrays; keys must be sortable ints) — the constructor for the
        distributed trainer, where counts are ``doc_ngram_counts`` sums over
        a whole corpus. ``total`` is the corpus character count (== unigram
        count sum). With the counts of a single document this equals
        ``CharTrigramLM(text)`` exactly; over many documents it differs from
        training on a concatenation only by the absent cross-document
        boundary grams (deliberate — those grams never occur in any real
        document)."""
        m = cls("")
        for name, (keys, cnt) in zip(("uni", "bi", "tri"), (uni, bi, tri)):
            k = np.asarray(keys, dtype=np.int64)
            v = np.asarray(cnt, dtype=np.float64)
            order = np.argsort(k, kind="stable")
            setattr(m, f"{name}_keys", k[order])
            setattr(m, f"{name}_cnt", v[order])
        m.total = int(m.uni_cnt.sum())
        m._dense = None
        return m

    def __getstate__(self):
        # the dense tables are a per-process cache (MBs for the CJK models);
        # the pickled closure/broadcast ships only the sorted KB-scale arrays
        # and each executor worker rebuilds the dense form on first use
        d = self.__dict__.copy()
        d["_dense"] = None
        return d

    def _dense_tables(self):
        """Direct-indexed equivalent of the sorted-array store, built lazily
        per process for the batch path: the training vocab is tiny (V <= ~99
        distinct codepoints per model), so every n-gram count fits a dense
        array indexed by base-(V+1) digits of per-char dense ids — one
        ``take`` gather per probe instead of a ``searchsorted`` binary
        search. Exactness: cells are the same float64 counts, absent grams
        read the same 0.0 (any gram containing the unknown-char sentinel id
        V indexes a cell no training gram can fill), so the downstream
        arithmetic is bit-identical — pinned by
        ``test_perplexity_batch_bitwise``."""
        if self._dense is None:
            V = len(self.uni_keys)
            base = V + 1
            charmap = np.full(0xFFFF, V, dtype=np.int32)
            charmap[self.uni_keys] = np.arange(V, dtype=np.int32)
            uni_d = np.zeros(base, dtype=np.float64)
            uni_d[:V] = self.uni_cnt
            bi_d = np.zeros(base * base, dtype=np.float64)
            bi_hi = charmap[self.bi_keys >> 16]
            bi_lo = charmap[self.bi_keys & 0xFFFF]
            bi_d[bi_hi * base + bi_lo] = self.bi_cnt
            tri_d = np.zeros(base * base * base, dtype=np.float64)
            t_hi = charmap[self.tri_keys >> 32]
            t_mid = charmap[(self.tri_keys >> 16) & 0xFFFF]
            t_lo = charmap[self.tri_keys & 0xFFFF]
            tri_d[(t_hi * base + t_mid) * base + t_lo] = self.tri_cnt
            self._dense = (charmap, base, uni_d, bi_d, tri_d)
        return self._dense

    @staticmethod
    def _lookup(keys: np.ndarray, cnt: np.ndarray, q: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            # empty model (trained on zero documents, e.g. train_char_lm on
            # an empty DataFrame): every count reads 0.0 and perplexity
            # degrades to the backoff floor instead of an IndexError
            return np.zeros(len(q), dtype=np.float64)
        idx = np.searchsorted(keys, q)
        idx_c = np.clip(idx, 0, len(keys) - 1)
        hit = keys[idx_c] == q
        out = np.where(hit, cnt[idx_c], 0.0)
        return out

    # flush threshold for perplexity_batch, in scored positions: 5 query
    # arrays x 8192 x 8B = 320 KB plus ~10 same-sized intermediates keeps
    # the whole flush working set ~3 MB — L2/L3-resident. Concatenating the
    # entire Arrow batch instead (tens of MB) was measured 10x SLOWER under
    # co-tenant memory-bandwidth pressure: the tiny per-doc arrays were
    # cache-resident and immune to DRAM steal, the monolithic ones not.
    _BATCH_POSITIONS = 8192

    def perplexity_batch(self, texts) -> np.ndarray:
        """Vectorized perplexity over many texts — bit-identical to calling
        ``perplexity`` per text (pinned by ``test_perplexity_batch_bitwise``):
        per-doc dense-id arrays are concatenated in bounded chunks so each
        n-gram table is probed with one ``take`` gather per ~8k scored
        positions (dense direct-indexed tables, ``_dense_tables`` — the
        counts gathered are exactly what the sorted-array ``searchsorted``
        probe returns, absent grams included), and each doc's mean is taken
        over its contiguous slice of the chunk's shared array. numpy's
        pairwise summation depends only on the slice's contents and length,
        never on the surrounding buffer, and every elementwise op is
        position-local, so the per-doc float is unchanged by chunk
        boundaries (always at doc granularity). No cross-doc n-grams exist:
        the shifted views that form the probe indices are taken per doc
        BEFORE concatenation."""
        charmap, base, uni_d, bi_d, tri_d = self._dense_tables()
        out = np.empty(len(texts), dtype=np.float64)
        ids_chunks = []  # per-doc dense-id arrays awaiting a flush
        spans = []  # (out_index, start_in_position_space, n_scored_positions)
        pos = 0

        def _flush():
            nonlocal pos
            if not spans:
                return
            # One concatenated id array per flush; the five probe index
            # arrays are base-(V+1) digit combinations of position-shifted
            # views. Doc boundaries cannot leak: the shifted views are taken
            # PER DOC (ids_chunks entries), mirroring the per-doc query
            # build of the sorted-array formulation.
            tri_i, bctx_i, bi2_i, uctx_i, uni_i = [], [], [], [], []
            for ids in ids_chunks:
                i0, i1, i2 = ids[:-2], ids[1:-1], ids[2:]
                bctx = i0 * base + i1
                bi2 = i1 * base + i2
                tri_i.append(bctx * base + i2)
                bctx_i.append(bctx)
                bi2_i.append(bi2)
                uctx_i.append(i1)
                uni_i.append(i2)
            tri_c = tri_d.take(np.concatenate(tri_i))
            bictx_c = bi_d.take(np.concatenate(bctx_i))
            bi2_c = bi_d.take(np.concatenate(bi2_i))
            unictx_c = uni_d.take(np.concatenate(uctx_i))
            uni_c = uni_d.take(np.concatenate(uni_i))
            with np.errstate(divide="ignore", invalid="ignore"):
                p_tri = np.where(
                    bictx_c > 0, tri_c / np.maximum(bictx_c, 1.0), 0.0)
                p_bi = BACKOFF * np.where(
                    unictx_c > 0, bi2_c / np.maximum(unictx_c, 1.0), 0.0
                )
                # max(total, 1): see perplexity() — empty-model 0/0 guard
                p_uni = BACKOFF * BACKOFF * uni_c / max(self.total, 1)
            p = np.where(tri_c > 0, p_tri, np.where(bi2_c > 0, p_bi, p_uni))
            logp = np.log(np.maximum(p, FLOOR))
            for i, start, n in spans:
                out[i] = float(np.exp(-np.mean(logp[start : start + n])))
            ids_chunks.clear(); spans.clear()
            pos = 0

        for i, text in enumerate(texts):
            t = " ".join(simple_lower(text).split())
            if len(t) < 3:
                out[i] = (
                    float("inf") if not t else float(np.exp(-np.log(FLOOR)))
                )
                continue
            ids_chunks.append(charmap.take(_encode(t)))
            n = len(t) - 2
            spans.append((i, pos, n))
            pos += n
            if pos >= self._BATCH_POSITIONS:
                _flush()
        _flush()
        return out

    def perplexity(self, text: str) -> float:
        t = " ".join(simple_lower(text).split())
        if len(t) < 3:
            return float("inf") if not t else float(np.exp(-np.log(FLOOR)))
        c = _encode(t)
        tri = (c[:-2] << 32) | (c[1:-1] << 16) | c[2:]
        bi_ctx = (c[:-2] << 16) | c[1:-1]
        bi2 = (c[1:-1] << 16) | c[2:]
        uni_ctx = c[1:-1]
        uni = c[2:]

        tri_c = self._lookup(self.tri_keys, self.tri_cnt, tri)
        bictx_c = self._lookup(self.bi_keys, self.bi_cnt, bi_ctx)
        bi2_c = self._lookup(self.bi_keys, self.bi_cnt, bi2)
        unictx_c = self._lookup(self.uni_keys, self.uni_cnt, uni_ctx)
        uni_c = self._lookup(self.uni_keys, self.uni_cnt, uni)

        with np.errstate(divide="ignore", invalid="ignore"):
            p_tri = np.where(bictx_c > 0, tri_c / np.maximum(bictx_c, 1.0), 0.0)
            p_bi = BACKOFF * np.where(unictx_c > 0, bi2_c / np.maximum(unictx_c, 1.0), 0.0)
            # max(total, 1): an EMPTY model (zero training docs) has
            # total==0 and uni_c all zeros — 0/0 would poison p with NaN
            # (np.maximum propagates NaN past the FLOOR); with the guard
            # every position reads the floor, perplexity = 1/FLOOR
            p_uni = BACKOFF * BACKOFF * uni_c / max(self.total, 1)
        p = np.where(tri_c > 0, p_tri, np.where(bi2_c > 0, p_bi, p_uni))
        p = np.maximum(p, FLOOR)
        return float(np.exp(-np.mean(np.log(p))))


_MODELS: Dict[str, CharTrigramLM] = {}


def get_model(lang: str) -> CharTrigramLM:
    key = lang if lang in LANGS else "en"
    if key not in _MODELS:
        _MODELS[key] = CharTrigramLM(_seed_text(key))
    return _MODELS[key]


def all_models() -> Dict[str, CharTrigramLM]:
    """Train (once) and return every language model. Called on the Spark
    driver so the pickled UDF closure ships the ready-made arrays (a few KB)
    to executors instead of re-training per worker process."""
    for lang in LANGS:
        get_model(lang)
    return dict(_MODELS)


def perplexity_many(texts, langs, models: Dict[str, CharTrigramLM]) -> np.ndarray:
    """Batch path: ``texts[i]`` scored under ``models[langs[i]]`` (unknown
    or NULL languages score against ``models["en"]``), one
    ``perplexity_batch`` call per language present — bit-identical to the
    per-doc ``perplexity``."""
    by_lang: Dict[str, List[int]] = {}
    for i, lang in enumerate(langs):
        by_lang.setdefault(lang, []).append(i)
    out = np.empty(len(texts), dtype=np.float64)
    for lang, idx in by_lang.items():
        out[idx] = models.get(lang, models["en"]).perplexity_batch(
            [texts[i] for i in idx])
    return out


def perplexity(text: str, lang: str = "en") -> float:
    """Oracle path: perplexity of ``text`` under the LM for ``lang``
    (unknown languages score against the English LM)."""
    return get_model(lang).perplexity(text)
