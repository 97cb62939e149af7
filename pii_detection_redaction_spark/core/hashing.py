"""Portable deterministic hashing + near-dup primitives.

``hash64`` is defined as DuckDB's ``md5_number_lower(s)`` — the *last* 8 bytes
of the MD5 digest, little-endian, as an unsigned 64-bit integer (verified
equal in this environment). Using an MD5-derived hash (instead of Spark
``xxhash64`` or DuckDB ``hash``) makes every hash-based operator — exact
dedup, MinHash-LSH, SimHash, fingerprints — *differentially testable*: the
DuckDB SQL oracle computes the very same integers.

All functions here are pure and numpy/stdlib only; the Spark operators in
``..operators.dedup`` call them inside Arrow-batched UDFs.
"""

from __future__ import annotations

import hashlib
import re
from typing import List, Sequence

from .casefold import NONSPACE_RUN, simple_lower

U64 = (1 << 64) - 1
SEP = "\x1f"  # unit separator joins seed/token pieces, same literal in SQL


def hash64(s: str) -> int:
    """Unsigned 64-bit == DuckDB ``md5_number_lower(s)``."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[8:], "little")


def hash64_signed(s: str) -> int:
    """Two's-complement view, matching ``CAST(md5_number_lower(s) AS BIGINT)``."""
    v = hash64(s)
    return v - (1 << 64) if v >= (1 << 63) else v


_word_re = re.compile(NONSPACE_RUN)  # engine-portable \S+ (core.casefold)


def tokenize(text: str) -> List[str]:
    # simple_lower, not str.lower: the DuckDB replay is lower-then-tokenize,
    # and the engines' lower()s disagree on İ (core.casefold).
    return _word_re.findall(simple_lower(text))


def shingles(text: str, k: int = 3) -> List[str]:
    """Distinct word k-gram shingles, space-joined, order-preserving first-seen.

    SQL equivalent: split to words, ``list_transform(range(...))`` k-gram
    join, ``unnest`` + ``DISTINCT``.
    """
    toks = tokenize(text)
    if len(toks) < k:
        return [" ".join(toks)] if toks else []
    seen = set()
    out = []
    for i in range(len(toks) - k + 1):
        s = " ".join(toks[i : i + k])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


# Affine-permutation MinHash constants (one spec, shared verbatim with the
# DuckDB oracle fragment in plans/oracles.py). Derived from the two
# golden-ratio mixing constants; A is odd (so x -> A*x+B mod 2^64 is a
# bijection) and < 2^62, B < 2^63, so the SQL replay's HUGEINT product
# A*h + B < 2^127 never overflows before the % 2^64.
MINHASH_MAX_HASHES = 64
MINHASH_A = tuple(
    (((i + 1) * 0x9E3779B97F4A7C15) & ((1 << 62) - 1)) | 1
    for i in range(MINHASH_MAX_HASHES)
)
MINHASH_B = tuple(
    ((i + 1) * 0xC2B2AE3D27D4EB4F) & ((1 << 63) - 1)
    for i in range(MINHASH_MAX_HASHES)
)


def minhash_signature(text: str, num_hashes: int = 16, k: int = 3) -> List[int]:
    """MinHash signature: ``sig[i] = min over shingles of
    (MINHASH_A[i] * hash64(sh) + MINHASH_B[i]) mod 2**64``.

    One md5 per shingle plus vectorized uint64 affine permutations — the
    previous per-(seed, shingle) ``hash64(f"{i}<SEP>{sh}")`` formulation
    cost ``num_hashes`` md5 calls per shingle (~3.1 ms/doc on the bench
    corpus; this form measures ~0.26 ms/doc, bit-identical to the DuckDB
    replay: numpy uint64 wrap-around IS the mod-2**64 the SQL computes in
    HUGEINT). Affine permutations of a 64-bit base hash are the textbook
    MinHash estimator (2-universal family), so collision statistics match
    the per-seed-md5 formulation.

    Empty documents get the max hash in every slot — they never collide with
    real content, but every empty doc collides with every OTHER empty doc
    (all-sentinel signatures are identical). Near-dup consumers must filter
    zero-content docs upstream if empty-empty clustering is unwanted
    (plans.queries.q_near_dup_components does).
    """
    import numpy as np

    if num_hashes > MINHASH_MAX_HASHES:
        # the affine constant tables are finite; silently truncating would
        # give non-empty docs shorter signatures than the empty-doc
        # sentinel path (inconsistent band spaces, halved LSH recall)
        raise ValueError(
            f"num_hashes={num_hashes} exceeds MINHASH_MAX_HASHES="
            f"{MINHASH_MAX_HASHES}"
        )
    sh = shingles(text, k)
    if not sh:
        return [U64] * num_hashes
    hs = np.fromiter(map(hash64, sh), dtype=np.uint64, count=len(sh))
    a = np.array(MINHASH_A[:num_hashes], dtype=np.uint64)
    b = np.array(MINHASH_B[:num_hashes], dtype=np.uint64)
    sig = (a[:, None] * hs[None, :] + b[:, None]).min(axis=1)
    return [int(v) for v in sig]


def minhash_bands(sig: Sequence[int], band_size: int = 4) -> List[int]:
    """LSH band keys: hash of the concatenated signature slice per band."""
    return [
        hash64(SEP.join(str(v) for v in sig[b : b + band_size]))
        for b in range(0, len(sig), band_size)
    ]


def simhash64(text: str) -> int:
    """64-bit SimHash over word tokens (Charikar 2002): per-bit majority vote
    of token ``hash64`` values, unweighted."""
    toks = tokenize(text)
    if not toks:
        return 0
    counts = [0] * 64
    for t in toks:
        h = hash64(t)
        for b in range(64):
            counts[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(64):
        if counts[b] > 0:
            out |= 1 << b
    return out


def jaccard_kgrams(a: str, b: str, k: int = 3) -> float:
    sa, sb = set(shingles(a, k)), set(shingles(b, k))
    if not sa and not sb:
        return 1.0
    if not sa or not sb:
        return 0.0
    return len(sa & sb) / len(sa | sb)


def doc_fingerprint(text: str, k: int = 3) -> int:
    """Winnowing-style fingerprint: min over shingles of
    ``hash64("0<SEP>" + sh)`` (its own pinned spec — it predates the
    affine-permutation signature form and keeps the seed-prefix md5);
    cheap containment/equality probe."""
    sh = shingles(text, k)
    if not sh:
        return U64
    return min(hash64(f"0{SEP}{s}") for s in sh)
