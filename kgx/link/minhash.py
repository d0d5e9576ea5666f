"""MinHash signatures + LSH banding (SURVEY §2 C2; BASELINE.json:L6
"minhash-banded candidate generation").

k=64 permutations over character 3-shingles of the normalized surface,
banded b=16 × r=4 (50%-Jaccard S-curve midpoint ≈ (1/16)^(1/4) ≈ 0.5 — an
edit-distance-1 corruption of an 8+ char name sits well above it).

The kernel is numpy over Arrow batches (scalar pandas UDF); hashes are
crc32-seeded (PYTHONHASHSEED-independent → deterministic across workers,
sessions, and resumes).  Replaces the quadratic name-similarity join with an
equi-join on (band_id, band_hash) — SURVEY §4 "join-space reduction".
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgx.text.normalize import norm_term

K = 64  # permutations
BANDS = 16
ROWS = 4  # S-curve midpoint (1/16)^(1/4) ≈ 0.5.  Tight on purpose: within a
# morphologically uniform lexicon unrelated names share ~0.2-0.3 shingle
# Jaccard, and a looser curve floods the candidate join (measured 66M band
# collisions at r=2 on the bench lexicon).  Short-string edit-distance-1
# recall — where Jaccard legitimately drops below 0.5 — is owned by the
# deterministic deletion-neighborhood channel (kgx.link.symdel), not by
# loosening this curve.
_P = (1 << 61) - 1  # Mersenne prime for the universal-hash family

_rs = np.random.RandomState(42)
_A = _rs.randint(1, _P, size=K, dtype=np.int64)
_B = _rs.randint(0, _P, size=K, dtype=np.int64)
_BAND_MIX = np.uint64(0x9E3779B97F4A7C15).astype(np.int64)  # golden-ratio mix


def _grams3(s: str) -> set[str]:
    """3-shingles for the MINHASH signature: maximal discrimination between
    unrelated lexicon entries (2-grams collide across a morpheme grammar)."""
    if not s:
        return set()
    if len(s) <= 3:
        return {s}
    return {s[i : i + 3] for i in range(len(s) - 2)}


def _grams_mixed(s: str) -> set[str]:
    """Mixed 2+3-shingles for the RERANK jaccard: robust scoring on short
    names (a pure-3-shingle set collapses under one edit on a 6-char word)."""
    if not s:
        return set()
    if len(s) <= 2:
        return {s}
    out = {s[i : i + 2] for i in range(len(s) - 1)}
    out.update(s[i : i + 3] for i in range(len(s) - 2))
    return out


def shingle_hashes(s: str) -> np.ndarray:
    """Deterministic int64 hashes of the 3-shingles of a normalized string."""
    grams = _grams3(s)
    if not grams:
        return np.zeros(0, dtype=np.int64)
    return np.fromiter((zlib.crc32(g.encode("utf-8")) for g in grams), dtype=np.int64)


def batch_band_hashes(texts: list[str]) -> list[list[int]]:
    """Vectorized band keys for a whole Arrow batch: one flattened shingle
    array + ``np.minimum.reduceat`` per permutation, instead of per-row
    numpy calls (~50× less per-call overhead on short strings)."""
    n = len(texts)
    if n == 0:
        return []
    per_row = [shingle_hashes(s if isinstance(s, str) else "") for s in texts]
    lengths = np.fromiter((h.size for h in per_row), dtype=np.int64, count=n)
    empty = lengths == 0
    safe = [h if h.size else np.zeros(1, dtype=np.int64) for h in per_row]
    flat = np.concatenate(safe)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(np.maximum(lengths, 1)[:-1], out=offsets[1:])

    sigs = np.empty((n, K), dtype=np.int64)
    with np.errstate(over="ignore"):
        for k in range(K):
            h = (_A[k] * flat + _B[k]) % _P
            sigs[:, k] = np.minimum.reduceat(h, offsets)
    sigs[empty, :] = 0

    bands = np.empty((n, BANDS), dtype=np.int64)
    with np.errstate(over="ignore"):
        for b in range(BANDS):
            acc = np.full(n, b + 1, dtype=np.int64)
            for r in range(ROWS):
                acc = (acc * _BAND_MIX) ^ sigs[:, b * ROWS + r]
            bands[:, b] = acc
    return bands.tolist()


@F.pandas_udf(T.ArrayType(T.LongType()))
def minhash_bands_udf(texts: pd.Series) -> pd.Series:
    """normalized text -> array<long> of BANDS band keys (Arrow-batched,
    batch-vectorized)."""
    return pd.Series(batch_band_hashes(texts.tolist()))


# The function is pure, but marking it non-deterministic pins its evaluation
# to the rows it is applied to.  Every caller explodes the band array
# (kgx.stages.link, kgx.extras.dedup); Catalyst infers ``size(...) > 0``
# from an inner explode and, for a deterministic UDF, pushes that filter
# with the UDF inside it below any DISTINCT or repartition, so the UDF would
# run once per input row and again where it was placed.
minhash_bands_udf = minhash_bands_udf.asNondeterministic()


# NOTE: a pure-JVM minhash via 64 higher-order-function transforms was
# tried and rejected — the expression tree falls out of codegen and runs
# interpreted, ~6× slower end-to-end than the batch-vectorized Arrow UDF
# above.  The JVM-side fuzzy signatures are the deletion neighborhood
# (kgx.link.symdel), which needs only one transform.


def fuzzy_jaccard(a: str, b: str) -> float:
    """Exact mixed-shingle Jaccard (rerank-side ground metric)."""
    sa, sb = _grams_mixed(norm_term(a)), _grams_mixed(norm_term(b))
    if not sa and not sb:
        return 1.0
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)
