"""Deletion-neighborhood candidate generation (SymSpell-style) — the
high-precision fuzzy channel complementing minhash banding.

For a string s, the *del-1 signature set* is {hash(s)} ∪ {hash(s with one
character deleted)}.  Two strings within edit distance 1 (insert / delete /
substitute / duplicate) ALWAYS share a signature, as do adjacent
transpositions — deterministically, no probability curve.  Signature count
is len(s)+1, so the explode is linear and the equi-join on the signature
hash produces candidates only for genuinely near-identical strings (unlike
LSH bands over a morphologically uniform lexicon, which collide heavily).

Everything here is JVM column algebra (higher-order functions + xxhash64):
whole-stage codegen, zero Python.  The pandas rerank stays the scorer.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def del1_signatures(col: Column) -> Column:
    """array<long> of xxhash64 over the del-1 neighborhood of ``col``.

    Index 0 is the string itself; index i (1-based) deletes character i.
    """
    s = col
    return F.transform(
        F.sequence(F.lit(0), F.length(s)),
        lambda i: F.xxhash64(
            F.when(i == 0, s).otherwise(
                F.concat(s.substr(F.lit(1), i - 1), s.substr(i + 1, F.length(s)))
            )
        ),
    )


def del1_variants(s: str) -> list[str]:
    """Python twin of :func:`del1_signatures` (tests / documentation)."""
    return [s] + [s[:i] + s[i + 1 :] for i in range(len(s))]
