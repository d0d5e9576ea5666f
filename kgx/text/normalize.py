"""Text normalization & tokenization — the shared kernel (SURVEY §2 B3).

One definition, three consumers: the fixture generator, the detection UDF,
and the dictionary loader.  If these ever diverge, offsets or lookups break,
so everything funnels through this module.

Reference parity: the reference normalizes document text before NER
(``normalize_text`` option on its ChemSpot wrapper [PK: molminer/ChemSpot.py];
SURVEY §2 B3).  Our contract is stricter: normalization NEVER shifts offsets —
mention (start, end) always indexes raw ``content`` (SURVEY §7 hard-part 4).
We achieve that by normalizing per-token (the token carries its raw span),
never by rewriting the document.

Token model: a *chem token* is a maximal run of ``[A-Za-z0-9]`` optionally
chained with single ``,``/``-``/``'`` separators — so ``2,3-dimethylbutan-1-ol``
is ONE token while ``water_density`` splits into ``water`` + ``density``
(underscore and other punctuation are boundaries).  Multi-word dictionary
terms match as runs of consecutive tokens, normalized as the lowercase
token sequence joined by single spaces.
"""

from __future__ import annotations

import re

# maximal chemical-ish token: alnum runs chained by , - '
# (possessive quantifiers: the alnum class and the separator class are
# disjoint, so no backtracking can ever change a match — possessive just
# skips the backtracking bookkeeping; measured ~20% faster split on the
# scaling corpus, byte-identical output)
TOKEN_RE = re.compile(r"[A-Za-z0-9]++(?:[,\-'][A-Za-z0-9]+)*+")

# non-token characters used when reducing a term to its token sequence
_SEP_RE = re.compile(r"[^A-Za-z0-9,\-']+")
_SQUEEZE_RE = re.compile(r"[^a-z0-9]+")

# the longest dictionary term, in tokens, we will try to match
MAX_TERM_TOKENS = 4


def norm_term(term: str) -> str:
    """Canonical lookup form of a dictionary term or a mention surface.

    Lowercase; token-internal ``,-'`` preserved; whitespace/punctuation
    between tokens collapsed to one space.  Idempotent.
    """
    parts = (p.strip(",-'") for p in _SEP_RE.split(term.lower()))
    return " ".join(p for p in parts if p)


def skeleton(term: str) -> str:
    """Separator-free form for OPSIN-style systematic resolution (SURVEY C4).

    ``2,3-dimethyl butan-1-ol`` and ``2,3-dimethylbutan-1-ol`` share one
    skeleton — the closed-world stand-in for parsing a systematic name to
    its structure.  Idempotent.
    """
    return _SQUEEZE_RE.sub("", term.lower())


def shingles(term: str, k: int = 3) -> set[str]:
    """Character k-shingles of the normalized term (minhash/fuzzy input)."""
    s = norm_term(term)
    if len(s) <= k:
        return {s} if s else set()
    return {s[i : i + k] for i in range(len(s) - k + 1)}


def jaccard(a: set[str], b: set[str]) -> float:
    if not a and not b:
        return 1.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if (a or b) else 0.0


def levenshtein(a: str, b: str, cap: int = 64) -> int:
    """Banded DP edit distance, exact up to ``cap`` (returns ≥cap beyond).

    Only the ±cap diagonal band is computed — O(cap·n) instead of O(n²),
    which matters because this runs in Python inside the Arrow-batched
    rerank (small candidate sets, but hot)."""
    if a == b:
        return 0
    la, lb = len(a), len(b)
    if not la:
        return lb
    if not lb:
        return la
    if abs(la - lb) > cap:
        return abs(la - lb)  # ≥ cap+1: a valid lower bound, callers only
        # compare against thresholds ≤ cap
    big = cap + 1
    prev = [j if j <= cap else big for j in range(lb + 1)]
    for i in range(1, la + 1):
        lo = max(1, i - cap)
        hi = min(lb, i + cap)
        cur = [big] * (lb + 1)
        cur[0] = i if i <= cap else big
        ca = a[i - 1]
        for j in range(lo, hi + 1):
            cur[j] = min(
                prev[j] + 1,
                cur[j - 1] + 1,
                prev[j - 1] + (ca != b[j - 1]),
            )
        prev = cur
        if min(prev[lo - 1 : hi + 1]) > cap:
            return big
    return min(prev[-1], big)


# --- Spark column-expression versions (JVM-side, codegen'd) ---------------


def norm_term_col(col):
    """Column-expression twin of :func:`norm_term` for JVM-side use."""
    from pyspark.sql import functions as F

    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9,\-']+", " ")
    # strip separator runs at token edges, as norm_term's strip(",-'") does
    # per token; lookarounds, because in "x- -y" both runs border the one
    # space and a pattern that consumed it could strip only one of them
    c = F.regexp_replace(c, r"(?<![a-z0-9,\-'])[,\-']+|[,\-']+(?![a-z0-9,\-'])", "")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def skeleton_col(col):
    """Column-expression twin of :func:`skeleton`."""
    from pyspark.sql import functions as F

    return F.regexp_replace(F.lower(col), r"[^a-z0-9]+", "")
