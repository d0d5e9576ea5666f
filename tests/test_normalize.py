"""Unit + property tests for the shared text kernel (SURVEY §5.2 items 2, 4)."""

import random
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from kgx.text.normalize import (
    TOKEN_RE,
    jaccard,
    levenshtein,
    norm_term,
    norm_term_col,
    shingles,
    skeleton,
    skeleton_col,
)

texts = st.text(alphabet=string.printable, max_size=200)


@given(texts)
@settings(max_examples=200)
def test_norm_term_idempotent(s):
    assert norm_term(norm_term(s)) == norm_term(s)


@given(texts)
@settings(max_examples=200)
def test_skeleton_idempotent(s):
    assert skeleton(skeleton(s)) == skeleton(s)


def test_norm_term_examples():
    assert norm_term("2,3-Dimethylbutan-1-ol") == "2,3-dimethylbutan-1-ol"
    assert norm_term("dimethyl   sulfoxide") == "dimethyl sulfoxide"
    assert norm_term("Water!") == "water"
    assert norm_term("foo_bar") == "foo bar"


def test_skeleton_merges_separator_variants():
    assert skeleton("2,3-dimethyl butan-1-ol") == skeleton("2,3-dimethylbutan-1-ol")
    assert skeleton("A-B C") == "abc"


def test_tokenize_spans_index_raw_text():
    text = "x = water_level + 2,3-dimethylbutan-1-ol"
    toks = [(m.start(), m.end(), m.group(0)) for m in TOKEN_RE.finditer(text)]
    for s, e, t in toks:
        assert text[s:e] == t
    assert [t for _, _, t in toks] == ["x", "water", "level", "2,3-dimethylbutan-1-ol"]


@given(texts, texts)
@settings(max_examples=100)
def test_levenshtein_symmetric_triangleish(a, b):
    a, b = a[:30], b[:30]
    d = levenshtein(a, b)
    assert d == levenshtein(b, a)
    assert (d == 0) == (a == b)
    assert d <= max(len(a), len(b))


def test_jaccard_bounds():
    assert jaccard(set(), set()) == 1.0
    assert jaccard({"ab"}, set()) == 0.0
    assert jaccard(shingles("ethanol"), shingles("ethanol")) == 1.0


@given(texts)
@settings(max_examples=200)
def test_token_norm_is_plain_lowercase(text):
    """The detect kernel's fast path (kgx.stages.detect) relies on
    norm_term(tok) == tok.lower() for every token TOKEN_RE can produce:
    tokens never start/end with ,-' nor contain separator runs."""
    for tok in TOKEN_RE.findall(text):
        assert norm_term(tok) == tok.lower()


def test_column_twins_match_python(spark):
    """The lexicon side keys surfaces with the JVM twins and detection with
    the Python kernel; any disagreement silently drops an exact link."""
    from pyspark.sql import functions as F

    rng = random.Random(7)
    alphabet = "abXY09 ,-'_\t.("
    strings = ["x- -y", "a' -'b"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 16))) for _ in range(2000)
    ]
    rows = (
        spark.createDataFrame([(i, t) for i, t in enumerate(strings)], "i int, t string")
        .select("i", norm_term_col(F.col("t")).alias("n"), skeleton_col(F.col("t")).alias("k"))
        .collect()
    )
    got = {r["i"]: (r["n"], r["k"]) for r in rows}
    bad = [
        (t, got[i]) for i, t in enumerate(strings) if got[i] != (norm_term(t), skeleton(t))
    ]
    assert not bad, bad[:10]
