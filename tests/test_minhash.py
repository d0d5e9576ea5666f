"""MinHash/LSH properties (SURVEY §5.2.4) — deterministic, no Spark."""

import string

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from kgx.link.minhash import BANDS, K, ROWS, batch_band_hashes, fuzzy_jaccard

words = st.text(alphabet=string.ascii_lowercase + "0123456789,-", min_size=0, max_size=40)


def bands(s: str) -> list[int]:
    return batch_band_hashes([s])[0]


@given(st.lists(words, max_size=8))
@settings(max_examples=100)
def test_signature_shape_and_determinism(batch):
    """Band keys depend on the string alone: the same in two calls, and
    the same whether a string is hashed alone or inside any batch."""
    got = batch_band_hashes(batch)
    assert got == batch_band_hashes(batch)
    assert got == [bands(s) for s in batch]
    assert all(len(b) == BANDS for b in got)
    assert BANDS * ROWS == K


@given(words, words)
@settings(max_examples=100)
def test_identical_strings_share_all_bands(a, b):
    ba, bb = batch_band_hashes([a, b])
    if a == b:
        assert ba == bb


def test_edit_distance_one_caught_by_band_or_del1():
    """Fuzzy-candidate recall contract: every edit-distance-1 misspelling
    shares a minhash band (r=4, long names) OR a deletion-neighborhood
    signature (short names — deterministic)."""
    from kgx.link.symdel import del1_variants

    pairs = [
        ("ethanol", "ethnol"),
        ("ethanol", "ethannol"),
        ("pentanoic acid", "pentaoic acid"),
        ("2,3-dimethylbutan-1-ol", "2,3-dimethylbutan-1ol"),
        ("caffeine", "cafeine"),
        ("trimethylhexanamine", "trimethylhexanamin"),
    ]
    for a, b in pairs:
        ba, bb = batch_band_hashes([a, b])
        band_hit = any(x == y for x, y in zip(ba, bb))
        del_hit = bool(set(del1_variants(a)) & set(del1_variants(b)))
        assert band_hit or del_hit, (a, b)


def test_del1_variants_cover_ed1_edits():
    from kgx.link.symdel import del1_variants

    base = "ethanol"
    for other in ("ethanl", "ethanool", "ethxnol", "etahnol"):
        # deletion / duplication / substitution / adjacent transposition
        assert set(del1_variants(base)) & set(del1_variants(other)), other


def test_unrelated_strings_share_no_band():
    ba, bb = batch_band_hashes(["ethanol", "buffer overflow status"])
    assert sum(1 for x, y in zip(ba, bb) if x == y) == 0


@given(words, words)
@settings(max_examples=100)
def test_fuzzy_jaccard_bounds_and_symmetry(a, b):
    j = fuzzy_jaccard(a, b)
    assert 0.0 <= j <= 1.0
    assert j == fuzzy_jaccard(b, a)
    assert fuzzy_jaccard(a, a) == 1.0


def test_band_match_rate_tracks_jaccard():
    """Sanity: estimated band-collision probability grows with jaccard."""
    rng = np.random.RandomState(7)
    base = "trimethylhexanamine"
    near = base[:-1]  # 1 deletion
    far = "".join(rng.choice(list(string.ascii_lowercase), 19))
    jn, jf = fuzzy_jaccard(base, near), fuzzy_jaccard(base, far)
    assert jn > jf
