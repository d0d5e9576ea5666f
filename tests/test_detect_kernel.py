"""Stage-1 kernel tests — pure python, no Spark (fast tier, SURVEY §5.2.2)."""

import pandas as pd
import pytest

from kgx.fixtures.gen import ensure
from kgx.io.dictionary import detection_index
from kgx.stages.detect import detect_in_text

IDX = {
    "water": "TRIVIAL",
    "ethanol": "TRIVIAL",
    "dimethyl sulfoxide": "SYSTEMATIC",
    "2,3-dimethylbutan-1-ol": "SYSTEMATIC",
    "c2h6o": "FORMULA",
}


def spans(text, idx=IDX):
    return [(m["start"], m["end"], m["mtype"], m["norm_text"]) for m in detect_in_text(text, idx)]


def test_exact_token_match_with_offsets():
    text = "# add water to the mix"
    assert spans(text) == [(6, 11, "TRIVIAL", "water")]
    assert text[6:11] == "water"


def test_identifier_embedded_match():
    out = spans("water_level = 3")
    assert out == [(0, 5, "TRIVIAL", "water")]


def test_uppercase_constant_match():
    out = spans("ETHANOL_K = 9")
    assert out == [(0, 7, "TRIVIAL", "ethanol")]


def test_multiword_greedy_leftmost_longest():
    out = spans("use dimethyl sulfoxide here")
    assert out == [(4, 22, "SYSTEMATIC", "dimethyl sulfoxide")]


def test_multiword_requires_whitespace_gap():
    # a newline-separated pair is not one mention
    assert spans("dimethyl\nsulfoxide") == []


def test_formula_channel():
    out = spans('s = "C2H6O"')
    assert out == [(5, 10, "FORMULA", "c2h6o")]
    # uppercase constants without digits never pass the formula gate
    assert spans("MAX = 3") == []


def test_fuzzy_systematic_channel():
    out = spans("the ethnaol sample")  # corrupted, not in index
    assert out == [(4, 11, "SYSTEMATIC", "ethnaol")]
    # ordinary identifiers with common endings do not fire
    assert spans("pipeline = update(total)") == []


def test_oic_acid_continuation():
    out = spans("the pentaoic acid sample")
    assert out == [(4, 17, "SYSTEMATIC", "pentaoic acid")]


def test_abbreviation_doc_local_binding():
    text = "# reagent dimethyl sulfoxide (DMSO) is measured\n# add DMSO now\n"
    out = detect_in_text(text, IDX)
    abbrs = [m for m in out if m["mtype"] == "ABBREVIATION"]
    assert len(abbrs) == 2
    assert all(m["defined_as"] == "dimethyl sulfoxide" for m in abbrs)
    assert all(text[m["start"] : m["end"]] == "DMSO" for m in abbrs)


def test_abbreviation_not_bound_in_other_doc():
    # no definition in this doc -> no ABBREVIATION mention emitted
    assert spans("# add DMSO now") == []


def test_kernel_matches_golden_exactly_on_tiny():
    d = ensure("tiny")
    dict_pdf = pd.read_parquet(f"{d}/compound_dict.parquet")
    sf = pd.read_parquet(f"{d}/source_files.parquet")
    gm = pd.read_parquet(f"{d}/golden_mentions.parquet")
    idx = detection_index(dict_pdf)
    latest = sf.sort_values(["repo", "path", "commit"]).groupby(["repo", "path"]).tail(1)
    det = set()
    for r in latest.itertuples(index=False):
        for m in detect_in_text(r.content, idx):
            det.add((r.repo, r.path, r.commit, m["start"], m["end"]))
    gold = set(zip(gm.repo, gm.path, gm.commit, gm.start, gm.end))
    assert det == gold
