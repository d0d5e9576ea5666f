"""kgx — a from-scratch, PySpark-native knowledge-graph construction engine.

Reproduces the extraction semantics of gorgitko/molminer (ChemSpot-style
chemical NER, OPSIN-style systematic-name resolution, abbreviation/trivial
name linking) as four declarative DataFrame stages over a corpus table
``(repo, path, commit, lang, content)``:

1. ``kgx.stages.detect``       — vectorized mention detection (Arrow-batched
   iterator pandas UDF; no per-row Python).
2. ``kgx.stages.link``         — entity linking: broadcast-dictionary exact /
   synonym / systematic / abbreviation joins + minhash-banded candidate
   generation with exact-score rerank in pandas UDF batches.
3. ``kgx.canon.cc``            — canonicalization via connected components
   over the mention↔compound bipartite graph (iterative salted self-joins).
4. ``kgx.stages.materialize``  — partitioned (subj, pred, obj) triple tables:
   mentions / hasSMILES / hasInChI / synonymOf / foundInRepo.

Spec of record: ``BASELINE.json`` at the repository root (north_star L6,
north_rule L14, input_hint L15).  No reference checkout is available, so
reference parity is cited against BASELINE.json and public knowledge of the
molminer package only (see SURVEY.md §0).
"""

__version__ = "0.1.0"
