"""Benchmark workloads, generated from a seed with kgx.fixtures.gen.

The generator is driven through its module globals (``SEED`` and a
benchmark-owned ``SCALES`` entry); gen.py itself is not modified.  The
generated inputs are cached under ``<tree>/.perfbench/cache`` by sizes,
seed and ``GEN_VERSION``, so a repeated seed skips generation.  Generation is
single-process: both corpora are far below gen.py's 1M-file fork-pool
threshold.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from pathlib import Path

# name -> generator sizes and the pipeline mode the runs use.
#   n_files:      corpus files before versioning (~13% more source rows)
#   n_structures: lexicon structures (~1% more dictionary entries)
#   durable:      run_dir + out_uri (checkpointed stages, parquet triples,
#                 then a resume) instead of the fused in-memory path
# Both workloads share their inputs, so they differ by path alone.  A
# lexicon-heavy workload is left out: at sizes that fit a run, 5x the lookup
# surfaces (65k vs 13k) left the traced dictionary and link layers flat.
_SIZES = {"n_files": 8_000, "n_structures": 4_000}
WORKLOADS: dict[str, dict] = {
    "batch-corpus": {
        **_SIZES,
        "durable": False,
        "why": "fused in-memory path, no run_dir: the batch user's job on an 8k-file corpus "
        "and a 4k-structure lexicon; nothing is committed",
    },
    "durable-resume": {
        **_SIZES,
        "durable": True,
        "why": "the same inputs on the run_dir + out_uri path: every stage commits parquet and "
        "fingerprints, the triples are written by pred, then a resume",
    },
}

_KEEP_CACHED = 32  # generated workloads kept per tree, newest first (~10 MB each)


def build(root: Path, name: str, seed: int) -> Path:
    """Generate (or reuse) the inputs of workload ``name`` for ``seed``;
    returns their dir, which holds the gen.py tables plus ``inputs.json``
    with the sizes.  Workloads of equal sizes share the dir."""
    from kgx.fixtures import gen
    from kgx.io.dictionary import detection_index_from_uri

    spec = WORKLOADS[name]
    sizes = f"{spec['n_files']}x{spec['n_structures']}"
    cache = root / ".perfbench" / "cache"
    out = cache / f"{sizes}-s{seed}-g{gen.GEN_VERSION}"
    if (out / "inputs.json").is_file():
        os.utime(out)
        return out

    tmp = cache / f".{out.name}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    scale = f"perfbench-{sizes}"
    saved_seed = gen.SEED
    gen.SEED = seed
    gen.SCALES[scale] = (spec["n_files"], spec["n_structures"])
    t0 = time.monotonic()
    try:
        meta = gen.generate(scale, tmp)
    finally:
        gen.SEED = saved_seed
        del gen.SCALES[scale]
    inputs = {
        "seed": seed,
        "gen_version": gen.GEN_VERSION,
        "n_files": spec["n_files"],
        "n_structures": spec["n_structures"],
        "source_rows": meta["rows"]["source_files"],
        "lexicon_entries": meta["rows"]["compound_dict"],
        # distinct normalized lookup surfaces (the detection index keys)
        "surfaces": len(detection_index_from_uri(str(tmp / "compound_dict.parquet"))),
        "golden_triples": meta["rows"]["golden_triples"],
        "gen_s": round(time.monotonic() - t0, 3),
    }
    (tmp / "inputs.json").write_text(json.dumps(inputs, indent=2))
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    _prune(cache)
    return out


def _prune(cache: Path) -> None:
    dirs = sorted(
        (d for d in cache.iterdir() if d.is_dir() and not d.name.startswith(".")),
        key=lambda d: d.stat().st_mtime,
        reverse=True,
    )
    for d in dirs[_KEEP_CACHED:]:
        shutil.rmtree(d, ignore_errors=True)


def inputs(workload_dir: Path) -> dict:
    return json.loads((workload_dir / "inputs.json").read_text())
