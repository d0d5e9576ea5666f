"""One benchmark child: a fresh Python process that builds a Spark session
and runs the kgx pipeline once.

    python3 child.py <spec.json>

The runner (run.py) starts it in its own session with ``PYTHONPATH`` set to
the tree under test.  Timestamps are ``time.monotonic()`` values, which the
runner shares, so the runner measures from the instant it spawned the child.
The result JSON is written to ``spec["result"]``.

Untraced mode (``"trace": false``): ``get_spark`` and ``run_pipeline`` with
``PipelineConfig`` defaults, forced until the triples exist (fused path:
a ``noop`` sink; durable path: ``run_pipeline`` writes them).  Everything
after ``t_job`` is outside the timed window: the triples check, then the
resume.  Traced mode runs traced.py instead.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
from pathlib import Path

import proctree

STAGES = ("mentions", "links", "components", "triples")


def triples_digest(pdf) -> str:
    """Order-independent sha256 over the (subj, pred, obj) rows."""
    h = hashlib.sha256()
    for row in sorted("\x1f".join(t) for t in zip(pdf["subj"], pdf["pred"], pdf["obj"])):
        h.update(row.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def check_triples(spark, triples, golden_uri: str) -> dict:
    """Count, digest and precision/recall of a triples DataFrame against the
    workload's golden triples."""
    from kgx.quality.pr import precision_recall

    pdf = triples.select("subj", "pred", "obj").toPandas()
    pr = precision_recall(spark.createDataFrame(pdf), spark.read.parquet(golden_uri))
    return {
        "triples": len(pdf),
        "digest": triples_digest(pdf),
        "precision": pr["precision"],
        "recall": pr["recall"],
    }


def pipeline_config(spec: dict, tag: str):
    """PipelineConfig defaults plus the workload's inputs, and for a durable
    workload a run_dir and out_uri under the child's own work dir."""
    from kgx.pipeline import PipelineConfig

    d = spec["inputs"]
    work = Path(spec["work"]) / tag
    return PipelineConfig(
        source_uri=f"{d}/source_files.parquet",
        dict_uri=f"{d}/compound_dict.parquet",
        out_uri=str(work / "triples") if spec["durable"] else None,
        run_dir=str(work / "run") if spec["durable"] else None,
    )


def new_session(spec: dict, extra_conf: dict | None = None):
    from kgx.session import get_spark

    return get_spark(master=f"local[{spec['nproc']}]", extra_conf=extra_conf)


def resume_durable(spark, cfg, res: dict) -> None:
    """Delete the committed components and triples stages, re-run
    run_pipeline over the same run_dir, and check that the resumed triples
    and every stage fingerprint match the first pass."""
    from kgx.io.checkpoint import stage_fingerprint
    from kgx.pipeline import run_pipeline

    before = {s: list(stage_fingerprint(spark, cfg, s)) for s in STAGES}
    for s in ("components", "triples"):
        shutil.rmtree(Path(cfg.run_dir) / cfg.run_id / s)
    t0 = time.monotonic()
    run_pipeline(spark, cfg)
    res["resume_s"] = time.monotonic() - t0
    after = {s: list(stage_fingerprint(spark, cfg, s)) for s in STAGES}
    resumed = triples_digest(spark.read.parquet(cfg.out_uri).select("subj", "pred", "obj").toPandas())
    res["resume_ok"] = after == before and resumed == res["digest"]
    res["fingerprints"] = before


def resume_fused(spark, cfg, links, res: dict) -> None:
    """The fused path commits nothing, so there is nothing to resume.  Its
    resume_s is a warm re-run of the two stages the durable resume
    recomputes -- canonicalization and materialize -- from the stage-2
    links kept in memory."""
    from kgx.canon.cc import connected_components
    from kgx.canon.elect import compound_rep_map
    from kgx.io.dictionary import load_dict
    from kgx.pipeline import build_edges
    from kgx.stages.materialize import materialize_triples

    dict_df = load_dict(spark, cfg.dict_uri)
    t0 = time.monotonic()
    components = connected_components(build_edges(dict_df), hot_threshold=cfg.cc_hot_threshold)
    rep_map = compound_rep_map(components.select("node_id", "component_id"), dict_df)
    materialize_triples(links, rep_map, dict_df).write.format("noop").mode("overwrite").save()
    res["resume_s"] = time.monotonic() - t0
    res["resume_ok"] = True


def run_job(spec: dict) -> dict:
    from kgx.pipeline import run_pipeline

    spark = new_session(spec)
    res = {"t_setup": time.monotonic()}
    cfg = pipeline_config(spec, "job")
    out = run_pipeline(spark, cfg)
    if cfg.out_uri is None:
        out["triples"].write.format("noop").mode("overwrite").save()
    res["t_job"] = time.monotonic()
    res["cpu_s"] = proctree.session_usage(os.getsid(0))[0]

    triples = spark.read.parquet(cfg.out_uri) if cfg.out_uri else out["triples"]
    res.update(check_triples(spark, triples, f"{spec['inputs']}/golden_triples.parquet"))
    if cfg.run_dir is not None:
        resume_durable(spark, cfg, res)
    else:
        resume_fused(spark, cfg, out["links"], res)
    spark.stop()
    return res


def main() -> int:
    spec = json.loads(Path(sys.argv[1]).read_text())
    import kgx

    if spec["trace"]:
        import traced

        res = traced.run_traced(spec)
    else:
        res = run_job(spec)
    res["kgx_file"] = kgx.__file__
    Path(spec["result"]).write_text(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
