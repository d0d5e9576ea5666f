"""Checkpoint / lineage / exact-resume protocol (SURVEY §5.2.5;
BASELINE.json:L6 resume mandate)."""

import shutil
from pathlib import Path

from pyspark.sql import functions as F

from kgx.io.checkpoint import lineage_df, stage_fingerprint
from kgx.pipeline import PipelineConfig, run_pipeline

STAGES = ["mentions", "links", "components", "triples"]


def _cfg(tiny_dir, tmp, run_id="r1"):
    return PipelineConfig(
        source_uri=f"{tiny_dir}/source_files.parquet",
        dict_uri=f"{tiny_dir}/compound_dict.parquet",
        run_dir=str(tmp / "ckpt"),
        run_id=run_id,
        num_partitions=4,
    )


def test_kill_and_resume_reproduces_fingerprints(spark, tiny_dir, tmp_path):
    cfg = _cfg(tiny_dir, tmp_path)
    run_pipeline(spark, cfg)
    before = {s: stage_fingerprint(spark, cfg, s) for s in STAGES}
    assert all(n > 0 for (_, n) in before.values())

    # simulate a crash after stage 2: stages 3-4 uncommitted
    for stage in ("components", "triples"):
        shutil.rmtree(Path(cfg.run_dir) / cfg.run_id / stage)

    run_pipeline(spark, cfg)
    after = {s: stage_fingerprint(spark, cfg, s) for s in STAGES}
    assert after == before

    # lineage carries per-partition rows and latency metrics
    lin = lineage_df(spark, cfg)
    assert {r["stage"] for r in lin.select("stage").distinct().collect()} == set(STAGES)
    assert lin.filter(F.col("wall_ms") < 0).count() == 0


def test_fresh_run_id_reproduces_fingerprints(spark, tiny_dir, tmp_path):
    cfg1 = _cfg(tiny_dir, tmp_path, "a")
    cfg2 = _cfg(tiny_dir, tmp_path, "b")
    run_pipeline(spark, cfg1)
    run_pipeline(spark, cfg2)
    for s in STAGES:
        assert stage_fingerprint(spark, cfg1, s) == stage_fingerprint(spark, cfg2, s)

