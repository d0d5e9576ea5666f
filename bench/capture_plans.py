"""Capture .explain("formatted") plans for the round-7 evidence files
(plans/r07/<name>_{before,after}.txt).

"before" runs against a scratch checkout of the pre-round tree (pass its
path as the first argument; sys.path is pointed there), "after" against
the checkout this script sits in (the default).  Plans and fixtures always
go to this script's checkout, so both sides read the same fixture.
Run each side in its own process:

    git archive <base-commit> | tar -x -C /tmp/kgx_before
    python bench/capture_plans.py /tmp/kgx_before before
    python bench/capture_plans.py . after

Pipeline-backed plans are built on the deterministic 'tiny' fixture
(explain of link_entities' outputs executes its eager localCheckpoints —
seconds at that scale).  Relational query plans come from
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.001 here: plan shape, not
timing, is the evidence).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TREE = sys.argv[1] if len(sys.argv) > 1 else REPO_ROOT
SUFFIX = sys.argv[2] if len(sys.argv) > 2 else "after"
OUT_DIR = os.path.join(REPO_ROOT, "plans", "r07")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

sys.path.insert(0, TREE)

RELATIONAL = [
    "agg_pricing_summary", "join_four_way", "window_topk_per_group",
    "range_self_join", "distinct_agg", "array_hof_norm", "dedup_exact",
    "global_sort_limit",
]


def _explain_str(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    from kgx.session import get_spark

    spark = get_spark("kgx-plans-r07", master="local[8]",
                      extra_conf={"spark.driver.memory": "16g"})

    def dump(name: str, df) -> None:
        path = os.path.join(OUT_DIR, f"{name}_{SUFFIX}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} ({SUFFIX}; tree={TREE})\n")
            f.write(_explain_str(df))
        print("wrote", path, flush=True)

    # --- relational timed queries (sf-dir tables) --------------------------
    entry_path = os.path.join(TREE, "__spark_entry__.py")
    import importlib.util

    spec = importlib.util.spec_from_file_location("entry_r07", entry_path)
    entrymod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entrymod)
    qs = entrymod.queries()
    for name in RELATIONAL:
        dump(name, qs[name](spark, SF_DIR))

    # --- rerank subplan (vocabulary-sized pairs schema) --------------------
    from kgx.link.rerank import rerank

    pairs = spark.createDataFrame(
        [("ethanoll", "ethanol", 7)],
        "norm_text string, term_norm string, compound_id long",
    )
    dump("rerank_scored", rerank(pairs))

    # --- pipeline-backed plans on the tiny fixture -------------------------
    from kgx.fixtures.gen import ensure
    from kgx.pipeline import PipelineConfig, run_pipeline

    fixture_dir = str(ensure("tiny", os.path.join(REPO_ROOT, "tests", "fixtures")))
    cfg = PipelineConfig(
        source_uri=f"{fixture_dir}/source_files.parquet",
        dict_uri=f"{fixture_dir}/compound_dict.parquet",
        num_partitions=8,
    )
    out = run_pipeline(spark, cfg)
    dump("pipeline_links", out["links"])
    dump("pipeline_triples", out["triples"])

    # the fused stage-1+2 job's pre-checkpoint plan: rebuild the same
    # lineage the pipeline fuses (scan -> latest-version window -> detect ->
    # broadcast term join) WITHOUT the checkpoint so the full operator tree
    # is visible in one explain
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from kgx.io.dictionary import detection_index_from_uri, term_table
    from kgx.io.source import repartition_corpus, scan_source_files
    from kgx.stages.detect import detect_mentions
    from kgx.stages.link import _unique_terms

    index_bc = spark.sparkContext.broadcast(
        detection_index_from_uri(cfg.dict_uri)
    )
    files = repartition_corpus(
        scan_source_files(spark, cfg.source_uri), cfg.num_partitions
    )
    w_latest = Window.partitionBy("file_key").orderBy(F.col("commit").desc())
    files = (
        files.withColumn("__rn", F.row_number().over(w_latest))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    mentions = detect_mentions(files, index_bc)
    dict_df = spark.read.parquet(cfg.dict_uri)
    terms = _unique_terms(term_table(dict_df))
    joined = mentions.join(
        F.broadcast(terms.select("term_norm", "compound_id", "kind")),
        mentions.norm_text == F.col("term_norm"),
        "left",
    )
    dump("detect_fused_join", joined)

    spark.stop()


if __name__ == "__main__":
    main()
