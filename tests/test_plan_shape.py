"""Physical-plan assertions (SURVEY §4): the optimizations we rely on must
actually appear in the plan — pushdown reaching the scan, broadcast joins on
the lexicon side, whole-stage codegen on the hot path, no fat-column
shuffles after stage 1."""

import re

from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from kgx.io.dictionary import detection_index
from kgx.io.source import scan_source_files, with_file_identity
from kgx.stages.detect import detect_mentions
from kgx.stages.link import link_entities


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_and_projection_pushdown(spark, tiny_dir):
    df = spark.read.parquet(f"{tiny_dir}/source_files.parquet")
    q = df.filter(F.col("lang") == "python").select("repo", "path")
    plan = _plan(q)
    assert "PushedFilters" in plan and "lang" in plan.split("PushedFilters")[1][:200]
    # column pruning: content must NOT be read for this projection
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "content" not in read_schema
    assert "repo" in read_schema and "path" in read_schema


def test_link_uses_broadcast_joins(spark, tiny):
    idx = detection_index(tiny["compound_dict"].toPandas())
    bc = spark.sparkContext.broadcast(idx)
    mentions = detect_mentions(with_file_identity(tiny["source_files"]), bc).localCheckpoint()
    links = link_entities(mentions, tiny["compound_dict"])
    plan = _plan(links)
    assert "BroadcastHashJoin" in plan
    # the lexicon side must never arrive via SortMergeJoin
    assert plan.count("BroadcastHashJoin") >= 3


def _tree(plan: str) -> list[tuple[str, int | None]]:
    """Plan string -> [(node line, parent index)], parents read off the
    indentation of the ``+-`` / ``:-`` tree drawing."""
    nodes: list[tuple[str, int | None]] = []
    stack: list[tuple[int, int]] = []  # (column, node index)
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        if not body:
            continue
        col = len(line) - len(body)
        while stack and stack[-1][0] >= col:
            stack.pop()
        nodes.append((body, stack[-1][1] if stack else None))
        stack.append((col, len(nodes) - 1))
    return nodes


def _ancestors(nodes, i: int) -> set[int]:
    out = set()
    while (i := nodes[i][1]) is not None:
        out.add(i)
    return out


def test_minhash_udf_runs_once_per_distinct_surface(spark, tiny, monkeypatch):
    """The fuzzy channel signs DISTINCT surfaces, never mention rows.  The
    explode in link_entities' with_sigs makes Catalyst infer a
    ``size(__sigs) > 0`` filter; unless minhash_bands_udf is
    non-deterministic, pushdown drags the UDF below the surfaces' DISTINCT
    onto every mention row (and below the term side's repartition), so the
    executed plan carries four minhash ArrowEvalPython nodes instead of
    two.  The fuzzy map is localCheckpointed inside link_entities, so its
    plan is captured at that call."""
    plans: list[str] = []
    checkpoint = ClassicDataFrame.localCheckpoint

    def recording_checkpoint(self, *args, **kwargs):
        plans.append(_plan(self))
        return checkpoint(self, *args, **kwargs)

    idx = detection_index(tiny["compound_dict"].toPandas())
    bc = spark.sparkContext.broadcast(idx)
    mentions = detect_mentions(with_file_identity(tiny["source_files"]), bc).localCheckpoint()
    monkeypatch.setattr(ClassicDataFrame, "localCheckpoint", recording_checkpoint)
    link_entities(mentions, tiny["compound_dict"], enable_fuzzy=True)
    monkeypatch.undo()

    fuzzy_plans = [p for p in plans if "minhash_bands_udf" in p]
    assert len(fuzzy_plans) == 1, plans
    nodes = _tree(fuzzy_plans[0])
    minhash = [
        i for i, (line, _) in enumerate(nodes)
        if line.startswith("ArrowEvalPython") and "minhash_bands_udf" in line
    ]
    surfaces_agg = {
        i for i, (line, _) in enumerate(nodes)
        if re.match(r"HashAggregate\(keys=\[norm_text#\d+\], functions=\[\]", line)
    }
    assert len(minhash) == 2, fuzzy_plans[0]
    assert surfaces_agg, fuzzy_plans[0]
    for i in minhash:
        assert not surfaces_agg & _ancestors(nodes, i), (nodes[i][0], fuzzy_plans[0])
    over_surfaces = [
        i for i in minhash
        if "minhash_bands_udf(norm_text" in nodes[i][0]
        and any(nodes[j][1] == i for j in surfaces_agg)
    ]
    over_terms = [i for i in minhash if "minhash_bands_udf(term_norm" in nodes[i][0]]
    assert len(over_surfaces) == 1 and len(over_terms) == 1, fuzzy_plans[0]


def test_scan_keyed_plan_has_codegen(spark, tiny_dir):
    files = scan_source_files(spark, f"{tiny_dir}/source_files.parquet")
    plan = _plan(files)
    # codegen'd spans print as "*(n)" in the executed plan string
    assert "*(1)" in plan or "WholeStageCodegen" in plan  # sha2/concat_ws in codegen


def test_triples_partitioned_by_pred_on_disk(spark, tiny, tmp_path):
    from kgx.stages.materialize import write_triples

    write_triples(tiny["golden_triples"], str(tmp_path / "t"))
    parts = {p.name for p in (tmp_path / "t").iterdir() if p.is_dir()}
    assert {"pred=mentions", "pred=hasSMILES", "pred=foundInRepo"} <= parts
    # partition pruning: reading one predicate touches one directory
    one = spark.read.parquet(str(tmp_path / "t")).filter(F.col("pred") == "mentions")
    assert "PartitionFilters" in _plan(one)