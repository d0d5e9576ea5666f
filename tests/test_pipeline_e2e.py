"""End-to-end pipeline on tiny fixtures: P/R gate, invariants, determinism
(SURVEY §5.2 items 1, 5, 6)."""

import pytest
from pyspark.sql import functions as F

from kgx.io.source import latest_versions, scan_source_files
from kgx.pipeline import PipelineConfig, run_pipeline
from kgx.quality.invariants import check_content_sha
from kgx.quality.pr import per_predicate, precision_recall


@pytest.fixture(scope="module")
def outputs(spark, tiny_dir):
    cfg = PipelineConfig(
        source_uri=f"{tiny_dir}/source_files.parquet",
        dict_uri=f"{tiny_dir}/compound_dict.parquet",
        num_partitions=8,
        materialize_mentions=True,
    )
    return run_pipeline(spark, cfg)


def test_pr_gate(outputs, tiny):
    pr = precision_recall(outputs["triples"], tiny["golden_triples"])
    assert pr["precision"] >= 0.95, pr
    assert pr["recall"] >= 0.95, pr
    # the spec floor holds PER PREDICATE too — an aggregate 0.95 must not
    # hide one collapsed predicate behind four perfect ones
    rows = {r["pred"]: r for r in per_predicate(outputs["triples"], tiny["golden_triples"]).collect()}
    for pred, r in rows.items():
        prec = r["tp"] / (r["tp"] + r["fp"]) if (r["tp"] + r["fp"]) else 0.0
        rec = r["tp"] / (r["tp"] + r["fn"]) if (r["tp"] + r["fn"]) else 0.0
        assert prec >= 0.95, (pred, r)
        assert rec >= 0.95, (pred, r)


def test_per_predicate_complete(outputs, tiny):
    rows = {r["pred"]: r for r in per_predicate(outputs["triples"], tiny["golden_triples"]).collect()}
    assert set(rows) == {"mentions", "hasSMILES", "hasInChI", "synonymOf", "foundInRepo"}
    for pred, r in rows.items():
        assert r["fn"] == 0, (pred, r)


def test_mentions_match_golden_spans(outputs, tiny):
    got = outputs["mentions"].select("repo", "path", "commit", "start", "end")
    want = tiny["golden_mentions"].select("repo", "path", "commit", "start", "end")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_sha_invariant(spark, tiny_dir, tiny):
    files = scan_source_files(spark, f"{tiny_dir}/source_files.parquet")
    report = check_content_sha(files, tiny["manifest"])
    assert report["ok"], report


def test_latest_versions_pick_max_commit(spark, tiny_dir):
    files = scan_source_files(spark, f"{tiny_dir}/source_files.parquet")
    latest = latest_versions(files)
    assert latest.groupBy("repo", "path").count().filter(F.col("count") > 1).count() == 0
    # every kept commit is the max for its (repo, path)
    mx = files.groupBy("repo", "path").agg(F.max("commit").alias("commit"))
    assert latest.select("repo", "path", "commit").exceptAll(mx).count() == 0


def test_rerun_is_deterministic(spark, tiny_dir, outputs):
    cfg = PipelineConfig(
        source_uri=f"{tiny_dir}/source_files.parquet",
        dict_uri=f"{tiny_dir}/compound_dict.parquet",
        num_partitions=4,  # different parallelism must not change results
        # exercise the config-wired fuzzy broadcast guard (round-4 advice):
        # 0 forces the shuffle-join fallback through PipelineConfig — the
        # physical join strategy must not change any triple
        fuzzy_broadcast_max_rows=0,
    )
    again = run_pipeline(spark, cfg)
    a = sorted(map(tuple, outputs["triples"].collect()))
    b = sorted(map(tuple, again["triples"].collect()))
    assert a == b


def test_default_partitions_follow_session(spark, tiny_dir, outputs):
    """PipelineConfig's default corpus fan-out is the session's
    spark.sql.shuffle.partitions, and it must give the same triples as an
    explicit num_partitions=32.  The links checkpoint inherits the corpus
    repartition's width (every lookup after it is a broadcast join), so its
    partition count shows the fan-out a run used."""
    session_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert session_n != 32
    want = sorted(map(tuple, outputs["triples"].collect()))
    for n in (None, 32):
        cfg = PipelineConfig(
            source_uri=f"{tiny_dir}/source_files.parquet",
            dict_uri=f"{tiny_dir}/compound_dict.parquet",
            num_partitions=n,
        )
        out = run_pipeline(spark, cfg)
        assert out["links"].rdd.getNumPartitions() == (session_n if n is None else n)
        assert sorted(map(tuple, out["triples"].collect())) == want, n


def test_links_are_top1_per_mention(outputs):
    dup = outputs["links"].groupBy("mention_id").count().filter(F.col("count") > 1)
    assert dup.count() == 0


def test_mentions_handle_is_recompute_free(outputs):
    """Round-6 rework: with materialize_mentions=True in no-run_dir mode
    the returned `mentions` handle is rebound to stage 2's fused
    localCheckpoint — consuming it must NOT re-run detection.  The physical
    plan proves it: a recompute-free view scans the checkpointed RDD and
    contains no detect kernel (the only MapInPandas in stage 1), no parquet
    scan, and no window."""
    from kgx.schemas import MENTIONS

    mentions = outputs["mentions"]
    assert [f.name for f in mentions.schema.fields] == [f.name for f in MENTIONS.fields]
    plan = mentions._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    assert "FileScan" not in plan and "BatchScan" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_mentions_handle_omitted_unless_requested(spark, tiny_dir):
    """Default no-run_dir mode must OMIT "mentions" from the result dict —
    a consumer that didn't opt in fails loudly (KeyError) instead of
    silently paying detection a second time through a lazy handle, and the
    fused checkpoint stays slim (no extra mention columns)."""
    cfg = PipelineConfig(
        source_uri=f"{tiny_dir}/source_files.parquet",
        dict_uri=f"{tiny_dir}/compound_dict.parquet",
        num_partitions=4,
    )
    out = run_pipeline(spark, cfg)
    assert "mentions" not in out
    assert {"links", "components", "rep_map", "triples"} <= set(out)


def test_file_key_separator_guard(spark):
    """file_key is row identity (the latest-version window dedups on it):
    a repo/path containing the \\x1f 'unit separator' would alias two
    distinct files to one key — such rows must fail loudly at scan time,
    not silently drop a file (round-5 advice)."""
    from kgx.io.source import with_file_identity

    ok = spark.createDataFrame(
        [("r1", "a.py", "c1", "text")], "repo string, path string, commit string, content string"
    )
    assert with_file_identity(ok).select("file_key").distinct().count() == 1

    bad = spark.createDataFrame(
        [("r1\x1fx", "a.py", "c1", "text")],
        "repo string, path string, commit string, content string",
    )
    with pytest.raises(Exception, match="file identity violated"):
        with_file_identity(bad).collect()


def test_corpus_stage_failure_cancels_background_cc(spark, tiny_dir, monkeypatch):
    """If a corpus stage raises, the daemon CC thread must not keep running
    Spark jobs unobserved: run_pipeline cancels its job group and joins the
    thread before re-raising (round-3 advice item)."""
    import threading

    import kgx.pipeline as pl

    def boom(*a, **k):
        raise RuntimeError("link stage failed")

    monkeypatch.setattr(pl, "link_entities", boom)
    cfg = pl.PipelineConfig(
        source_uri=f"{tiny_dir}/source_files.parquet",
        dict_uri=f"{tiny_dir}/compound_dict.parquet",
        num_partitions=4,
    )
    with pytest.raises(RuntimeError, match="link stage failed"):
        pl.run_pipeline(spark, cfg)
    assert not any(t.name == "kgx-cc" and t.is_alive() for t in threading.enumerate())
