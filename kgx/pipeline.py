"""End-to-end pipeline composition (SURVEY §2 K1–K5).

``run_pipeline`` wires the four stages [BASELINE.json:L6]:

    scan (+ sha/file_key, latest-version dedup, explicit repartition on
    sha256(repo,path))  ->  detect  ->  link  ->  connected components  ->
    triples

Checkpoint/lineage/resume wrap each stage boundary via kgx.io.checkpoint
when a ``run_dir`` is given; without one the stages compose lazily except
for the two places an explicit materialization is load-bearing:

* ``links`` is localCheckpointed — the CC loop and stage 4 both consume it,
  and the CC convergence counts would otherwise re-execute detection+linking
  every round;
* CC itself localCheckpoints per round (see kgx.canon.cc).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgx.canon.cc import connected_components
from kgx.canon.elect import compound_rep_map
from kgx.io.dictionary import detection_index, detection_index_from_uri, load_dict
from kgx.io.source import repartition_corpus, scan_source_files
from kgx.stages.detect import detect_mentions
from kgx.stages.link import link_entities
from kgx.stages.materialize import materialize_triples, write_triples

log = logging.getLogger(__name__)


@dataclass
class PipelineConfig:
    source_uri: str
    dict_uri: str
    out_uri: str | None = None
    run_dir: str | None = None  # checkpoint/lineage root; None = no resume
    run_id: str = "r0"
    # corpus fan-out: the partition count of the spec-mandated
    # sha256(repo,path) repartition, and so of the detect stage and every
    # stage-2 pass over its checkpoint.  None follows the session's
    # spark.sql.shuffle.partitions (kgx.session.get_spark sizes it to the
    # host's cores in local mode; cluster callers size it to the data), so
    # one setting sizes every corpus-sized stage.  Each partition is one
    # Python task per Python stage, and a Python task carries a fixed
    # start-up cost whatever its size, so do not fan out wider than needed.
    num_partitions: int | None = None
    enable_fuzzy: bool = True
    # data-dependent broadcast guard for the fuzzy channel's accepted
    # (surface -> compound) map: measured per run in link_entities, with a
    # tested shuffle-join fallback above this bound (kgx/stages/link.py).
    # Exposed here so a spark-submit user can tune it per corpus.
    fuzzy_broadcast_max_rows: int = 2_000_000
    table_format: str = "parquet"  # "iceberg" in production
    cc_hot_threshold: int = 50_000
    # Without a run_dir, stage 1+2 fuse into one job and the mentions table
    # is never independently materialized.  Callers that want the
    # `mentions` output in that mode must opt in: the fused checkpoint then
    # carries the 4 extra mention columns (lang/start/end/text, ~40 B/row)
    # so the returned handle is recompute-free (kgx/stages/link.py
    # mentions_out).  Default OFF keeps the hot path's checkpoint slim —
    # and run_pipeline then OMITS "mentions" from its result dict entirely,
    # so an unconfigured consumer fails loudly (KeyError) instead of
    # silently paying detection twice.  With a run_dir, mentions is always
    # a durable checkpoint and this flag is irrelevant.
    materialize_mentions: bool = False


def build_edges(dict_df: DataFrame) -> DataFrame:
    """Canonicalization edge list: compound->compound shared-structure
    (same InChIKey) edges.

    Mentions are deliberately NOT nodes.  Every mention carries exactly one
    link (the stage-2 routing when-chain), so in the bipartite mention↔compound
    graph a mention is a degree-1 leaf — it can never merge two compounds,
    and its component is always its compound's component.  Dropping the
    10^12 mention rows from the iterative CC therefore changes nothing
    semantically while making canonicalization cost a function of the
    LEXICON size, not the corpus size — and it removes hashed node ids from
    the graph entirely, so the 64-bit birthday-collision over-merge risk at
    10^12 mentions (tracked in round 1) is eliminated by construction:
    every CC node is an exact dictionary compound_id.

    NULL inchikeys must NOT form a group: Window.partitionBy puts all NULLs
    in one partition, which would chain every null-inchikey compound to a
    single root and over-merge them into one component (the pandas oracle's
    groupby drops NaN groups — mirror that).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("inchikey")
    return (
        dict_df.filter(F.col("inchikey").isNotNull())
        .withColumn("__root", F.min("compound_id").over(w))
        .filter(F.col("compound_id") != F.col("__root"))
        .select(F.col("compound_id").cast("long").alias("src"), F.col("__root").cast("long").alias("dst"))
    )


def run_pipeline(spark: SparkSession, cfg: PipelineConfig) -> dict[str, DataFrame]:
    """Returns the stage outputs {mentions, links, components, rep_map,
    triples}; writes triples when cfg.out_uri is set."""
    from kgx.io.checkpoint import committed_output, is_committed, stage_checkpoint

    def resumed(stage: str) -> bool:
        return cfg.run_dir is not None and is_committed(cfg, stage)

    dict_df = load_dict(spark, cfg.dict_uri, fmt=cfg.table_format)

    # Canonicalization (stage 3) depends ONLY on the dictionary — not on
    # mentions or links — so its iterative CC loop (several small jobs with
    # mostly-idle slots) runs on a background thread CONCURRENTLY with the
    # corpus stages instead of serializing after them.  Spark job submission
    # is thread-safe; the result is joined (and checkpointed, main thread)
    # at the consumption point.  Saves the CC wall from the critical path
    # at every cluster width.
    import threading

    cc_box: dict = {}
    cc_thread: threading.Thread | None = None
    cc_stop = threading.Event()
    cc_job_group = f"kgx-cc-{cfg.run_id}"
    if not resumed("components"):

        def _cc_job() -> None:
            try:
                # job group is per-thread (pinned-thread mode), so every
                # Spark job the CC loop submits is cancellable from the
                # main thread if a corpus stage fails first
                spark.sparkContext.setJobGroup(
                    cc_job_group, "background canonicalization CC", interruptOnCancel=True
                )
                edges = build_edges(dict_df)
                cc_box["components"] = connected_components(
                    edges, hot_threshold=cfg.cc_hot_threshold, stop=cc_stop.is_set
                )
            except BaseException as e:  # surfaced on join in the main thread
                cc_box["error"] = e

        cc_thread = threading.Thread(target=_cc_job, name="kgx-cc", daemon=True)
        cc_thread.start()

    # If a corpus stage fails, don't leave the background CC competing for
    # executor slots during error handling: set the cooperative stop flag
    # (the CC loop checks it between rounds, so it cannot submit NEW jobs
    # after this point), cancel any in-flight jobs in the group, join the
    # thread, and surface its own error (if any) as context.
    def _cancel_cc(main_exc: BaseException) -> None:
        if cc_thread is None or not cc_thread.is_alive():
            return
        cc_stop.set()
        try:
            spark.sparkContext.cancelJobGroup(cc_job_group)
        except Exception as e:  # the session may be unusable; main_exc still raises
            log.warning("could not cancel background CC job group %s: %r", cc_job_group, e)
        cc_thread.join(timeout=60)
        if cc_thread.is_alive():
            log.warning("background CC thread did not exit within 60s of cancellation")
            main_exc.add_note("background CC thread still running after cancel+60s join")
        if "error" in cc_box:
            main_exc.add_note(f"background CC also failed: {cc_box['error']!r}")

    # Resume must skip CONSTRUCTING a committed stage, not just its write:
    # link_entities eagerly localCheckpoints its join and
    # connected_components eagerly runs its whole iterative loop, so
    # building-then-discarding would re-execute all the expensive work the
    # checkpoint exists to avoid.
    try:
        if resumed("mentions"):
            mentions = committed_output(spark, cfg, "mentions")
        else:
            if cfg.table_format == "parquet":
                index = detection_index_from_uri(cfg.dict_uri)
            else:
                index = detection_index(dict_df.toPandas())
            index_bc = spark.sparkContext.broadcast(index)

            # Content shuffles exactly ONCE (the spec-mandated repartition
            # on sha256(repo,path)).  Because that key excludes the commit,
            # every version of a (repo, path) lands in the SAME partition —
            # so the latest-version filter is a window that REUSES this
            # exchange (Catalyst plans no second shuffle: hashpartitioning
            # on file_key satisfies the window's required distribution) and
            # runs BEFORE detection.  Stale versions are therefore never
            # detected, and dropping them needs neither a second corpus scan
            # nor a join that shuffles mention rows — only this in-partition
            # sort (the D7 latest/as-of idiom).
            from pyspark.sql import Window

            files = repartition_corpus(
                scan_source_files(spark, cfg.source_uri, fmt=cfg.table_format),
                cfg.num_partitions,
            )
            w_latest = Window.partitionBy("file_key").orderBy(F.col("commit").desc())
            files = (
                files.withColumn("__rn", F.row_number().over(w_latest))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )

            # Stage boundary materialization: with a run_dir the detection
            # output is durably checkpointed (parquet + lineage) and stage 2
            # reads it back.  WITHOUT a run_dir, `mentions` stays LAZY here:
            # stage 2's exact/synonym join is its single consumer (the
            # abbrev branch routes off the joined table, kgx/stages/link.py),
            # so the scan→window→detect plan fuses into that join's
            # localCheckpoint and the corpus is materialized exactly once in
            # RAM; a mentions checkpoint here would write every wide mention
            # row only for the join to read it straight back.  Detection
            # executes exactly once: every downstream branch reads the join's
            # checkpoint.  The returned `mentions` handle in this mode is
            # governed by cfg.materialize_mentions: opted in, link_entities
            # rebinds it to a full-schema view over its fused checkpoint via
            # `mentions_out`; opted out (default), the result dict omits
            # "mentions" so nothing can silently pay detection a second time.
            mentions = detect_mentions(files, index_bc)
            if cfg.run_dir is not None:
                # job descriptions label each stage boundary's action in the
                # UI / event log (attribution for the core-second audit)
                spark.sparkContext.setJobDescription(
                    "kgx stage1: detect -> mentions checkpoint"
                )
                mentions = stage_checkpoint(spark, mentions, "mentions", cfg)

        if resumed("links"):
            links = committed_output(spark, cfg, "links")
        else:
            # no run_dir → the mentions handle above is lazy; if the caller
            # opted in, ask stage 2 to rebind it to its fused checkpoint
            # (recompute-free, zero extra jobs — see link_entities'
            # mentions_out contract)
            mentions_box: dict | None = (
                {} if cfg.run_dir is None and cfg.materialize_mentions else None
            )
            links = link_entities(
                mentions,
                dict_df,
                enable_fuzzy=cfg.enable_fuzzy,
                fuzzy_broadcast_max_rows=cfg.fuzzy_broadcast_max_rows,
                mentions_out=mentions_box,
            )
            if mentions_box is not None and "mentions" in mentions_box:
                mentions = mentions_box["mentions"]
            spark.sparkContext.setJobDescription("kgx stage2: links routing checkpoint")
            links = stage_checkpoint(spark, links, "links", cfg)
            if cfg.run_dir is None:
                # stage 4 fans out into several triple projections over
                # links; materialize once so each branch reads memory, not
                # the cascade.  Deliberately NOT coalesced to the core
                # count: that saves task launches on narrow clusters, but
                # its ~3M-row partitions OOMed 12g executors in stage 4's
                # partial dedup — more partitions keep per-task state small.
                links = links.localCheckpoint()
    except BaseException as e:
        _cancel_cc(e)
        raise

    if resumed("components"):
        components = committed_output(spark, cfg, "components")
    else:
        cc_thread.join()
        if "error" in cc_box:
            raise cc_box["error"]
        components = cc_box["components"]
        components = stage_checkpoint(
            spark,
            components.select(F.col("node_id"), F.col("component_id")),
            "components",
            cfg,
        )

    rep_map = compound_rep_map(components, dict_df)
    if resumed("triples"):
        triples = committed_output(spark, cfg, "triples")
    else:
        triples = materialize_triples(links, rep_map, dict_df)
        spark.sparkContext.setJobDescription("kgx stage4: materialize triples")
        triples = stage_checkpoint(spark, triples, "triples", cfg)

    if cfg.out_uri is not None:
        write_triples(triples, cfg.out_uri, fmt=cfg.table_format)

    out = {
        "mentions": mentions,
        "links": links,
        "components": components,
        "rep_map": rep_map,
        "triples": triples,
    }
    if cfg.run_dir is None and not cfg.materialize_mentions:
        # the only handle that would be lazy (= silent detect re-run on
        # consumption); omit it so access fails loudly — opt in with
        # cfg.materialize_mentions to get the recompute-free bound view
        del out["mentions"]
    return out
