"""Traced run: the pipeline's layers called one at a time from outside kgx.

Each layer's public function runs on the previous layer's forced output and
its result is forced (``localCheckpoint`` + ``count``) inside the layer's
span, in run_pipeline's order.  Between layers ``stage_checkpoint`` commits
the stage exactly as run_pipeline does; on the fused path (no run_dir) that
call is a passthrough.  Unlike run_pipeline, canonicalization runs inline
rather than on a background thread, so every span owns its Spark stages.

Spans (name, layer, parent, start, end, seconds) stay in memory and are
written once at the end together with the per-layer metrics.  Spark's event
log is on for this process only; each Spark stage is attributed to the span
it was submitted in (evlog.py).  After the pipeline spans come the measures
that are not part of a pipeline run: link with and without fuzzy matching,
and the single-threaded kernel microbenchmarks.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

import evlog
from child import new_session, pipeline_config, triples_digest

# layers that get event-log metrics.  io.checkpoint is not one: on the fused
# path it runs no Spark stage, so its event-log sums would read 0 every run.
EVLOG_LAYERS = ["io.source", "stages.detect", "stages.link", "canon", "stages.materialize"]
# every per-layer metric the traced run reports, with its unit
LAYER_UNITS = {
    "io.source.s": "s",
    "io.source.rows_in": "count",
    "io.source.rows_out": "count",
    "stages.detect.s": "s",
    "stages.detect.mentions": "count",
    "stages.detect.kernel_us_per_doc": "us",
    "io.dictionary.s": "s",
    "io.dictionary.surfaces": "count",
    "link.minhash.us_per_string": "us",
    "stages.link.s": "s",
    "stages.link.links": "count",
    "stages.link.fuzzy_links": "count",
    "stages.link.fuzzy_s": "s",
    "link.rerank.us_per_pair": "us",
    "canon.s": "s",
    "canon.components": "count",
    "stages.materialize.s": "s",
    "stages.materialize.triples": "count",
    "stages.materialize.write_s": "s",
    "io.checkpoint.commit_s": "s",
    "io.checkpoint.bytes": "bytes",
    **{
        f"{layer}.{m}": unit
        for layer in EVLOG_LAYERS
        for m, unit in (("task_s", "s"), ("shuffle_write_mb", "MB"))
    },
    "pipeline.gc_s": "s",
    "pipeline.run_s": "s",
    "resume_s": "s",
    "pipeline.peak_rss_mb": "MB",
    "pipeline.driver_gap_s": "s",
    "trace.overhead_s": "s",
}
KERNEL_PASSES = 5
DETECT_SAMPLE_DOCS = 256
STRING_SAMPLE = 2048


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        rec = {
            "name": name,
            "layer": layer or name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
        }
        t0 = time.monotonic()
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            rec["s"] = time.monotonic() - t0
            self.spans.append(rec)

    def layer_s(self, layer: str) -> float:
        return sum(sp["s"] for sp in self.spans if sp["layer"] == layer)


def per_item_us(fn, items: list) -> float:
    """Median over KERNEL_PASSES passes of one pass's time per item, in µs.
    The first pass also fills any per-process memo the kernel keeps."""
    passes = []
    for _ in range(KERNEL_PASSES):
        t0 = time.perf_counter()
        fn(items)
        passes.append(time.perf_counter() - t0)
    return statistics.median(passes) / len(items) * 1e6


def kernel_metrics(source_uri: str, index: dict) -> dict:
    import pyarrow.parquet as pq

    from kgx.link.minhash import batch_band_hashes
    from kgx.link.rerank import _pair_score
    from kgx.stages.detect import _detect_rows

    docs = pq.read_table(source_uri, columns=["content"]).column("content")
    docs = docs.slice(0, DETECT_SAMPLE_DOCS).to_pylist()
    keys = sorted(index)
    strings = keys[:: max(1, len(keys) // STRING_SAMPLE)][:STRING_SAMPLE]
    pairs = list(zip(strings, strings[1:]))
    return {
        "stages.detect.kernel_us_per_doc": per_item_us(
            lambda xs: [_detect_rows(d, index) for d in xs], docs
        ),
        "link.minhash.us_per_string": per_item_us(batch_band_hashes, strings),
        "link.rerank.us_per_pair": per_item_us(lambda xs: [_pair_score(a, b) for a, b in xs], pairs),
    }


def _dir_bytes(path: str | None) -> int:
    if path is None or not Path(path).exists():
        return 0
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def run_traced(spec: dict) -> dict:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kgx.canon.cc import connected_components
    from kgx.canon.elect import compound_rep_map
    from kgx.io.checkpoint import stage_checkpoint
    from kgx.io.dictionary import detection_index_from_uri, load_dict, term_table
    from kgx.io.source import repartition_corpus, scan_source_files
    from kgx.pipeline import build_edges
    from kgx.stages.detect import detect_mentions
    from kgx.stages.link import link_entities
    from kgx.stages.materialize import materialize_triples, write_triples

    evdir = Path(spec["work"]) / "evlog"
    evdir.mkdir(parents=True, exist_ok=True)
    tr = Tracer()
    with tr.span("session"):
        spark = new_session(
            spec,
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evdir.resolve().as_uri(),
                "spark.eventLog.compress": "false",
            },
        )
    cfg = pipeline_config(spec, "trace")
    m: dict[str, float] = {}

    def commit(df, stage):
        with tr.span("io.checkpoint"):
            return stage_checkpoint(spark, df, stage, cfg)

    with tr.span("pipeline") as root:
        with tr.span("io.dictionary"):
            dict_df = load_dict(spark, cfg.dict_uri)
            index = detection_index_from_uri(cfg.dict_uri)
            index_bc = spark.sparkContext.broadcast(index)
            m["io.dictionary.surfaces"] = term_table(dict_df).count()
        with tr.span("io.source"):
            # run_pipeline's scan: mandated repartition, then the
            # latest-version window that reuses its exchange
            files = repartition_corpus(scan_source_files(spark, cfg.source_uri), cfg.num_partitions)
            w_latest = Window.partitionBy("file_key").orderBy(F.col("commit").desc())
            files = (
                files.withColumn("__rn", F.row_number().over(w_latest))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
                .localCheckpoint()
            )
            m["io.source.rows_out"] = files.count()
        with tr.span("stages.detect"):
            mentions = detect_mentions(files, index_bc).localCheckpoint()
            m["stages.detect.mentions"] = mentions.count()
        mentions = commit(mentions, "mentions")
        with tr.span("stages.link"):
            links = link_entities(
                mentions,
                dict_df,
                enable_fuzzy=cfg.enable_fuzzy,
                fuzzy_broadcast_max_rows=cfg.fuzzy_broadcast_max_rows,
            ).localCheckpoint()
            m["stages.link.links"] = links.count()
            m["stages.link.fuzzy_links"] = links.filter(F.col("method") == "fuzzy").count()
        links = commit(links, "links")
        with tr.span("canon"):
            components = (
                connected_components(build_edges(dict_df), hot_threshold=cfg.cc_hot_threshold)
                .select("node_id", "component_id")
                .localCheckpoint()
            )
            m["canon.components"] = components.count()
        components = commit(components, "components")
        with tr.span("canon.elect", layer="canon"):
            rep_map = compound_rep_map(components, dict_df)
        with tr.span("stages.materialize"):
            triples = materialize_triples(links, rep_map, dict_df).localCheckpoint()
            m["stages.materialize.triples"] = triples.count()
        triples = commit(triples, "triples")
        with tr.span("stages.materialize.write", layer="stages.materialize") as write:
            if cfg.out_uri is not None:
                write_triples(triples, cfg.out_uri)
            else:  # the fused path's consumer: one pass over the triples
                triples.write.format("noop").mode("overwrite").save()
    t_trace_end = time.monotonic()

    # both variants again on a warm session, so the difference is the
    # fuzzy channel's cost and not the first link call's one-time costs
    with tr.span("stages.link.fuzzy", layer="measure") as fuzzy:
        link_entities(mentions, dict_df, enable_fuzzy=True).localCheckpoint().count()
    with tr.span("stages.link.nofuzzy", layer="measure") as nofuzzy:
        link_entities(mentions, dict_df, enable_fuzzy=False).localCheckpoint().count()
    with tr.span("kernels", layer="measure"):
        m.update(kernel_metrics(cfg.source_uri, index))
    digest = triples_digest(triples.select("subj", "pred", "obj").toPandas())
    spark.stop()

    for layer in ("io.source", "stages.detect", "io.dictionary", "stages.link", "canon", "stages.materialize"):
        m[f"{layer}.s"] = tr.layer_s(layer)
    m["io.source.rows_in"] = spec["source_rows"]
    m["stages.link.fuzzy_s"] = fuzzy["s"] - nofuzzy["s"]
    m["stages.materialize.write_s"] = write["s"]
    m["io.checkpoint.commit_s"] = tr.layer_s("io.checkpoint")
    m["io.checkpoint.bytes"] = _dir_bytes(cfg.run_dir)
    stages = evlog.read_stages(evdir)
    m.update(evlog.attribute(stages, tr.spans, EVLOG_LAYERS))
    m["pipeline.gc_s"] = evlog.window_sum(stages, "gc_s", root["start"], root["end"])
    m["pipeline.driver_gap_s"] = evlog.idle_s(stages, root["start"], root["end"])

    Path(spec["trace_out"]).write_text(json.dumps({"spans": tr.spans, "metrics": m}, indent=1))
    return {"t_trace_end": t_trace_end, "metrics": m, "digest": digest}
