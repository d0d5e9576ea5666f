"""Per-round benchmark (driver contract + SURVEY §6 protocol).

Prints ONE JSON line:
  {"metric": "kgx_e2e_pipeline_wall_sec", "value": <sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
   "pipeline": {...triples/sec at local[8] and local[32], scaling eff...}}

Two parts (relational FIRST — it gets a fresh, right-sized JVM; round 2
measured +28% pure harness-order noise running it after the pipeline
subprocesses):

1. Headline relational queries over $SPARK_GRAFT_SF_DIR (default
   /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], each forced with the
   noop sink (full execution, no collect-to-driver).
2. KG pipeline end-to-end on the synthesized 'scaling3' corpus (7.2M
   files, FIXTURES.md) at ``local-cluster[1,2,12288]`` vs
   ``local-cluster[4,2,12288]`` — separate JVM trees (subprocess per
   master), identical job config and identical per-executor shape (2
   cores, 12 GiB); only the executor COUNT varies, exactly the north
   rule's "N and 4N executors" criterion:
     eff(N→4N) = (T_N / T_4N) / 4
   The gate pair runs as KGX_BENCH_REPS (default 3 — round 4 proved a
   2-rep median flips on one drifted pair) back-to-back repeats with
   ALTERNATING order — this host's throughput drifts ±10-20% on
   sustained wide runs, so a single pair is a coin-flip and the protocol
   median is the estimator (full ≥5-rep runs + the 2/8-executor ladder
   live in bench/scaling_protocol.py; committed raw records under
   bench/records/ are pooled into ``scaling_efficiency_pooled`` so the
   BENCH artifact carries the full-sample number alongside the in-run
   spot check).  The local[32] single-JVM headline run (+P/R) happens
   BEFORE the executor ladder: round 4 recorded it LAST, after ~40 min
   of sustained wide subprocesses, and a host slow phase inflated it
   1.9× over a quiet-host rerun of the same tree.  Thread-width
   local[2/8/32] single-JVM numbers are NOT used for the gate: a shared
   heap makes GC degrade with width (measured 10 s task-GC at local[2]
   vs 148 s at local[8], same work) — an artifact a real multi-executor
   cluster does not have, which local-cluster's per-executor JVMs remove.
   The local[32] single-JVM run is still reported as the throughput
   headline (+P/R).

Environment: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, KGX_BENCH_SCALE
(fixture scale, default "scaling3"), KGX_BENCH_REPS, KGX_SKIP_SCALING=1
to skip part 2's executor ladder (runs local[$CPUS] only, on the 'bench'
corpus), KGX_QUERY_MEM (relational-session heap, default 24g).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))  # the checkout this file sits in
sys.path.insert(0, REPO_ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
_SKIP_SCALING = os.environ.get("KGX_SKIP_SCALING") == "1"
# scaling3 (7.2M files) is the gate corpus as of round 3: the round-2/3
# speedups shrank the parallel fraction on smaller corpora below what a
# >=0.8 1->4-executor efficiency needs at fixed serial cost (BASELINE.md
# SCALES sizing rule: more data per executor, not code, restores it)
BENCH_SCALE = os.environ.get("KGX_BENCH_SCALE", "bench" if _SKIP_SCALING else "scaling3")
BENCH_REPS = int(os.environ.get("KGX_BENCH_REPS", "3"))
RECORDS_DIR = os.path.join(REPO_ROOT, "bench", "records")
FIXTURES_DIR = os.path.join(REPO_ROOT, "tests", "fixtures")

# identical job config at every parallelism level — only the core count
# varies, as in an N vs 4N executor comparison.  NOT an f-string: the
# child's own {…} must survive; REPO_ROOT is injected via %r substitution
_CHILD_CODE = """
import json, sys, time
sys.path.insert(0, %(repo_root)r)
master, fixture_dir = sys.argv[1], sys.argv[2]
from kgx.session import get_spark
from kgx.pipeline import PipelineConfig, run_pipeline
spark = get_spark("kgx-bench", master=master, shuffle_partitions=32)
cfg = PipelineConfig(
    source_uri=f"{fixture_dir}/source_files.parquet",
    dict_uri=f"{fixture_dir}/compound_dict.parquet",
    num_partitions=64,
)
t0 = time.monotonic()
out = run_pipeline(spark, cfg)
n_triples = out["triples"].count()  # single full execution of stage 4
wall = time.monotonic() - t0
rep = {"wall_sec": round(wall, 2), "triples": n_triples,
       "triples_per_sec": round(n_triples / wall, 1)}
import os
if os.environ.get("KGX_BENCH_PR") == "1":  # outside the timed window
    from kgx.quality.pr import precision_recall
    golden = spark.read.parquet(f"{fixture_dir}/golden_triples.parquet")
    pr = precision_recall(out["triples"], golden)
    rep["precision"] = round(pr["precision"], 4)
    rep["recall"] = round(pr["recall"], 4)
print(json.dumps(rep))
""" % {"repo_root": REPO_ROOT}


def _current_engine_tree() -> str | None:
    """Tree hash of the committed kgx/ package (``git rev-parse HEAD:kgx``)
    — the engine identity pooled scaling records must match.  Doc/bench
    commits don't perturb it; any engine change does.  None if git is
    unavailable (pooling then uses only this run's reps)."""
    try:
        return subprocess.run(
            ["git", "-C", REPO_ROOT, "rev-parse", "HEAD:kgx"],
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def _pipeline_at(master: str, fixture_dir: str, with_pr: bool = False) -> dict:
    env = dict(os.environ)
    if with_pr:
        env["KGX_BENCH_PR"] = "1"
    # flush the previous run's dirty shuffle pages out of the timed window
    subprocess.run(["sync"], check=False)
    time.sleep(15)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD_CODE, master, fixture_dir],
        capture_output=True,
        text=True,
        timeout=3600,
        check=True,
        env=env,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _warm_page_cache(sf_dir: str) -> None:
    """Untimed read-through of the query inputs.  The relational timings are
    meant to measure the ENGINE (fresh-JVM plan + execution), not whatever
    the harness happened to run before bench.py: round 6 measured the same
    first query at 30.5 s with sf0.1 evicted from the page cache (a prior
    7.8 GB fixture generation) vs 5.5-7.9 s with it resident — a 5.5× swing
    that is pure disk state.  Reading the files once beforehand pins the
    series back to the warm-cache conditions rounds 1-5 effectively ran
    under, without touching the timed fresh-JVM semantics."""
    import glob

    for f in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(f, "rb") as fh:
            while fh.read(1 << 24):
                pass


def _relational_queries(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entrymod

    names = [
        "agg_pricing_summary",
        "join_four_way",
        "window_topk_per_group",
        "range_self_join",
        "distinct_agg",
        "array_hof_norm",
        "dedup_exact",
        "global_sort_limit",
    ]
    qs = entrymod.queries()
    times: dict[str, float] = {}
    for name in names:
        t0 = time.monotonic()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        times[name] = round(time.monotonic() - t0, 3)
    return times


def main() -> int:
    from kgx.fixtures.gen import ensure
    from kgx.session import get_spark

    fixture_dir = str(ensure(BENCH_SCALE, FIXTURES_DIR))

    report: dict = {
        "metric": "kgx_e2e_pipeline_wall_sec",
        "unit": "sec",
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else None,
    }

    # Relational suite FIRST, on a fresh JVM with a right-sized heap: the
    # sf0.1 queries touch ~1 GB, so the pipeline-tuned 96 GB ParallelGC heap
    # is wrong for them, and running after five heavyweight pipeline
    # subprocesses measured +28% pure harness-order noise in round 2.
    spark = get_spark(
        "kgx-bench-queries",
        master=f"local[{CPUS}]",
        extra_conf={"spark.driver.memory": os.environ.get("KGX_QUERY_MEM", "24g")},
    )
    _warm_page_cache(SF_DIR)
    t0 = time.monotonic()
    times = _relational_queries(spark, SF_DIR)
    report["relational_wall_sec"] = round(time.monotonic() - t0, 2)
    # steady-state second pass (warm JVM/JIT), untimed-warmup-independent:
    # the number a long-running cluster session would see per query
    t0 = time.monotonic()
    report["queries_steady"] = _relational_queries(spark, SF_DIR)
    report["relational_steady_wall_sec"] = round(time.monotonic() - t0, 2)
    spark.stop()

    pipeline: dict = {"fixture_scale": BENCH_SCALE}
    if not _SKIP_SCALING:
        import statistics

        # local[32] headline FIRST (fresh host window — same reason the
        # relational suite runs first): the round-4 artifact ran it after
        # ~40 min of wide subprocesses and recorded a 1.9×-inflated wall
        t32 = _pipeline_at("local[32]", fixture_dir, with_pr=True)

        # the north-rule gate pair: N=1 vs 4N=4 executors, fixed 2-core/12g
        # executor shape, alternating order per rep (drift cancellation)
        w1, w4 = "local-cluster[1,2,12288]", "local-cluster[4,2,12288]"
        walls: dict[str, list] = {w1: [], w4: []}
        effs = []
        for rep in range(BENCH_REPS):
            order = (w1, w4) if rep % 2 == 0 else (w4, w1)
            rep_r = {}
            for w in order:
                rep_r[w] = _pipeline_at(w, fixture_dir)
                walls[w].append(rep_r[w])
            effs.append(rep_r[w1]["wall_sec"] / rep_r[w4]["wall_sec"] / 4)

        pipeline.update(
            {
                "exec1x2c": walls[w1][-1],
                "exec4x2c": walls[w4][-1],
                "exec1x2c_walls": [r["wall_sec"] for r in walls[w1]],
                "exec4x2c_walls": [r["wall_sec"] for r in walls[w4]],
                "local32": t32,
                "scaling_efficiency_per_rep": [round(e, 3) for e in effs],
                "scaling_efficiency_exec_1_to_4": round(statistics.median(effs), 3),
            }
        )
        # pooled estimator: this run's reps + every committed protocol
        # record for the same corpus AND the same engine (bench/records/
        # *.json, written by bench/scaling_protocol.py) — the full-sample
        # median no single drifted pair can flip.  Records are stamped with
        # the kgx/ git tree hash at measurement time (round-5 advice):
        # records of an OLDER engine are excluded so a scaling regression
        # in the shipped tree can't hide behind healthy historical reps.
        pooled, pooled_files, excluded_files = list(effs), [], []
        engine_tree = _current_engine_tree()
        if os.path.isdir(RECORDS_DIR):
            for fn in sorted(os.listdir(RECORDS_DIR)):
                if not fn.endswith(".json"):
                    continue
                try:
                    with open(os.path.join(RECORDS_DIR, fn)) as f:
                        rec = json.load(f)
                    if rec.get("scale") != BENCH_SCALE:
                        continue
                    same_engine = (
                        rec.get("engine_tree") is not None
                        and rec.get("engine_tree") == engine_tree
                        and not rec.get("engine_dirty")
                    )
                    if same_engine:
                        pooled.extend(rec["eff_exec_1_to_4"]["per_rep"])
                        pooled_files.append(fn)
                    else:
                        excluded_files.append(fn)
                except (OSError, KeyError, ValueError):
                    continue  # a malformed record must not sink the bench
        pipeline.update(
            {
                "scaling_efficiency_pooled": round(statistics.median(pooled), 3),
                "scaling_efficiency_pooled_n": len(pooled),
                "scaling_efficiency_pooled_records": pooled_files,
                "scaling_efficiency_excluded_records": excluded_files,
                "engine_tree": engine_tree,
            }
        )
        report["value"] = t32["wall_sec"]
    else:
        one = _pipeline_at(f"local[{CPUS}]", fixture_dir)
        pipeline[f"local{CPUS}"] = one
        report["value"] = one["wall_sec"]
    report["pipeline"] = pipeline

    times["kg_pipeline_e2e"] = report["value"]
    report["queries"] = times

    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
