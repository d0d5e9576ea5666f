"""Round-7 auxiliary measurements (guide §1).  bench.py is FROZEN for the
driver; everything exploratory lives here.

Modes (first CLI arg):

  pipeline   — one event-logged local[32] pipeline run on the scaling3
               corpus (same child config as bench.py's headline) and the
               per-phase core-second attribution via bench/evlog_jobs.py.
               Wall + triples printed as JSON; event log kept under
               /tmp/kgx-evlog-r07 for bench/evlog.py drill-down.
  queries    — per-query noop-sink timings over $SPARK_GRAFT_SF_DIR with
               N in-session repeats (median + min), isolating engine time
               from JVM warmup the way bench.py's steady pass does.

Usage: python bench_extra.py pipeline [tag]
       python bench_extra.py queries [reps]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))  # the checkout this file sits in
sys.path.insert(0, REPO_ROOT)
FIXTURES_DIR = os.path.join(REPO_ROOT, "tests", "fixtures")

EVLOG_DIR = "/tmp/kgx-evlog-r07"

# NOT an f-string: the child's own {…} must survive; REPO_ROOT is injected
# via %r substitution
_CHILD_CODE = """
import json, sys, time
sys.path.insert(0, %(repo_root)r)
master, fixture_dir, evdir = sys.argv[1], sys.argv[2], sys.argv[3]
from kgx.session import get_spark
from kgx.pipeline import PipelineConfig, run_pipeline
extra = {}
if evdir:
    extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": evdir,
             "spark.eventLog.compress": "false"}
spark = get_spark("kgx-bench-extra", master=master, shuffle_partitions=32,
                  extra_conf=extra)
cfg = PipelineConfig(
    source_uri=f"{fixture_dir}/source_files.parquet",
    dict_uri=f"{fixture_dir}/compound_dict.parquet",
    num_partitions=64,
)
t0 = time.monotonic()
out = run_pipeline(spark, cfg)
n_triples = out["triples"].count()
wall = time.monotonic() - t0
print(json.dumps({"wall_sec": round(wall, 2), "triples": n_triples,
                  "app_id": spark.sparkContext.applicationId}))
spark.stop()
""" % {"repo_root": REPO_ROOT}


def run_pipeline_once(tag: str = "r07") -> dict:
    from kgx.fixtures.gen import ensure

    fixture_dir = str(ensure("scaling3", FIXTURES_DIR))
    os.makedirs(EVLOG_DIR, exist_ok=True)
    subprocess.run(["sync"], check=False)
    time.sleep(5)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD_CODE, "local[32]", fixture_dir, EVLOG_DIR],
        capture_output=True, text=True, timeout=3600, check=True,
    )
    rep = json.loads(out.stdout.strip().splitlines()[-1])
    rep["tag"] = tag
    print(json.dumps(rep))
    app = os.path.join(EVLOG_DIR, rep["app_id"])
    for cand in (app, app + ".inprogress", os.path.join(EVLOG_DIR, "eventlog_v2_" + rep["app_id"])):
        if os.path.exists(cand):
            print(f"-- per-phase core-seconds ({cand}):", flush=True)
            subprocess.run([sys.executable, "bench/evlog_jobs.py", cand], check=False)
            break
    return rep


def run_queries(reps: int = 3) -> None:
    from kgx.session import get_spark
    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("kgx-bench-extra-q", master=f"local[{cpus}]",
                      extra_conf={"spark.driver.memory": "24g"})
    names = ["agg_pricing_summary", "join_four_way", "window_topk_per_group",
             "range_self_join", "distinct_agg", "array_hof_norm",
             "dedup_exact", "global_sort_limit"]
    qs = entrymod.queries()
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.monotonic()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.monotonic() - t0, 3))
    import statistics
    print(json.dumps({
        "median": {n: round(statistics.median(v), 3) for n, v in samples.items()},
        "min": {n: min(v) for n, v in samples.items()},
        "samples": samples,
    }))
    spark.stop()


def run_abtest(opts_a: str, opts_b: str, pairs: int = 3) -> None:
    """Alternating paired pipeline runs under two KGX_DRIVER_JAVA_OPTS
    values.  Host throughput drifts ±2-3× on multi-minute timescales, so
    only the per-pair wall RATIO (B/A, runs back-to-back) carries signal;
    the median ratio over ``pairs`` pairs is the estimator.  Order inside
    each pair alternates to cancel first-mover bias."""
    import statistics

    from kgx.fixtures.gen import ensure

    fixture_dir = str(ensure("scaling3", FIXTURES_DIR))
    os.makedirs(EVLOG_DIR, exist_ok=True)

    def one(opts: str) -> dict:
        env = dict(os.environ)
        if opts:
            env["KGX_DRIVER_JAVA_OPTS"] = opts
        subprocess.run(["sync"], check=False)
        time.sleep(5)
        out = subprocess.run(
            [sys.executable, "-c", _CHILD_CODE, "local[32]", fixture_dir, EVLOG_DIR],
            capture_output=True, text=True, timeout=3600, check=True, env=env,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])

    ratios = []
    for p in range(pairs):
        order = [("A", opts_a), ("B", opts_b)] if p % 2 == 0 else [("B", opts_b), ("A", opts_a)]
        walls = {}
        for label, opts in order:
            r = one(opts)
            walls[label] = r["wall_sec"]
            print(json.dumps({"pair": p, "cfg": label, **r}), flush=True)
        ratios.append(walls["B"] / walls["A"])
        print(json.dumps({"pair": p, "ratio_B_over_A": round(ratios[-1], 3)}), flush=True)
    print(json.dumps({"median_ratio_B_over_A": round(statistics.median(ratios), 3),
                      "ratios": [round(r, 3) for r in ratios],
                      "A": opts_a, "B": opts_b}), flush=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "pipeline"
    if mode == "pipeline":
        run_pipeline_once(sys.argv[2] if len(sys.argv) > 2 else "r07")
    elif mode == "abtest":
        run_abtest(sys.argv[2], sys.argv[3], int(sys.argv[4]) if len(sys.argv) > 4 else 3)
    else:
        run_queries(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
