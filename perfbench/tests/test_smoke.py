"""Smoke tests of the benchmark itself, on tiny generated inputs.

    python3 -m pytest perfbench/tests -q

The two end-to-end tests start real Spark children (about 40 s and 70 s).
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import evlog  # noqa: E402
import run  # noqa: E402
import traced  # noqa: E402
import workloads  # noqa: E402


# tiny inputs, known to the runner only inside these tests
SMOKE = {
    "smoke-batch": {"n_files": 200, "n_structures": 300, "durable": False, "why": "smoke test"},
    "smoke-durable": {"n_files": 200, "n_structures": 300, "durable": True, "why": "smoke test"},
}
# run.py's main with the smoke workloads added to its table
LAUNCH = (
    "import sys; sys.path.insert(0, sys.argv[1]); import workloads, run; "
    f"workloads.WORKLOADS.update({SMOKE!r}); sys.exit(run.main(sys.argv[2:]))"
)


def _bench(root: Path, *args: str) -> tuple[subprocess.CompletedProcess, dict | None]:
    p = subprocess.run(
        [sys.executable, "-c", LAUNCH, str(root / "perfbench"), *args],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=400,
    )
    lines = p.stdout.strip().splitlines()
    try:
        return p, json.loads(lines[-1])
    except (IndexError, ValueError):
        return p, None


def test_benchmark_json_matches_the_runner():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        name: spec["why"] for name, spec in workloads.WORKLOADS.items()
    }
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == traced.LAYER_UNITS
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_evlog_attribution_and_idle_time():
    stages = [
        {"submit": 1.0, "complete": 2.0, "task_s": 3.0, "gc_s": 0.5, "shuffle_write_mb": 1.0},
        {"submit": 2.5, "complete": 4.0, "task_s": 2.0, "gc_s": 0.25, "shuffle_write_mb": 0.0},
    ]
    spans = [
        {"layer": "pipeline", "start": 0.0, "end": 5.0},
        {"layer": "a", "start": 0.5, "end": 2.2},
        {"layer": "b", "start": 2.2, "end": 5.0},
    ]
    got = evlog.attribute(stages, spans, ["a", "b"])
    assert got["a.task_s"] == 3.0 and got["a.shuffle_write_mb"] == 1.0 and got["b.task_s"] == 2.0
    assert evlog.window_sum(stages, "gc_s", 2.2, 5.0) == 0.25
    assert evlog.idle_s(stages, 0.0, 5.0) == pytest.approx(2.5)


def test_digest_disagreement_fails_the_child():
    child = run.Child.__new__(run.Child)
    child.tag, child.error = "job0", None
    child.result = {"precision": 1.0, "recall": 1.0, "resume_ok": True, "digest": "b"}
    run.check(child, {"k": "a"}, "k")
    assert child.error is not None and "digest" in child.error


def test_refuses_a_directory_without_kgx(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch-corpus", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert p.returncode != 0 and p.stdout == ""


def test_copy_of_the_tree_benchmarks_itself(tmp_path):
    """Untraced run from a copy outside this tree: the runner fails any child
    whose kgx import does not resolve inside the copy."""
    for d in ("kgx", "perfbench"):
        shutil.copytree(ROOT / d, tmp_path / d, ignore=shutil.ignore_patterns("__pycache__"))
    p, res = _bench(tmp_path, "--workload", "smoke-batch", "--seed", "3", "--seconds", "1", "--trace", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(run.E2E_UNITS)
    assert all(m["value"] > 0 for m in res["metrics"].values())
    assert str(tmp_path) in p.stdout


def test_traced_durable_run():
    p, res = _bench(ROOT, "--workload", "smoke-durable", "--seed", "3", "--seconds", "1", "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    assert res["correct"] and res["attempted"] == 2
    assert set(res["metrics"]) == set(traced.LAYER_UNITS)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["io.checkpoint.bytes"] > 0 and m["stages.materialize.triples"] > 0 and m["resume_s"] > 0
    spans = json.loads((ROOT / ".perfbench" / "traces" / "smoke-durable-s3.json").read_text())["spans"]
    assert {"pipeline", "stages.detect", "stages.link", "canon", "io.checkpoint"} <= {s["name"] for s in spans}
