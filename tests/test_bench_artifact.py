"""The BENCH artifact is the driver's scoreboard — test its assembly.

bench.py's field shape (headline value, per-rep gate efficiencies, the
pooled estimator over committed ``bench/records/`` files) is what the
judge reads in BENCH_rN; a bug there misreports the engine no matter how
fast it runs.  These tests run bench.main() with the expensive parts
(fixture gen, Spark sessions, pipeline subprocesses) monkeypatched to
canned results, so the assembly logic itself is covered by plain pytest.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]  # the checkout these tests sit in


class _DummySpark:
    def stop(self) -> None:  # matches the one method main() calls
        pass


@pytest.fixture()
def bench_mod(monkeypatch, tmp_path):
    monkeypatch.syspath_prepend(str(ROOT))
    import bench as bench_mod  # ROOT/bench.py (shadows the bench/ dir)

    # canned pipeline runs: W1/W4 walls chosen so per-rep eff is exact
    walls = {
        "local[32]": {"wall_sec": 100.0, "triples": 1000, "triples_per_sec": 10.0,
                      "precision": 0.99, "recall": 0.99},
        "local-cluster[1,2,12288]": {"wall_sec": 640.0, "triples": 1000,
                                     "triples_per_sec": 1.5625},
        "local-cluster[4,2,12288]": {"wall_sec": 200.0, "triples": 1000,
                                     "triples_per_sec": 5.0},
    }
    calls: list[str] = []

    def fake_pipeline_at(master, fixture_dir, with_pr=False):
        calls.append(master)
        return dict(walls[master])

    monkeypatch.setattr(bench_mod, "_pipeline_at", fake_pipeline_at)
    monkeypatch.setattr(
        bench_mod, "_relational_queries", lambda spark, sf_dir: {"q_fake": 1.0}
    )
    import kgx.session

    monkeypatch.setattr(kgx.session, "get_spark", lambda *a, **k: _DummySpark())
    import kgx.fixtures.gen

    monkeypatch.setattr(kgx.fixtures.gen, "ensure", lambda scale, root: tmp_path)
    monkeypatch.setattr(bench_mod, "RECORDS_DIR", str(tmp_path / "records"))
    monkeypatch.setattr(bench_mod, "_current_engine_tree", lambda: "tree-current")
    bench_mod._TEST_CALLS = calls  # type: ignore[attr-defined]
    return bench_mod


def _run_main(bench_mod, capsys) -> dict:
    assert bench_mod.main() == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_artifact_shape_and_gate_fields(bench_mod, capsys):
    report = _run_main(bench_mod, capsys)
    # headline value is the local[32] pipeline wall, echoed into queries
    assert report["value"] == 100.0
    assert report["queries"]["kg_pipeline_e2e"] == 100.0
    pipe = report["pipeline"]
    # canned eff = 640/200/4 = 0.8 per rep, BENCH_REPS reps
    assert pipe["scaling_efficiency_per_rep"] == [0.8] * bench_mod.BENCH_REPS
    assert pipe["scaling_efficiency_exec_1_to_4"] == 0.8
    # with no committed records the pool is exactly the in-run reps
    assert pipe["scaling_efficiency_pooled"] == 0.8
    assert pipe["scaling_efficiency_pooled_n"] == bench_mod.BENCH_REPS
    assert pipe["scaling_efficiency_pooled_records"] == []
    assert pipe["local32"]["precision"] == 0.99


def test_local32_headline_runs_first(bench_mod, capsys):
    # round-4 lesson: the local[32] wall was recorded LAST, after ~40 min
    # of wide subprocesses, and a host slow phase inflated it 1.9x — the
    # headline must run before the executor ladder
    _run_main(bench_mod, capsys)
    calls = bench_mod._TEST_CALLS
    assert calls[0] == "local[32]"
    # alternating gate order after it: W1,W4 / W4,W1 / ...
    assert calls[1:3] == ["local-cluster[1,2,12288]", "local-cluster[4,2,12288]"]
    if bench_mod.BENCH_REPS >= 2:
        assert calls[3:5] == ["local-cluster[4,2,12288]", "local-cluster[1,2,12288]"]


def test_pooling_reads_committed_records(bench_mod, capsys, tmp_path):
    rec_dir = tmp_path / "records"
    rec_dir.mkdir()
    # matching scale + matching engine tree: pooled in
    (rec_dir / "scaling_match.json").write_text(
        json.dumps(
            {
                "scale": bench_mod.BENCH_SCALE,
                "engine_tree": "tree-current",
                "engine_dirty": False,
                "eff_exec_1_to_4": {"per_rep": [0.9, 0.9, 0.9]},
            }
        )
    )
    # other-scale record: ignored entirely (not even listed as excluded)
    (rec_dir / "scaling_other.json").write_text(
        json.dumps({"scale": "bench", "eff_exec_1_to_4": {"per_rep": [0.1]}})
    )
    # same scale, OLDER engine tree: excluded from the pool but reported —
    # the round-5 advice case (stale records masking a scaling regression)
    (rec_dir / "scaling_stale.json").write_text(
        json.dumps(
            {
                "scale": bench_mod.BENCH_SCALE,
                "engine_tree": "tree-old",
                "engine_dirty": False,
                "eff_exec_1_to_4": {"per_rep": [0.95]},
            }
        )
    )
    # same scale + tree but measured on a DIRTY kgx/: excluded too
    (rec_dir / "scaling_dirty.json").write_text(
        json.dumps(
            {
                "scale": bench_mod.BENCH_SCALE,
                "engine_tree": "tree-current",
                "engine_dirty": True,
                "eff_exec_1_to_4": {"per_rep": [0.95]},
            }
        )
    )
    # legacy record with no engine stamp: excluded (identity unprovable)
    (rec_dir / "scaling_legacy.json").write_text(
        json.dumps(
            {"scale": bench_mod.BENCH_SCALE, "eff_exec_1_to_4": {"per_rep": [0.95]}}
        )
    )
    # malformed record: must not sink the bench
    (rec_dir / "scaling_bad.json").write_text("{not json")
    report = _run_main(bench_mod, capsys)
    pipe = report["pipeline"]
    n = bench_mod.BENCH_REPS
    assert pipe["scaling_efficiency_pooled_n"] == n + 3
    assert pipe["scaling_efficiency_pooled_records"] == ["scaling_match.json"]
    assert pipe["scaling_efficiency_excluded_records"] == [
        "scaling_dirty.json",
        "scaling_legacy.json",
        "scaling_stale.json",
    ]
    assert pipe["engine_tree"] == "tree-current"
    import statistics

    assert pipe["scaling_efficiency_pooled"] == round(
        statistics.median([0.8] * n + [0.9, 0.9, 0.9]), 3
    )


def test_committed_records_parse_and_stamped_ones_pass_gate():
    """Every committed record must parse; any record stamped with the
    CURRENT engine tree (the ones BENCH_r06 will pool) must carry a
    gate-passing median — keep the committed evidence honest."""
    import glob
    import statistics
    import subprocess

    paths = sorted(glob.glob(str(ROOT / "bench" / "records" / "scaling_*.json")))
    assert paths, "scaling records missing from bench/records/"
    head_tree = subprocess.run(
        ["git", "-C", str(ROOT), "rev-parse", "HEAD:kgx"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    current = 0
    current_reps: list[float] = []
    for p in paths:
        with open(p) as f:
            rec = json.load(f)
        per_rep = rec["eff_exec_1_to_4"]["per_rep"]
        assert len(per_rep) >= 1
        assert all(0.0 < e <= 1.25 for e in per_rep), p  # sane, parseable
        if rec.get("engine_tree") == head_tree and not rec.get("engine_dirty"):
            current += 1
            current_reps.extend(per_rep)
    # The ≥0.8 gate applies to what the bench will actually POOL: the
    # same-tree rep sample (matching this test's docstring — round 7
    # relaxed the original every-record assertion, which would have
    # forbidden committing honest sub-gate measurements of superseded
    # trees; see OPTIMIZATION_r07.md "scaling gate" for the Amdahl
    # accounting of why a faster engine lowers the fixed-corpus ratio).
    if current_reps:
        assert statistics.median(current_reps) >= 0.8, current_reps
    # history may hold stale-engine records (excluded from pooling, by
    # design); the pool itself must never be starved to in-run reps only —
    # at least one committed record must measure the shipped engine.
    # (Skipped rather than failed while kgx/ has uncommitted edits: the
    # protocol stamps the tree it measured, which is unknowable mid-edit.)
    dirty = subprocess.run(
        ["git", "-C", str(ROOT), "status", "--porcelain", "--", "kgx"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    if not dirty:
        assert current >= 1, "no committed scaling record measures HEAD:kgx"


def test_bench_copy_runs_its_own_tree(monkeypatch, tmp_path):
    """A copy of bench.py benchmarks the tree it sits in: its pipeline child
    imports the copy's kgx, and its fixtures and records live in the copy."""
    import importlib.util
    import os
    import subprocess
    import sys

    import kgx.fixtures.gen

    copy = tmp_path / "copy"
    (copy / "kgx").mkdir(parents=True)
    (copy / "bench.py").write_text((ROOT / "bench.py").read_text())
    (copy / "kgx" / "__init__.py").write_text("")
    (copy / "kgx" / "session.py").write_text("raise SystemExit('KGX ' + __file__)\n")

    monkeypatch.setattr(sys, "path", list(sys.path))  # the import prepends the copy
    spec = importlib.util.spec_from_file_location("bench_copy", copy / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.RECORDS_DIR == str(copy / "bench" / "records")

    child = subprocess.run(
        [sys.executable, "-c", mod._CHILD_CODE, "local[1]", str(tmp_path)],
        cwd=tmp_path,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert child.stderr.strip() == f"KGX {copy / 'kgx' / 'session.py'}", child.stderr

    class _Resolved(Exception):
        pass

    def fake_ensure(scale, root):
        raise _Resolved(root)

    monkeypatch.setattr(kgx.fixtures.gen, "ensure", fake_ensure)
    with pytest.raises(_Resolved) as got:
        mod.main()
    assert got.value.args[0] == str(copy / "tests" / "fixtures")
