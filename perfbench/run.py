"""kgx benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Benchmarks the kgx tree this directory sits in (``<tree>/kgx``).  The
workload is generated from ``--seed`` before any timing (workloads.py).
Every pipeline run is a fresh child process (child.py) started in its own
session, with ``PYTHONPATH`` set to the tree and its working directory under
``<tree>/.perfbench/work``, which also holds Spark's local dirs; nothing is
written outside the tree.

``--trace 0`` starts untraced children until ``--seconds`` have been measured
(at least one) and reports the end-to-end metrics as medians over them.
``--trace 1`` runs one untraced and one traced child (traced.py) and reports
the per-layer metrics.  Human-readable lines go to stdout first; the last
stdout line is the JSON result.  A child that crashes, times out, misses
P/R 0.95, fails the resume check, imports kgx from another tree, or
disagrees with an earlier run of the same tree and inputs on the triples
digest counts as failed.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import proctree
import traced
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_BUDGET_S = 165  # a whole run, generation included, ends within 180 s
MIN_PR = 0.95
E2E_UNITS = {
    "job_s": "s",
    "setup_s": "s",
    "files_per_s": "1/s",
    "cpu_s": "s",
    "precision": "ratio",
    "recall": "ratio",
}


def tree_hash() -> str:
    """sha256 over the tree's kgx/**/*.py paths and contents."""
    h = hashlib.sha256()
    for f in sorted((ROOT / "kgx").rglob("*.py")):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


class Child:
    """One child process: spawn, sample, wait, and read back its result."""

    def __init__(self, work: Path, tag: str, spec: dict):
        self.tag = tag
        self.dir = work / tag
        self.dir.mkdir(parents=True)
        self.spec = {**spec, "work": str(self.dir), "result": str(self.dir / "result.json")}
        (self.dir / "spec.json").write_text(json.dumps(self.spec))
        (self.dir / "tmp").mkdir()
        self.log = self.dir / "child.log"
        self.error: str | None = None
        self.result: dict = {}

    def env(self) -> dict:
        env = {k: v for k, v in os.environ.items() if not k.startswith("KGX_")}
        env["PYTHONPATH"] = str(ROOT)
        env["SPARK_LOCAL_DIRS"] = str(self.dir / "spark-local")
        env["TMPDIR"] = str(self.dir / "tmp")
        # the JVM's temp files (native libraries it unpacks) go to the work
        # dir too.  HotSpot writes its perf-counter file to /tmp/hsperfdata_*
        # whatever java.io.tmpdir says, so that file is turned off instead.
        env["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={self.dir / 'tmp'} -XX:-UsePerfData"
        return env

    def run(self, deadline: float) -> "Child":
        env = self.env()
        with open(self.log, "wb") as log:
            self.t_spawn = time.monotonic()
            proc = subprocess.Popen(
                [sys.executable, str(HERE / "child.py"), str(self.dir / "spec.json")],
                cwd=self.dir,
                env=env,
                stdin=subprocess.DEVNULL,
                stdout=log,
                stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                with proctree.RssSampler(proc.pid) as self.sampler:
                    try:
                        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
                    except subprocess.TimeoutExpired:
                        rc = None
                        self.error = f"timed out after {time.monotonic() - self.t_spawn:.0f}s"
            finally:
                proctree.stop_session(proc.pid)
                proc.wait()
        if rc is not None and rc != 0:
            self.error = f"exit code {rc}"
        if self.error is None:
            self.result = json.loads(Path(self.spec["result"]).read_text())
            kgx_file = Path(self.result["kgx_file"]).resolve()
            if ROOT / "kgx" not in kgx_file.parents:
                self.error = f"imported kgx from {kgx_file}, not from {ROOT}"
        if self.error is not None:
            tail = self.log.read_text(errors="replace").splitlines()[-40:]
            print(f"[perfbench] child {self.tag} failed: {self.error}", file=sys.stderr)
            print("\n".join(tail), file=sys.stderr)
        return self

    def job_s(self) -> float:
        return self.result["t_job"] - self.t_spawn

    def setup_s(self) -> float:
        return self.result["t_setup"] - self.t_spawn

    def e2e(self, inputs: dict) -> dict:
        r = self.result
        return {
            "job_s": self.job_s(),
            "setup_s": self.setup_s(),
            "files_per_s": inputs["source_rows"] / self.job_s(),
            "cpu_s": r["cpu_s"],
            "precision": r["precision"],
            "recall": r["recall"],
        }


def check(child: Child, digests: dict, key: str) -> None:
    """Output checks on a finished untraced child; sets child.error."""
    if child.error is not None:
        return
    r = child.result
    if min(r["precision"], r["recall"]) < MIN_PR:
        child.error = f"P/R {r['precision']:.4f}/{r['recall']:.4f} below {MIN_PR}"
    elif not r["resume_ok"]:
        child.error = "resume changed the triples or a stage fingerprint"
    elif digests.setdefault(key, r["digest"]) != r["digest"]:
        child.error = f"triples digest {r['digest']} != {digests[key]} from an earlier run"
    if child.error is not None:
        print(f"[perfbench] child {child.tag} failed: {child.error}", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "kgx" / "__init__.py").is_file():
        print(f"perfbench: no kgx package in {ROOT}; run from a kgx checkout", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    deadline = time.monotonic() + RUN_BUDGET_S
    sys.path.insert(0, str(ROOT))

    inputs_dir = workloads.build(ROOT, args.workload, args.seed)
    inputs = workloads.inputs(inputs_dir)
    state = ROOT / ".perfbench"
    digests_file = state / "digests.json"
    digests = json.loads(digests_file.read_text()) if digests_file.is_file() else {}
    th = tree_hash()
    key = f"{args.workload}/{inputs_dir.name}/{th}"
    work = state / "work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spec = {
        "inputs": str(inputs_dir),
        "durable": workloads.WORKLOADS[args.workload]["durable"],
        "source_rows": inputs["source_rows"],
        "nproc": len(os.sched_getaffinity(0)),
        "trace": False,
    }
    try:
        if args.trace:
            trace_out = state / "traces" / f"{args.workload}-s{args.seed}.json"
            trace_out.parent.mkdir(parents=True, exist_ok=True)
            out = traced_run(work, {**spec, "trace_out": str(trace_out)}, digests, key, deadline)
        else:
            out = timed_runs(work, spec, digests, key, inputs, args.seconds, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    digests_file.write_text(json.dumps(digests, indent=1, sort_keys=True))

    print(f"# kgx tree {ROOT} (kgx/ sha256 {th}), workload {args.workload}, seed {args.seed}")
    print("# inputs " + json.dumps(inputs))
    print(f"# {out['attempted']} child runs, {out['failed']} failed")
    for name, m in out["metrics"].items():
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    print(json.dumps(out))
    return 0 if out["metrics"] else 1


def timed_runs(
    work: Path, spec: dict, digests: dict, key: str, inputs: dict, seconds: float, deadline: float
) -> dict:
    """Untraced children until ``seconds`` are measured, while the last
    child's duration still fits before the deadline."""
    children: list[Child] = []
    t0, last = time.monotonic(), 0.0
    while not children or (
        time.monotonic() - t0 < seconds and time.monotonic() + 1.2 * last < deadline
    ):
        t = time.monotonic()
        child = Child(work, f"job{len(children)}", spec).run(deadline)
        last = time.monotonic() - t
        check(child, digests, key)
        children.append(child)
    ok = [c.e2e(inputs) for c in children if c.error is None]
    metrics = {
        name: {"value": statistics.median(r[name] for r in ok), "unit": unit}
        for name, unit in E2E_UNITS.items()
    } if ok else {}
    return {
        "correct": len(ok) == len(children),
        "attempted": len(children),
        "failed": len(children) - len(ok),
        "metrics": metrics,
    }


def traced_run(work: Path, spec: dict, digests: dict, key: str, deadline: float) -> dict:
    """One untraced child (for pipeline.run_s, resume_s, pipeline.peak_rss_mb
    and trace.overhead_s), then one traced child."""
    plain = Child(work, "job0", spec).run(deadline)
    check(plain, digests, key)
    tchild = Child(work, "trace0", {**spec, "trace": True}).run(deadline)
    if tchild.error is None and plain.error is None and tchild.result["digest"] != plain.result["digest"]:
        tchild.error = "traced run's triples digest differs from the untraced run's"
        print(f"[perfbench] {tchild.error}", file=sys.stderr)
    failed = sum(c.error is not None for c in (plain, tchild))
    metrics = {}
    if failed == 0:
        m = dict(tchild.result["metrics"])
        m["pipeline.run_s"] = plain.job_s() - plain.setup_s()
        m["resume_s"] = plain.result["resume_s"]
        m["pipeline.peak_rss_mb"] = plain.sampler.peak_until(plain.result["t_job"]) / 1e6
        m["trace.overhead_s"] = (tchild.result["t_trace_end"] - tchild.t_spawn) - plain.job_s()
        metrics = {name: {"value": m[name], "unit": unit} for name, unit in traced.LAYER_UNITS.items()}
    return {"correct": failed == 0, "attempted": 2, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
