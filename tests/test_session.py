"""Session factory: no hidden jobs at start-up, host-sized defaults."""

import os
import subprocess
import sys
from pathlib import Path

from kgx.session import default_driver_memory

REPO = Path(__file__).resolve().parents[1]

_FRESH_SESSION = """
from kgx.session import get_spark
spark = get_spark(master="local[2]")
print("JOBS", spark.sparkContext.statusTracker().getJobIdsForGroup(None))
spark.stop()
"""


_BARE_LOCAL = """
from kgx.session import get_spark
spark = get_spark(master="local")
print("PARTITIONS", spark.conf.get("spark.sql.shuffle.partitions"))
spark.stop()
"""


def _run_fresh(script: str) -> list[str]:
    """Run ``script`` in a new interpreter (a new JVM); its stdout lines."""
    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run(
        [sys.executable, "-c", script],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return out.stdout.splitlines()


def test_fresh_session_runs_no_jobs():
    """get_spark returns the session as built: every job a caller sees in
    the session's event log and timings is its own."""
    lines = _run_fresh(_FRESH_SESSION)
    assert [line for line in lines if line.startswith("JOBS")] == ["JOBS []"], lines


def test_bare_local_master_is_one_core():
    """Spark's bare ``local`` master is one core, so shuffles and the corpus
    fan-out get the 8-partition floor, not the 32 meant for masters that
    name no core count."""
    lines = _run_fresh(_BARE_LOCAL)
    assert [line for line in lines if line.startswith("PARTITIONS")] == ["PARTITIONS 8"], lines


def _meminfo(tmp_path, kib):
    p = tmp_path / "meminfo"
    p.write_text(f"MemFree:         1234 kB\nMemTotal:       {kib} kB\n")
    return str(p)


def test_driver_memory_is_three_quarters_of_host(tmp_path):
    gib = 1 << 20  # kB per GiB
    assert default_driver_memory(_meminfo(tmp_path, 16479424)) == "11g"  # 15.7 GiB host
    assert default_driver_memory(_meminfo(tmp_path, 64 * gib)) == "48g"
    assert default_driver_memory(_meminfo(tmp_path, gib)) == "1g"  # floor, never 0g


def test_driver_memory_cap_and_fallback(tmp_path):
    assert default_driver_memory(_meminfo(tmp_path, 512 * (1 << 20))) == "96g"
    assert default_driver_memory(str(tmp_path / "missing")) == "96g"
    bad = tmp_path / "bad"
    bad.write_text("MemFree: 1 kB\n")
    assert default_driver_memory(str(bad)) == "96g"
