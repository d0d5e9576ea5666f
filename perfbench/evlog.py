"""Spark event-log reader for the traced run.

Reads the uncompressed JSON-lines event log of one application, sums task
metrics per stage, and attributes each stage to the trace span whose window
holds the stage's submission time.  The stage/gap arithmetic follows
bench/evlog.py; this module is independent of that script.
"""

from __future__ import annotations

import json
from pathlib import Path

METRICS = ("task_s", "gc_s", "shuffle_write_mb")
# per-layer sums; GC is summed over the whole pipeline instead, since a
# single layer's stages often run no collection at all
LAYER_METRICS = ("task_s", "shuffle_write_mb")


def read_stages(log_dir: Path) -> list[dict]:
    """-> one dict per completed stage attempt: submit/complete (epoch s)
    and task_s, gc_s, shuffle_write_mb summed over its tasks."""
    stages: dict[tuple[int, int], dict] = {}
    # Spark 4 rolls the log into eventlog_v2_<app>/events_<n>_<app> files
    for f in sorted(p for p in Path(log_dir).rglob("*") if p.is_file()):
        with open(f, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                if '"Event":"SparkListenerTaskEnd"' in line or '"Event":"SparkListenerStageCompleted"' in line:
                    _fold(stages, json.loads(line))
    return [s for s in stages.values() if s.get("submit") is not None]


def _fold(stages: dict, ev: dict) -> None:
    if ev["Event"] == "SparkListenerStageCompleted":
        si = ev["Stage Info"]
        st = stages.setdefault((si["Stage ID"], si["Stage Attempt ID"]), _empty())
        if si.get("Submission Time") and si.get("Completion Time"):
            st["submit"] = si["Submission Time"] / 1000.0
            st["complete"] = si["Completion Time"] / 1000.0
        return
    st = stages.setdefault((ev["Stage ID"], ev["Stage Attempt ID"]), _empty())
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    st["task_s"] += max(0, (info.get("Finish Time") or 0) - (info.get("Launch Time") or 0)) / 1000.0
    st["gc_s"] += (tm.get("JVM GC Time") or 0) / 1000.0
    sw = tm.get("Shuffle Write Metrics") or {}
    st["shuffle_write_mb"] += (sw.get("Shuffle Bytes Written") or 0) / 1e6


def _empty() -> dict:
    return {"submit": None, "complete": None, **{m: 0.0 for m in METRICS}}


def attribute(stages: list[dict], spans: list[dict], layers: list[str]) -> dict[str, float]:
    """-> ``<layer>.<metric>`` sums of LAYER_METRICS.  A stage belongs to
    the span (``start`` <= submit <= ``end``, epoch seconds) of the latest
    start that holds it, i.e. the innermost; stages outside every named
    layer are dropped."""
    out = {f"{layer}.{m}": 0.0 for layer in layers for m in LAYER_METRICS}
    for st in stages:
        holders = [sp for sp in spans if sp["start"] <= st["submit"] <= sp["end"]]
        if not holders:
            continue
        layer = max(holders, key=lambda sp: sp["start"])["layer"]
        if layer in layers:
            for m in LAYER_METRICS:
                out[f"{layer}.{m}"] += st[m]
    return out


def window_sum(stages: list[dict], metric: str, start: float, end: float) -> float:
    """Sum of ``metric`` over the stages submitted within [start, end]."""
    return sum(st[metric] for st in stages if start <= st["submit"] <= end)


def idle_s(stages: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] during which no stage was running."""
    spans = sorted(
        (max(s["submit"], start), min(s["complete"], end))
        for s in stages
        if s["complete"] > start and s["submit"] < end
    )
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered
