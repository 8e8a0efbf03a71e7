"""Fold a Spark event log by the job descriptions the engine sets.

The engine labels its jobs ``write <table> r<N>``, ``write_small
<table> r<N>`` and ``fetch+extract stats r<N>``.  Each stage is
attributed to the first job that submitted it; each task's metrics
are summed into that job's label with the round number dropped.  Jobs
without a description fold into ``unlabelled``.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

_ROUND = re.compile(r"\s+r\d+$")
_NON_WORD = re.compile(r"[^a-z0-9]+")


def label_of(description: str | None) -> str:
    if not description:
        return "unlabelled"
    base = _ROUND.sub("", description.strip().lower())
    return _NON_WORD.sub("_", base).strip("_") or "unlabelled"


def _empty() -> dict:
    return {
        "run_s": 0.0, "cpu_s": 0.0, "shuffle_read_b": 0.0,
        "shuffle_write_b": 0.0, "spill_b": 0.0, "task_s.max": 0.0,
        "tasks": 0,
    }


def fold(lines, window: tuple[float, float] | None = None
         ) -> tuple[dict[str, dict], list[dict]]:
    """Event-log JSON lines -> (per-label stage metrics, jobs).

    Only tasks launched inside ``window`` (epoch seconds) count, when
    given.  ``jobs`` holds one dict per finished job: label,
    description and its submission/completion times in epoch seconds
    (for spans).
    """
    stage_label: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    out: dict[str, dict] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            label = label_of(desc)
            for sid in ev.get("Stage IDs", ()):
                stage_label.setdefault(sid, label)
            jobs[ev["Job ID"]] = {
                "label": label,
                "description": desc,
                "start": ev.get("Submission Time", 0) / 1000.0,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev.get("Job ID"))
            if job is not None:
                job["end"] = ev.get("Completion Time", 0) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            metrics = ev.get("Task Metrics")
            info = ev.get("Task Info") or {}
            launched = info.get("Launch Time", 0) / 1e3
            if not metrics or (window and not window[0] <= launched <= window[1]):
                continue
            acc = out.setdefault(
                stage_label.get(ev.get("Stage ID"), "unlabelled"), _empty()
            )
            read = metrics.get("Shuffle Read Metrics") or {}
            write = metrics.get("Shuffle Write Metrics") or {}
            acc["run_s"] += metrics.get("Executor Run Time", 0) / 1e3
            acc["cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
            acc["shuffle_read_b"] += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            acc["shuffle_write_b"] += write.get("Shuffle Bytes Written", 0)
            acc["spill_b"] += metrics.get("Disk Bytes Spilled", 0)
            span = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
            acc["task_s.max"] = max(acc["task_s.max"], span)
            acc["tasks"] += 1
    return out, [j for j in jobs.values() if j["end"] is not None]


def total(stages: dict[str, dict]) -> dict:
    """Every label folded into one: sums, and the longest task."""
    out = _empty()
    for acc in stages.values():
        for key, value in acc.items():
            out[key] = max(out[key], value) if key == "task_s.max" else out[key] + value
    return out


def fold_dir(eventlog_dir: Path, window=None) -> tuple[dict[str, dict], list[dict]]:
    """Fold the single application log written into ``eventlog_dir``."""
    logs = [p for p in eventlog_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, got {logs}")
    with open(logs[0]) as f:
        return fold(f, window)
