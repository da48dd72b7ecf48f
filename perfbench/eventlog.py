"""Per-span task metrics from a Spark event log, parsed in pure Python.

A span is (name, start, end) in epoch seconds. Each task is attributed to
the span that holds the submission time of the first job listing its
stage, so shared or skipped stages are counted once.
"""

from __future__ import annotations

import json
import os
import statistics


def _events(log_dir: str):
    for dirpath, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(dirpath, name)) as f:
                for line in f:
                    if line.strip():
                        yield json.loads(line)


def span_metrics(
    log_dir: str, spans: list[tuple[str, float, float]], cores: int
) -> dict[str, dict[str, float]]:
    """{span name: task_s, busy_frac, shuffle_mb, task_skew, tasks,
    failed_tasks}. busy_frac = task seconds / (span wall x cores);
    task_skew = max / median task duration; shuffle_mb = shuffle bytes
    written (1 MB = 1e6 bytes)."""
    stage_job_time: dict[int, float] = {}
    tasks: list[tuple[int, float, bool, int]] = []
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000
            for sid in ev["Stage IDs"]:
                stage_job_time[sid] = min(t, stage_job_time.get(sid, t))
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            written = (
                (ev.get("Task Metrics") or {})
                .get("Shuffle Write Metrics", {})
                .get("Shuffle Bytes Written", 0)
            )
            tasks.append(
                (
                    ev["Stage ID"],
                    (info["Finish Time"] - info["Launch Time"]) / 1000,
                    bool(info.get("Failed")),
                    written,
                )
            )
    out = {}
    for name, start, end in spans:
        durs, failed, shuffle = [], 0, 0
        for sid, dur, fail, written in tasks:
            t = stage_job_time.get(sid)
            if t is not None and start <= t < end:
                durs.append(dur)
                failed += fail
                shuffle += written
        wall = end - start
        task_s = sum(durs)
        med = statistics.median(durs) if durs else 0.0
        out[name] = {
            "task_s": task_s,
            "busy_frac": task_s / (wall * cores) if wall > 0 else 0.0,
            "shuffle_mb": shuffle / 1e6,
            "task_skew": max(durs) / med if med > 0 else 0.0,
            "tasks": len(durs),
            "failed_tasks": failed,
        }
    return out
