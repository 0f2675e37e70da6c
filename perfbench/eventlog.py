"""Fold a Spark event log into per-(row, phase) execution totals.

The benchmark tags every job it causes with three local properties, which
Spark copies into each ``SparkListenerStageSubmitted`` event:

- ``bench.query``: the catalog row being built or materialised;
- ``bench.phase``: ``build`` (the call that returns the DataFrame, eager jobs
  included) or ``action`` (the final noop write);
- ``bench.layer``: ``load_table`` while ``sources.tables.load_table`` runs.

Local properties are inherited by threads the tagged thread starts, so jobs
that set their own job group (streaming micro-batches) still carry the tags.
Task metrics are attributed through the stage that ran the task.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict
from collections.abc import Iterable, Iterator

#: Spark 4.1 Python-exec SQL metrics (per task, milliseconds and bytes).
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}

#: Every counter a fold group carries, in report order.
FIELDS = (
    "jobs", "load_table_jobs", "stages", "tasks", "failed_tasks",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.peak_mem_bytes",
    "exec.result_bytes", "exec.output_bytes", *PYTHON_METRICS.values(),
)


def read_events(log_dir: str) -> Iterator[dict]:
    """Yield every event under ``log_dir``, which holds Spark 4's rolling
    layout: one ``eventlog_v2_<app>/`` directory per application, its events
    in ``events_<n>_<app>`` parts."""
    def part_no(path: str) -> int:
        return int(os.path.basename(path).split("_")[1])

    for app_dir in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        for fn in sorted(glob.glob(os.path.join(app_dir, "events_*")), key=part_no):
            with open(fn) as fh:
                for line in fh:
                    if line.strip():
                        yield json.loads(line)


def _new_group() -> dict[str, float]:
    return dict.fromkeys(FIELDS, 0)


def fold(events: Iterable[dict]) -> dict[tuple[str, str], dict[str, float]]:
    """Totals per ``(query, phase)`` over all tagged events; untagged work
    (set-up, warm-up, correctness checks) is left out."""
    stage_key: dict[int, tuple[str, str]] = {}
    groups: dict[tuple[str, str], dict[str, float]] = defaultdict(_new_group)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            key = (props.get("bench.query"), props.get("bench.phase"))
            if None in key:
                continue
            groups[key]["jobs"] += 1
            if props.get("bench.layer") == "load_table":
                groups[key]["load_table_jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            key = (props.get("bench.query"), props.get("bench.phase"))
            if None in key:
                continue
            stage_key[ev["Stage Info"]["Stage ID"]] = key
            groups[key]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(ev.get("Stage ID"))
            if key is None:
                continue
            g = groups[key]
            g["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                g["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["exec.run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            g["exec.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0))
            g["exec.shuffle_write_bytes"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
            g["exec.spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
            g["exec.peak_mem_bytes"] = max(g["exec.peak_mem_bytes"],
                                           m.get("Peak Execution Memory", 0))
            g["exec.result_bytes"] += m.get("Result Size", 0)
            g["exec.output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables") or ():
                name = PYTHON_METRICS.get(acc.get("Name"))
                if name is not None:
                    scale = 1e3 if name.endswith("_s") else 1
                    g[name] += float(acc.get("Update") or 0) / scale
    return dict(groups)


def combine(groups: Iterable[dict[str, float]]) -> dict[str, float]:
    """Sum groups field by field; the memory peak is a maximum, not a sum."""
    out = _new_group()
    for g in groups:
        for k, v in g.items():
            out[k] = max(out[k], v) if k == "exec.peak_mem_bytes" else out[k] + v
    return out
