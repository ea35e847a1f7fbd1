"""Spark metrics for the warm operations of a traced run, from the event log.

The child switches the event log on (uncompressed, not rolling) through
``get_spark(extra_conf=...)``. Jobs are attributed to benchmark operations
by job group: the child sets ``qfbench:<op>`` before each operation, and a
streaming query's jobs carry the query's run id as their group.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

# A stage counts for spark.task_skew when it holds at least this share of the
# phase's task time; tiny stages' max/median is scheduling noise.
SKEW_MIN_SHARE = 0.05


def read_events(events_dir: str):
    for name in sorted(os.listdir(events_dir)):
        with open(os.path.join(events_dir, name)) as f:
            for line in f:
                yield json.loads(line)


def spark_metrics(events_dir: str, groups: set[str], n_ops: int, wall_s: float, cores: int) -> dict:
    """Per-operation totals over the jobs whose group is in ``groups``."""
    stage_group: dict[int, str] = {}
    jobs = 0
    tasks_by_stage: dict[int, list[float]] = defaultdict(list)
    tot = defaultdict(float)
    for ev in read_events(events_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group in groups:
                jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
            m = ev.get("Task Metrics") or {}
            run_ms = m.get("Executor Run Time", 0)
            tasks_by_stage[ev["Stage ID"]].append(run_ms)
            tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["run_s"] += run_ms / 1e3
            tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            tot["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            tot["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tot["input"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            tot["output"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    total_task_ms = sum(sum(v) for v in tasks_by_stage.values()) or 1.0
    skew = 1.0
    for runs in tasks_by_stage.values():
        med = statistics.median(runs)
        if len(runs) >= 2 and med > 0 and sum(runs) / total_task_ms >= SKEW_MIN_SHARE:
            skew = max(skew, max(runs) / med)
    n = max(n_ops, 1)
    return {
        "spark.jobs": jobs / n,
        "spark.stages": len(tasks_by_stage) / n,
        "spark.tasks": sum(len(v) for v in tasks_by_stage.values()) / n,
        "spark.executor_cpu_s": tot["cpu_s"] / n,
        "spark.executor_run_s": tot["run_s"] / n,
        "spark.gc_s": tot["gc_s"] / n,
        "spark.cpu_util": tot["cpu_s"] / (wall_s * cores) if wall_s > 0 else 0.0,
        "spark.shuffle_write_bytes": tot["shuffle_write"] / n,
        "spark.shuffle_read_bytes": tot["shuffle_read"] / n,
        "spark.spill_bytes": tot["spill"] / n,
        "spark.input_bytes": tot["input"] / n,
        "spark.output_bytes": tot["output"] / n,
        "spark.task_skew": skew,
    }
