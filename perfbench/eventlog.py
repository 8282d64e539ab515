"""Per-layer Spark numbers from the traced run's event log.

Every job is attributed to the span open when it was submitted: the main
thread labels its jobs with the operation (``perfbench.span``), and within
an operation the traced pipeline records each stage's start and end. Jobs
without a label come from the pipeline's background checkpoint writers (a
plain thread does not inherit the label) and count as ``ckpt_write``;
labelled jobs outside every stage span (the increment key, the fold's
writes) count as ``other``."""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

def _events(event_dir: str):
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                yield json.loads(line)


def read(event_dir: str) -> tuple[list[dict], dict[int, list[dict]]]:
    """→ (jobs with submission time, label and stage ids; tasks by stage)."""
    jobs, tasks = [], defaultdict(list)
    for e in _events(event_dir):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jobs.append(
                {
                    "t": e["Submission Time"] / 1000.0,
                    "span": (e.get("Properties") or {}).get("perfbench.span"),
                    "stages": e["Stage IDs"],
                }
            )
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            tasks[e["Stage ID"]].append(
                {
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                }
            )
    return jobs, tasks


def attribute(jobs: list[dict], ops: list[dict]) -> dict[tuple[int, str], list[dict]]:
    """(index of op, bucket) -> jobs. ``ops[i]`` carries ``span``, ``start``,
    ``wall`` and ``stages``: (bucket, start, end) per pipeline stage."""
    out = defaultdict(list)
    for i, op in enumerate(ops):
        lo, hi = op["start"], op["start"] + op["wall"]
        for job in jobs:
            if job["span"] is None:
                if lo <= job["t"] <= hi:
                    out[(i, "ckpt_write")].append(job)
            elif job["span"] == op["span"]:
                bucket = next((b for b, s, e in op["stages"] if s <= job["t"] <= e), "other")
                out[(i, bucket)].append(job)
    return out


def _bucket_metrics(jobs: list[dict], tasks: dict[int, list[dict]]) -> dict:
    stage_ids = {s for j in jobs for s in j["stages"]}
    ts = [t for s in stage_ids for t in tasks.get(s, ())]
    run = sum(t["run_ms"] for t in ts) / 1e3
    cpu = sum(t["cpu_ns"] for t in ts) / 1e9
    # skew of the stage that carries the most task time
    skew = 0.0
    heavy = max(stage_ids, key=lambda s: sum(t["run_ms"] for t in tasks.get(s, ())), default=None)
    if heavy is not None and tasks.get(heavy):
        times = [t["run_ms"] for t in tasks[heavy]]
        med = statistics.median(times)
        skew = max(times) / med if med else 0.0
    return {
        "run_s": run,
        "cpu_s": cpu,
        "python_s": max(run - cpu, 0.0),
        "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
        "shuffle_mb": sum(t["shuffle_b"] for t in ts) / 1e6,
        "spill_mb": sum(t["spill_b"] for t in ts) / 1e6,
        "skew": skew,
        "tasks": len(ts),
    }


def layers(event_dir: str, ops: list[dict]) -> dict[str, float]:
    """Per-operation means over ``ops`` of jobs, tasks and the seven
    per-bucket numbers, named ``spark.*``."""
    if not ops:
        return {}
    jobs, tasks = read(event_dir)
    by = attribute(jobs, ops)
    out: dict[str, float] = defaultdict(float)
    n = len(ops)
    for (i, bucket), js in by.items():
        m = _bucket_metrics(js, tasks)
        out["spark.jobs"] += len(js) / n
        out["spark.tasks"] += m.pop("tasks") / n
        for k, v in m.items():
            out[f"spark.{bucket}.{k}"] += v / n
    return dict(out)
