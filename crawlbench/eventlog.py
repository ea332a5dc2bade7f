"""Per-round profile from Spark's own event log.

Jobs are bucketed into crawl rounds by the ``run_round`` span timestamps
(round k runs from its ``run_round`` entry to the next entry, or to the
``run_crawl`` return). Task time is split into the Arrow/UDF pass (tasks of
stages whose RDD scope holds ``ArrowEvalPython`` and that ran Python
workers) and everything else.
"""

from __future__ import annotations

import json
import statistics

from scripts.joblog import iter_events
from spans import union_length


def _clip(ivs, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in ivs if b > lo and a < hi]


def read_log(path: str) -> dict:
    """Jobs (seconds since epoch) and tasks from an event-log directory."""
    jobs: dict[int, dict] = {}
    arrow_stage: dict[int, bool] = {}
    tasks = []
    for ev in iter_events(path):
        t = ev.get("Event")
        if t == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1e3, "end": None}
            for s in ev.get("Stage Infos", []):
                scopes = [json.loads(r.get("Scope") or "{}").get("name") for r in s.get("RDD Info", [])]
                arrow_stage[s["Stage ID"]] = "ArrowEvalPython" in scopes
        elif t == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif t == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            ran_python = any(
                a.get("Name") == "time to run Python workers" and int(a.get("Update") or 0) > 0
                for a in info.get("Accumulables", [])
            )
            tasks.append({
                "stage": ev["Stage ID"],
                "start": info.get("Launch Time", 0) / 1e3,
                "end": info.get("Finish Time", 0) / 1e3,
                "arrow": arrow_stage.get(ev["Stage ID"], False) and ran_python,
                "shuffle": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            })
    return {"jobs": [j for j in jobs.values() if j["end"] is not None], "tasks": tasks}


def round_profile(log: dict, rounds: list[dict]) -> list[dict]:
    """One row per round. ``rounds``: dicts with ``start``, ``end`` and
    ``plan_end`` (the ``run_round`` return) on the span clock.

    The wall is accounted for by three parts from two sources: ``plan_s``
    (span: the ``run_round`` call), then ``jobs_s`` (event log: some job
    runs) and ``gap_s`` (event log: driver time between two of those
    jobs). What is left is driver time before the first or after the last
    job of the round that neither source saw; ``parts_gap`` is its share
    of the wall. ``plan_jobs_s`` is the part of ``plan_s`` spent in jobs
    that ``run_round`` itself runs (the in-round metrics actions)."""
    job_ivs = [(j["start"], j["end"]) for j in log["jobs"]]
    out = []
    for r in rounds:
        lo, hi, mid = r["start"], r["end"], r["plan_end"]
        wall = hi - lo
        after = _clip(job_ivs, mid, hi)
        jobs_after = union_length(after)
        first = min((a for a, _ in after), default=hi)
        last = max((b for _, b in after), default=hi)
        gap_after = max(last - first, 0.0) - jobs_after
        in_round = [t for t in log["tasks"] if lo <= t["start"] < hi]
        arrow = [t["end"] - t["start"] for t in in_round if t["arrow"]]
        by_stage: dict[int, list[float]] = {}
        for t in in_round:
            if t["arrow"]:
                by_stage.setdefault(t["stage"], []).append(t["end"] - t["start"])
        tails = [max(d) / statistics.median(d) for d in by_stage.values()
                 if len(d) >= 2 and statistics.median(d) > 0]
        plan = mid - lo
        out.append({
            "wall_s": wall,
            "plan_s": plan,
            "plan_jobs_s": union_length(_clip(job_ivs, lo, mid)),
            "jobs_s": jobs_after,
            "gap_s": gap_after,
            "parts_gap": abs(plan + jobs_after + gap_after - wall) / wall if wall > 0 else 0.0,
            "jobs": sum(1 for a, _ in job_ivs if lo <= a < hi),
            "idle_s": wall - union_length(_clip(job_ivs, lo, hi)),
            "arrow_task_s": sum(arrow),
            "other_task_s": sum(t["end"] - t["start"] for t in in_round if not t["arrow"]),
            "arrow_tail_ratio": statistics.median(tails) if tails else 1.0,
            "shuffle_bytes": sum(t["shuffle"] for t in in_round),
            "spill_bytes": sum(t["spill"] for t in in_round),
        })
    return out
