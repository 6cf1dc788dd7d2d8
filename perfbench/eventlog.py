"""Spark stage counters read back from the event log that the traced run
enables through the benchmark's own Spark config directory."""

from __future__ import annotations

import glob
import json
import statistics

PY_IN = "data sent to Python workers"
PY_OUT = "data returned from Python workers"


def _python_metric_ids(plan: dict, ids: dict[str, set[int]]) -> None:
    if plan.get("nodeName", "").startswith("MapInPandas"):
        for m in plan.get("metrics", []):
            if m["name"] in ids:
                ids[m["name"]].add(m["accumulatorId"])
    for child in plan.get("children", []):
        _python_metric_ids(child, ids)


def counters(log_dir: str, t0_ms: float, t1_ms: float, n_jobs: int) -> dict[str, float]:
    """Per-job shuffle write, MapInPandas Arrow traffic and GC, plus the
    straggler ratio of the heaviest stage, over tasks launched in
    [t0_ms, t1_ms] (epoch milliseconds)."""
    ids: dict[str, set[int]] = {PY_IN: set(), PY_OUT: set()}
    tasks = []
    # Spark 4 writes one directory per application with rolled event files
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _python_metric_ids(ev["sparkPlanInfo"], ids)
                elif kind == "SparkListenerTaskEnd":
                    if t0_ms <= ev["Task Info"]["Launch Time"] <= t1_ms:
                        tasks.append(ev)
    shuffle = gc = 0.0
    py = {PY_IN: 0.0, PY_OUT: 0.0}
    by_stage: dict[tuple[int, int], list[float]] = {}
    for ev in tasks:
        tm = ev.get("Task Metrics") or {}
        shuffle += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        gc += tm.get("JVM GC Time", 0)
        key = (ev["Stage ID"], ev["Stage Attempt ID"])
        by_stage.setdefault(key, []).append(tm.get("Executor Run Time", 0))
        for acc in ev["Task Info"].get("Accumulables", []):
            for name, wanted in ids.items():
                if acc["ID"] in wanted:
                    py[name] += float(acc.get("Update", 0))
    # straggler ratio of the stage with the most executor time
    multi = [v for v in by_stage.values() if len(v) >= 2]
    heaviest = max(multi, key=sum) if multi else [1.0]
    skew = max(heaviest) / max(statistics.median(heaviest), 1.0)
    n = max(n_jobs, 1)
    return {
        "spark.shuffle_write_mb": shuffle / 1e6 / n,
        "spark.python_in_mb": py[PY_IN] / 1e6 / n,
        "spark.python_out_mb": py[PY_OUT] / 1e6 / n,
        "spark.gc_s": gc / 1e3 / n,
        "spark.task_s_max_over_median": skew,
    }
