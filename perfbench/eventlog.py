"""Spark-side layer metrics read from Spark's own event log.

The benchmark tags every job it starts with a job group
(`<rep>:<phase>`), so task records can be attributed to one measured
repetition and one phase of it. Nothing inside the engine is touched.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple

#: accumulable names summed per task (SQL metrics and task metrics)
_SUMMED = (
    "scan time",
    "data sent to Python workers",
    "data returned from Python workers",
    "time to start Python workers",
    "time to run Python workers",
    "task commit time",
    "internal.metrics.input.recordsRead",
    "internal.metrics.shuffle.write.bytesWritten",
    "internal.metrics.shuffle.read.fetchWaitTime",
    "internal.metrics.jvmGCTime",
    "internal.metrics.executorRunTime",
)

#: the url-hash exchanges `size_tiered_repartition` plans, one per tier;
#: group 1 is the partition count
_TIER_EXCHANGE = re.compile(
    r"Exchange hashpartitioning\(xxhash64\(url#\d+, 42\), (\d+)\), "
    r"REPARTITION_BY_NUM")


@dataclass
class Task:
    stage: int
    group: str
    launch_ms: int
    finish_ms: int
    acc: Dict[str, float] = field(default_factory=dict)
    #: 'shuffle records written' per SQL accumulator id
    written: Dict[int, float] = field(default_factory=dict)
    #: rows this task wrote to a heavy-tier exchange
    heavy_rows: float = 0.0

    @property
    def python(self) -> bool:
        return "time to run Python workers" in self.acc


def _heavy_tier_accumulators(plan: dict) -> List[int]:
    """Accumulator ids of 'shuffle records written' on the heavy-tier
    exchange of a SQL plan: where the plan has url-hash exchanges of
    more than one width, the widest ones (the heavy tier's fan-out)."""
    found: List[Tuple[int, int]] = []
    stack = [plan]
    while stack:
        node = stack.pop()
        stack.extend(node.get("children", []))
        m = _TIER_EXCHANGE.match(node.get("simpleString", ""))
        if m:
            found += [(int(m.group(1)), a["accumulatorId"])
                      for a in node.get("metrics", [])
                      if a["name"] == "shuffle records written"]
    widths = {w for w, _ in found}
    if len(widths) < 2:
        return []
    return [acc for w, acc in found if w == max(widths)]


def read_tasks(event_log_dir: str) -> List[Task]:
    """Successful tasks of the (single) application log in the dir."""
    names = [n for n in os.listdir(event_log_dir)
             if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log, got {names}")
    stage_group: Dict[int, str] = {}
    heavy_acc = set()
    tasks: List[Task] = []
    with open(os.path.join(event_log_dir, names[0]), encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group or ""
            elif "sparkPlanInfo" in ev:  # SQL execution start / AQE update
                heavy_acc.update(_heavy_tier_accumulators(ev["sparkPlanInfo"]))
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                if info.get("Failed") or info.get("Killed"):
                    continue
                acc: Dict[str, float] = defaultdict(float)
                written: Dict[int, float] = {}
                for a in info.get("Accumulables", []):
                    if a.get("Name") in _SUMMED:
                        acc[a["Name"]] += float(a.get("Update") or 0)
                    elif a.get("Name") == "shuffle records written":
                        written[a["ID"]] = float(a.get("Update") or 0)
                tasks.append(Task(ev["Stage ID"], "", info["Launch Time"],
                                  info["Finish Time"], dict(acc), written))
    # AQE posts the plan naming a re-planned exchange after its map
    # stage ran, so the ids are matched once the whole log is read
    for t in tasks:
        t.group = stage_group.get(t.stage, "")
        t.heavy_rows = sum(v for k, v in t.written.items() if k in heavy_acc)
    return tasks


def idle_slot_share(tasks: List[Task], slots: int) -> float:
    """Share of a stage's wall (first launch to last finish) during
    which fewer than `slots` of its tasks were running."""
    if not tasks:
        return 0.0
    edges = sorted([(t.launch_ms, 1) for t in tasks]
                   + [(t.finish_ms, -1) for t in tasks])
    start, end = edges[0][0], edges[-1][0]
    if end <= start:
        return 0.0
    idle, running, prev = 0, 0, start
    for ts, d in edges:
        if running < slots:
            idle += ts - prev
        running += d
        prev = ts
    return idle / (end - start)


def _sum(tasks: List[Task], name: str) -> float:
    return sum(t.acc.get(name, 0.0) for t in tasks)


def rep_metrics(tasks: List[Tuple[str, Task]], slots: int,
                extract_phases: tuple, sink_phases: tuple) -> Dict[str, float]:
    """Spark-side numbers for the (phase, task) pairs of one measured
    repetition. extract_phases: phases that run the extraction stage;
    sink_phases: phases whose writes are the documents sink."""
    ext = [t for ph, t in tasks if ph in extract_phases]
    py = [t for t in ext if t.python]
    sink = [t for ph, t in tasks if ph in sink_phases]
    durs = sorted((t.finish_ms - t.launch_ms) / 1000 for t in py)
    by_stage: Dict[int, List[Task]] = defaultdict(list)
    for t in py:
        by_stage[t.stage].append(t)
    walls = {s: max(t.finish_ms for t in ts) - min(t.launch_ms for t in ts)
             for s, ts in by_stage.items()}
    total_wall = sum(walls.values())
    tail = (sum(idle_slot_share(ts, slots) * walls[s]
                for s, ts in by_stage.items()) / total_wall
            if total_wall else 0.0)
    mb = 1 << 20
    return {
        "sources.scan_s": _sum(ext, "scan time") / 1000,
        # Spark's input bytesRead undercounts local parquet (kilobytes
        # for a 10 MB scan); rows read are exact and show repeated scans
        "sources.rows_read": _sum(ext, "internal.metrics.input.recordsRead"),
        "extract.shuffle_write_mb":
            _sum(ext, "internal.metrics.shuffle.write.bytesWritten") / mb,
        "extract.shuffle_fetch_wait_s":
            _sum(ext, "internal.metrics.shuffle.read.fetchWaitTime") / 1000,
        "extract.task_p50_s": statistics.median(durs) if durs else 0.0,
        "extract.task_max_s": durs[-1] if durs else 0.0,
        "extract.tail_share": tail,
        "extract.heavy_tier_docs": sum(t.heavy_rows for t in ext),
        "extract.py_start_s": _sum(py, "time to start Python workers") / 1000,
        "extract.py_run_s": _sum(py, "time to run Python workers") / 1000,
        "extract.to_py_mb": _sum(py, "data sent to Python workers") / mb,
        "extract.from_py_mb": _sum(py, "data returned from Python workers") / mb,
        "extract.gc_s": _sum(ext, "internal.metrics.jvmGCTime") / 1000,
        "sink.write_s": _sum(sink, "task commit time") / 1000,
    }


def per_rep(event_log_dir: str, slots: int,
            classify: Callable[[str], Optional[Tuple[str, str]]],
            extract_phases: tuple, sink_phases: tuple,
            ) -> Dict[str, float]:
    """Median over measured repetitions of `rep_metrics`; `classify`
    maps a job group to (rep, phase), or None for set-up jobs."""
    reps: Dict[str, List[Tuple[str, Task]]] = defaultdict(list)
    for t in read_tasks(event_log_dir):
        tag = classify(t.group)
        if tag is not None:
            reps[tag[0]].append((tag[1], t))
    rows = [rep_metrics(ts, slots, extract_phases, sink_phases)
            for ts in reps.values()]
    if not rows:
        raise RuntimeError("no measured jobs in the event log")
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
