"""Per-layer attribution for traced runs.

A traced run sets a Spark job group named after the layer before each
call it makes, records the wall-clock window of the call, and cuts the
pipeline after each layer with a ``noop`` write (an action that runs
every row of the plan and writes nothing). The uncompressed event log
then gives each layer's shuffle, spill, GC and task skew: a job belongs
to the layer of its job group, or, for jobs the program submits from its
own threads (which do not inherit the group), to the window its
submission time falls in.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import Observation
from pyspark.sql import functions as F


class Tracer:
    """Job groups, call windows and noop cuts of one traced session."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.windows: list[tuple[str, float, float]] = []
        self._n = 0

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((name, t0 * 1000.0, time.time() * 1000.0))
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def cut(self, name: str, df) -> tuple[float, int]:
        """Run df to the end with a noop write; (seconds, rows)."""
        self._n += 1
        obs = Observation(f"cut{self._n}")
        with self.layer(name):
            t0 = time.perf_counter()
            df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
                "noop"
            ).mode("overwrite").save()
            dt = time.perf_counter() - t0
        return dt, int(obs.get["rows"])


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application."""

    def __init__(self, log_dir: str):
        paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(paths) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
        self.jobs: dict[int, dict] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.sql: dict[int, dict] = {}
        with open(paths[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sql_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "submit": e["Submission Time"],
                "stages": e["Stage IDs"],
                "sql": int(sql_id) if sql_id is not None else None,
            }
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            self.tasks.setdefault(e["Stage ID"], []).append(
                {
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "shuffle": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                }
            )
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self.sql[e["executionId"]] = {
                "plan": e.get("physicalPlanDescription", ""),
                "start": e["time"],
                "end": None,
            }
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in self.sql:
                self.sql[e["executionId"]]["end"] = e["time"]

    def jobs_by_layer(self, windows: list[tuple[str, float, float]]) -> dict[str, list[int]]:
        out: dict[str, list[int]] = {}
        for jid in sorted(self.jobs):
            j = self.jobs[jid]
            layer = j["group"]
            if layer is None:
                layer = next(
                    (n for n, a, b in windows if a <= j["submit"] <= b), None
                )
            if layer is not None:
                out.setdefault(layer, []).append(jid)
        return out

    def totals(self, job_ids: list[int]) -> dict:
        """Shuffle MB, spill MB, GC s and the task skew (max over median
        task run time) of the heaviest stage these jobs ran."""
        seen: set[int] = set()
        shuffle = spill = gc = 0.0
        heaviest, skew = -1.0, 1.0
        for jid in job_ids:
            for sid in self.jobs[jid]["stages"]:
                if sid in seen or sid not in self.tasks:
                    continue
                seen.add(sid)
                ts = self.tasks[sid]
                shuffle += sum(t["shuffle"] for t in ts) / 1e6
                spill += sum(t["spill"] for t in ts) / 1e6
                gc += sum(t["gc_ms"] for t in ts) / 1000.0
                run = [t["run_ms"] for t in ts]
                if sum(run) > heaviest:
                    heaviest = sum(run)
                    med = statistics.median(run)
                    skew = max(run) / med if med > 0 else 1.0
        return {"shuffle_write_mb": shuffle, "spill_mb": spill, "gc_s": gc, "task_skew": skew}

    def sql_spans(self, job_ids: list[int], match) -> list[tuple[float, float]]:
        """(start, end) seconds of the SQL executions, among these jobs',
        whose physical plan text satisfies match (it names the paths
        read and written)."""
        ids = {self.jobs[j]["sql"] for j in job_ids} - {None}
        return [
            (s["start"] / 1000.0, s["end"] / 1000.0)
            for i, s in self.sql.items()
            if i in ids and s["end"] is not None and match(s["plan"])
        ]


def attribute(log: EventLog, windows, cuts: list[tuple[str, float, int]]) -> dict:
    """Per-layer metrics from prefix cuts: each layer's time and Spark
    totals are its cut minus the previous cut (the first cut stands
    alone); rows_out and task_skew are the cut's own."""
    by_layer = log.jobs_by_layer(windows)
    out: dict[str, float] = {}
    prev_s, prev_tot = 0.0, None
    for name, secs, rows in cuts:
        tot = log.totals(by_layer.get(name, []))
        out[f"{name}.self_s"] = secs - prev_s
        out[f"{name}.rows_out"] = rows
        for k in ("shuffle_write_mb", "spill_mb", "gc_s"):
            out[f"{name}.{k}"] = tot[k] - (prev_tot[k] if prev_tot else 0.0)
        out[f"{name}.task_skew"] = tot["task_skew"]
        prev_s, prev_tot = secs, tot
    return out
