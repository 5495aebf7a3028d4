"""Per-layer measurement for traced runs.

`Tracer` wraps the public calls a run goes through (the CLI commands, the
manifest write, the upload/report plan functions and every parquet write)
in nested spans, so each span has a total and a self time. `store_layer`
reads the spans the fake Swift endpoint wrote from inside the Spark tasks
and turns them into the task, PUT and auth figures. `QueryProbe` counts
the jobs, stages and tasks of one query through the StatusTracker.

Nothing here runs unless the tracer is switched on, so untraced runs pay
only the cost of a flag check per wrapped call.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name=None) -> None:
        """Replace owner.attr by a wrapper that records one span per call.
        `name` may be a function of the call's arguments."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.on:
                return fn(*args, **kwargs)
            label = name(*args, **kwargs) if callable(name) else (name or attr)
            with tracer.span(label):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from swiftbulkuploader_spark import cli
        from swiftbulkuploader_spark.plans import upload as plan
        from swiftbulkuploader_spark.sources import ingest

        for cmd in ("cmd_prepare", "cmd_recrawl", "cmd_upload", "cmd_status"):
            self.wrap(cli, cmd, cmd[4:])
        self.wrap(ingest, "write_manifest", "manifest_write")
        for fn in ("pending_work", "upload", "upload_segmented", "report", "apply_attempts"):
            self.wrap(plan, fn, f"plan.{fn}")
        self.wrap(DataFrameWriter, "parquet",
                  lambda w, path, *a, **k: f"write:{os.path.basename(os.path.normpath(path))}")

    def take(self) -> list[dict]:
        spans, self.spans = self.spans, []
        return spans


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.rec = tracer, {"name": name, "children": 0.0}

    def __enter__(self):
        stack = self.tracer._stack
        self.rec["depth"] = len(stack)
        stack.append(self.rec)
        self.rec["t0"] = time.time()
        return self.rec

    def __exit__(self, *exc):
        rec = self.rec
        rec["t1"] = time.time()
        rec["s"] = rec["t1"] - rec["t0"]
        stack = self.tracer._stack
        stack.pop()
        if stack:
            stack[-1]["children"] += rec["s"]
        rec["self_s"] = rec["s"] - rec.pop("children")
        self.tracer.spans.append(rec)
        return False


def span_table(spans: list[dict]) -> dict[str, dict]:
    """name -> {n, s, self_s} summed over the spans of one rep."""
    out: dict[str, dict] = {}
    for sp in spans:
        row = out.setdefault(sp["name"], {"n": 0, "s": 0.0, "self_s": 0.0})
        row["n"] += 1
        row["s"] += sp["s"]
        row["self_s"] += sp["self_s"]
    return out


def first(spans: list[dict], name: str) -> dict | None:
    return next((sp for sp in spans if sp["name"] == name), None)


def read_store_spans(trace_dir: str) -> list[dict]:
    recs = []
    for path in glob.glob(os.path.join(trace_dir, "spans-*.jsonl")):
        with open(path) as fh:
            recs.extend(json.loads(line) for line in fh if line.strip())
    return recs


def _quantile(values: list[float], q: float) -> float:
    if not values:
        return 0.0
    vals = sorted(values)
    return vals[min(len(vals) - 1, int(q * len(vals)))]


def store_layer(recs: list[dict]) -> dict[str, float]:
    """Task, PUT and auth figures from the fake endpoint's spans.

    A task is one (process, put_container) pair: the store is built once
    per Spark task. An auth belongs to the task whose put_container follows
    it in the same process, or else to the task it refreshes a token for."""
    by_pid: dict[int, list[dict]] = defaultdict(list)
    for r in recs:
        by_pid[r["pid"]].append(r)
    tasks: dict[tuple, dict] = {}
    for pid, rs in by_pid.items():
        rs.sort(key=lambda r: r["t0"])
        for i, r in enumerate(rs):
            task = r["task"]
            if r["k"] == "auth" and i + 1 < len(rs) and rs[i + 1]["k"] == "container":
                task = rs[i + 1]["task"]
            t = tasks.setdefault((pid, task), {"t0": r["t0"], "t1": r["t1"], "auth": 0.0,
                                               "put": 0.0, "puts": 0})
            t["t0"], t["t1"] = min(t["t0"], r["t0"]), max(t["t1"], r["t1"])
            if r["k"] == "auth":
                t["auth"] += r["t1"] - r["t0"]
            elif r["k"] == "put":
                t["put"] += r["t1"] - r["t0"]
                t["puts"] += 1
    tasks = {k: t for k, t in tasks.items() if t["puts"]}
    puts = [r for r in recs if r["k"] == "put" and r["status"] != 401]
    auths = [r for r in recs if r["k"] == "auth"]
    put_ms = [1000.0 * (r["t1"] - r["t0"]) for r in puts]
    window = (max(t["t1"] for t in tasks.values()) - min(t["t0"] for t in tasks.values())
              if tasks else 0.0)
    spans = sorted(t["t1"] - t["t0"] for t in tasks.values())
    busy = sum(put_ms) / 1000.0
    return {
        "upload.tasks": len(tasks),
        "upload.task_window_s": window,
        "upload.task_skew": spans[-1] / statistics.median(spans) if spans else 0.0,
        "upload.overhead_s": sum(t["t1"] - t["t0"] - t["auth"] - t["put"] for t in tasks.values()),
        "store.puts": len(puts),
        "store.bytes": sum(r["bytes"] for r in puts if r["status"] == 201),
        "store.put_busy_s": busy,
        "store.put_p50_ms": _quantile(put_ms, 0.5),
        "store.put_p99_ms": _quantile(put_ms, 0.99),
        "store.inflight_mean": busy / window if window else 0.0,
        "store.auths": len(auths),
        "store.auth_s": sum(r["t1"] - r["t0"] for r in auths),
        "segments.parts": sum(1 for r in puts if "/part-" in r["key"]),
    }


class QueryProbe:
    """Jobs, stages and tasks of everything run under one job group.

    Stages and tasks are those that ran. A job also lists the stages it
    skipped because their shuffle output already existed, and how many of
    those it lists changes from run to run under adaptive execution."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def counts(self, group: str) -> dict[str, int]:
        # the tracker reads what the listener bus has delivered so far; wait
        # for the rest, or the last job's stages can still be missing
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30000)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            stage_ids.update(info.stageIds if info else ())
        done = [info.numCompletedTasks for info in map(tracker.getStageInfo, stage_ids)
                if info and info.numCompletedTasks]
        return {"query.jobs": len(jobs), "query.stages": len(done), "query.tasks": sum(done)}


def session_layer(spark) -> dict[str, float]:
    """Persisted RDDs now, and the driver JVM's peak resident memory."""
    sc = spark.sparkContext
    infos = sc._jsc.sc().getRDDStorageInfo()
    cached_mb = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
    peak_kb = 0
    try:
        with open(f"/proc/{sc._gateway.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    peak_kb = int(line.split()[1])
    except (AttributeError, OSError):
        pass
    return {
        "session.cached_rdds": len(sc._jsc.getPersistentRDDs()),
        "session.cached_mb": cached_mb,
        "session.jvm_peak_rss_mb": peak_kb / 1024.0,
    }
