"""Benchmark-side tracing: spans around calls into the program's layers.

Spans are kept in memory (name, start, end, parent) and written out when
the run ends. In a traced run the benchmark also

* wraps a few public entry points of the program's layers
  (:func:`instrument`), so calls the program makes internally get spans
  too, without any change to the program;
* tags every Spark job with the innermost open span through the job
  description, so the Spark event log's job, stage and task metrics
  attach to spans (:func:`read_event_log`).
"""

from __future__ import annotations

import contextlib
import datetime
import glob
import itertools
import json
import os
import threading
import time


class Tracer:
    """Spans per thread, nested by a per-thread stack; given a SparkContext,
    each Spark job is tagged with the innermost open span of its thread."""

    def __init__(self, spark_context=None):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = spark_context

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "t0": time.time(),
            "t1": None,
            **attrs,
        }
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        self._tag(sp["id"])
        try:
            yield sp
        finally:
            sp["t1"] = time.time()
            stack.pop()
            self._tag(stack[-1]["id"] if stack else None)

    def _tag(self, span_id: int | None) -> None:
        if self._sc is not None:
            self._sc.setJobDescription(None if span_id is None else f"span:{span_id}")

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class NullTracer:
    """Tracing off: spans cost one context-manager enter and exit."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs


def covered(t0: float, t1: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[t0, t1]`` covered by the union of ``intervals``."""
    total, cur = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, t1)
        if b > a:
            total += b - a
            cur = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    return {
        s["id"]: (s["t1"] - s["t0"]) - covered(s["t0"], s["t1"], kids.get(s["id"], []))
        for s in spans
    }


def descendants(spans: list[dict], root_id: int) -> set[int]:
    """Ids of ``root_id`` and every span below it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


def instrument(tracer: Tracer) -> contextlib.ExitStack:
    """Wrap the program's layer entry points with spans; undone on close.

    * ``operators.cdc.apply_changes`` as the tailer calls it -> ``cdc.apply``
    * ``SnapshotTable.commit`` -> ``table.commit`` (files and bytes written)
    * ``SnapshotTable.snapshot`` -> ``table.snapshot`` (one manifest read)
    * ``SnapshotTable.plan_lookup`` -> ``table.plan_lookup`` (files kept)
    """
    from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable
    from ethereum_etl_airflow_spark.streaming import tailer as tailer_mod

    stack = contextlib.ExitStack()

    def patch(owner, name, value):
        old = owner.__dict__[name]
        setattr(owner, name, value)
        stack.callback(setattr, owner, name, old)

    apply_changes = tailer_mod.apply_changes

    def traced_apply(*a, **kw):
        with tracer.span("cdc.apply") as sp:
            li = apply_changes(*a, **kw)
            if li is not None:
                sp["events_in"] = li["events_in"]
                sp["rows_out"] = li["rows_out"]
                sp["compacted_buckets"] = li["compacted_buckets"]
            return li

    commit = SnapshotTable.commit

    def traced_commit(self, *a, **kw):
        with tracer.span("table.commit") as sp:
            snap = commit(self, *a, **kw)
            compacted = {str(b) for b in (snap.get("lineage") or {}).get("compacted_buckets", [])}
            files = nbytes = cbytes = 0
            for b, fs in (snap.get("added_files") or {}).items():
                for f in fs:
                    size = os.path.getsize(os.path.join(self.root, f))
                    files += 1
                    nbytes += size
                    if b in compacted:
                        cbytes += size
            sp.update(files=files, bytes=nbytes, compact_bytes=cbytes)
            return snap

    snapshot = SnapshotTable.snapshot

    def traced_snapshot(self, version=None):
        with tracer.span("table.snapshot"):
            return snapshot(self, version)

    plan_lookup = SnapshotTable.__dict__["plan_lookup"].__func__

    def traced_plan_lookup(cls, snap, doc_ids):
        with tracer.span("table.plan_lookup") as sp:
            rels = plan_lookup(cls, snap, doc_ids)
            sp["files"] = len(rels)
            return rels

    patch(tailer_mod, "apply_changes", traced_apply)
    patch(SnapshotTable, "commit", traced_commit)
    patch(SnapshotTable, "snapshot", traced_snapshot)
    patch(SnapshotTable, "plan_lookup", classmethod(traced_plan_lookup))
    return stack


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Spark event log -> job id -> job record with its stages' metrics.

    Each job record has ``span`` (the id from its ``span:<id>`` job
    description, or None), ``stream_batch`` (the micro-batch id for jobs
    of a streaming query), ``t0``/``t1`` in seconds and ``stages``: stage
    id -> {``t0``, ``t1``, ``tasks``, ``run_ms`` (per-task executor run
    times), ``cpu_s``, ``gc_s``, ``shuffle_write``, ``shuffle_read``,
    ``records_in``}. Spark 4 writes a rolling ``eventlog_v2_*`` directory;
    a plain single-file log is read too."""
    paths = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    ) or sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    desc = props.get("spark.job.description") or ""
                    batch = props.get("streaming.sql.batchId")
                    job = {
                        "span": int(desc[5:]) if desc.startswith("span:") else None,
                        "stream_batch": int(batch) if batch is not None else None,
                        "t0": ev["Submission Time"] / 1000,
                        "t1": None,
                        "stages": {},
                    }
                    jobs[ev["Job ID"]] = job
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["run_ms"].append(m.get("Executor Run Time", 0))
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st["records_in"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["t0"] = (info.get("Submission Time") or 0) / 1000
                    st["t1"] = (info.get("Completion Time") or 0) / 1000
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid is not None and jid in jobs:
            jobs[jid]["stages"][sid] = st
    return jobs


def _new_stage() -> dict:
    return {
        "t0": 0.0, "t1": 0.0, "tasks": 0, "run_ms": [], "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write": 0, "shuffle_read": 0, "records_in": 0,
    }


def trigger_end(p: dict) -> float:
    """Epoch seconds at which a trigger recorded by :func:`stream_listener` ended."""
    start = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=datetime.timezone.utc).timestamp()
    return start + p["ms"].get("triggerExecution", 0) / 1000


def stream_listener(progress: list[dict]):
    """A StreamingQueryListener appending each trigger's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append(
                {
                    "batch": p.batchId,
                    "timestamp": p.timestamp,
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()
