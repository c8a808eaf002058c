"""Per-layer metrics of a traced run, from spans, the Spark event log and
the streaming listener. A layer a workload does not use reads 0.

A "batch" is one apply of a change batch: a ``tailer.batch`` span on
``replay``, one trigger with input rows on ``tail``.
Per-batch figures are medians over the run's batches unless noted.
"""

from __future__ import annotations

import os
import statistics

import spans
from stats import median_or_zero

UNITS = {
    "tailer.batch_s": "s",
    "tailer.self_s": "s",
    "tailer.trigger_ms": "ms",
    "tailer.add_batch_ms": "ms",
    "tailer.offsets_ms": "ms",
    "tailer.checkpoint_ms": "ms",
    "tailer.files_per_trigger": "count",
    "cdc.apply_s": "s",
    "cdc.self_s": "s",
    "cdc.compacted_buckets": "count",
    "cdc.rows_out_per_event": "ratio",
    "table.commit_s": "s",
    "table.commit_spark_s": "s",
    "table.commit_driver_s": "s",
    "table.manifest_reads": "count",
    "table.manifest_read_s": "s",
    "table.manifest_kb": "KB",
    "table.files_written": "count",
    "table.mb_written": "MB",
    "table.compact_mb_rewritten": "MB",
    "table.live_files": "count",
    "table.lookup_plan_ms": "ms",
    "table.lookup_files": "count",
    "table.lookup_exec_ms": "ms",
    "table.scan_files": "count",
    "table.scan_rows_in_per_out": "ratio",
    "spark.jobs_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "spark.map_stage_s": "s",
    "spark.reduce_stage_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.task_skew": "ratio",
    "spark.cpu_util": "ratio",
    "spark.gc_s": "s",
    "bench.unattributed_frac": "ratio",
    "bench.trace_overhead_frac": "ratio",
    "bench.gen_late_ms": "ms",
    "bench.scaling_eff": "ratio",
}


class Batch:
    """One applied batch: its wall, its spans and its Spark jobs."""

    def __init__(self, wall: float, ids: set[int], jobs: list[dict]):
        self.wall = wall
        self.ids = ids
        self.jobs = jobs


def per_layer(bench, res) -> dict[str, tuple[float, str]]:
    sp = bench.tracer.spans
    by_id = {s["id"]: s for s in sp}
    selft = spans.self_times(sp)
    jobs = list(spans.read_event_log(bench.event_dir).values())
    for j in jobs:
        j["t1"] = j["t1"] or j["t0"]

    def jobs_under(ids: set[int]) -> list[dict]:
        return [j for j in jobs if j["span"] in ids]

    def kids(parent: int) -> list[dict]:
        return [s for s in sp if s["parent"] == parent]

    # ------------------------------------------------------------ batches
    batches: list[Batch] = []
    unattributed: list[float] = []
    if bench.workload == "tail":
        applies = [s for s in sp if s["name"] == "cdc.apply" and s["parent"] is None]
        for p in res.progress:
            ms = p["ms"]
            end = spans.trigger_end(p)
            start = end - ms["triggerExecution"] / 1000
            mine = [a for a in applies if start <= a["t0"] <= end]
            ids = set().union(*(spans.descendants(sp, a["id"]) for a in mine)) if mine else set()
            bj = jobs_under(ids) + [j for j in jobs if j["stream_batch"] == p["batch"] and j["span"] is None]
            batches.append(Batch(ms.get("addBatch", 0) / 1000, ids, bj))
            parts = sum(ms.get(k, 0) for k in ("latestOffset", "getBatch", "queryPlanning",
                                                "addBatch", "walCommit", "commitOffsets"))
            unattributed.append(1 - parts / ms["triggerExecution"])
    else:
        for bid in res.batch_spans:
            s = by_id[bid]
            ids = spans.descendants(sp, bid)
            batches.append(Batch(s["t1"] - s["t0"], ids, jobs_under(ids)))
            cover = spans.covered(s["t0"], s["t1"], [(k["t0"], k["t1"]) for k in kids(bid)])
            unattributed.append(1 - cover / (s["t1"] - s["t0"]))

    def per_batch(fn) -> float:
        return median_or_zero([fn(b) for b in batches])

    def named(b: Batch, name: str) -> list[dict]:
        return [by_id[i] for i in b.ids if by_id[i]["name"] == name]

    def dur(ss: list[dict]) -> float:
        return sum(s["t1"] - s["t0"] for s in ss)

    def apply_span(b: Batch) -> list[dict]:
        return named(b, "cdc.apply")

    def commit_spark(b: Batch) -> float:
        total = 0.0
        for c in named(b, "table.commit"):
            cj = jobs_under(spans.descendants(sp, c["id"]))
            total += spans.covered(c["t0"], c["t1"], [(j["t0"], j["t1"]) for j in cj])
        return total

    def stages(b: Batch) -> list[dict]:
        return [st for j in b.jobs for st in j["stages"].values()]

    def skew(b: Batch) -> float:
        write = [st for st in stages(b) if st["shuffle_read"] and not st["shuffle_write"]]
        if not write:
            return 0.0
        st = max(write, key=lambda s: s["t1"] - s["t0"])
        med = statistics.median(st["run_ms"]) if st["run_ms"] else 0
        return max(st["run_ms"]) / med if med else 0.0

    applies_all = [s for b in batches for s in apply_span(b)]
    events_in = sum(s.get("events_in", 0) for s in applies_all)
    rows_out = sum(s.get("rows_out", 0) for s in applies_all)
    commits = [c for b in batches for c in named(b, "table.commit")]

    # ------------------------------------------------------------ reads
    def child(parent: int, name: str) -> list[dict]:
        return [by_id[i] for i in spans.descendants(sp, parent) if by_id[i]["name"] == name]

    lookups = [i for i in res.lookup_spans if i is not None]
    scans = [by_id[i] for i in res.scan_spans if i is not None]
    scan_in = [
        sum(st["records_in"] for j in jobs_under(spans.descendants(sp, s["id"])) for st in j["stages"].values())
        for s in scans
    ]

    prog = res.progress
    m = {
        "tailer.batch_s": per_batch(lambda b: b.wall),
        "tailer.self_s": per_batch(lambda b: b.wall - dur(apply_span(b))),
        "tailer.trigger_ms": median_or_zero([p["ms"]["triggerExecution"] for p in prog]),
        "tailer.add_batch_ms": median_or_zero([p["ms"].get("addBatch", 0) for p in prog]),
        "tailer.offsets_ms": median_or_zero(
            [p["ms"].get("latestOffset", 0) + p["ms"].get("getBatch", 0) for p in prog]),
        "tailer.checkpoint_ms": median_or_zero(
            [p["ms"].get("walCommit", 0) + p["ms"].get("commitOffsets", 0) for p in prog]),
        "tailer.files_per_trigger": median_or_zero(res.files_per_trigger),
        "cdc.apply_s": per_batch(lambda b: dur(apply_span(b))),
        "cdc.self_s": per_batch(lambda b: sum(selft[s["id"]] for s in apply_span(b))),
        "cdc.compacted_buckets": (
            sum(s.get("compacted_buckets", 0) for s in applies_all) / len(batches) if batches else 0.0),
        "cdc.rows_out_per_event": rows_out / events_in if events_in else 0.0,
        "table.commit_s": per_batch(lambda b: dur(named(b, "table.commit"))),
        "table.commit_spark_s": per_batch(commit_spark),
        "table.commit_driver_s": per_batch(lambda b: dur(named(b, "table.commit")) - commit_spark(b)),
        "table.manifest_reads": per_batch(lambda b: len(named(b, "table.snapshot"))),
        "table.manifest_read_s": per_batch(lambda b: dur(named(b, "table.snapshot"))),
        "table.manifest_kb": res.manifest_kb,
        "table.files_written": median_or_zero([c.get("files", 0) for c in commits]),
        "table.mb_written": median_or_zero([c.get("bytes", 0) / 1e6 for c in commits]),
        "table.compact_mb_rewritten": sum(c.get("compact_bytes", 0) for c in commits) / 1e6,
        "table.live_files": res.live_files,
        "table.lookup_plan_ms": 1000 * median_or_zero([dur(child(i, "table.plan_lookup")) for i in lookups]),
        "table.lookup_files": median_or_zero(
            [sum(s.get("files", 0) for s in child(i, "table.plan_lookup")) for i in lookups]),
        "table.lookup_exec_ms": 1000 * median_or_zero([dur(child(i, "table.lookup_exec")) for i in lookups]),
        "table.scan_files": median_or_zero([s.get("files", 0) for s in scans]),
        "table.scan_rows_in_per_out": (
            median_or_zero(scan_in) / res.live_docs if res.live_docs else 0.0),
        "spark.jobs_per_batch": per_batch(lambda b: len(b.jobs)),
        "spark.tasks_per_batch": per_batch(lambda b: sum(st["tasks"] for st in stages(b))),
        "spark.map_stage_s": per_batch(lambda b: sum(
            st["t1"] - st["t0"] for st in stages(b) if st["shuffle_write"])),
        "spark.reduce_stage_s": per_batch(lambda b: sum(
            st["t1"] - st["t0"] for st in stages(b) if st["shuffle_read"] and not st["shuffle_write"])),
        "spark.shuffle_write_mb": per_batch(lambda b: sum(st["shuffle_write"] for st in stages(b)) / 1e6),
        "spark.shuffle_read_mb": per_batch(lambda b: sum(st["shuffle_read"] for st in stages(b)) / 1e6),
        "spark.task_skew": per_batch(skew),
        "spark.cpu_util": per_batch(
            lambda b: sum(st["cpu_s"] for st in stages(b)) / (b.wall * bench.nproc) if b.wall else 0.0),
        "spark.gc_s": per_batch(lambda b: sum(st["gc_s"] for st in stages(b))),
        "bench.unattributed_frac": median_or_zero(unattributed),
        "bench.trace_overhead_frac": res.trace_overhead,
        "bench.gen_late_ms": res.gen_late_ms,
        "bench.scaling_eff": res.scaling_eff,
    }
    bench.tracer.dump(os.path.join(bench.home, f"spans-{bench.workload}.json"))
    return {k: (float(v), UNITS[k]) for k, v in m.items()}
