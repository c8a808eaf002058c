"""The workloads. Each returns a :class:`Result` with every end-to-end
metric, a few summary lines, and what ``layers.py`` needs.

* ``replay``: closed loop over a backlog of large batches, one
  ``ChangeLogTailer.replay_batches(start=b, end=b)`` call per batch.
* ``tail``: open loop; ``dropper.py`` drops small batches at
  ``DROP_RATE`` per second while ``ChangeLogTailer.run_stream`` follows
  the directory.

Both read the table they build: point lookups (``SnapshotTable.lookup``)
and full folded scans (``SnapshotTable.read`` into a ``noop`` sink), each
checked against the oracle, so that the read cost of a write-side change
shows on every workload. The lookups see delta files pile up and then
compact, and are spread over the run so that a short stall of the host
moves few of them: ``replay`` makes them between batches, ``tail`` makes
them back to back while the stream runs (one closed-loop reader beside
the writer). Both make their scans at the end.
"""

from __future__ import annotations

import dataclasses
import gc
import glob
import json
import os
import subprocess
import sys
import time

import numpy as np

import feed as feedgen
import oracle
import spans
import stats
from feed import FeedSpec

#: threshold compaction folds a bucket once it would hold this many files;
#: small enough that every workload sees the compaction cycle in one run
COMPACT_FILES = 4

#: batch 0 is applied in set-up (it pays the JVM's first-use costs); the
#: measured batches 1..6 run s s c s s c (c: compaction of every bucket)
REPLAY = FeedSpec(n_batches=7, events_per_batch=10_000, n_docs=25_000, dup_tail=300, evolve_at=3)
REPLAY_PREBUILD = 1
#: tail: drops at DROP_RATE per second, a trigger every TRIGGER_S seconds.
#: Spark starts processing-time triggers on multiples of the interval; the
#: drops start just after one, so every trigger takes the same drops.
DROP_RATE = 2.5
DROP_EVENTS = 250
TRIGGER_S = 4
#: timed lookups of a ``replay`` run, an equal share after each batch
PROBE_LOOKUPS = 24
PROBE_SCANS = 2
#: the lookups of a session get faster over about the first twenty (from
#: about twice the steady time, as the JVM compiles their code paths):
#: these are made and checked but not timed
LOOKUP_WARM = 15


def tail_spec(seconds: int) -> FeedSpec:
    return FeedSpec(
        n_batches=1 + int(DROP_RATE * seconds),
        events_per_batch=DROP_EVENTS,
        n_docs=20_000,
        dup_tail=20,
    )


@dataclasses.dataclass
class Result:
    metrics: dict = dataclasses.field(default_factory=dict)
    summary: list = dataclasses.field(default_factory=list)
    batch_spans: list = dataclasses.field(default_factory=list)
    lookup_spans: list = dataclasses.field(default_factory=list)
    scan_spans: list = dataclasses.field(default_factory=list)
    progress: list = dataclasses.field(default_factory=list)
    files_per_trigger: list = dataclasses.field(default_factory=list)
    batch_walls: list = dataclasses.field(default_factory=list)
    batch_events: list = dataclasses.field(default_factory=list)
    gen_late_ms: float = 0.0
    scaling_eff: float = 0.0
    trace_overhead: float = 0.0
    live_files: int = 0
    manifest_kb: float = 0.0
    live_docs: int = 0


class Reads:
    """Point lookups and folded scans, each checked against the oracle."""

    def __init__(self, bench, res: Result, events):
        self.bench = bench
        self.res = res
        self.rng = np.random.default_rng(bench.seed + 7)
        self.seen = set(events["doc_id"])
        self.lookup_s: list[float] = []
        self.scan_s: list[float] = []

    def keys(self, live_docs, n: int) -> list[str]:
        live = sorted(live_docs)
        dead = sorted(self.seen - set(live))
        out = []
        for _ in range(n):
            r = self.rng.random()
            if r < 0.6 and live:
                out.append(live[self.rng.integers(len(live))])
            elif r < 0.8 and dead:
                out.append(dead[self.rng.integers(len(dead))])
            else:
                out.append(f"nodoc{self.rng.integers(1 << 30):010d}")
        return out

    def lookups(self, table, live, n: int, warm: int = 0) -> None:
        """``warm`` untimed then ``n`` timed lookups; ``live`` is the
        oracle's :func:`oracle.lww_frame` of what the table holds."""
        b, tr = self.bench, self.bench.tracer
        keys = self.keys(live.index, warm + n)
        expected = oracle.frame_state(live, keys)
        for i, key in enumerate(keys):
            with tr.span("table.lookup") as sp:
                ok, rows, secs = b.ops.call(f"lookup {key}", self._lookup, table, key)
            if ok:
                b.check_lookup(key, rows, expected)
                if i >= warm:
                    self.lookup_s.append(secs)
                    self.res.lookup_spans.append(sp.get("id"))

    def lookups_while(self, table, live, busy) -> None:
        """Lookups one after another while ``busy()``; the first
        ``LOOKUP_WARM`` are not timed."""
        made = 0
        while busy():
            warm = int(made < LOOKUP_WARM)
            self.lookups(table, live, 1 - warm, warm=warm)
            made += 1

    def _lookup(self, table, key):
        df = table.lookup([key])
        with self.bench.tracer.span("table.lookup_exec"):
            return df.collect()

    def scans(self, table, n: int) -> None:
        b = self.bench
        for _ in range(n):
            n_files = len(_live_files(table)) if b.traced else 0
            with b.tracer.span("table.scan", files=n_files) as sp:
                ok, _, secs = b.ops.call("scan", self._scan, table)
            if ok:
                self.scan_s.append(secs)
                self.res.scan_spans.append(sp.get("id"))

    @staticmethod
    def _scan(table):
        table.read().write.format("noop").mode("overwrite").save()


def _live_files(table) -> list[str]:
    return [os.path.join(table.root, r["path"]) for r in table.meta_files().select("path").collect()]


def _apply(bench, tailer, b: int, res: Result) -> float | None:
    """One ``replay_batches`` call for batch ``b``; its wall, or None."""
    with bench.tracer.span("tailer.batch", batch=b) as sp:
        ok, _, secs = bench.ops.call(f"apply batch {b}", tailer.replay_batches, start=b, end=b)
    if not ok:
        return None
    res.batch_spans.append(sp.get("id"))
    return secs


def _finish(bench, res: Result, table, expected: dict, events_applied: int,
            walls: list[float], fresh: list[float], reads: Reads, setup_s: float) -> Result:
    bench.log("reads done")
    bench.check_state(table, expected, bench.workload)
    bench.log("final state checked")
    files = _live_files(table)
    live_mb = sum(os.path.getsize(f) for f in files) / 1e6
    res.live_files = len(files)
    res.manifest_kb = len(json.dumps(table.snapshot())) / 1024
    res.live_docs = len(expected)
    res.metrics = {
        "ingest_eps": events_applied / sum(walls),
        "batch_p50_s": stats.median_or_zero(walls),
        "batch_max_s": max(walls),
        "fresh_p50_s": stats.median_or_zero(fresh),
        "live_mb": live_mb,
        "lookup_p50_ms": 1000 * stats.median_or_zero(reads.lookup_s),
        "scan_s": stats.median_or_zero(reads.scan_s),
        "setup_s": setup_s,
    }
    for name, vals in (("batch_s", walls), ("fresh_s", fresh),
                       ("lookup_s", reads.lookup_s), ("scan_s", reads.scan_s)):
        if vals:
            d = {k: round(v, 4) if isinstance(v, float) else v for k, v in stats.describe(vals).items()}
            res.summary.append(f"{bench.workload} {name} {json.dumps(d)}")
    return res


# ---------------------------------------------------------------- replay


def replay(bench) -> Result:
    res = Result()
    d, tables = bench.feed(REPLAY)
    events = oracle.events_frame(tables)
    ends = np.cumsum([t.num_rows for t in tables])
    live = [oracle.lww_frame(events.iloc[:e]) for e in ends]  # after each batch
    expected = oracle.lww_state(events)
    bench.log("feed and oracle ready")
    gc.freeze()  # the oracle's objects must not slow the program's Python code
    t0 = time.time()
    bench.start_spark()
    bench.log("session started")
    tailer = bench.tailer(d, "replay", COMPACT_FILES)
    for b in range(REPLAY_PREBUILD):
        bench.ops.call(f"pre-build batch {b}", tailer.replay_batches, start=b, end=b)
    setup_s = time.time() - t0
    reads = Reads(bench, res, events)
    reads.lookups(tailer.table, live[REPLAY_PREBUILD - 1], 0, warm=LOOKUP_WARM)

    per_batch = PROBE_LOOKUPS // (REPLAY.n_batches - REPLAY_PREBUILD)
    fresh = []  # time from the start of the backlog until a batch is in
    for b in range(REPLAY_PREBUILD, REPLAY.n_batches):
        os.sync()  # write-back of earlier files must not land in this batch or its reads
        secs = _apply(bench, tailer, b, res)
        if secs is not None:
            res.batch_walls.append(secs)
            res.batch_events.append(tables[b].num_rows)
            fresh.append(sum(res.batch_walls))
        os.sync()
        reads.lookups(tailer.table, live[b], per_batch)
    bench.log("replay done")
    reads.scans(tailer.table, PROBE_SCANS)
    return _finish(bench, res, tailer.table, expected, sum(res.batch_events),
                   res.batch_walls, fresh, reads, setup_s)


# ------------------------------------------------------------------ tail


def _wait(cond, timeout: float, what: str) -> None:
    end = time.time() + timeout
    while not cond():
        if time.time() > end:
            raise TimeoutError(f"timed out after {timeout:.0f} s waiting for {what}")
        time.sleep(0.05)


def _source_log(checkpoint: str) -> dict[str, int]:
    """File path -> micro-batch id, from the file source's checkpoint log."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if p.endswith(".tmp") or os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                path = e["path"].replace("file://", "")
                out[path] = min(out.get(path, e["batchId"]), e["batchId"])
    return out


def tail(bench) -> Result:
    res = Result()
    spec = tail_spec(bench.seconds)
    src, tables = bench.feed(spec)
    feed_dir = os.path.join(bench.work, "tail-feed")
    checkpoint = os.path.join(bench.work, "tail-checkpoint")
    os.makedirs(feedgen.batch_dir(feed_dir, 0))
    os.link(feedgen.batch_file(src, 0), feedgen.batch_file(feed_dir, 0))
    events = oracle.events_frame(tables)
    expected = oracle.lww_state(events)
    n0 = tables[0].num_rows
    # documents of batch 0 that no later batch touches: their state is fixed
    # from the first trigger on, so lookups made beside the stream can be checked
    stable = events.iloc[:n0][~events["doc_id"].iloc[:n0].isin(set(events["doc_id"].iloc[n0:]))]
    stable_live = oracle.lww_frame(stable)
    gc.freeze()  # the oracle's objects must not slow the program's Python code

    t0 = time.time()
    spark = bench.start_spark()
    progress: list[dict] = []
    listener = spans.stream_listener(progress)
    spark.streams.addListener(listener)
    tailer = bench.tailer(feed_dir, "tail", COMPACT_FILES)
    bench.ops.attempted += 1  # starting the stream
    query = tailer.run_stream(
        checkpoint, available_now=False, processing_time=f"{TRIGGER_S} seconds"
    )
    proc = None
    try:
        _wait(lambda: any(p["rows"] for p in progress), 120, "the first trigger")
        setup_s = time.time() - t0
        bench.log("first trigger done")

        out = os.path.join(bench.work, "drops.json")
        start = (time.time() // TRIGGER_S + 1) * TRIGGER_S + 0.25
        last = spec.n_batches - 1
        proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "dropper.py"),
             src, feed_dir, "1", str(last), str(DROP_RATE), repr(start), out]
        )
        last_file = os.path.realpath(feedgen.batch_file(feed_dir, last))
        deadline = start + bench.seconds + 90

        def busy():
            """False once every dropped batch is committed."""
            if proc.poll() not in (None, 0):
                raise RuntimeError(f"dropper exited with {proc.returncode}")
            if time.time() > deadline:
                raise TimeoutError("timed out waiting for the stream to commit every dropped batch")
            if proc.poll() is None:
                return True
            b = _source_log(checkpoint).get(last_file)
            return b is None or not any(p["batch"] == b for p in progress)

        reads = Reads(bench, res, stable)
        reads.lookups_while(bench.reader(tailer.table), stable_live, busy)
        bench.log("stream caught up")
        with open(out) as f:
            drops = json.load(f)
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
    finally:
        query.stop()
        spark.streams.removeListener(listener)
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()

    log = _source_log(checkpoint)
    first = log[os.path.realpath(feedgen.batch_file(feed_dir, 0))]
    ends = {p["batch"]: spans.trigger_end(p) for p in progress if p["rows"]}
    trig = [p for p in progress if p["rows"] and p["batch"] > first]
    walls = [p["ms"]["triggerExecution"] / 1000 for p in trig]
    fresh = [
        ends[log[os.path.realpath(feedgen.batch_file(feed_dir, d["batch"]))]] - d["due"]
        for d in drops
    ]
    per_trigger: dict[int, int] = {}
    for b in log.values():
        if b > first:
            per_trigger[b] = per_trigger.get(b, 0) + 1
    res.progress = trig
    bench.ops.attempted += len(trig)  # each trigger that applied a batch
    res.files_per_trigger = list(per_trigger.values())
    res.gen_late_ms = 1000 * max(d["dropped"] - d["due"] for d in drops)

    os.sync()  # write-back of the triggers' files must not land in the scans
    reads.scans(tailer.table, PROBE_SCANS)
    applied = sum(p["rows"] for p in trig)
    return _finish(bench, res, tailer.table, expected, applied, walls, fresh, reads, setup_s)


WORKLOADS = {"replay": replay, "tail": tail}
