"""CDC benchmark: ``replay`` and ``tail`` workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload replay --seed 1 --seconds 16 --trace 0

The benchmark builds its inputs from ``--seed`` with its own generator
(``feed.py``), drives the program only through public calls
(``streaming.tailer.ChangeLogTailer``, ``sinks.snapshot_table.SnapshotTable``)
on Spark ``local[<cores>]`` and checks every result against its own
last-writer-wins oracle (``oracle.py``). The last line of standard output
is one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics of ``BENCHMARK.json``, with
``--trace 1`` the per-layer metrics of a traced run (``layers.py``).
A wrong final state or a failed operation exits with code 1; a checkout
whose program cannot be imported exits with code 2 and prints no result.

Generated feeds are cached under ``.perfbench/feeds`` in the checkout,
keyed by seed and parameters; generation is never timed. Work files go
to ``.perfbench/work`` (or ``--work``) and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import feed as feedgen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402

#: the program's default bucket fan-out, fixed here so that the environment
#: cannot change it
NUM_BUCKETS = 128

END_TO_END_UNITS = {
    "ingest_eps": "ev/s",
    "batch_p50_s": "s",
    "batch_max_s": "s",
    "fresh_p50_s": "s",
    "live_mb": "MB",
    "lookup_p50_ms": "ms",
    "scan_s": "s",
    "setup_s": "s",
}


class Ops:
    """Every operation is attempted through :meth:`call`; failures are
    counted and their tracebacks printed, never dropped."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def call(self, what: str, fn, *args, **kwargs):
        """``(ok, result, seconds)`` of one operation."""
        self.attempted += 1
        t0 = time.time()
        try:
            out = fn(*args, **kwargs)
        except Exception:
            self.failed += 1
            print(f"FAILED {what}:\n{traceback.format_exc()}", file=sys.stderr, flush=True)
            return False, None, time.time() - t0
        return True, out, time.time() - t0


class Bench:
    """One run: its paths, Spark session, tracer and operation counts."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool,
                 work: str | None = None):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.nproc = len(os.sched_getaffinity(0))
        self.home = os.path.join(ROOT, ".perfbench")
        self.work = work or os.path.join(self.home, "work")
        self.event_dir = os.path.join(self.work, "eventlog") if traced else None
        self.ops = Ops()
        self.spark = None
        self.tracer = spans.NullTracer()
        self.checks_ok = True
        self.cleanup = contextlib.ExitStack()
        self.t0 = time.time()

    def log(self, msg: str) -> None:
        """Progress line on standard error, with seconds since the start."""
        print(f"[perfbench {time.time() - self.t0:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def stop_spark(self) -> None:
        """Stop the session (this also flushes the Spark event log), then
        the JVM, and wait until it has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits at end of its stdin
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None

    def close(self) -> None:
        self.stop_spark()
        self.cleanup.close()
        shutil.rmtree(self.work, ignore_errors=True)

    # ----------------------------------------------------------- inputs

    def feed(self, spec: feedgen.FeedSpec) -> tuple[str, list]:
        """Cached feed directory for ``spec`` and this run's seed, plus
        the batches as the program will read them."""
        d = feedgen.cached_feed(spec, self.seed, os.path.join(self.home, "feeds"))
        tables = oracle.read_batches(
            [feedgen.batch_file(d, b) for b in range(spec.n_batches)]
        )
        return d, tables

    # ------------------------------------------------------------ system

    def start_spark(self):
        from ethereum_etl_airflow_spark.session import get_spark

        conf = {
            # fits a small host; the program's own default is sized for a big one
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # keep every file the JVM writes inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp "
            f"-Dderby.system.home={self.work}/derby -XX:-UsePerfData",
            "spark.sql.streaming.stateStore.maintenanceInterval": "1h",
        }
        if self.event_dir:
            os.makedirs(self.event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        tempfile.tempdir = os.path.join(self.work, "tmp")  # PySpark's launch files
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{self.nproc}]",
            shuffle_partitions=2 * self.nproc,
            extra_conf=conf,
        )
        if self.traced:
            self.tracer = spans.Tracer(self.spark.sparkContext)
            self.cleanup.enter_context(spans.instrument(self.tracer))
        return self.spark

    def tailer(self, feed_dir: str, name: str, compact_files: int):
        from ethereum_etl_airflow_spark.streaming.tailer import ChangeLogTailer

        t = ChangeLogTailer(
            self.spark,
            feed_dir,
            os.path.join(self.work, name),
            app_id=name,
            num_buckets=NUM_BUCKETS,
        )
        t.table.compact_files = compact_files
        return t

    def reader(self, table):
        """A second handle on ``table``, opened as a separate reader would."""
        from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable

        return SnapshotTable(self.spark, table.root, num_buckets=NUM_BUCKETS)

    # ------------------------------------------------------------ checks

    def check_state(self, table, expected: dict, what: str) -> None:
        """Exact final state (token arrays included) against the oracle."""
        ok, pdf, _ = self.ops.call(f"read {what}", lambda: table.read().toPandas())
        if not ok:
            self.checks_ok = False
            return
        bad = oracle.diff(expected, oracle.table_state(pdf))
        if bad:
            self.checks_ok = False
            print(f"WRONG final state of {what}:", *bad, sep="\n  ", file=sys.stderr)

    def check_lookup(self, key: str, rows: list, expected: dict) -> None:
        got = {r["doc_id"]: _row_payload(r) for r in rows}
        want = {key: expected[key]} if key in expected else {}
        bad = oracle.diff(want, got)
        if bad:
            self.checks_ok = False
            print(f"WRONG lookup of {key}:", *bad, sep="\n  ", file=sys.stderr)


def _row_payload(r) -> tuple:
    d = r.asDict()
    return oracle.norm_row(d.get("tokens"), d.get("n_tok"), d.get("source"), d.get("lang"))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["replay", "tail"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--work", help="work directory (default .perfbench/work)")
    return ap.parse_args(argv)


def untraced_batch_p50(bench) -> float:
    """``batch_p50_s`` of an untraced run of the same workload and seed,
    made in a child process after this run's session has stopped."""
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", bench.workload,
         "--seed", str(bench.seed), "--seconds", str(bench.seconds), "--trace", "0",
         "--work", os.path.join(bench.work, "untraced")],
        capture_output=True, text=True, timeout=120,
    )
    if p.returncode != 0:
        raise RuntimeError(f"untraced reference run failed ({p.returncode}):\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])["metrics"]["batch_p50_s"]["value"]


def main(argv=None) -> int:
    args = parse_args(argv)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # the same program defaults on every host
    os.environ.pop("SPARK_LOCAL_DIRS", None)  # it would move shuffle files out of the checkout
    sys.path.insert(0, ROOT)
    try:
        import ethereum_etl_airflow_spark.streaming.tailer  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    import layers
    import scaling
    import workloads

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), args.work)
    shutil.rmtree(bench.work, ignore_errors=True)
    os.makedirs(bench.work)
    summary, metrics = [], {}
    try:
        res = workloads.WORKLOADS[args.workload](bench)
        summary = res.summary
        bench.log("workload done")
        bench.stop_spark()
        bench.log("session stopped")
        if bench.traced and bench.workload == "replay":
            # the all-cores scaling leg is the untraced reference
            res.scaling_eff, ref = scaling.legs(bench)
            k = len(ref)
            res.trace_overhead = sum(res.batch_walls[:k]) / sum(ref) - 1
            bench.log("scaling legs done")
        elif bench.traced:
            res.trace_overhead = res.metrics["batch_p50_s"] / untraced_batch_p50(bench) - 1
            bench.log("untraced reference run done")
        if bench.traced:
            metrics = layers.per_layer(bench, res)
        else:
            metrics = {k: (res.metrics[k], unit) for k, unit in END_TO_END_UNITS.items()}
    except Exception:
        # the run cannot finish: report it as failed, with its traceback
        bench.ops.failed += 1
        bench.checks_ok = False
        print(f"RUN FAILED:\n{traceback.format_exc()}", file=sys.stderr, flush=True)
    finally:
        bench.close()
    for line in summary:
        print(line)
    correct = bench.checks_ok and bench.ops.failed == 0
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": max(1, bench.ops.attempted),
                "failed": bench.ops.failed,
                "metrics": {
                    k: {"value": v, "unit": unit}
                    for k, (v, unit) in metrics.items()
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
