"""Scaling legs of a traced ``replay`` run.

Each leg applies batches ``0..SCALE_BATCHES`` of the replay feed in a
fresh process pinned to ``CPUS`` CPUs before its JVM starts, with the
benchmark's session settings and tracing off. As in a replay run, batch
0 and the untimed warm-up lookups after it pay the first-use costs; the
legs make no lookups between batches. The traced run makes two legs, one
CPU and all cores, one after the other:

* scaling efficiency is ``eps(cores) / (cores * eps(1 CPU))`` over
  batches ``1..SCALE_BATCHES`` (the paper's N -> 4N rule, here 1 -> cores);
* the all-cores leg is also the untraced reference for the tracing
  overhead of the same batches.

    python3 scaling.py CPUS SEED SECONDS WORK_DIR   # prints one JSON line
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

SCALE_BATCHES = 2


def leg_main(argv: list[str]) -> int:
    cpus, seed, seconds, work = int(argv[0]), int(argv[1]), int(argv[2]), argv[3]
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:cpus])
    import oracle
    import run
    import workloads

    sys.path.insert(0, run.ROOT)
    bench = run.Bench("replay", seed, seconds, traced=False, work=work)
    try:
        d, tables = bench.feed(workloads.REPLAY)
        bench.start_spark()
        tailer = bench.tailer(d, "scale", workloads.COMPACT_FILES)
        walls = []
        for b in range(SCALE_BATCHES + 1):
            os.sync()  # as between the batches of a replay run
            ok, _, secs = bench.ops.call(f"scale batch {b}", tailer.replay_batches, start=b, end=b)
            if not ok:
                return 1
            walls.append(secs)
            if b == 0:
                first = oracle.events_frame(tables[:1])
                workloads.Reads(bench, workloads.Result(), first).lookups(
                    tailer.table, oracle.lww_frame(first), 0, warm=workloads.LOOKUP_WARM)
        if bench.ops.failed or not bench.checks_ok:
            return 1
    finally:
        bench.close()
    events = [t.num_rows for t in tables[: SCALE_BATCHES + 1]]
    print(json.dumps({"walls": walls, "events": events}))
    return 0


def leg(bench, cpus: int) -> tuple[list[float], list[int]]:
    """Walls and events of batches ``1..SCALE_BATCHES`` on ``cpus`` CPUs."""
    work = os.path.join(bench.work, f"leg-{cpus}")
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), str(cpus), str(bench.seed),
         str(bench.seconds), work],
        capture_output=True, text=True, timeout=120,
    )
    if p.returncode != 0:
        raise RuntimeError(f"{cpus}-CPU leg failed ({p.returncode}):\n{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    return out["walls"][1:], out["events"][1:]


def legs(bench) -> tuple[float, list[float]]:
    """Scaling efficiency, and the all-cores leg's batch walls."""
    w1, e1 = leg(bench, 1)
    wn, en = leg(bench, bench.nproc)
    eff = (sum(en) / sum(wn)) / (bench.nproc * sum(e1) / sum(w1))
    return eff, wn


if __name__ == "__main__":
    sys.exit(leg_main(sys.argv[1:]))
