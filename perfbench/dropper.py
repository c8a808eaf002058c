"""Open-loop feed generator for the ``tail`` workload, run as its own process.

Drops pre-generated batch files into a feed directory on a fixed
schedule, whatever the system under test is doing: batch ``k`` is due at
``start + (k - first) / rate``. Each drop is a hard link, so the file
appears complete or not at all. The due and actual drop times are
written to a JSON file at the end.

    python3 dropper.py SRC_FEED DST_FEED FIRST LAST RATE START OUT_JSON
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(argv: list[str]) -> int:
    src, dst, first, last, rate, start, out = argv
    first, last, rate, start = int(first), int(last), float(rate), float(start)
    record = []
    for k in range(first, last + 1):
        due = start + (k - first) / rate
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"batch-{k:06d}"
        os.makedirs(os.path.join(dst, name))
        os.link(os.path.join(src, name, "part-0.parquet"), os.path.join(dst, name, "part-0.parquet"))
        record.append({"batch": k, "due": due, "dropped": time.time()})
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
