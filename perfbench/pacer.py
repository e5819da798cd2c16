"""Open-loop file pacer: moves pre-rendered files into a watched
directory at fixed due times, whatever the system under test is doing.

    python3 perfbench/pacer.py SCHEDULE_JSON RESULT_JSON

SCHEDULE_JSON holds {"t0": epoch_s, "interval_s": s, "moves": [[src,
dst], ...]}: move i is due at t0 + i * interval_s and is done by an
atomic rename.  RESULT_JSON receives {"done": [epoch_s, ...]}, the
time each rename completed, so the caller can tell how late the pacer
ran.  It runs as its own process so that the driver's Python work
(foreachBatch sinks run there) cannot delay it.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(argv: list[str]) -> int:
    schedule_path, result_path = argv[1], argv[2]
    with open(schedule_path) as f:
        schedule = json.load(f)
    done = []
    for i, (src, dst) in enumerate(schedule["moves"]):
        wait = schedule["t0"] + i * schedule["interval_s"] - time.time()
        if wait > 0:
            time.sleep(wait)
        os.replace(src, dst)
        done.append(time.time())
    with open(result_path, "w") as f:
        json.dump({"done": done}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
