"""Open-loop load generator, run as its own single-threaded process.

Lands pre-built shards into a stream source directory on a fixed
schedule that does not slow down when the engine does: shard ``k`` is
due at ``start + k * interval``.  Each shard is hard-linked under a
hidden name (the file source skips names starting with ``.``), stamped
with the landing time and renamed into place, so the engine never sees
a partial file.  Due and landed times are written as JSON at the end.

    python3 generator.py STAGING SRC START INTERVAL LOG
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(staging: str, src: str, start: float, interval: float, log: str) -> None:
    shards = sorted(f for f in os.listdir(staging) if f.endswith(".parquet"))
    due, landed = [], []
    for k, name in enumerate(shards):
        t_due = start + k * interval
        delay = t_due - time.time()
        if delay > 0:
            time.sleep(delay)
        tmp = os.path.join(src, f".{name}.tmp")
        os.link(os.path.join(staging, name), tmp)
        now = time.time()
        os.utime(tmp, (now, now))
        os.rename(tmp, os.path.join(src, name))
        due.append(t_due)
        landed.append(time.time())
    with open(log + ".tmp", "w") as fh:
        json.dump({"due": due, "landed": landed, "shards": shards}, fh)
    os.rename(log + ".tmp", log)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], float(sys.argv[3]), float(sys.argv[4]),
         sys.argv[5])
