#!/usr/bin/env python3
"""Pin corpus_batch checksums: run the pipeline once per seed and write
``corpus_checksums.json`` next to this file.  Run from the checkout
root after a change that is meant to alter the pipeline's output:

    python3 perfbench/pin_checksums.py 0 100     # seeds 0..99
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from perfbench import common, corpus_batch  # noqa: E402


def main(lo: int, hi: int) -> None:
    common.prepare_env()
    pinned = (json.loads(corpus_batch.PINNED.read_text())
              if corpus_batch.PINNED.exists() else {})
    spark = common.start_spark("perfbench-pin")
    try:
        for seed in range(lo, hi):
            corpus_batch.build_inputs(seed, 0)
            pinned[str(seed)] = corpus_batch.checksum(spark, corpus_batch._corpus(seed))
            print(seed, pinned[str(seed)], flush=True)
    finally:
        common.shutdown_jvm()
        rows = sorted(pinned.items(), key=lambda kv: int(kv[0]))
        corpus_batch.PINNED.write_text(
            "{\n" + ",\n".join(f"{json.dumps(k)}: {json.dumps(v)}" for k, v in rows)
            + "\n}\n")


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]))
