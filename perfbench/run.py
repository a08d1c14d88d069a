#!/usr/bin/env python3
"""riko_spark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload pipe_stream --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  ``--trace 0`` measures the end-to-end
metrics.  ``--trace 1`` runs an untraced pass of half the time in a
child process, then a traced pass of the other half in this one, and
reports the per-layer metrics plus the tracing overhead (the traced
pass's headline metric against the untraced pass's).  Metric names and
units come from ``BENCHMARK.json``.  A human-readable table goes to
stdout first; the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Inputs are generated from the seed (and cached under
``perfbench/.work``) in a child process before any timing starts.
Exits non-zero without a result if the engine is missing or a run
crashes.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import common  # noqa: E402 - needs the checkout on sys.path

WORKLOADS = ("pipe_stream", "crawl_stream", "corpus_batch")
SETUP_REPS = 3
# metric whose traced/untraced ratio is the tracing overhead
HEADLINE = {"pipe_stream": "latency_p50_s", "crawl_stream": "docs_per_s",
            "corpus_batch": "docs_per_s"}


def _build_inputs(workload: str, seed: int, seconds: int) -> bool:
    """Build the inputs in a child process, so their memory never
    counts toward the measured peak RSS."""
    code = (f"import sys; sys.path.insert(0, {str(ROOT)!r}); import perfbench.{workload} as m; "
            f"m.build_inputs({seed}, {seconds})")
    return subprocess.run([sys.executable, "-c", code], timeout=170).returncode == 0


def _untraced_child(args, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, __file__, "--workload", args.workload, "--seed",
         str(args.seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, text=True, timeout=170, check=True).stdout
    lines = out.splitlines()
    print("\n".join(f"# untraced: {line}" for line in lines[:-1]))
    res = json.loads(lines[-1])
    # metrics the table prints but BENCHMARK.json does not gate (such as
    # the latencies) are read back from the table
    for line in lines[:-1]:
        parts = line.split()
        if len(parts) > 1 and not line.startswith("#") and parts[0] not in res["metrics"]:
            try:
                res["metrics"][parts[0]] = {"value": float(parts[1])}
            except ValueError:
                pass
    return res


def main() -> int:
    common.become_subreaper()
    try:
        return _main()
    finally:
        # a process started along the way (such as Spark's Python worker
        # daemon) can outlive its parent for a moment; none may outlive
        # the run
        common.reap_descendants()


def _main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "riko_spark" / "__init__.py").is_file():
        print(f"engine package riko_spark not found under {ROOT}", file=sys.stderr)
        return 2
    common.prepare_env()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    traced = bool(args.trace)
    seconds = max(1, args.seconds // 2) if traced else args.seconds

    t0 = time.time()
    if not _build_inputs(args.workload, args.seed, seconds):
        print("input generation failed", file=sys.stderr)
        return 1
    print(f"# inputs ready in {time.time() - t0:.1f} s")
    base = _untraced_child(args, seconds) if traced else None

    mod = importlib.import_module(f"perfbench.{args.workload}")
    tracer = common.Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", traced)
    log_dir = common.WORK / f"eventlog-{os.getpid()}"

    def session(warm_up):
        """Set-up: imports and ``get_spark`` once, then the workload's
        warm-up ``SETUP_REPS`` times; set-up time counts the session
        plus the median warm-up."""
        from perfbench.layers import event_log_conf

        t = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = common.start_spark(f"perfbench-{args.workload}",
                                       event_log_conf(log_dir) if traced else None)
        t_session = time.perf_counter() - t
        warm = [warm_up(spark) for _ in range(SETUP_REPS)]
        return spark, t_session + common.median(warm), warm

    steal0 = common.cpu_steal()
    try:
        res = mod.run(args.seed, seconds, traced, common.RssSampler(), tracer, session)
    except Exception:  # noqa: BLE001 - a crashed run prints no result
        traceback.print_exc()
        common.shutdown_jvm()
        return 1
    common.shutdown_jvm()
    steal = [b - a for a, b in zip(steal0, common.cpu_steal())]
    steal_frac = steal[0] / max(1, steal[1])
    res["notes"].append(f"host: CPU steal {100 * steal_frac:.1f}% of CPU time during "
                        "the run (other guests on the host slow every timing)")

    if traced:
        from perfbench.layers import event_log_layers

        layers = res["layers"]
        timed = [s for s in tracer.spans if s["name"] == "timed"]
        layers.update(event_log_layers(
            log_dir, (timed[0]["start"], timed[-1]["end"]), common.cores()))
        layers["process.peak_rss_mb"] = res["metrics"]["peak_rss_mb"]
        layers["host.cpu_steal_frac"] = steal_frac
        layers["session.get_spark_s"] = tracer.durations("session.get_spark")[0]
        if tracer.durations("plans.build_pipeline"):
            layers["plans.build_pipeline_s"] = common.median(
                tracer.durations("plans.build_pipeline"))
        h = HEADLINE[args.workload]
        ratio = res["metrics"][h] / base["metrics"][h]["value"]
        layers["tracing.overhead_frac"] = (1 / ratio if h == "docs_per_s" else ratio) - 1
        res["notes"].append(f"tracing overhead: {h} {res['metrics'][h]:.4g} traced vs "
                            f"{base['metrics'][h]['value']:.4g} untraced")
        tracer.dump(common.WORK / "traces" / f"{args.workload}-s{args.seed}-{os.getpid()}.json")
        shutil.rmtree(log_dir, ignore_errors=True)
        res["correct"] = res["correct"] and base["correct"]
        wanted, values = spec["per_layer"], layers
    else:
        wanted, values = spec["end_to_end"], res["metrics"]

    print(f"# workload {args.workload}  seed {args.seed}  seconds {seconds}"
          f"  trace {args.trace}  cores {common.cores()}")
    for note in res["notes"]:
        print(f"# {note}")
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            if not traced:
                print(f"metric {m['name']} missing", file=sys.stderr)
                return 1
            v, shown = 0.0, "n/a"
        else:
            shown = f"{v:.6g} {m['unit']}"
        if not math.isfinite(v):
            res["correct"] = False
            v = 0.0
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
        print(f"{m['name']:<44} {shown}")
    for name in sorted(set(values) - set(metrics)):
        print(f"{name:<44} {values[name]:.6g} (reported, not in BENCHMARK.json)")
    print(f"# attempted {res['attempted']}  failed {res['failed']}"
          f"  correct {res['correct']}")
    print(json.dumps({"correct": bool(res["correct"]),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
