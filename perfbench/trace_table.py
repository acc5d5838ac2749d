"""One untraced and one traced run per workload, as a markdown table.

    python3 perfbench/trace_table.py --seed 1 --seconds 10 [--workloads raw_files,...]

Prints, per workload: the per-layer metrics of the traced run, the span
self times per timed operation, and the tracing overhead (the traced
run's end-to-end metrics minus the untraced run's, same seed).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """End-to-end metrics of an untraced run (its last stdout line), or the
    record a traced run writes to .perfbench/trace-<workload>-<seed>.json."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True).stdout
    if not trace:
        metrics = json.loads(out.strip().splitlines()[-1])["metrics"]
        return {"end_to_end": {k: m["value"] for k, m in metrics.items()}}
    with open(os.path.join(ROOT, ".perfbench", f"trace-{workload}-{seed}.json")) as f:
        return json.load(f)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--workloads", default="raw_files,curation_batch")
    args = ap.parse_args()
    names = args.workloads.split(",")
    runs = {w: [one_run(w, args.seed, args.seconds, t) for t in (0, 1)] for w in names}

    head = "| metric | unit | " + " | ".join(names) + " |"
    rule = "|---|---|" + "---|" * len(names)
    print(f"Per-layer metrics (traced run, seed {args.seed}):\n\n{head}\n{rule}")
    for name, unit in PER_LAYER:
        vals = " | ".join(f"{runs[w][1]['per_layer'][name]:.4g}" for w in names)
        print(f"| {name} | {unit} | {vals} |")

    spans = sorted({s for w in names for s in runs[w][1]["self_time_s_per_op"]})
    print(f"\nSelf time per timed operation (ms):\n\n| span | " + " | ".join(names)
          + f" |\n|---|" + "---|" * len(names))
    for s in spans:
        vals = " | ".join(f"{1000 * runs[w][1]['self_time_s_per_op'].get(s, 0.0):.1f}"
                          for w in names)
        print(f"| {s} | {vals} |")

    print(f"\nTracing overhead (traced minus untraced, seed {args.seed}):\n\n{head}\n{rule}")
    for name, unit in END_TO_END:
        vals = " | ".join(
            f"{runs[w][1]['end_to_end'][name] - runs[w][0]['end_to_end'][name]:+.4g}"
            for w in names)
        print(f"| {name} | {unit} | {vals} |")


if __name__ == "__main__":
    main()
