"""Record the per-layer baseline: for each workload, one untraced and one
traced run with the same seed, written to ``perfbench/baseline/<workload>.json``
with the tracing overhead (traced over untraced op_p50_s).

    python3 perfbench/capture.py [--seed 1] [--seconds 6] [workload ...]

Run from the checkout root; the runs are sequential, never concurrent.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("batch_etl", "stream_ingest", "corpus_curation")


def run_once(workload: str, seed: int, seconds: float, trace: int, root: str = ".") -> dict:
    """Run this benchmark's run.py against the engine checkout in `root`
    and return its run record and result."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=root, check=True, capture_output=True, text=True,
    ).stdout.splitlines()
    return {"record": json.loads(out[-2]), "result": json.loads(out[-1])}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=6)
    p.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = p.parse_args(argv)
    os.makedirs(os.path.join(HERE, "baseline"), exist_ok=True)
    for w in args.workloads:
        plain = run_once(w, args.seed, args.seconds, 0)
        traced = run_once(w, args.seed, args.seconds, 1)
        p50 = plain["record"]["end_to_end"]["op_p50_s"]
        p50_traced = traced["record"]["end_to_end"]["op_p50_s"]
        doc = {
            "workload": w,
            "seed": args.seed,
            "seconds": args.seconds,
            "tracing_overhead": {
                "op_p50_s_untraced": p50,
                "op_p50_s_traced": p50_traced,
                "traced_over_untraced": p50_traced / p50,
            },
            "untraced": plain,
            "traced": traced,
        }
        with open(os.path.join(HERE, "baseline", f"{w}.json"), "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(f"{w}: op_p50_s {p50:.3f} untraced, {p50_traced:.3f} traced ({p50_traced / p50:.3f}x)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
