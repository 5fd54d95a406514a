"""Alternating parent/change pairs on one workload.

    python3 perfbench/ab.py --parent ../parent --change . --workload batch_etl --pairs 10

``--parent`` and ``--change`` are two checkouts of the engine; this
copy of the benchmark measures both, so the two sides run identical
benchmark code.
Pair k uses seed ``SEED_BASE + k``, and the side that runs first
alternates. Prints each end-to-end metric's median and quartiles per
side and how many pairs the change won (for a lower-is-better metric,
a lower value wins; ties count for neither).
"""

from __future__ import annotations

import argparse
import statistics
import sys

from capture import run_once

HIGHER_IS_BETTER = {"rows_per_s"}
SEED_BASE = 1000  # pair k runs seed SEED_BASE + k on both sides


def run_side(root: str, workload: str, seed: int, seconds: float) -> dict:
    """Run this benchmark's code against the engine in `root`."""
    result = run_once(workload, seed, seconds, 0, root)["result"]
    if not result["correct"]:
        raise RuntimeError(f"{root}: outputs failed their check at seed {seed}")
    return {k: v["value"] for k, v in result["metrics"].items()}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seconds", type=float, default=6)
    args = p.parse_args(argv)
    runs = {"parent": [], "change": []}
    for k in range(args.pairs):
        order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
        for side in order:
            root = args.parent if side == "parent" else args.change
            runs[side].append(run_side(root, args.workload, SEED_BASE + k, args.seconds))
    for metric in runs["parent"][0]:
        par = [r[metric] for r in runs["parent"]]
        chg = [r[metric] for r in runs["change"]]
        sign = 1 if metric in HIGHER_IS_BETTER else -1
        wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0)
        q = {side: statistics.quantiles(v, n=4) for side, v in (("parent", par), ("change", chg))}
        print(
            f"{metric:12s} parent {statistics.median(par):.4g} [{q['parent'][0]:.4g}, {q['parent'][2]:.4g}]"
            f"  change {statistics.median(chg):.4g} [{q['change'][0]:.4g}, {q['change'][2]:.4g}]"
            f"  change won {wins}/{args.pairs}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
