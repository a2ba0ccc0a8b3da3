#!/usr/bin/env python3
"""Measure latency against batch index on a fresh JVM and pick the warm-up cut.

    python3 perfbench/warmup.py [--seeds 1 2] [--batches 50] [--workloads NAME ...]

For each workload and seed this runs ``run.py --curve`` (a new process, so
a cold JVM; the set-ups run first, as in a measured run), then finds where
the curve settles. For a candidate cut k, the level that follows it is the
median of the next ``AHEAD`` batches after the window k..k+4, and the
batch-to-batch noise is half their interquartile range. The cut is the
first k whose window has a mean no higher than that level plus the noise
(a mean, so that one cold batch in the window still counts); the
workload's cut is the largest over the seeds. The level is taken close to
k rather than at the end of the curve because over a 50-batch curve (2-4
minutes) the box's own speed drifts by more than the noise, in either
direction, so the end of a curve is no reference for its start. It writes the curves and the cuts to ``warmup.json``; curves of
workloads not named in ``--workloads`` are kept. ``run.py`` reads the cut.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WINDOW, AHEAD = 5, 20


def cut(curve: list[float]) -> int:
    for k in range(len(curve) - WINDOW - AHEAD + 1):
        ahead = curve[k + WINDOW : k + WINDOW + AHEAD]
        q1, level, q3 = statistics.quantiles(ahead, n=4)
        if statistics.mean(curve[k : k + WINDOW]) <= level + (q3 - q1) / 2:
            return k
    raise ValueError("curve never settles; measure more batches")


def record(curves: dict[str, dict[str, list[float]]]) -> None:
    """Write workload -> seed -> curve, with each workload's cut, to
    warmup.json."""
    out = {
        "rule": f"first k whose batches k..k+{WINDOW - 1} have a mean no higher "
        f"than the median of the next {AHEAD} batches plus half their "
        "interquartile range; max over seeds",
        "workloads": {
            name: {
                "curves_s": cs,
                "cuts": {s: cut(c) for s, c in cs.items()},
                "cut": max(cut(c) for c in cs.values()),
            }
            for name, cs in curves.items()
        },
    }
    with open(os.path.join(HERE, "warmup.json"), "w") as f:
        json.dump(out, f, indent=1)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    from run import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--batches", type=int, default=50)
    ap.add_argument("--workloads", nargs="+", default=sorted(WORKLOADS))
    args = ap.parse_args(argv)
    path = os.path.join(HERE, "warmup.json")
    curves = {}
    if os.path.exists(path):
        with open(path) as f:
            curves = {n: w["curves_s"] for n, w in json.load(f)["workloads"].items()}
    for name in args.workloads:
        curves[name] = {}
        for seed in args.seeds:
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
                 "--seed", str(seed), "--curve", str(args.batches)],
                check=True, capture_output=True, text=True,
            )
            curves[name][str(seed)] = json.loads(res.stdout.strip().splitlines()[-1])["latency_s"]
    record(curves)
    return 0


if __name__ == "__main__":
    sys.exit(main())
