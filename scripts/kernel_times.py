#!/usr/bin/env python3
"""In-process timings of the per-graph metric kernels.

Builds 800 random-walk series of 150-200 points (numpy `default_rng(1201)`),
their horizontal and natural visibility graphs with one
`kernels.visibility_graph_segmented` call per kind, split per series, then
runs each metric kernel over every graph of a kind and prints the min and
max wall time of RUNS repetitions, in seconds, one line per
(kernel, kind).

Usage, from any directory (pin one core for steadier numbers):
    taskset -c 0 python scripts/kernel_times.py [--root CHECKOUT]
        [--only betweenness,path_metrics]

`--root` times the kernels of another checkout (default: this one), so two
checkouts can be timed one after the other with the same script.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KERNELS = {  # name -> kernels attribute, run with its default parameters
    "summary": "graph_summary_kernel",
    "clustering": "graph_clustering_kernel",
    "mixing": "graph_mixing_kernel",
    "path_metrics": "graph_path_metrics_kernel",
    "kcore": "graph_kcore_kernel",
    "lpa": "graph_lpa_kernel",
    "modularity": "graph_modularity_kernel",
    "betweenness": "graph_betweenness_kernel",
    "pagerank": "graph_pagerank_kernel",
    "wl": "graph_wl_kernel",
    "link_prediction": "link_prediction_kernel",
}
KINDS = {"hvg": "horizontal", "nvg": "natural"}
RUNS = 3


def series(n_series: int = 800, seed: int = 1201):
    """(flat values, lengths) of the random-walk series."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(150, 201, size=n_series)
    return np.cumsum(rng.standard_normal(int(lengths.sum()))), lengths


def graphs(kernels, kind: str, values, lengths) -> list[np.ndarray]:
    """One (m, 2) edge array per series."""
    seg, edges, _w = kernels.visibility_graph_segmented(
        values, lengths, kind=kind)
    cut = np.searchsorted(seg, np.arange(1, len(lengths)))
    return np.split(edges, cut)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--root", default=ROOT,
                    help="checkout whose ts2g2_spark is timed")
    ap.add_argument("--only", default="",
                    help="comma-separated kernel names (default: all)")
    args = ap.parse_args()
    sys.path.insert(0, os.path.abspath(args.root))
    from ts2g2_spark.operators import kernels

    names = args.only.split(",") if args.only else list(KERNELS)
    values, lengths = series()
    print(f"# {kernels.__file__}, {len(lengths)} series, "
          f"min/max of {RUNS} runs, seconds")
    for label, kind in KINDS.items():
        gs = graphs(kernels, kind, values, lengths)
        for name in names:
            fn = getattr(kernels, KERNELS[name])
            times = []
            for _ in range(RUNS):
                t = time.perf_counter()
                for e in gs:
                    fn(e)
                times.append(time.perf_counter() - t)
            print(f"{name:16s} {label}  {min(times):8.3f}  {max(times):8.3f}",
                  flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
