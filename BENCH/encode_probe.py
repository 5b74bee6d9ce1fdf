"""Encode-kernel scaling probe (no Spark): pins the pyramid encode stage's
8->32 behavior on either the kernel or the host.

Generates a pyramid-shaped sorted input (counts per tile, fids, px, py,
lang tags) sized like one sf0.1 encode task's Arrow batch, then encodes it
K times in parallel across P worker processes, timing a COLD pass (fresh
process memory — every buffer first-touch faults) and a WARM pass (same
workers, arenas retained). If WARM scales with P while COLD does not, the
regression is the sandbox VM's host-serialized first-touch page faults,
not the kernel.

Usage: python BENCH/encode_probe.py [rows_per_task] [tasks]
Prints one JSON line per (P, pass).
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 140_000
TASKS = int(sys.argv[2]) if len(sys.argv) > 2 else 64


def _make_input(seed: int):
    rng = np.random.default_rng(seed)
    n = ROWS
    # ~64 features per tile on average, like mid-pyramid zoom levels
    n_tiles = max(1, n // 64)
    counts = rng.multinomial(n, np.ones(n_tiles) / n_tiles)
    counts = counts[counts > 0]
    fids = np.arange(n, dtype=np.int64)
    px = rng.integers(0, 4096, n).astype(np.float64)
    py = rng.integers(0, 4096, n).astype(np.float64)
    langs = np.array(["en", "de", "fr", "zh"], dtype=object)[
        rng.integers(0, 4, n)
    ]
    return counts, fids, px, py, langs


def _encode_once(seed: int) -> int:
    from engine.mvtcodec import fastpoints
    from engine.mvtcodec.geomstream import quantize

    counts, fids, px, py, langs = _make_input(seed)
    buf, starts, total = fastpoints.encode_point_tiles_sorted_raw(
        counts, fids, quantize(px), quantize(py),
        {"lang": ("string", langs)}, "pages", 4096,
    )
    return int(total.sum())


def _worker(args):
    seed, _pass = args
    t0 = time.perf_counter()
    _encode_once(seed)
    return time.perf_counter() - t0


def main():
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    for procs in (2, 8, 32):
        ctx = mp.get_context("spawn")  # fresh processes: no COW sharing
        with ctx.Pool(procs) as pool:
            t0 = time.perf_counter()
            pool.map(_worker, [(s, 0) for s in range(TASKS)])
            cold = time.perf_counter() - t0
            t0 = time.perf_counter()
            pool.map(_worker, [(s, 1) for s in range(TASKS)])
            warm = time.perf_counter() - t0
        print(json.dumps({
            "procs": procs, "tasks": TASKS, "rows_per_task": ROWS,
            "cold_s": round(cold, 3), "warm_s": round(warm, 3),
        }), flush=True)


if __name__ == "__main__":
    main()
