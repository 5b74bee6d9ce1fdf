"""Benchmark of the tile pipeline: one workload per run, in a fresh JVM.

    python3 perfbench/run.py --workload tile_job --seed 1 --seconds 1 --trace 0

Run from the repository root. The harness (this process, no Spark)
generates and caches the seed's inputs and DuckDB references under
perfbench/.cache, starts worker.py in a fresh process (fresh JVM,
local[nproc]), samples the summed RSS of that process tree from /proc,
checks every pass's output against the references, and prints a report
line, then one JSON result line: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of layers.py.

    python3 perfbench/run.py --steadiness --workload enrich --runs 5

runs two sets of runs of the same code and prints, per end-to-end metric,
each set's median and quartiles and whether they agree within the bound
in BENCHMARK.json. See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORKLOADS = ("tile_job", "enrich")
DRIVER_MEM = "3g"  # the engine's 16g default exceeds this 15 GB host
RUN_TIMEOUT_S = 165.0
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "out_rows_per_s": "1/s",
}


class TreeMonitor:
    """Samples the summed RSS of a process and all its descendants."""

    def __init__(self, pid: int, period: float = 0.05):
        self.pid, self.period = pid, period
        self.peak = 0
        self.seen: dict[int, str] = {}
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _tree(self) -> list[int]:
        pids, i = [self.pid], 0
        while i < len(pids):
            task_dir = f"/proc/{pids[i]}/task"
            try:
                for tid in os.listdir(task_dir):
                    with open(f"{task_dir}/{tid}/children") as f:
                        pids.extend(int(p) for p in f.read().split())
            except OSError:
                pass
            i += 1
        return pids

    def _loop(self) -> None:
        while not self._stop.is_set():
            total = 0
            for pid in self._tree():
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                    if pid not in self.seen:
                        self.seen[pid] = _start_time(pid)
                except (OSError, IndexError, ValueError):
                    pass
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()

    def alive(self) -> list[int]:
        return [p for p, st in self.seen.items() if st and _start_time(p) == st]


def _start_time(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return "" if fields[0] == "Z" else fields[19]
    except (OSError, IndexError):
        return ""


def code_stamp() -> str:
    h = hashlib.sha256()
    for base in ("engine", "perfbench"):
        for root, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs[:] = sorted(d for d in dirs if not d.startswith((".", "__")))
            for name in sorted(files):
                if name.endswith((".py", ".json")):
                    path = os.path.join(root, name)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def environment(seed: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "code_stamp": code_stamp(),
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "cores": os.cpu_count(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "driver_heap": DRIVER_MEM,
    }


def run_worker(spec: dict, trace: bool, work: str) -> tuple[dict | None, float, str]:
    """Start worker.py, wait for it and every process it started."""
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([HERE, ROOT]),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    os.makedirs(env["TMPDIR"], exist_ok=True)
    submit = [f"--driver-java-options -Djava.io.tmpdir={env['TMPDIR']}"]
    if trace:
        # Spark's own event log, by launch configuration only
        evl = os.path.join(work, "eventlog")
        os.makedirs(evl, exist_ok=True)
        submit += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{evl}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
    log_path = os.path.join(work, "worker.log")
    spec["t_spawn"] = time.monotonic()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(spec)],
            cwd=work,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        mon = TreeMonitor(proc.pid)
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        finally:
            mon.stop()
    deadline = time.monotonic() + 20
    while mon.alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in mon.alive():
        os.kill(pid, signal.SIGKILL)
    result = None
    if proc.returncode == 0 and os.path.exists(spec["result"]):
        with open(spec["result"]) as f:
            result = json.load(f)
    with open(log_path) as f:
        tail = f.read()[-4000:]
    return result, mon.peak / 1e6, tail


# ------------------------------------------------------------ checks ---

def recorded_digests() -> dict:
    with open(os.path.join(HERE, "baseline.json")) as f:
        return json.load(f)["tile_digests"]


def decode_ok(sample: list) -> bool:
    from engine.mvtcodec import tile as tilemod

    for n, hexbytes in sample:
        layers = tilemod.decode_tile(bytes.fromhex(hexbytes))
        if set(layers) != {"pages"}:
            return False
        layer = layers["pages"]
        if layer["version"] != 2 or len(layer["features"]) != n:
            return False
    return bool(sample)


def check_pass(name: str, p, inp, seed: int) -> list[str]:
    """Names of the checks this pass failed (empty when correct)."""
    bad = []
    if name == "dedup":
        if p != inp.reference("dedup"):
            bad.append("corpus_prep_vs_oracle")
    elif name in ("pyramid", "tile_job"):
        t = p["tiles"]
        want = inp.reference("tiles")["uncapped" if name == "pyramid" else "capped"]
        if t["count_digest"] != want:
            bad.append("tile_counts_vs_duckdb")
        if not decode_ok(t["sample"]):
            bad.append("decode_verify")
        rec = recorded_digests().get(str(seed))
        if rec is not None and [t["xor"], t["bytes"]] != rec:
            bad.append("tile_bytes_vs_recorded")
        if name == "tile_job" and (
            p["manifest_rows"] != t["count_digest"][0] or p["manifest_runs"] != 1
        ):
            bad.append("resume_added_tiles")
    else:
        ref = inp.reference("enrich")
        if p["pip"]["digest"] != ref["pip"]:
            bad.append("pip_vs_oracle")
        if _sorted(p["pip"]["rows"]) != _sorted(ref["pip_rows"]):
            bad.append("pip_sample_rows")
        if p["knn"]["digest"][0] != ref["knn_count"]:
            bad.append("knn_count")
        if _sorted(p["knn"]["rows"]) != _sorted(ref["knn_rows"]):
            bad.append("knn_sample_rows_vs_oracle")
    return bad


def _sorted(rows: list) -> list:
    return sorted(map(tuple, rows))


def consistent(workload: str, passes: list[dict]) -> bool:
    """Every pass of a run produced the same output digest."""
    if workload == "enrich":
        keys = {json.dumps([p["pip"]["digest"], p["knn"]["digest"]]) for p in passes}
    else:
        keys = {json.dumps([p["tiles"]["xor"], p["tiles"]["bytes"]]) for p in passes}
    return len(keys) <= 1


# -------------------------------------------------------------- main ---

def one_run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "engine", "pipeline")):
        print("perfbench: no engine/ package next to perfbench/", file=sys.stderr)
        return 3
    sys.path[:0] = [HERE, ROOT]
    import inputs

    inp = inputs.Inputs(CACHE, args.seed)
    inp.ensure()
    inp.reference("enrich" if args.workload == "enrich" else "tiles")
    work = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cache": CACHE,
        "scratch": os.path.join(work, "out"),
        "result": os.path.join(work, "result.json"),
    }
    try:
        res, peak_mb, log_tail = run_worker(spec, bool(args.trace), work)
        if res is None:
            print(log_tail, file=sys.stderr)
            print("perfbench: worker failed", file=sys.stderr)
            return 1
        timed = res["passes"]
        if not timed:
            print("\n".join(res["errors"]), file=sys.stderr)
            return 1
        # the traced run's traced, warm and compact-encode passes are
        # checked like the timed ones
        same = timed + [res[k] for k in ("traced", "warm") if res.get(k)]
        checked = [(args.workload, p) for p in same]
        checked += [(k, res[k]) for k in ("pyramid", "dedup") if res.get(k)]
        failures = {}
        for i, (name, p) in enumerate(checked):
            bad = check_pass(name, p, inp, args.seed)
            if bad:
                failures[i] = bad
        attempted = len(checked) + len(res["errors"])
        failed = len(res["errors"]) + len(failures)
        if not consistent(args.workload, same):
            failures["all"] = ["pass_outputs_differ"]
            failed = attempted
        walls = [p["wall_s"] for p in timed]
        wall = statistics.median(walls)
        rows = timed[0]["rows"]
        report = {
            "workload": args.workload,
            "env": {**environment(args.seed), **res["env"]},
            "samples": len(walls),
            "wall_s_per_pass": walls,
            "out_rows": rows,
            "peak_rss_mb": peak_mb,
            "failures": failures,
            "errors": res["errors"],
        }
        if args.workload == "tile_job":
            report["tile_digest"] = [timed[0]["tiles"]["xor"], timed[0]["tiles"]["bytes"]]
            report["resume_s"] = statistics.median(p["resume_s"] for p in timed)
            report["write_s"] = statistics.median(p["write_s"] for p in timed)
            report["disk_mb"] = statistics.median(p["disk_mb"] for p in timed)
        if "labels" in res:
            report["labels"] = res["labels"]
        if "skipped" in res:
            report["skipped"] = res["skipped"]
        if args.trace:
            import layers

            warm = res["warm"]["wall_s"] if res.get("warm") else wall
            metrics = layers.per_layer(res, os.path.join(work, "eventlog"), warm, peak_mb)
            report["warm_wall_s"] = warm
            report["traced_errors"] = [e for e in res["errors"] if e.startswith("traced")]
            print_trace_table(metrics)
        else:
            metrics = {
                "setup_s": res["setup_s"],
                "wall_s": wall,
                "out_rows_per_s": rows / wall,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
        print("report " + json.dumps(report))
        result = {
            "correct": not failures and not res["errors"],
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def print_trace_table(metrics: dict) -> None:
    import layers

    cols = list(layers.FIELDS)
    print("span".ljust(20) + "".join(c.rjust(17) for c in cols))
    for name in layers.SPANS:
        vals = [metrics[f"{name}.{c}"]["value"] for c in cols]
        print(name.ljust(20) + "".join(f"{v:17.3f}" for v in vals))
    for name in layers.EXTRA:
        print(f"{name} = {metrics[name]['value']:.4f} {metrics[name]['unit']}")


def steadiness(args) -> int:
    """Two sets of runs of the same code; per metric, medians, quartiles
    and whether the sets agree within BENCHMARK.json's bounds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    lower = {m["name"] for m in bench["end_to_end"] if m["better"] == "lower"}
    workloads = [args.workload] if args.workload else [w["name"] for w in bench["workloads"]]
    ok = True
    for wl in workloads:
        sets = []
        for _ in range(2):
            values: dict[str, list[float]] = {k: [] for k in bounds}
            for i in range(args.runs):
                cmd = [
                    sys.executable, os.path.abspath(__file__), "--workload", wl,
                    "--seed", str(args.seed + i), "--seconds", str(args.seconds),
                    "--trace", "0",
                ]
                out = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
                lines = out.stdout.strip().splitlines()
                print(f"{wl} set {len(sets) + 1} seed {args.seed + i}: {lines[-2:]}", flush=True)
                last = json.loads(lines[-1])
                ok &= out.returncode == 0 and last["correct"]
                for k in bounds:
                    values[k].append(last["metrics"][k]["value"])
            sets.append(values)
        for k, bound in bounds.items():
            stats = []
            for values in sets:
                q1, med, q3 = statistics.quantiles(values[k], n=4)
                stats.append((med, q1, q3, (q3 - q1) / med))
            (m1, *_, s1), (m2, *_, s2) = stats
            worse = (m2 - m1) / m1 if k in lower else (m1 - m2) / m1
            agree = worse <= bound and (k == "setup_s" or max(s1, s2) <= bound)
            ok &= agree
            print(
                f"{wl:9s} {k:15s} set1 med {m1:.4f} q [{stats[0][1]:.4f}, {stats[0][2]:.4f}] "
                f"spread {s1:.3f} | set2 med {m2:.4f} q [{stats[1][1]:.4f}, {stats[1][2]:.4f}] "
                f"spread {s2:.3f} | bound {bound} {'agree' if agree else 'DISAGREE'}"
            )
    return 0 if ok else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steadiness", action="store_true")
    p.add_argument("--runs", type=int, default=5)
    args = p.parse_args()
    if args.steadiness:
        return steadiness(args)
    if args.workload is None:
        p.error("--workload is required")
    return one_run(args)


if __name__ == "__main__":
    sys.exit(main())
