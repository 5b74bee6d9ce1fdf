"""Per-span layer metrics from the worker's spans and Spark's event log.

Each span ran its Spark jobs under its own job group, so every task in the
event log belongs to exactly one span. A span with a ``prefix`` timed a
plan whose prefix another span materialized on its own; its self figures
are its own minus the prefix's, so nothing inside the engine is touched.
"""

from __future__ import annotations

import glob
import json
from collections import defaultdict

SPANS = (
    "session.start",
    "fixtures.geotag",
    "index.assign",
    "tiler.shuffle_sort",
    "tiler.encode",
    "manifest.stage",
    "manifest.read",
    "manifest.resume",
    "joins.pip",
    "joins.knn",
    "textops.pairs",
    "textops.components",
)
FIELDS = {
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "fetch_wait_s": "s",
    "spill_mb": "MB",
    "python_s": "s",
}
EXTRA = {
    "process.peak_rss_mb": "MB",
    "mvtcodec.ns_per_feature": "ns",
    "trace.coverage": "ratio",
    "trace.overhead_s": "s",
}


def group_metrics(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per job group over every event log in the dir."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(f"{eventlog_dir}/*"):
        stage_group: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        out[group]["jobs"] += 1
                        for s in ev["Stage IDs"]:
                            stage_group[s] = group
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    m = out[group]
                    m["tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        m["failed_tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    sr = tm.get("Shuffle Read Metrics") or {}
                    m["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                    m["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Name") == "time to run Python workers":
                            m["python_s"] += float(acc.get("Update", 0)) / 1e3
    return out


def span_table(spans: list[dict], groups: dict) -> dict[str, dict[str, float]]:
    """Self figures per span name (a traced run opens each name once)."""
    own = {}
    for s in spans:
        fields = {k: groups.get(s["group"], {}).get(k, 0.0) for k in FIELDS if k != "self_s"}
        fields["self_s"] = s["end"] - s["start"]
        own[s["name"]] = (s, fields)
    table = {}
    for name, (s, fields) in own.items():
        prefix = own[s["prefix"]][1] if s["prefix"] in own else {}
        table[name] = {k: v - prefix.get(k, 0.0) for k, v in fields.items()}
    return table


def per_layer(
    result: dict, eventlog_dir: str, untraced_wall: float, peak_rss_mb: float
) -> dict:
    """The per_layer metric dict of a traced run (absent spans read 0)."""
    spans = result.get("spans", [])
    table = span_table(spans, group_metrics(eventlog_dir))
    metrics = {}
    for name in SPANS:
        row = table.get(name, {})
        for field, unit in FIELDS.items():
            metrics[f"{name}.{field}"] = {"value": row.get(field, 0.0), "unit": unit}
    timed = [s for s in spans if s["parent"] == "pass" and s["name"] != "manifest.read"]
    traced_wall = sum(s["end"] - s["start"] for s in timed)
    covered = sum(table[s["name"]]["self_s"] for s in timed)
    extra = {
        "process.peak_rss_mb": peak_rss_mb,
        "mvtcodec.ns_per_feature": result.get("mvtcodec_ns_per_feature", 0.0),
        "trace.coverage": covered / untraced_wall if untraced_wall else 0.0,
        "trace.overhead_s": traced_wall - untraced_wall,
    }
    for name, unit in EXTRA.items():
        metrics[name] = {"value": extra[name], "unit": unit}
    return metrics
