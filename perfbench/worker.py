"""One benchmark run's Spark process: set up, time passes, trace.

Started by run.py in a fresh process (fresh JVM, local[SPARK_GRAFT_CPUS]).
It calls the engine's public functions the way a user does, materializes
every result through one aggregate that also yields the output digests,
and writes its figures as JSON to the path given on the command line.
With tracing on it afterwards repeats one pass under spans: each span sets
a Spark job group, so the event log's task metrics can be attributed to it
(see layers.py). Prefix spans materialize a prefix of the same plan into
the ``noop`` sink; a span's self time is its time minus its prefix's.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time

T_START = time.monotonic()

import numpy as np  # noqa: E402

import inputs as I  # noqa: E402

# stop starting passes, and skip the traced run's extra calls, once a run
# has used this much time, so it ends well inside its 180 s limit
PASS_BUDGET_S = 110.0
EXTRAS_BUDGET_S = 130.0


class Tracer:
    """Spans held in memory: name, start, end, parent, run id, job group.
    While disabled, ``span`` records nothing and sets no job group."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark, self.run_id, self.enabled = spark, run_id, enabled
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, parent: str | None = None, prefix: str | None = None):
        if not self.enabled:
            yield
            return
        group = f"{self.run_id}/{len(self.spans)}/{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(
                {
                    "name": name,
                    "start": start,
                    "end": end,
                    "parent": parent,
                    "prefix": prefix,
                    "run": self.run_id,
                    "group": group,
                }
            )


def _noop(df) -> None:
    """Materialize every row and column of ``df`` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------ digests ---

def tile_digest(tiles) -> dict:
    """One action over the tile rows: count digest (vs DuckDB), byte digest
    (xor of xxhash64 over z,x,y,mvt), and the sampled tiles to decode."""
    from pyspark.sql import functions as F

    h = I.tile_hash_sql("n_features")
    row = (
        tiles.select("z", "x", "y", "mvt", "n_features", "n_bytes", F.expr(h).alias("_h"))
        .agg(
            F.count("*"),
            F.sum("n_features"),
            F.sum("_h"),
            F.expr(f"sum(_h * _h % {I.P})"),
            F.max("n_features"),
            F.expr("bit_xor(xxhash64(z, x, y, mvt))"),
            F.sum("n_bytes"),
            F.expr(
                "collect_list(named_struct('n', n_features, 'mvt', mvt)) "
                f"FILTER (WHERE _h % {I.TILE_SAMPLE_MOD} = 0 AND n_features <= 2000)"
            ),
        )
        .collect()[0]
    )
    return {
        "count_digest": [int(v) for v in row[:5]],
        "xor": int(row[5]),
        "bytes": int(row[6]),
        "sample": [(int(s["n"]), bytes(s["mvt"])) for s in row[7]],
    }


def join_digest(df, knn: bool) -> dict:
    from pyspark.sql import functions as F

    cols = "url, poly_id, rank, dist2" if knn else "url, poly_id"
    struct = ", ".join(f"'{c.strip()}', {c.strip()}" for c in cols.split(","))
    row = (
        df.select(*[c.strip() for c in cols.split(",")],
                  F.expr(I.join_hash_sql("spark", knn)).alias("_h"))
        .agg(
            F.count("*"),
            F.sum("_h"),
            F.expr(f"sum(_h * _h % {I.P})"),
            F.expr(f"collect_list(named_struct({struct})) FILTER (WHERE {I.SAMPLE_PRED})"),
        )
        .collect()[0]
    )
    rows = sorted(tuple(r) for r in row[3])
    return {"digest": [int(v) for v in row[:3]], "rows": [list(r) for r in rows]}


# ---------------------------------------------------------- workloads ---

class Workload:
    """A workload's calls; spans record only while the tracer is enabled."""

    def __init__(self, spark, inp: I.Inputs, scratch: str, tracer: Tracer):
        self.spark, self.inp, self.scratch, self.tr = spark, inp, scratch, tracer

    def geotag(self):
        from engine.pipeline import fixtures

        return fixtures.geotag_df(fixtures.pages_df(self.spark, self.inp.pages_dir))

    def traced(self) -> dict:
        with self.tr.span("fixtures.geotag", "pass"):
            _noop(self.geotag())
        return self.run()


class Pyramid(Workload):
    """geotag -> feature id / unit coords -> compact z0-14 encode: the
    flagship encoder, timed under spans in the tile job's traced run."""

    def geo(self):
        from engine.pipeline import index

        return index.with_unit(index.with_feature_id(self.geotag()))

    def run(self) -> dict:
        from engine.pipeline import tiler

        tiles = tiler.encode_point_tiles_compact(self.geo(), 0, I.Z_MAX)
        d = tile_digest(tiles)
        return {"rows": d["count_digest"][0], "tiles": d}

    def traced(self) -> dict:
        """The compact encode under its spans; the shuffle+sort prefix's
        self time is taken over the tile job's ``fixtures.geotag`` span."""
        from pyspark.sql import functions as F

        from engine.pipeline import tiler

        with self.tr.span("tiler.shuffle_sort", "pyramid", "fixtures.geotag"):
            # the compact encoder's own plan up to its Python stage
            zoomed = self.geo().withColumn(
                "z", F.explode(F.sequence(F.lit(0), F.lit(I.Z_MAX)))
            )
            sel, part_sort, project = tiler._compact_shuffle_exprs(
                I.Z_MAX, tiler.EXTENT, (("lang", "string"),)
            )
            n_parts = tiler.encode_shuffle_partitions(self.spark)
            parted = zoomed.selectExpr(*sel).repartition(n_parts, *part_sort[:3])
            _noop(parted.sortWithinPartitions(*part_sort).selectExpr(*project))
        with self.tr.span("tiler.encode", "pyramid", "tiler.shuffle_sort"):
            return self.run()


class TileJob(Workload):
    """The calls engine.jobs.tile_pyramid makes: write, then resume."""

    n_pass = 0

    def indexed(self):
        from engine.pipeline import index, tiler

        geo = index.with_unit(index.with_feature_id(self.geotag()))
        return index.with_tiles(geo, 0, I.Z_MAX)

    def run(self) -> dict:
        from engine.pipeline import manifest, tiler

        self.n_pass += 1
        out = os.path.join(self.scratch, f"tiles{self.n_pass}")
        shutil.rmtree(out, ignore_errors=True)
        indexed = tiler.cap_features_per_tile(self.indexed(), I.TILE_CAP)
        t0 = time.monotonic()
        with self.tr.span("manifest.stage", "pass", "index.assign"):
            manifest.run_tile_stage(self.spark, indexed, out)
        t1 = time.monotonic()
        with self.tr.span("manifest.resume", "pass"):
            manifest.run_tile_stage(self.spark, indexed, out)
        return {"out": out, "write_s": t1 - t0, "resume_s": time.monotonic() - t1}

    def check(self, res: dict) -> dict:
        """Untimed: read the committed tiles back and inspect the manifest."""
        from pyspark.sql import functions as F

        from engine.pipeline import manifest

        out = res.pop("out")
        with self.tr.span("manifest.read", "pass"):
            d = tile_digest(manifest.read_tiles(self.spark, out))
        m = self.spark.read.parquet(f"{out}/manifest").agg(
            F.count("*"), F.countDistinct("run_id")
        ).collect()[0]
        res.update(
            rows=d["count_digest"][0],
            tiles=d,
            manifest_rows=int(m[0]),
            manifest_runs=int(m[1]),
            disk_mb=_du(out) / 1e6,
        )
        shutil.rmtree(out, ignore_errors=True)
        return res

    def traced(self) -> dict:
        with self.tr.span("fixtures.geotag", "pass"):
            _noop(self.geotag())
        with self.tr.span("index.assign", "pass", "fixtures.geotag"):
            _noop(self.indexed())
        return self.check(self.run())


class Enrich(Workload):
    """pip_join_auto and knn_join_auto without size hints."""

    def run(self) -> dict:
        from engine.pipeline import joins

        with self.tr.span("joins.pip", "pass", "fixtures.geotag"):
            geo = self.geotag()
            edges = self.spark.read.parquet(self.inp.edges)
            pip = join_digest(joins.pip_join_auto(geo, edges), knn=False)
        with self.tr.span("joins.knn", "pass", "fixtures.geotag"):
            centers = self.spark.read.parquet(self.inp.centers)
            out = joins.knn_join_auto(geo, centers, k=I.KNN_K)
            knn = join_digest(out, knn=True)
        joins.free_persisted(out)
        return {"rows": pip["digest"][0] + knn["digest"][0], "pip": pip, "knn": knn}


def dedup_traced(spark, inp: I.Inputs, tracer: Tracer) -> list:
    """textops.cluster.corpus_prep_df over the dedup corpus under its
    spans: the LSH + Jaccard pair table, then the whole pipeline (filter,
    connected components, keepers, sample) minus that prefix."""
    from engine.textops import cluster, sqlgen

    spark.read.parquet(inp.dedup_docs).createOrReplaceTempView("documents")
    with tracer.span("textops.pairs", "dedup"):
        _noop(spark.sql(sqlgen.near_dup_pairs_sql("spark")))
    with tracer.span("textops.components", "dedup", "textops.pairs"):
        rows = cluster.corpus_prep_df(spark).collect()
    return sorted([int(r[0]), r[1], int(r[2]), int(r[3]), int(r[4])] for r in rows)


WORKLOADS = {"tile_job": TileJob, "enrich": Enrich}


def _du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def mvtcodec_ns_per_feature(inp: I.Inputs) -> float:
    """Spark-free: fastpoints.encode_point_tiles_sorted_raw over a fixed
    sorted sample of the pyramid input (the first 10k pages, z0-14)."""
    import hashlib

    import pandas as pd

    from engine.mvtcodec import fastpoints

    def hash64(s: str) -> int:
        return int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "big")

    docs = pd.read_parquet(os.path.join(inp.pages_dir, "documents.parquet"))
    fids, lats, lons, langs = [], [], [], []
    for rep in range(10_000 // len(docs)):  # fixtures.pages_df's rules
        for doc_id, lang in zip(docs["doc_id"].tolist(), docs["lang"].tolist()):
            row_id = doc_id + rep * 100_000
            url = (
                f"https://site{row_id % 50000:06d}.example/"
                f"{hashlib.sha256(str(row_id).encode()).hexdigest()[:16]}"
            )
            h = hash64(url)
            fids.append((((h >> 32) & 0x7FFFFFFF) << 32) | (h & 0xFFFFFFFF))
            lats.append(h % 170_000 / 1000.0 - 85.0)
            lons.append(hash64(url + "#lon") % 360_000 / 1000.0 - 180.0)
            langs.append(lang)
    s = np.sin(np.radians(np.asarray(lats)))
    u = (np.asarray(lons) + 180.0) / 360.0
    v = 0.5 - np.log((1.0 + s) / (1.0 - s)) / (4.0 * np.pi)
    fid = np.asarray(fids, dtype=np.int64)
    lang_codes, lang_vals = pd.factorize(np.asarray(langs))
    z = np.repeat(np.arange(I.Z_MAX + 1), len(u))
    uu, vv, ff = np.tile(u, I.Z_MAX + 1), np.tile(v, I.Z_MAX + 1), np.tile(fid, I.Z_MAX + 1)
    cc = np.tile(lang_codes.astype(np.int64), I.Z_MAX + 1)
    scale = np.exp2(z) * 4096.0
    x = np.minimum(np.floor(uu * np.exp2(z)), np.exp2(z) - 1).astype(np.int64)
    y = np.minimum(np.floor(vv * np.exp2(z)), np.exp2(z) - 1).astype(np.int64)
    qx = (uu * scale - x * 4096.0).astype(np.int64)
    qy = (vv * scale - y * 4096.0).astype(np.int64)
    order = np.lexsort((ff, y, x, z))
    z, x, y, qx, qy, ff, cc = (a[order] for a in (z, x, y, qx, qy, ff, cc))
    key = (z << 52) | (x << 26) | y
    starts = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
    counts = np.diff(np.r_[starts, len(key)])
    tags = {"lang": ("string", (cc, list(lang_vals)))}
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        fastpoints.encode_point_tiles_sorted_raw(
            counts, ff, qx, qy, tags, "pages", 4096
        )
        times.append(time.perf_counter() - t0)
    return float(np.median(times)) / len(ff) * 1e9


def timed_pass(wl: Workload, errors: list) -> dict | None:
    """One pass, timed from the first engine call to the last output row;
    the tile job's read-back check runs after the clock stops."""
    t0 = time.monotonic()
    try:
        res = wl.run()
        wall = time.monotonic() - t0
        if isinstance(wl, TileJob):
            res = wl.check(res)
    except Exception as e:  # a failed pass is counted, not fatal
        errors.append(f"{type(e).__name__}: {e}"[:2000])
        return None
    res["wall_s"] = wall
    return res


def main() -> None:
    spec = json.loads(sys.argv[1])
    inp = I.Inputs(spec["cache"], spec["seed"])
    scratch = spec["scratch"]
    os.makedirs(scratch, exist_ok=True)

    from engine.pipeline import session, tiler

    spark = session.get_spark(app_name=f"perfbench-{spec['workload']}")
    tracer = Tracer(spark, f"{spec['workload']}-{spec['seed']}", spec["trace"])
    with tracer.span("session.start"):
        spark.range(1000).selectExpr("sum(id)").collect()
    setup_s = time.monotonic() - spec["t_spawn"]
    tracer.enabled = False  # the timed passes run untraced

    wl = WORKLOADS[spec["workload"]](spark, inp, scratch, tracer)
    passes, errors = [], []
    t_run = time.monotonic()
    while True:
        t0 = time.monotonic()
        res = timed_pass(wl, errors)
        if res is not None:
            passes.append(res)
        last = time.monotonic() - t0
        if (
            time.monotonic() - t_run >= spec["seconds"]
            or time.monotonic() - T_START + last > PASS_BUDGET_S
        ):
            break

    out = {
        "setup_s": setup_s,
        "passes": passes,
        "errors": errors,
        "env": {
            "encode_partitions": tiler.encode_shuffle_partitions(spark),
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "driver_heap": spark.conf.get("spark.driver.memory"),
            "arrow_batch": spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"),
            "spark": spark.version,
        },
    }
    if isinstance(wl, Enrich):
        import pyarrow.parquet as pq

        from engine.pipeline import joins

        # the choosers' own thresholds applied to the generated table sizes
        n_edges = pq.ParquetFile(inp.edges).metadata.num_rows
        out["labels"] = {
            "pip_plan": "broadcast"
            if n_edges <= joins.BROADCAST_EDGE_LIMIT
            else "partitioned",
            "knn_plan": "hybrid"
            if I.N_POLYS <= joins.broadcast_center_limit(spark)
            else "partitioned",
        }
    if spec["trace"]:
        def attempt(key, fn):
            tracer.enabled = True
            try:
                out[key] = fn()
            except Exception as e:  # counted as a failed pass
                errors.append(f"traced: {type(e).__name__}: {e}"[:2000])
            tracer.enabled = False

        # the traced pass, then one more untraced pass as warm as it: their
        # difference is the tracing overhead
        attempt("traced", wl.traced)
        out["warm"] = timed_pass(wl, errors)
        if time.monotonic() - T_START > EXTRAS_BUDGET_S:
            out["skipped"] = "pyramid, mvtcodec and dedup spans: run over budget"
        elif isinstance(wl, TileJob):
            attempt("pyramid", Pyramid(spark, inp, scratch, tracer).traced)
            out["mvtcodec_ns_per_feature"] = mvtcodec_ns_per_feature(inp)
        else:
            attempt("dedup", lambda: dedup_traced(spark, inp, tracer))
        out["spans"] = tracer.spans
    spark.stop()
    with open(spec["result"], "w") as f:
        json.dump(out, f, default=_bytes_hex)


def _bytes_hex(o):
    if isinstance(o, bytes):
        return o.hex()
    raise TypeError(type(o))


if __name__ == "__main__":
    main()
