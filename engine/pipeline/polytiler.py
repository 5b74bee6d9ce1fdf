"""Polygon / linestring tile layers: clip -> quantize -> MVT encode.

Extends the point tiler (tiler.py) to the reference's full geometry menu
(reference internal/geometry/marshal.go:15-38): each polygon is assigned to
every tile its bbox covers (JVM-side explode over the x/y ranges — no UDF),
its rings explode to a FLAT vertex stream (one fixed-width row per vertex —
the Arrow-friendly layout), and one shuffle co-locates each tile's vertices.
A sorted mapInArrow — the point encoders' Arrow group carry
(tiler.carry_group_iter_arrow) over the packed tile key — then runs the
whole geometry pipeline BATCHED in numpy (engine.spatial.clipbatch):
Sutherland–Hodgman ring clip and Liang–Barsky outline clip across every
ring of every tile in an Arrow batch at once, quantization by int32
truncation (reference marshal.go:190), winding fix (exterior CW / holes CCW
in y-down tile space so the reference decoder's TurningAngle classification
reconstructs them — SURVEY §7.4 item 2), and a ragged scatter
command-stream encode. Only the per-tile byte join stays in a Python loop
(bounded by tile count, not vertex count); the tile digest is a JVM-side
sha2.

``encode_polygon_tiles_rowwise`` keeps the original per-row applyInPandas
encoder as the semantics reference; tests/test_polytiler.py asserts the
vectorized path is byte-identical to it.

Scale notes: the polygon table is the SMALL side (dims like admin regions:
10^4-10^6 rows); bbox coverage explodes it by the covered-tile count, which
grows 4x per zoom — callers bound z_max (mega-coverage guard) exactly like
real tile pipelines bound polygon zoom. The vertex fan-out rides the same
single shuffle the tile grouping needs anyway.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from engine.mvtcodec import faststream, geomstream, pbwire, tile as tilemod
from engine.spatial import clip as clipmod, clipbatch
from engine.spatial.mercator import lnglat_to_unit

from . import fixtures
from .tiler import (
    ENCODE_SCHEMA, EXTENT, TILE_SCHEMA, _encode_tiles, _gid_bounds, _tag_arrays,
    split_gid, tile_gid,
)

BUFFER = 128  # tile-pixel clip buffer around the 0..EXTENT square

FIXTURE_CACHE = os.environ.get("SPARK_GRAFT_TMP", "/tmp/spark_graft_fixtures")


def polygons_nested_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture polygons with nested rings + precomputed unit-square bbox.

    rings: array<array<array<double>>> — rings[r][i] = [lon, lat], closed.
    The bbox is computed driver-side in numpy (the fixture already lives on
    the driver); at real scale these columns come straight off the polygon
    table's parquet min/max or a prior select.
    """
    n_polys = fixtures.poly_count_for(sf_dir)
    bbox = {pid: (u0, v0, u1, v1) for pid, u0, v0, u1, v1 in fixtures.polygon_bbox_np(n_polys)}
    rows = []
    for poly in fixtures.polygons_np(n_polys):
        rings = [[[float(x), float(y)] for x, y in ring] for ring in poly["rings"]]
        u0, v0, u1, v1 = bbox[poly["poly_id"]]
        rows.append((poly["poly_id"], poly["name"], rings, u0, v0, u1, v1))
    return spark.createDataFrame(
        rows,
        "poly_id long, name string, rings array<array<array<double>>>, "
        "u0 double, v0 double, u1 double, v1 double",
    )


# bump when the fixture generator (fixtures.polygons_np / polygon_bbox_np)
# changes: the token invalidates any stale /tmp cache from older logic
FIXTURE_VERSION = "v2-seed42-r6"


def polygons_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet-backed polygon table: the pipeline reads a real distributed
    scan (partition/column pruning, no driver-built rows in the plan). The
    fixture is materialized once per scale factor; at real scale this is
    simply the user's polygon table."""
    n_polys = fixtures.poly_count_for(sf_dir)
    path = f"{FIXTURE_CACHE}/polygons_{n_polys}_{FIXTURE_VERSION}.parquet"
    if not os.path.exists(path):
        os.makedirs(FIXTURE_CACHE, exist_ok=True)
        tmp = f"{path}.tmp-{os.getpid()}"
        polygons_nested_df(spark, sf_dir).coalesce(1).write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)  # atomic publish; losers wrote equal bytes
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)  # rename lost the race
    return spark.read.parquet(path)


def with_covered_tiles(polys: DataFrame, z_min: int, z_max: int) -> DataFrame:
    """One row per (polygon, covered z/x/y) — pure built-in explode/sequence.

    Buffer margin: the clip rect extends BUFFER pixels outside the tile, so
    coverage widens the bbox by BUFFER/EXTENT of a tile on each side to keep
    buffered borders byte-identical regardless of which tile encodes them.
    """
    m = BUFFER / EXTENT
    df = polys.withColumn("z", F.explode(F.sequence(F.lit(z_min), F.lit(z_max))))
    n = "cast(shiftleft(1, z) as double)"
    lo = lambda c: f"greatest(cast(0 as bigint), cast(floor({c} * {n} - {m}) as bigint))"
    hi = (
        lambda c: f"least(cast(shiftleft(1, z) as bigint) - 1, "
        f"cast(floor({c} * {n} + {m}) as bigint))"
    )
    df = df.withColumn("x", F.explode(F.expr(f"sequence({lo('u0')}, {hi('u1')})")))
    df = df.withColumn("y", F.explode(F.expr(f"sequence({lo('v0')}, {hi('v1')})")))
    return df


# --------------------------------------------------- row-wise reference ---


def _rings_to_pixels(rings, z: int, x: int, y: int) -> list[np.ndarray]:
    """lon/lat rings -> float tile-pixel coords (y-down), open form."""
    scale = float(1 << z) * EXTENT
    out = []
    for ring in rings:
        arr = np.asarray([list(pt) for pt in ring], dtype=np.float64)
        u, v = lnglat_to_unit(arr[:, 0], arr[:, 1])
        out.append(np.stack([u * scale - x * EXTENT, v * scale - y * EXTENT], axis=1))
    return out


def _orient(ring: np.ndarray, clockwise: bool) -> np.ndarray | None:
    """Force the required y-down winding; drop degenerate rings (area 0 after
    quantization — SURVEY §7.6: zero-area rings are dropped by the clip
    stage, never emitted)."""
    q = geomstream.quantize(ring)
    if len(q) < 3:
        return None
    area = geomstream.signed_area(q)  # y-up shoelace on y-down coords
    if area == 0:
        return None
    # y-up CCW (area>0) == y-down CW
    if (area > 0) != clockwise:
        return q[::-1]
    return q


def _encode_poly_tile(pdf: pd.DataFrame) -> pd.DataFrame:
    """Per-tile per-row reference encoder (the original applyInPandas path);
    kept as the byte-semantics oracle for the vectorized stream encoder."""
    z = int(pdf["z"].iloc[0])
    x = int(pdf["x"].iloc[0])
    y = int(pdf["y"].iloc[0])
    lo, hi = -float(BUFFER), float(EXTENT + BUFFER)
    poly_feats = []
    line_feats = []
    for row in pdf.sort_values("poly_id").itertuples():
        pix = _rings_to_pixels(row.rings, z, x, y)
        # polygons layer: Sutherland-Hodgman per ring, exterior first
        rings_q: list[np.ndarray] = []
        for i, ring in enumerate(pix):
            clipped = clipmod.clip_ring(ring, lo, lo, hi, hi)
            if i == 0 and len(clipped) < 3:
                rings_q = []
                break
            oriented = _orient(clipped, clockwise=(i == 0)) if len(clipped) >= 3 else None
            if i == 0 and oriented is None:
                rings_q = []
                break
            if oriented is not None:
                rings_q.append(np.vstack([oriented, oriented[:1]]))  # re-close
        if rings_q:
            words = geomstream.encode_polygon(rings_q)
            poly_feats.append(
                {
                    "id": int(row.poly_id),
                    "geom_type": geomstream.GEOM_POLYGON,
                    "geometry": words,
                    "tags": [("name", ("string", row.name))],
                }
            )
        # outlines layer: every ring boundary as clipped polylines
        parts = []
        for ring in pix:
            closed = np.vstack([ring, ring[:1]])
            for part in clipmod.clip_line(closed, lo, lo, hi, hi):
                q = geomstream.quantize(part)
                keep = np.ones(len(q), dtype=bool)
                keep[1:] = (np.diff(q, axis=0) != 0).any(axis=1)
                q = q[keep]
                if len(q) >= 2:
                    parts.append(q)
        if parts:
            line_feats.append(
                {
                    "id": int(row.poly_id),
                    "geom_type": geomstream.GEOM_LINESTRING,
                    "geometry": geomstream.encode_multilinestring(parts),
                    "tags": [("name", ("string", row.name))],
                }
            )
    layers = {}
    if poly_feats:
        layers["polygons"] = {"extent": EXTENT, "features": poly_feats}
    if line_feats:
        layers["outlines"] = {"extent": EXTENT, "features": line_feats}
    if not layers:
        return _EMPTY_TILES.copy()
    data = tilemod.encode_tile(layers)
    return pd.DataFrame(
        {
            "z": pd.array([z], dtype="int32"),
            "x": [x],
            "y": [y],
            "mvt": [data],
            "n_features": [len(poly_feats) + len(line_feats)],
            "n_bytes": [len(data)],
            "mvt_sha256": [hashlib.sha256(data).hexdigest()],
        }
    )


_EMPTY_TILES = pd.DataFrame(
    {
        "z": pd.array([], dtype="int32"),
        "x": pd.array([], dtype="int64"),
        "y": pd.array([], dtype="int64"),
        "mvt": pd.array([], dtype=object),
        "n_features": pd.array([], dtype="int64"),
        "n_bytes": pd.array([], dtype="int64"),
        "mvt_sha256": pd.array([], dtype=object),
    }
)


def encode_polygon_tiles_rowwise(
    spark: SparkSession, sf_dir: str, z_min: int = 0, z_max: int = 6
) -> DataFrame:
    """Original applyInPandas formulation (per-tile groups, per-row Python);
    retained as the test oracle for the vectorized stream path."""
    covered = with_covered_tiles(polygons_nested_df(spark, sf_dir), z_min, z_max)
    return covered.groupBy("z", "x", "y").applyInPandas(_encode_poly_tile, TILE_SCHEMA)


# --------------------------------------------------- vectorized stream ----


def _run_ids(*cols) -> np.ndarray:
    """Ordinal run ids over a sorted composite key (0..n_runs-1)."""
    n = len(cols[0])
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for c in cols:
        change[1:] |= c[1:] != c[:-1]
    return np.cumsum(change) - 1


def _encode_poly_group_arrow(cols):
    """Flat vertex columns (gid, poly_id, name, ring_idx, lon, lat) of
    complete tiles, sorted by gid, poly_id, ring_idx, vtx_idx -> an
    ENCODE_SCHEMA RecordBatch, one row per tile with at least one feature.
    All geometry math batched. A null ``name`` raises ValueError."""
    import pyarrow as pa

    lo, hi = -float(BUFFER), float(EXTENT + BUFFER)
    gid = cols["gid"]
    z, x, y = split_gid(gid)
    pid = cols["poly_id"]
    ridx = cols["ring_idx"]
    codes, uniq = _tag_arrays(cols, (("name", "string"),))["name"][1]
    u, v = lnglat_to_unit(cols["lon"], cols["lat"])
    scale = np.ldexp(np.float64(EXTENT), z.astype(np.int64))  # 4096 * 2^z
    pts = np.stack(
        [u * scale - x * float(EXTENT), v * scale - y * float(EXTENT)], axis=1
    )

    rid = _run_ids(gid, pid, ridx)
    r_starts = clipbatch.ring_starts(rid)
    n_rings = len(r_starts)
    r_tile = _run_ids(gid)[r_starts]  # tile ordinal per ring
    r_poly = _run_ids(gid, pid)[r_starts]  # feature ordinal per ring
    r_ext = ridx[r_starts] == 0
    r_row = r_starts  # a representative input row per ring

    # ---- polygons layer: batched Sutherland-Hodgman + winding fix
    cpts, crid = clipbatch.clip_rings(pts, rid, lo, lo, hi, hi)
    q = geomstream.quantize(cpts)
    poly_feats = np.zeros(0, dtype=np.int64)
    poly_words = np.empty(0, dtype=np.uint32)
    poly_woff = np.zeros(1, dtype=np.int64)
    poly_feat_rings = np.zeros(0, dtype=np.int64)
    if len(q):
        c_starts, areas2 = clipbatch.ring_areas2(q, crid)
        c_sizes = np.append(c_starts[1:], len(q)) - c_starts
        c_ring = crid[c_starts]  # original ring ordinal per clipped ring
        valid = (c_sizes >= 3) & (areas2 != 0)
        # a polygon feature survives iff its exterior ring is valid
        poly_alive = np.zeros(int(r_poly.max()) + 1 if n_rings else 0, dtype=bool)
        ext_rings = r_ext[c_ring]
        poly_alive[r_poly[c_ring[valid & ext_rings]]] = True
        surv = valid & poly_alive[r_poly[c_ring]]
        if surv.any():
            # orientation fix: y-up area>0 == y-down CW; exterior wants CW
            rev = np.where(ext_rings, areas2 < 0, areas2 > 0)
            vmask = np.repeat(surv, c_sizes)
            q2 = clipbatch.reverse_rings(q, crid, rev)[vmask]
            srid = crid[vmask]
            poly_words, poly_woff = clipbatch.encode_rings_words(q2, srid, close=True)
            s_ring = srid[clipbatch.ring_starts(srid)]
            s_poly = r_poly[s_ring]
            feat_start = clipbatch.ring_starts(s_poly)
            poly_feats = s_ring[feat_start]  # representative ring per feature
            poly_feat_rings = np.append(feat_start, len(s_poly))

    # ---- outlines layer: batched Liang-Barsky + part chaining
    seg_q = pts[clipbatch.next_index(rid, r_starts)]
    visible, a, b = clipbatch.clip_segments(pts, seg_q, lo, lo, hi, hi)
    line_feats = np.zeros(0, dtype=np.int64)
    line_words = np.empty(0, dtype=np.uint32)
    line_woff = np.zeros(1, dtype=np.int64)
    line_feat_parts = np.zeros(1, dtype=np.int64)
    if visible.any():
        part_id, new_part = clipbatch.chain_parts(visible, rid, a, b)
        av, bv = a[visible], b[visible]
        counts = 1 + new_part.astype(np.int64)  # a only at part starts
        off = np.empty(len(counts) + 1, dtype=np.int64)
        off[0] = 0
        np.cumsum(counts, out=off[1:])
        ppts = np.empty((off[-1], 2), dtype=np.float64)
        ppts[off[:-1][new_part]] = av[new_part]
        ppts[off[1:] - 1] = bv
        ppid = np.repeat(part_id, counts)
        pq = geomstream.quantize(ppts)
        keep = np.ones(len(pq), dtype=bool)
        keep[1:] = ((pq[1:] != pq[:-1]).any(axis=1)) | (ppid[1:] != ppid[:-1])
        pq, ppid = pq[keep], ppid[keep]
        p_starts = clipbatch.ring_starts(ppid)
        p_sizes = np.append(p_starts[1:], len(pq)) - p_starts
        p_ring = rid[np.flatnonzero(visible)[new_part]]  # ring per part
        p_ok = p_sizes >= 2
        if p_ok.any():
            pmask = np.repeat(p_ok, p_sizes)
            pq2, ppid2 = pq[pmask], ppid[pmask]
            line_words, line_woff = clipbatch.encode_rings_words(
                pq2, ppid2, close=False
            )
            sp_ring = p_ring[p_ok]
            sp_poly = r_poly[sp_ring]
            feat_start = clipbatch.ring_starts(sp_poly)
            line_feats = sp_ring[feat_start]
            line_feat_parts = np.append(feat_start, len(sp_poly))

    # ---- batched protobuf framing (engine.mvtcodec.faststream): every
    # varint in the output comes from whole-array passes; only the final
    # per-tile byte join is a Python loop (bounded by tile count)
    def layers(name, feats, geom_type, words, woff):
        rows = r_row[feats]
        return faststream.encode_tagged_layers(
            name, EXTENT, r_tile[feats], pid[rows], geom_type, words, woff,
            {"name": ("string", (codes[rows], uniq))},
        )

    poly_layers = layers(
        "polygons", poly_feats, geomstream.GEOM_POLYGON, poly_words,
        poly_woff[poly_feat_rings],
    )
    line_layers = layers(
        "outlines", line_feats, geomstream.GEOM_LINESTRING, line_words,
        line_woff[line_feat_parts],
    )
    n_tiles = int(r_tile[-1]) + 1
    n_feats = np.bincount(r_tile[poly_feats], minlength=n_tiles) + np.bincount(
        r_tile[line_feats], minlength=n_tiles
    )
    tiles = np.flatnonzero(n_feats)
    # layer names sorted: "outlines" < "polygons"
    mvt = [
        b"".join(
            pbwire.len_delimited(3, lay[t]) for lay in (line_layers, poly_layers)
            if t in lay
        )
        for t in tiles.tolist()
    ]
    return pa.RecordBatch.from_arrays(
        [
            *map(pa.array, split_gid(gid[_gid_bounds(gid)][tiles])),
            pa.array(mvt, type=pa.binary()),
            pa.array(n_feats[tiles], type=pa.int64()),
            pa.array([len(d) for d in mvt], type=pa.int64()),
        ],
        names=["z", "x", "y", "mvt", "n_features", "n_bytes"],
    )


def polygon_vertices(polys: DataFrame, z_min: int, z_max: int) -> DataFrame:
    """(polygon x covered tile x ring x vertex) flat stream — one explode
    chain, no join; Catalyst pipelines it into the tile-grouping shuffle."""
    covered = with_covered_tiles(polys, z_min, z_max)
    verts = covered.select(
        "z", "x", "y", "poly_id", "name", F.posexplode("rings").alias("ring_idx", "ring")
    )
    # drop the GeoJSON closing duplicate: rings travel OPEN
    verts = verts.select(
        "z", "x", "y", "poly_id", "name", "ring_idx",
        F.posexplode(F.expr("slice(ring, 1, size(ring) - 1)")).alias("vtx_idx", "pt"),
    )
    return verts.selectExpr(
        "z", "x", "y", "poly_id", "name", "ring_idx", "vtx_idx",
        "pt[0] as lon", "pt[1] as lat",
    )


def encode_polygon_tiles(
    spark: SparkSession, sf_dir: str, z_min: int = 0, z_max: int = 6
) -> DataFrame:
    """Full polygon/outline tile pyramid: parquet polygon scan -> flat
    vertex explode -> ONE shuffle on (z,x,y) -> sorted batched encode
    (TILE_SCHEMA rows). The sorted vertices project to (gid, poly_id, name,
    ring_idx, lon, lat) and run the point encoders' Arrow carry; vtx_idx
    only orders the sort. A null polygon name fails the job (ValueError
    "null tag values in column 'name'")."""
    verts = polygon_vertices(polygons_table(spark, sf_dir), z_min, z_max)
    parted = verts.repartition("z", "x", "y").sortWithinPartitions(
        "z", "x", "y", "poly_id", "ring_idx", "vtx_idx"
    )
    projected = parted.select(
        tile_gid().alias("gid"), "poly_id", "name", "ring_idx", "lon", "lat"
    )
    return _encode_tiles(
        projected, _encode_poly_group_arrow, ["name"], ENCODE_SCHEMA
    )


def decode_polygon_coords(tiles: DataFrame, layer: str = "polygons") -> DataFrame:
    """B16 at coordinate granularity for the POLYGON layer: decode every
    emitted tile with the engine's own reader (tile decode -> geometry
    command words -> rings), take each feature's EXTERIOR ring, and emit
    the order-free projection the clip oracle can reproduce exactly
    (engine.pipeline.polyoracle.polygon_coords_sql): distinct quantized
    vertex count/sums/extrema + |2*shoelace|. Closes the count-only blind
    spot of the decoded-count verify — every decoded pixel value is pinned.
    Verification operator: per-tile decode loops are the decoder's own,
    off the bench path."""

    def run(batches):
        cols = (
            "z", "x", "y", "feature_id", "n_pts", "sum_qx", "sum_qy",
            "min_qx", "max_qx", "min_qy", "max_qy", "area2_abs",
        )
        for pdf in batches:
            rows = {c: [] for c in cols}
            for zt, xt, yt, data in zip(pdf["z"], pdf["x"], pdf["y"], pdf["mvt"]):
                layers = tilemod.decode_tile(bytes(data))
                if layer not in layers:
                    continue
                for f in layers[layer]["features"]:
                    words = np.asarray(f["geometry"], dtype=np.uint32)
                    _, polys = geomstream.decode_polygons(words, flip_y=True)
                    if not polys:
                        # degenerate/corrupt feature: emit a sentinel row so
                        # the verify reports an oracle diff for THIS feature
                        # instead of the whole job dying on IndexError
                        rows["z"].append(int(zt))
                        rows["x"].append(int(xt))
                        rows["y"].append(int(yt))
                        rows["feature_id"].append(int(f["id"]))
                        for c in cols[4:]:
                            rows[c].append(-1)
                        continue
                    if isinstance(polys[0], list):  # MultiPolygon nesting
                        ext = polys[0][0]
                    else:  # Polygon: [ext, holes...]
                        ext = polys[0]
                    ring = np.asarray(ext, dtype=np.int64)[:-1]  # drop closure
                    xs, ys = ring[:, 0], ring[:, 1]
                    area2 = abs(
                        int(
                            np.dot(xs, np.roll(ys, -1))
                            - np.dot(np.roll(xs, -1), ys)
                        )
                    )
                    uniq = np.unique(ring, axis=0)
                    rows["z"].append(int(zt))
                    rows["x"].append(int(xt))
                    rows["y"].append(int(yt))
                    rows["feature_id"].append(int(f["id"]))
                    rows["n_pts"].append(len(uniq))
                    rows["sum_qx"].append(int(uniq[:, 0].sum()))
                    rows["sum_qy"].append(int(uniq[:, 1].sum()))
                    rows["min_qx"].append(int(uniq[:, 0].min()))
                    rows["max_qx"].append(int(uniq[:, 0].max()))
                    rows["min_qy"].append(int(uniq[:, 1].min()))
                    rows["max_qy"].append(int(uniq[:, 1].max()))
                    rows["area2_abs"].append(area2)
            yield pd.DataFrame(
                {
                    c: pd.array(rows[c], dtype="int32" if c == "z" else "int64")
                    for c in cols
                }
            )

    return tiles.select("z", "x", "y", "mvt").mapInPandas(
        run,
        "z int, x long, y long, feature_id long, n_pts long, sum_qx long, "
        "sum_qy long, min_qx long, max_qx long, min_qy long, max_qy long, "
        "area2_abs long",
    )


OUTLINE_COORD_COLS = (
    "z", "x", "y", "feature_id", "n_edges",
    "sum_ax", "sum_ay", "sum_bx", "sum_by",
    "min_px", "max_px", "min_py", "max_py",
    "cross_sum", "len2_sum",
)


def decode_outline_coords(tiles: DataFrame, layer: str = "outlines") -> DataFrame:
    """B16 at coordinate granularity for the OUTLINES layer: decode every
    emitted tile's (Multi)LineString features and emit per-(tile, feature)
    edge-multiset stats the Liang-Barsky oracle reproduces in closed form
    (engine.pipeline.polyoracle.outline_coords_sql).

    Why the EDGE multiset is the right projection: a decoded part's vertex
    stream is [a_0, b_0, b_1, ...] (chained clipped segments share their
    junction vertex bitwise, so quantization maps it to one pixel) with
    consecutive duplicate pixels dropped — hence each consecutive decoded
    vertex pair is exactly one visible source segment's (trunc(a), trunc(b))
    with trunc(a) != trunc(b), and the per-feature multiset of decoded edges
    equals the multiset of quantized visible distinct-pixel segment clips
    over all rings. Sums/extrema/cross/length stats over that multiset pin
    every decoded coordinate pair (any wrong pixel or wrong pairing moves a
    stat) while staying invariant to part count and chaining order.
    Closes the last count-only layer of the round-trip verify (B16;
    reference unmarshal.go:93-108 is the decode twin)."""

    def run(batches):
        for pdf in batches:
            rows = {c: [] for c in OUTLINE_COORD_COLS}
            for zt, xt, yt, data in zip(pdf["z"], pdf["x"], pdf["y"], pdf["mvt"]):
                layers = tilemod.decode_tile(bytes(data))
                if layer not in layers:
                    continue
                for f in layers[layer]["features"]:
                    words = np.asarray(f["geometry"], dtype=np.uint32)
                    kind, parts = geomstream.decode_linestrings(words)
                    if kind == "LineString":
                        parts = [parts]
                    arrs = [np.asarray(p, dtype=np.int64) for p in parts]
                    a = np.concatenate([p[:-1] for p in arrs])
                    b = np.concatenate([p[1:] for p in arrs])
                    allp = np.concatenate(arrs)
                    rows["z"].append(int(zt))
                    rows["x"].append(int(xt))
                    rows["y"].append(int(yt))
                    rows["feature_id"].append(int(f["id"]))
                    rows["n_edges"].append(len(a))
                    rows["sum_ax"].append(int(a[:, 0].sum()))
                    rows["sum_ay"].append(int(a[:, 1].sum()))
                    rows["sum_bx"].append(int(b[:, 0].sum()))
                    rows["sum_by"].append(int(b[:, 1].sum()))
                    rows["min_px"].append(int(allp[:, 0].min()))
                    rows["max_px"].append(int(allp[:, 0].max()))
                    rows["min_py"].append(int(allp[:, 1].min()))
                    rows["max_py"].append(int(allp[:, 1].max()))
                    rows["cross_sum"].append(
                        int((a[:, 0] * b[:, 1] - b[:, 0] * a[:, 1]).sum())
                    )
                    rows["len2_sum"].append(int(((b - a) ** 2).sum()))
            yield pd.DataFrame(
                {
                    c: pd.array(rows[c], dtype="int32" if c == "z" else "int64")
                    for c in OUTLINE_COORD_COLS
                }
            )

    return tiles.select("z", "x", "y", "mvt").mapInPandas(
        run,
        "z int, x long, y long, feature_id long, n_edges long, "
        "sum_ax long, sum_ay long, sum_bx long, sum_by long, "
        "min_px long, max_px long, min_py long, max_py long, "
        "cross_sum long, len2_sum long",
    )
