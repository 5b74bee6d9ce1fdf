"""Polygon/outline tile layers: clip + winding + round-trip correctness.

Anchors SURVEY §7.4 item 2: exteriors must decode as exteriors (CW in
y-down tile space per the reference's TurningAngle<=0 rule,
internal/geometry/unmarshal.go:138-146) and holes as holes, after the
Sutherland-Hodgman clip and int32-truncation quantize.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from engine.mvtcodec import geomstream, tile as tilemod
from engine.pipeline import fixtures, polytiler, tiler
from engine.spatial.mercator import lnglat_to_unit

from .conftest import SF_DIR


def _tiles_pdf(spark, z_min=0, z_max=4):
    return polytiler.encode_polygon_tiles(spark, SF_DIR, z_min, z_max).toPandas()


def test_polygon_tiles_roundtrip(spark):
    pdf = _tiles_pdf(spark)
    assert len(pdf) > 20
    n_poly_feats = 0
    n_holes = 0
    for row in pdf.itertuples():
        layers = tilemod.decode_tile(bytes(row.mvt))
        assert set(layers) <= {"polygons", "outlines"}
        total = sum(len(v["features"]) for v in layers.values())
        assert total == row.n_features
        for lname, layer in layers.items():
            assert layer["version"] == 2 and layer["extent"] == 4096
            for feat in layer["features"]:
                assert feat["tags"][0][0] == "name"
                kind, parts = geomstream.decode(
                    np.asarray(feat["geometry"], dtype=np.uint64),
                    feat["geom_type"],
                    flip_y=True,  # winding classified in y-down tile space
                )
                if lname == "polygons":
                    assert kind in ("Polygon", "MultiPolygon")
                    polys = [parts] if kind == "Polygon" else parts
                    n_poly_feats += 1
                    for rings in polys:
                        assert len(rings[0]) >= 3
                        n_holes += len(rings) - 1
                else:
                    assert kind in ("LineString", "MultiLineString")
    assert n_poly_feats > 20
    assert n_holes > 0  # fixture gives 20% of polygons a hole


def test_z0_contains_every_polygon(spark):
    pdf = _tiles_pdf(spark, 0, 0)
    assert len(pdf) == 1
    layers = tilemod.decode_tile(bytes(pdf["mvt"].iloc[0]))
    n_polys = fixtures.poly_count_for(SF_DIR)
    ids = sorted(f["id"] for f in layers["polygons"]["features"])
    assert ids == list(range(n_polys))  # nothing clipped away at z0
    assert len(layers["outlines"]["features"]) == n_polys


def test_unclipped_geometry_matches_projection(spark):
    """Where a polygon fits inside one tile, decoded vertices must equal the
    directly-projected quantized ring (clip is then the identity)."""
    z = 4
    pdf = _tiles_pdf(spark, z, z)
    polys = {p["poly_id"]: p for p in fixtures.polygons_np(fixtures.poly_count_for(SF_DIR))}
    checked = 0
    for row in pdf.itertuples():
        layers = tilemod.decode_tile(bytes(row.mvt))
        for feat in layers.get("polygons", {"features": []})["features"]:
            poly = polys[feat["id"]]
            ext = np.asarray(poly["rings"][0], dtype=np.float64)
            u, v = lnglat_to_unit(ext[:, 0], ext[:, 1])
            scale = float(1 << z) * 4096
            px = u * scale - row.x * 4096
            py = v * scale - row.y * 4096
            if px.min() < 0 or py.min() < 0 or px.max() > 4096 or py.max() > 4096:
                continue  # touches the border -> clipped, skip
            want = geomstream.quantize(np.stack([px, py], axis=1)[:-1])
            kind, parts = geomstream.decode(
                np.asarray(feat["geometry"], dtype=np.uint64),
                feat["geom_type"],
                flip_y=True,
            )
            rings = parts if kind == "Polygon" else parts[0]
            got = np.asarray(rings[0])
            if len(got) > 1 and (got[0] == got[-1]).all():
                got = got[:-1]  # decoder re-closes the loop
            # same cyclic sequence, possibly rotated/reversed by orientation fix
            assert len(got) == len(want)
            assert {tuple(p) for p in got} == {tuple(p) for p in want}
            checked += 1
    assert checked > 5


def test_vectorized_matches_rowwise_bytes(spark):
    """The batched stream encoder must be BYTE-identical to the per-row
    applyInPandas reference path (same clip/orient/encode semantics)."""
    new = polytiler.encode_polygon_tiles(spark, SF_DIR, 0, 4).toPandas()
    old = polytiler.encode_polygon_tiles_rowwise(spark, SF_DIR, 0, 4).toPandas()
    kn = {(r.z, r.x, r.y): r.mvt_sha256 for r in new.itertuples()}
    ko = {(r.z, r.x, r.y): r.mvt_sha256 for r in old.itertuples()}
    assert kn == ko and len(kn) > 50


def test_coverage_superset_of_emitted_tiles(spark):
    cov = (
        polytiler.with_covered_tiles(
            polytiler.polygons_nested_df(spark, SF_DIR), 0, 4
        )
        .select("z", "x", "y")
        .distinct()
        .toPandas()
    )
    emitted = _tiles_pdf(spark)[["z", "x", "y"]]
    cov_set = set(map(tuple, cov.to_numpy()))
    for t in map(tuple, emitted.to_numpy()):
        assert t in cov_set


def _square_batch(name):
    """One z0 polygon (a 10-degree square, open ring) as the encode
    kernel's input columns."""
    return pa.RecordBatch.from_arrays(
        [
            pa.array([0] * 4, pa.int64()),
            pa.array([7] * 4, pa.int64()),
            pa.array([name] * 4, pa.string()),
            pa.array([0] * 4, pa.int32()),
            pa.array([0.0, 10.0, 10.0, 0.0]),
            pa.array([0.0, 0.0, 10.0, 10.0]),
        ],
        names=["gid", "poly_id", "name", "ring_idx", "lon", "lat"],
    )


def _encode_kernel(rb):
    return list(
        tiler.carry_group_iter_arrow(
            [rb], polytiler._encode_poly_group_arrow, frozenset({"name"})
        )
    )


def test_null_polygon_name_raises():
    """A null name used to be written as the tag string "nan"."""
    (out,) = _encode_kernel(_square_batch("park"))
    layers = tilemod.decode_tile(out.column("mvt")[0].as_py())
    assert [f["tags"] for f in layers["polygons"]["features"]] == [
        [("name", ("string", "park"))]
    ]
    with pytest.raises(ValueError, match="null tag values in column 'name'"):
        _encode_kernel(_square_batch(None))

