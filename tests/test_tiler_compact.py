"""Point-tile encoders: every entry point reproduces the same golden tile
digests, and bad input fails loudly instead of writing wrong bytes."""

from __future__ import annotations

import hashlib

import pytest

from engine.pipeline import fixtures, index, manifest, tiler

from .conftest import SF_DIR

# z_max -> (tile count, digest) of the sf0.001 pyramid over zooms 0..z_max.
# Digest: sha256 of the "z,x,y,mvt_sha256" lines, sorted by (z, x, y) and
# joined by "\n". Recorded from the pandas-based encode_point_tiles that
# preceded the Arrow kernel, so they pin the bytes across that change.
GOLDEN = {
    4: (340, "bfe628ecad9cbcf6970116de535f0bc51ced1b53db9ddf856331bd42511e3835"),
    14: (50221, "d48122e1e21b79fa4c7375f08ea0e0eea43d3493249278e965b3b12780d6577e"),
    16: (62221, "0e1eb559e291ac6dc21d5f8a2a4a7f0400928fdff63a761487123aeafeb92332"),
    17: (68221, "8cee224d24221091d40eff27df6a303bda351a8168af5454197a7cabbe56ba5f"),
}


def _unit(spark):
    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, SF_DIR)))
    return index.with_unit(geo)


def _assert_golden(pdf, z_max: int) -> None:
    """Check collected tile rows (zooms 0..z_max) against every golden
    digest whose zoom range it covers: a tile's bytes do not depend on
    z_max, only the shuffle key layout does."""
    rows = sorted((int(r.z), int(r.x), int(r.y), r.mvt_sha256) for r in pdf.itertuples())
    for zm, want in GOLDEN.items():
        if zm > z_max:
            continue
        lines = [f"{z},{x},{y},{h}" for z, x, y, h in rows if z <= zm]
        got = (len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest())
        assert got == want, f"zooms 0-{zm} from a z_max={z_max} run"


def test_point_tiles_golden(spark):
    tiles = tiler.encode_point_tiles(index.with_tiles(_unit(spark), 0, 17))
    _assert_golden(tiles.toPandas(), 17)


def test_compact_encode_byte_identical(spark):
    unit = _unit(spark)
    assert tiler._packed_exprs(16, tiler.EXTENT, False) is not None
    assert tiler._packed_exprs(17, tiler.EXTENT, False) is None
    for z_max in (16, 17):  # packed key, then unpacked
        tiles = tiler.encode_point_tiles_compact(unit, 0, z_max)
        _assert_golden(tiles.toPandas(), z_max)


def test_salted_partials_golden(spark):
    """encode_point_partials_compact -> merge_partial_tiles reproduces the
    unsalted bytes for any n_salt, on both salted key layouts."""
    unit = _unit(spark)
    assert tiler._packed_exprs(13, tiler.EXTENT, True) is not None
    assert tiler._packed_exprs(14, tiler.EXTENT, True) is None
    for z_max in (4, 14):  # packed salted key, then unpacked
        for n_salt in (1, 4):
            parts = tiler.encode_point_partials_compact(unit, 0, z_max, n_salt=n_salt)
            merged = tiler.merge_partial_tiles(parts).toPandas()
            _assert_golden(merged, z_max)
            assert (merged["n_layers"] == 1).all()


def _rows(spark, *rows):
    return spark.createDataFrame(
        list(rows),
        "z int, x bigint, y bigint, feature_id bigint, px double, py double, "
        "lang string, u double, v double",
    )


def _null_tag_rows(spark):
    return _rows(
        spark,
        (1, 0, 0, 1, 10.5, 20.5, "en", 0.1, 0.2),
        (1, 0, 0, 2, 30.0, 40.0, None, 0.2, 0.3),
    )


NULL_TAG_PATHS = {
    "tiles": lambda df: tiler.encode_point_tiles(df),
    "compact": lambda df: tiler.encode_point_tiles_compact(df, 0, 1),
    "partials": lambda df: tiler.encode_point_partials_compact(df, 0, 1, n_salt=2),
}


@pytest.mark.parametrize("path", sorted(NULL_TAG_PATHS))
def test_null_tag_raises(spark, path):
    with pytest.raises(Exception, match="ValueError: null tag values in column 'lang'"):
        NULL_TAG_PATHS[path](_null_tag_rows(spark)).collect()


def test_null_tag_tile_stage_commits_nothing(spark, tmp_path):
    out = str(tmp_path / "job")
    with pytest.raises(Exception, match="ValueError: null tag values"):
        manifest.run_tile_stage(spark, _null_tag_rows(spark), out)
    assert manifest.completed_tiles(spark, f"{out}/manifest") is None


@pytest.mark.parametrize("z,x,y", [(26, 0, 0), (2, 4, 0), (2, 0, -1)])
def test_tile_key_out_of_range_raises(spark, z, x, y):
    df = _rows(spark, (z, x, y, 1, 1.0, 1.0, "en", 0.5, 0.5))
    with pytest.raises(Exception, match="tile key out of range"):
        tiler.encode_point_tiles(df).collect()


def test_compact_zoom_out_of_range_raises(spark):
    unit = _rows(spark, (0, 0, 0, 1, 1.0, 1.0, "en", 0.5, 0.5))
    with pytest.raises(ValueError, match="zoom levels 0..25"):
        tiler.encode_point_tiles_compact(unit, 0, 26)
    with pytest.raises(ValueError, match="z 0..25"):
        tiler.encode_point_partials_compact(unit, 0, 26)
