"""Point-tile encoders: every entry point reproduces the same golden tile
digests, and bad input fails loudly instead of writing wrong bytes."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from engine.pipeline import fixtures, index, manifest, polytiler, tiler

from .conftest import SF_DIR, tile_digest

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
    for zm, want in GOLDEN.items():
        if zm <= z_max:
            assert tile_digest(pdf, zm) == want, f"zooms 0-{zm} from a z_max={z_max} run"


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
    # z_max 4: packed salted key, 14: unpacked
    for z_max, n_salt in ((4, 1), (4, 4), (4, 8), (14, 1), (14, 4)):
        parts = tiler.encode_point_partials_compact(unit, 0, z_max, n_salt=n_salt)
        merged = tiler.merge_partial_tiles(parts).toPandas()
        _assert_golden(merged, z_max)
        assert (merged["n_layers"] == 1).all()


def test_carry_group_iter_arrow_complete_groups():
    # gid 5 spans four batches (one empty, one all-5), 6 and 8 are single
    # rows, 7 spans a one-group batch, 9 is the final flush
    runs = [[5, 5, 5], [5, 5], [], [5, 6, 7, 7], [7], [8], [9, 9], []]
    firsts = np.cumsum([0] + [len(g) for g in runs])
    n = int(firsts[-1])
    batches = [
        pa.RecordBatch.from_arrays(
            [
                pa.array(g, pa.int64()),
                pa.array(np.arange(s, s + len(g))),
                pa.array([f"t{r}" for r in range(s, s + len(g))], pa.string()),
            ],
            names=["gid", "row", "tag"],
        )
        for g, s in zip(runs, firsts.tolist())
    ]
    calls = []
    list(tiler.carry_group_iter_arrow(batches, calls.append, frozenset({"tag"})))
    # each group reaches exactly one call, whole
    assert [c["gid"].tolist() for c in calls] == [[5] * 6, [6], [7] * 3, [8], [9, 9]]
    for cols in calls:
        assert isinstance(cols["gid"], np.ndarray) and isinstance(cols["tag"], pa.Array)
    rows = np.concatenate([c["row"] for c in calls])
    assert rows.tolist() == list(range(n))  # input reproduced in order
    tags = [t for c in calls for t in c["tag"].to_pylist()]
    assert tags == [f"t{r}" for r in range(n)]


def test_small_arrow_batches(spark):
    """Tile groups spanning many Arrow batches: at the default batch size
    every sf0.001 tile fits one batch, so the carry's multi-batch groups
    only run here."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    batch = spark.conf.get(key)
    spark.conf.set(key, "256")
    try:
        unit = _unit(spark)
        _assert_golden(tiler.encode_point_tiles_compact(unit, 0, 4).toPandas(), 4)
        parts = tiler.encode_point_partials_compact(unit, 0, 4, n_salt=4)
        _assert_golden(tiler.merge_partial_tiles(parts).toPandas(), 4)
        new = polytiler.encode_polygon_tiles(spark, SF_DIR, 0, 4).toPandas()
        old = polytiler.encode_polygon_tiles_rowwise(spark, SF_DIR, 0, 4).toPandas()
        assert tile_digest(new) == tile_digest(old)
    finally:
        spark.conf.set(key, batch)


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
