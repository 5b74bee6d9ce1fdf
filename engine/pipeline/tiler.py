"""Per-tile MVT encode stage (SURVEY B12-B15) + skew handling (B14).

Pipeline shape (SURVEY §3.4): indexed features are optionally capped per
tile (deterministic top-K by feature_id — the scale guard for mega-tiles:
z0 contains EVERY feature, so an uncapped group would OOM one executor at
100 TB), then one tile shuffle + ``sortWithinPartitions`` so each tile's
features are CONTIGUOUS, then a post-sort JVM projection to
``(gid, qx, qy, feature_id, tags)`` feeds ``mapInArrow``, which encodes
MANY tiles per Arrow batch (group boundaries detected vectorized on the
packed int64 gid, incomplete tail groups carried into the next batch).
Every point-tile entry point — ``encode_point_tiles`` over materialized
(z, x, y, px, py), ``encode_point_tiles_compact`` and the salted
``encode_point_partials_compact`` over (u, v) — ends in this one carry and
one kernel per output schema. This avoids ``groupBy().applyInPandas``'s
per-group overhead, which dominates when the pyramid has tens of
thousands of small tiles (measured 2.6x faster at sf0.01, and the win
grows with tile count).

Byte determinism: features sorted by (z,x,y,feature_id) by the partitioner,
layers sorted by name inside the codec — output bytes are invariant under
partitioning, salting, and executor count (SURVEY §7.4 item 1).
"""

from __future__ import annotations

from collections.abc import Iterator

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from engine.mvtcodec import fastpoints, pbwire

EXTENT = 4096

TILE_SCHEMA = (
    "z int, x bigint, y bigint, mvt binary, n_features long, n_bytes long, mvt_sha256 string"
)
ENCODE_SCHEMA = "z int, x bigint, y bigint, mvt binary, n_features long, n_bytes long"


def cap_features_per_tile(
    df: DataFrame, k: int, n_salt: int = 64, order_col: str = "feature_id"
) -> DataFrame:
    """Deterministic top-K features per (z,x,y) by smallest ``order_col``
    (B14). Two-level: salted partial top-K bounds any single task's sort
    state even for the z0 mega-tile, then a final top-K per tile. The result
    is a pure function of the data (independent of n_salt / partitioning)."""
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(order_col), F.lit(n_salt)))
    w1 = Window.partitionBy("z", "x", "y", "_salt").orderBy(order_col)
    partial = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy("z", "x", "y").orderBy(order_col)
    return (
        partial.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


GROUP_COLS = ("z", "x", "y")


def _group_bounds(pdf: pd.DataFrame) -> np.ndarray:
    """Start offsets of each (z, x, y) run in a pre-sorted frame."""
    first = pdf[GROUP_COLS[0]].to_numpy()
    change = np.empty(len(first), dtype=bool)
    change[0] = True
    change[1:] = np.diff(first) != 0
    for c in GROUP_COLS[1:]:
        v = pdf[c].to_numpy()
        change[1:] |= np.diff(v) != 0
    return np.flatnonzero(change)


def _gid_bounds(gid: np.ndarray) -> np.ndarray:
    """Start offsets of each gid run in a pre-sorted int64 array."""
    change = np.empty(len(gid), dtype=bool)
    change[0] = True
    np.not_equal(gid[1:], gid[:-1], out=change[1:])
    return np.flatnonzero(change)


def _tag_arrays(cols, tag_cols) -> dict:
    """Tag columns in the form the fastpoints kernels take: string tags
    dictionary-encoded in Arrow C++ (codes + a tiny unique list, no
    per-row Python objects), other types as numpy.

    Null values raise ValueError: dictionary_encode() leaves null INDICES,
    which the int64 cast would turn into garbage codes (and a null number
    would become NaN), so a null would otherwise corrupt tag bytes
    silently."""
    tags = {}
    for c, vt in tag_cols:
        arr = cols[c]
        if arr.null_count:
            raise ValueError(
                f"null tag values in column {c!r} are not supported; "
                "fill or drop nulls upstream"
            )
        if vt == "string":
            d = arr.dictionary_encode()
            codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            tags[c] = (vt, (codes, d.dictionary.to_pylist()))
        else:
            tags[c] = (vt, arr.to_numpy(zero_copy_only=False))
    return tags


def _encode_group_arrow(cols, layer_name, tag_cols, extent):
    """Arrow-native tile encode for one-or-more COMPLETE gid groups.

    ``cols``: numpy int64 arrays for gid/qx/qy/feature_id, pyarrow arrays
    for tag columns. No pandas frame, no per-row Python objects anywhere:
    the output binary column is built straight from the encoder's flat
    buffer + offsets (encode_point_tiles_sorted_raw), with no Python str
    per row or bytes object per tile."""
    import pyarrow as pa

    gid = cols["gid"]
    starts = _gid_bounds(gid)
    counts = np.diff(np.append(starts, len(gid)))
    buf, tstarts, ttotal = fastpoints.encode_point_tiles_sorted_raw(
        counts,
        cols["feature_id"],
        cols["qx"],
        cols["qy"],
        _tag_arrays(cols, tag_cols),
        layer_name,
        extent,
    )
    n_tiles = len(tstarts)
    if len(buf) >= (1 << 31):
        # pa.binary() offsets are int32; a mega-group past 2 GiB would wrap
        # silently on the int64->int32 assignment (ADVICE r6)
        raise ValueError(
            "encoded tile group exceeds 2 GiB of tile bytes; split the "
            "group (salted partial encode) before the Arrow batch build"
        )
    offsets = np.empty(n_tiles + 1, dtype=np.int32)
    offsets[:-1] = tstarts
    offsets[-1] = len(buf)
    mvt = pa.Array.from_buffers(
        pa.binary(), n_tiles, [None, pa.py_buffer(offsets), pa.py_buffer(buf)]
    )
    g = gid[starts]
    mask = (1 << 26) - 1
    return pa.RecordBatch.from_arrays(
        [
            pa.array((g >> 52).astype(np.int32), type=pa.int32()),
            pa.array((g >> 26) & mask, type=pa.int64()),
            pa.array(g & mask, type=pa.int64()),
            mvt,
            pa.array(counts, type=pa.int64()),
            pa.array(ttotal.astype(np.int64), type=pa.int64()),
        ],
        names=["z", "x", "y", "mvt", "n_features", "n_bytes"],
    )


def carry_group_iter_arrow(batches, encode_fn, tag_names: frozenset):
    """carry_group_iter for mapInArrow: same complete-group contract and
    O(1) mega-group concat, but operating on numpy/pyarrow columns —
    pandas never enters the worker."""
    import pyarrow as pa

    def to_cols(rb):
        return {
            name: (
                rb.column(i)
                if name in tag_names
                else rb.column(i).to_numpy()
            )
            for i, name in enumerate(rb.schema.names)
        }

    def slice_cols(cols, s, e):
        return {
            k: v[s:e] if isinstance(v, np.ndarray) else v.slice(s, e - s)
            for k, v in cols.items()
        }

    def concat_cols(parts):
        if len(parts) == 1:
            return parts[0]
        return {
            k: (
                np.concatenate([p[k] for p in parts])
                if isinstance(parts[0][k], np.ndarray)
                else pa.chunked_array([p[k] for p in parts]).combine_chunks()
            )
            for k in parts[0]
        }

    pend = []
    for rb in batches:
        if rb.num_rows == 0:
            continue
        cols = to_cols(rb)
        gid = cols["gid"]
        starts = _gid_bounds(gid)
        tail = int(starts[-1])
        body_start = 0
        if pend:
            if pend[-1]["gid"][-1] == gid[0]:
                if len(starts) == 1:
                    pend.append(cols)  # batch is one group: keep carrying
                    continue
                body_start = int(starts[1])
                pend.append(slice_cols(cols, 0, body_start))
            yield encode_fn(concat_cols(pend))
            pend = []
        if tail > body_start:
            yield encode_fn(slice_cols(cols, body_start, tail))
        pend.append(slice_cols(cols, tail, len(gid)))
    if pend:
        yield encode_fn(concat_cols(pend))


def carry_group_iter(
    batches: Iterator[pd.DataFrame], encode_fn
) -> Iterator[pd.DataFrame]:
    """Drive ``encode_fn`` over frames whose (z, x, y) groups are
    COMPLETE, given a stream of Arrow batches pre-sorted by (z, x, y).

    The (possibly incomplete) trailing group is carried as a LIST of
    chunks and concatenated exactly once when the group completes — a
    mega-tile spanning many Arrow batches (z0 holds every feature) is
    copied O(1) times, not O(batches) (quadratic carry re-concat measured
    5-40x slower on the z0-z14 pyramid at sf0.1). ``encode_fn`` receives a
    frame holding one or more complete groups.
    """
    chunks: list[pd.DataFrame] = []

    def flush():
        group = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        chunks.clear()
        return encode_fn(group)

    for pdf in batches:
        if not len(pdf):
            continue
        starts = _group_bounds(pdf)
        tail = int(starts[-1])
        body_start = 0
        if chunks:
            prev = chunks[-1].iloc[-1]
            first = pdf.iloc[0]
            same = all(prev[c] == first[c] for c in GROUP_COLS)
            if same and len(starts) == 1:
                chunks.append(pdf)  # batch is one group: keep carrying
                continue
            if same:
                body_start = int(starts[1])
                chunks.append(pdf.iloc[:body_start])
            yield flush()
        body = pdf.iloc[body_start:tail]
        if len(body):
            yield encode_fn(body)
        chunks.append(pdf.iloc[tail:])
    if chunks:
        yield flush()


def _encode_tiles(projected: DataFrame, layer_name, tag_cols, extent) -> DataFrame:
    """(gid, qx, qy, feature_id, tags) rows, each gid run contiguous and
    sorted by feature_id -> one ENCODE_SCHEMA row per tile plus its
    JVM-side digest (codegen'd sha2 over the binary column, so the Python
    stage makes no per-tile hashlib calls)."""
    tag_names = frozenset(c for c, _ in tag_cols)

    def encode_iter(batches):
        return carry_group_iter_arrow(
            batches,
            lambda cols: _encode_group_arrow(cols, layer_name, tag_cols, extent),
            tag_names,
        )

    encoded = projected.mapInArrow(encode_iter, ENCODE_SCHEMA)
    return encoded.withColumn("mvt_sha256", F.sha2(F.col("mvt"), 256))


def encode_point_tiles(
    df: DataFrame,
    layer_name: str = "pages",
    tag_cols: tuple[tuple[str, str], ...] = (("lang", "string"),),
    extent: int = EXTENT,
    partition_mode: str = "hash",
) -> DataFrame:
    """(z,x,y,feature_id,px,py,tags...) -> one MVT tile row per (z,x,y).

    partition_mode: "hash" (default) co-locates each tile with one shuffle
    pass; "range" (repartitionByRange on z,x,y) additionally orders tiles
    across partitions; "hilbert" (SURVEY §4.3 output-locality mode) range-
    partitions on (z, Hilbert key of x,y) so consecutively written tiles
    are spatial NEIGHBORS — the write-locality order object stores and tile
    servers want. Both non-hash modes cost a range-sampling pass that
    re-evaluates the upstream lineage — worth it when the input is a
    materialized table (the resumable job), not when the lineage is an
    expensive expression pipeline. Tile BYTES are identical in every mode
    (per-tile feature order is fixed by the sort; only cross-tile output
    order changes) — asserted in tests/test_manifest_resume.py.

    After the sort, each row projects to the packed tile key
    gid = z<<52 | x<<26 | y and qx/qy = cast(px/py as long), which
    truncates toward zero like mvtcodec.geomstream.quantize. Errors:
    a row outside 0 <= z <= 25, 0 <= x, y < 2^z fails the job through
    ``raise_error`` ("tile key out of range"), since its x/y would
    overflow the 26-bit gid fields and silently merge into another tile;
    a null tag value raises ValueError ("null tag values ... are not
    supported") in the encode.
    """
    tag_cols = tuple(tag_cols)
    HILBERT_ORDER = 15  # supports z <= 14: x << (15 - z) stays under 2^15

    cols = ["z", "x", "y", "feature_id", "px", "py"] + [c for c, _ in tag_cols]
    selected = df.select(*cols)
    if partition_mode == "hilbert":
        from . import index as indexmod

        keyed = selected.withColumns(
            {
                "_gx": F.expr(f"shiftleft(x, {HILBERT_ORDER} - z)"),
                "_gy": F.expr(f"shiftleft(y, {HILBERT_ORDER} - z)"),
            }
        )
        keyed = indexmod.with_hilbert_key(keyed, HILBERT_ORDER, "_gx", "_gy").drop(
            "_gx", "_gy"
        )
        parted = keyed.repartitionByRange("z", "hkey")
        prepared = parted.sortWithinPartitions("z", "hkey", "x", "y", "feature_id")
    elif partition_mode == "range":
        parted = selected.repartitionByRange("z", "x", "y")  # B13: output locality
        prepared = parted.sortWithinPartitions("z", "x", "y", "feature_id")
    else:
        parted = selected.repartition("z", "x", "y")
        prepared = parted.sortWithinPartitions("z", "x", "y", "feature_id")
    in_range = F.expr(
        "z BETWEEN 0 AND 25 AND x >= 0 AND y >= 0 "
        "AND x < shiftleft(cast(1 as bigint), z) "
        "AND y < shiftleft(cast(1 as bigint), z)"
    )
    gid = F.expr(
        "shiftleft(cast(z as bigint), 52) | shiftleft(cast(x as bigint), 26) "
        "| cast(y as bigint)"
    )
    out_of_range = F.raise_error(
        F.format_string(
            "tile key out of range: z=%s x=%s y=%s "
            "(need 0 <= z <= 25, 0 <= x, y < 2^z)",
            "z", "x", "y",
        )
    )
    projected = prepared.select(
        F.when(in_range, gid).otherwise(out_of_range).alias("gid"),
        F.col("px").cast("long").alias("qx"),
        F.col("py").cast("long").alias("qy"),
        "feature_id",
        *[c for c, _ in tag_cols],
    )
    return _encode_tiles(projected, layer_name, tag_cols, extent)


def encode_shuffle_partitions(spark) -> int:
    """Width of the tile-encode final exchange: max(4 x total cores, 32),
    overridable via SPARK_GRAFT_ENCODE_PARTS. On a cluster
    defaultParallelism is the executor-core total, so the encode stage gets
    ~4 waves of smaller tasks — enough to overlap shuffle reads with Python
    encode and rebalance stragglers without per-task overhead dominating."""
    n = int(os.environ.get("SPARK_GRAFT_ENCODE_PARTS", "0"))
    if n:
        return n
    return max(4 * spark.sparkContext.defaultParallelism, 32)


def encode_point_tiles_compact(
    df: DataFrame,
    z_min: int = 0,
    z_max: int = 14,
    layer_name: str = "pages",
    tag_cols: tuple[tuple[str, str], ...] = (("lang", "string"),),
    extent: int = EXTENT,
) -> DataFrame:
    """Shuffle-lean pyramid encode: ``df`` carries (u, v, feature_id,
    tags...) and only (z, u, v, feature_id, tags) — packed into one int64
    key when the zoom range allows, see _packed_exprs — ride the tile
    shuffle. The derived (x, y, px, py) columns (40%% of the shuffled bytes
    of encode_point_tiles' input) are reconstructed AFTER the shuffle with
    the same IEEE double expressions, so the output is BYTE-IDENTICAL to
    encode_point_tiles (tests/test_tiler_compact.py checks both against
    the same golden digests, at z_max 16 on the packed key and at z_max 17
    on the unpacked one). The partition/sort keys are computed as
    expressions, never materialized. At 9M rows x 15 zooms per sf0.1 this
    cuts the dominant shuffle by ~30%; at 100 TB that shuffle is the
    pipeline's bottleneck, so the saving scales 1:1. Null tag values raise
    ValueError, like encode_point_tiles.
    """
    if not 0 <= z_min <= z_max <= 25:
        raise ValueError("gid packing supports zoom levels 0..25")
    tag_cols = tuple(tag_cols)
    # Final-exchange width: more, smaller encode tasks let the Python encode
    # stage overlap shuffle reads and keep each task's Arrow/numpy working
    # set inside an already-faulted arena (same rationale as the 16k batch
    # cap in session.py). Measured on the z0-14 pyramid at sf0.1: 4x cores
    # beats 2x cores at EVERY level (8 cores: 10.3s vs 15.9s; 32 cores:
    # 10.5s vs 16.8s same-session), and over-widening regresses (96 parts
    # at 8 cores: 17.5s). Bytes are partitioning-invariant
    # (carry_group_iter_arrow completes tile groups).
    n_parts = encode_shuffle_partitions(df.sparkSession)
    projected = _compact_shuffle(
        df, z_min, z_max, extent, tag_cols, n_salt=0, n_parts=n_parts
    )
    return _encode_tiles(projected, layer_name, tag_cols, extent)


def _packed_exprs(z_max: int, extent: int, with_salt: bool):
    """SQL expression strings for the packed one-int64 shuffle key (r7,
    guide §2.3): bit fields [salt(6) .] z(5) . uq(B+1) . vq(B+1) with
    B = z_max + 12, uq = clamp(floor(u * 2^B), 0, 2^B). Returns None when
    the fields do not fit an int64 (z_max > 16 unsalted / > 13 salted) or
    extent != 4096; callers fall back to the unpacked (z, u, v) shuffle.

    Exactness (why the derived columns are bit-identical to the unpacked
    path for u, v in [0, 1], the with_unit domain): u * 2^B is exact
    (power-of-two scaling of a double), floor(u*2^B) >> (B-z) ==
    floor(u*2^z) (nested-floor identity with integer divisor), and
    qx = floor(u*2^(z+12)) - x*4096 == the old cast(u*scale - x*4096.0 as
    long) because that double subtraction is exact (the difference's
    significant bits fit a double) and the value is >= 0 so trunc == floor.
    The clamps reproduce the unpacked path's least/greatest at u = 1.0."""
    B = z_max + 12
    if extent != EXTENT or 5 + (6 if with_salt else 0) + 2 * (B + 1) > 64:
        return None
    mask = (1 << (B + 1)) - 1
    f = 1 << B
    zshift = 2 * (B + 1)

    def q_c(col: str) -> str:
        return (
            f"least(cast({f} as bigint), greatest(cast(0 as bigint), "
            f"cast(floor({col} * cast({f} as double)) as bigint)))"
        )

    packed = (
        f"shiftleft(cast(z as bigint), {zshift}) + "
        f"shiftleft({q_c('u')}, {B + 1}) + {q_c('v')}"
    )
    if with_salt:
        packed = f"shiftleft(_salt, {zshift + 5}) + " + packed
    z_i = f"cast((shiftright(packed, {zshift}) & 31) as int)"
    uq = f"(shiftright(packed, {B + 1}) & {mask})"
    vq = f"(packed & {mask})"
    x = (
        f"least(cast(shiftleft(1, {z_i}) as bigint) - 1, "
        f"shiftright({uq}, {B} - {z_i}))"
    )
    y = (
        f"least(cast(shiftleft(1, {z_i}) as bigint) - 1, "
        f"shiftright({vq}, {B} - {z_i}))"
    )
    qx = f"(shiftright({uq}, {B - 12} - {z_i}) - shiftleft({x}, 12))"
    qy = f"(shiftright({vq}, {B - 12} - {z_i}) - shiftleft({y}, 12))"
    gid = f"shiftleft(cast({z_i} as bigint), 52) + shiftleft({x}, 26) + {y}"
    if with_salt:
        gid = f"shiftleft(shiftright(packed, {zshift + 5}), 57) + {gid}"
    return {"packed": packed, "z": z_i, "x": x, "y": y, "qx": qx, "qy": qy,
            "gid": gid, "salt": f"shiftright(packed, {zshift + 5})"}


_TILE_X = (
    "least(cast(shiftleft(1, z) as bigint) - 1, greatest(cast(0 as bigint), "
    "cast(floor(u * shiftleft(1, z)) as bigint)))"
)
_TILE_Y = (
    "least(cast(shiftleft(1, z) as bigint) - 1, greatest(cast(0 as bigint), "
    "cast(floor(v * shiftleft(1, z)) as bigint)))"
)


def _tile_xy_exprs():
    """x/y tile expressions over (z, u, v) — used as partition/sort keys
    without materializing the columns into the shuffle."""
    return F.expr(_TILE_X), F.expr(_TILE_Y)


def _shuffle_exprs(z_max: int, extent: int, tag_cols, salted: bool):
    """(select, partition+sort, post-shuffle projection) pieces of the
    compact encoders' tile shuffle over (z, u, v[, _salt], feature_id,
    tags): the packed one-int64 key when _packed_exprs fits, else the
    unpacked (z, u, v[, _salt]) columns. The partition keys are
    ``part_sort[:-1]``; the sort appends feature_id. The salt goes in
    gid's top bits (grouping is equality-based, so any contiguous total
    order works; the within-group sort by feature_id fixes the bytes).

    Unpacked exactness: scale = 2^z * 4096 = 2^(z+12) and x * 4096 are
    EXACT doubles, so qx/qy round identically to numpy's
    u * scale - x * 4096.0; cast(double as long) truncates toward zero
    exactly like mvtcodec.geomstream.quantize (Go's int32() cast,
    reference marshal.go:190,196)."""
    tags = [c for c, _ in tag_cols]
    salt = ["_salt"] if salted else []
    e = _packed_exprs(z_max, extent, salted)
    if e is not None:
        sel = [f"{e['packed']} as packed", "feature_id", *tags]
        keys = [e["z"], e["x"], e["y"]] + ([e["salt"]] if salted else [])
        gid, qx, qy = e["gid"], e["qx"], e["qy"]
    else:
        sel = ["z", "u", "v", "feature_id", *salt, *tags]
        keys = ["z", _TILE_X, _TILE_Y, *salt]
        scale = "(cast(shiftleft(1, z) as double) * 4096.0D)"
        gid = f"shiftleft(cast(z as bigint), 52) + shiftleft({_TILE_X}, 26) + {_TILE_Y}"
        if salted:
            gid = f"shiftleft(_salt, 57) + {gid}"
        qx = f"cast(u * {scale} - cast({_TILE_X} as double) * 4096.0D as long)"
        qy = f"cast(v * {scale} - cast({_TILE_Y} as double) * 4096.0D as long)"
    part_sort = [F.expr(k) for k in keys] + [F.col("feature_id")]
    project = [f"{gid} as gid", f"{qx} as qx", f"{qy} as qy", "feature_id", *tags]
    return sel, part_sort, project


def _compact_shuffle_exprs(z_max: int, extent: int, tag_cols):
    """_shuffle_exprs for encode_point_tiles_compact's packed (unsalted)
    shuffle; (None, None, None) when packing does not apply."""
    if _packed_exprs(z_max, extent, with_salt=False) is None:
        return None, None, None
    return _shuffle_exprs(z_max, extent, tag_cols, salted=False)


def _compact_shuffle(
    df: DataFrame, z_min, z_max, extent, tag_cols, n_salt: int, n_parts=None
) -> DataFrame:
    """The compact encoders' shared plan: explode (u, v, feature_id, tags)
    rows over zooms z_min..z_max, salt them when ``n_salt`` > 0, shuffle +
    sort on the tile key (into ``n_parts`` partitions, or the session
    default), then project to (gid, qx, qy, feature_id, tags) in the same
    codegen stage — the input of carry_group_iter_arrow."""
    zoomed = df.withColumn("z", F.explode(F.sequence(F.lit(z_min), F.lit(z_max))))
    if n_salt:
        zoomed = zoomed.withColumn("_salt", _zoom_salt_expr(n_salt))
    sel, part_sort, project = _shuffle_exprs(z_max, extent, tag_cols, n_salt > 0)
    parted = zoomed.selectExpr(*sel).repartition(
        *([n_parts] if n_parts else []), *part_sort[:-1]
    )
    return parted.sortWithinPartitions(*part_sort).selectExpr(*project)


PARTIAL_SCHEMA = (
    "z int, x bigint, y bigint, n_features long, fids binary, block binary, "
    "feat_len binary, glen binary, vcode binary, dict_blob binary, "
    "dict_lens binary, mvt binary"
)


def encode_point_partials_compact(
    df: DataFrame,
    z_min: int = 0,
    z_max: int = 14,
    n_salt: int = 8,
    tag_cols: tuple[tuple[str, str], ...] = (("lang", "string"),),
    extent: int = EXTENT,
) -> DataFrame:
    """B14 stage 1: vectorized feature encode per (tile, salt) group — the
    geometry + varint heavy lifting for a hot tile (z0 holds every feature)
    spreads over n_salt tasks instead of one — shipping PARTIAL ARRAYS
    (framed feature bytes + ids/lengths/dict codes, engine.mvtcodec.
    fastpoints.encode_point_features_sorted) in PARTIAL_SCHEMA rows (the
    ``mvt`` column stays null; pre-encoded tiles conformed by
    tiles_as_partial_rows ride the same schema into one shared merge).

    Shuffle-lean like encode_point_tiles_compact: ``df`` carries (u, v,
    feature_id, tags), only those ride the salted tile shuffle, and the
    workers run the same pandas-free Arrow carry as the tile encoder, with
    the salt packed into gid's top bits. Null tag values raise ValueError."""
    if not 0 <= z_min <= z_max <= 25 or not 1 <= n_salt <= 64:
        raise ValueError("gid packing supports z 0..25, n_salt 1..64")
    tag_cols = tuple(tag_cols)
    projected = _compact_shuffle(df, z_min, z_max, extent, tag_cols, n_salt=n_salt)
    tag_names = frozenset(c for c, _ in tag_cols)

    def encode_iter(batches):
        return carry_group_iter_arrow(
            batches,
            lambda c: _encode_partials_group_arrow(c, tag_cols),
            tag_names,
        )

    return projected.mapInArrow(encode_iter, PARTIAL_SCHEMA)


def _encode_partials_group_arrow(cols, tag_cols):
    """Arrow-native partial encode for one-or-more COMPLETE (salt-packed)
    gid groups — the partial-row twin of _encode_group_arrow: numpy ints
    in, tag strings dictionary-encoded in Arrow C++, PARTIAL_SCHEMA
    RecordBatch out (per-group byte columns; the group count is tens of
    rows at z0-3, so the per-group Python loop is not a hot path)."""
    import pyarrow as pa

    gid = cols["gid"]
    starts = _gid_bounds(gid)
    counts = np.diff(np.append(starts, len(gid)))
    fids = cols["feature_id"]
    fb = fastpoints.encode_point_features_sorted(
        counts, fids, cols["qx"], cols["qy"], _tag_arrays(cols, tag_cols)
    )
    feat_len = fb["feat_len"]
    b_off = np.concatenate([[0], np.cumsum(feat_len)])
    block = fb["block"].tobytes()
    vblob = fb["vblob"].tobytes()
    e_bounds = fb["e_bounds"]
    entry_lens = fb["entry_lens"]
    ends = np.append(starts[1:], len(gid))
    g = gid[starts]
    mask26 = (1 << 26) - 1
    fids64 = np.asarray(fids, dtype=np.int64)
    out = {k: [] for k in (
        "fids", "block", "feat_len", "glen", "vcode", "dict_blob", "dict_lens"
    )}
    for i, (s, e) in enumerate(zip(starts, ends)):
        out["fids"].append(fids64[s:e].tobytes())
        out["block"].append(block[b_off[s] : b_off[e]])
        out["feat_len"].append(feat_len[s:e].astype(np.int32).tobytes())
        out["glen"].append(fb["glen"][s:e].astype(np.int32).tobytes())
        out["vcode"].append(fb["vcode"][s:e].astype(np.int32).tobytes())
        out["dict_blob"].append(
            vblob[fb["vstart"][i] : fb["vstart"][i] + fb["vlen"][i]]
        )
        out["dict_lens"].append(
            entry_lens[e_bounds[i] : e_bounds[i + 1]].astype(np.int32).tobytes()
        )
    n = len(starts)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(((g >> 52) & 31).astype(np.int32), type=pa.int32()),
            pa.array((g >> 26) & mask26, type=pa.int64()),
            pa.array(g & mask26, type=pa.int64()),
            pa.array(counts, type=pa.int64()),
            *[pa.array(out[k], type=pa.binary()) for k in (
                "fids", "block", "feat_len", "glen", "vcode",
                "dict_blob", "dict_lens",
            )],
            pa.nulls(n, pa.binary()),
        ],
        names=[
            "z", "x", "y", "n_features", "fids", "block", "feat_len",
            "glen", "vcode", "dict_blob", "dict_lens", "mvt",
        ],
    )


def _zoom_salt_expr(n_salt: int):
    """Zoom-adaptive salt: the tile population halves 4x per zoom, so the
    salt fan-out halves per zoom too (z0: n_salt ways, ... deep zooms: 1).
    Single-partial tiles skip the merge re-framing entirely (fastmerge
    fast path) — only genuinely hot tiles pay the two-stage cost. Salting
    is routing only; bytes are invariant (tests/test_tiler_compact.py)."""
    return F.pmod(
        F.xxhash64("feature_id"),
        F.greatest(F.lit(1), F.expr(f"shiftright({n_salt}, z)")),
    )


def tiles_as_partial_rows(tiles: DataFrame) -> DataFrame:
    """Conform pre-encoded tile rows (z, x, y, mvt, n_features) to
    PARTIAL_SCHEMA so another stream's finished tiles ride the SAME merge
    shuffle as the point partials (wire-spliced at the merge task)."""
    null_b = "cast(null as binary)"
    return tiles.selectExpr(
        "z", "x", "y", "n_features",
        *[f"{null_b} as {c}" for c in (
            "fids", "block", "feat_len", "glen", "vcode", "dict_blob",
            "dict_lens",
        )],
        "mvt",
    )


def merge_partial_tiles(
    parts: DataFrame,
    layer_name: str = "pages",
    tag_cols: tuple[tuple[str, str], ...] = (("lang", "string"),),
    extent: int = EXTENT,
) -> DataFrame:
    """B14 stage 2: ONE shuffle on (z,x,y) merges everything addressed to a
    tile — point partial arrays re-frame into the canonical layer with
    whole-array passes (engine.mvtcodec.fastmerge, zero per-feature
    Python), pre-encoded tiles from other streams split into their layer
    messages and wire-splice in (same-name collisions fall back to the
    generic re-framer). Layers sort by name; bytes equal a single-pass
    multi-layer encode."""
    from engine.mvtcodec import fastmerge

    from . import tilemerge

    tag_cols = tuple(tag_cols)
    t = len(tag_cols)
    keys_blob = b"".join(
        pbwire.len_delimited(3, c.encode("utf-8")) for c, _ in tag_cols
    )

    def merge_batch(pdf: pd.DataFrame) -> pd.DataFrame:
        starts = list(_group_bounds(pdf)) + [len(pdf)]
        out = {k: [] for k in (
            "z", "x", "y", "mvt", "n_features", "n_bytes", "n_layers"
        )}
        for s, e in zip(starts[:-1], starts[1:]):
            partials = []
            spliced: dict[str, list[bytes]] = {}
            for i in range(s, e):
                if pdf["mvt"].iloc[i] is not None:
                    for nm, msg in tilemerge.split_tile_layers(
                        bytes(pdf["mvt"].iloc[i])
                    ):
                        spliced.setdefault(nm, []).append(msg)
                    continue
                nf = int(pdf["n_features"].iloc[i])
                partials.append(
                    {
                        "fids": np.frombuffer(pdf["fids"].iloc[i], dtype=np.int64),
                        "block": np.frombuffer(pdf["block"].iloc[i], dtype=np.uint8),
                        "feat_len": np.frombuffer(
                            pdf["feat_len"].iloc[i], dtype=np.int32
                        ).astype(np.int64),
                        "glen": np.frombuffer(
                            pdf["glen"].iloc[i], dtype=np.int32
                        ).astype(np.int64),
                        "vcode": np.frombuffer(
                            pdf["vcode"].iloc[i], dtype=np.int32
                        ).astype(np.int64).reshape(nf, t),
                        "dict_blob": np.frombuffer(
                            pdf["dict_blob"].iloc[i], dtype=np.uint8
                        ),
                        "dict_lens": np.frombuffer(
                            pdf["dict_lens"].iloc[i], dtype=np.int32
                        ).astype(np.int64),
                    }
                )
            layers: dict[str, bytes] = {}
            if partials:
                layers[layer_name] = fastmerge.merge_point_partials(
                    partials, layer_name, keys_blob, extent
                )
            for nm, msgs in spliced.items():
                if nm in layers or len(msgs) > 1:
                    msgs = msgs + ([layers[nm]] if nm in layers else [])
                    layers[nm] = tilemerge._merge_layer(nm, msgs)
                else:
                    layers[nm] = msgs[0]
            data = b"".join(
                pbwire.len_delimited(3, layers[nm]) for nm in sorted(layers)
            )
            out["z"].append(int(pdf["z"].iloc[s]))
            out["x"].append(int(pdf["x"].iloc[s]))
            out["y"].append(int(pdf["y"].iloc[s]))
            out["mvt"].append(data)
            out["n_features"].append(int(pdf["n_features"].iloc[s:e].sum()))
            out["n_bytes"].append(len(data))
            out["n_layers"].append(len(layers))
        return pd.DataFrame(
            {
                "z": pd.array(out["z"], dtype="int32"),
                "x": pd.array(out["x"], dtype="int64"),
                "y": pd.array(out["y"], dtype="int64"),
                "mvt": out["mvt"],
                "n_features": pd.array(out["n_features"], dtype="int64"),
                "n_bytes": pd.array(out["n_bytes"], dtype="int64"),
                "n_layers": pd.array(out["n_layers"], dtype="int32"),
            }
        )

    merged = (
        parts.repartition("z", "x", "y")
        .sortWithinPartitions("z", "x", "y")
        .mapInPandas(
            lambda b: carry_group_iter(b, merge_batch),
            "z int, x bigint, y bigint, mvt binary, n_features long, "
            "n_bytes long, n_layers int",
        )
    )
    return merged.withColumn("mvt_sha256", F.sha2(F.col("mvt"), 256))


def decode_layer_counts(tiles: DataFrame) -> DataFrame:
    """Round-trip verification projected per LAYER: decode every emitted
    tile and count features per layer name — the auditable shape for
    multi-layer tiles (z, x, y, layer, n_features)."""

    def run(batches):
        from engine.mvtcodec import tile as tilemod

        for pdf in batches:
            rows = {"z": [], "x": [], "y": [], "layer": [], "n_features": []}
            for zz, xx, yy, data in zip(pdf["z"], pdf["x"], pdf["y"], pdf["mvt"]):
                layers = tilemod.decode_tile(bytes(data))
                for name in sorted(layers):
                    rows["z"].append(zz)
                    rows["x"].append(xx)
                    rows["y"].append(yy)
                    rows["layer"].append(name)
                    rows["n_features"].append(len(layers[name]["features"]))
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(
        run, "z int, x long, y long, layer string, n_features long"
    )


def decode_point_features(tiles: DataFrame, layer: str = "pages") -> DataFrame:
    """B16 at coordinate granularity: decode every emitted point tile with
    the engine's own reader and emit one row per FEATURE with its decoded
    quantized pixel coords — joins relationally against the closed-form
    pipeline values, closing the count-only blind spot of the decoded-count
    verify (encode -> wire -> decode -> values, checked by the oracle).
    Verification operator: per-tile decode loops are the decoder's own
    (bounded by features per tile, off the bench path)."""

    def run(batches):
        from engine.mvtcodec import tile as tilemod
        from engine.mvtcodec.zigzag import unzigzag

        for pdf in batches:
            rows = {"z": [], "x": [], "y": [], "feature_id": [], "px": [], "py": []}
            for zt, xt, yt, data in zip(pdf["z"], pdf["x"], pdf["y"], pdf["mvt"]):
                layers = tilemod.decode_tile(bytes(data))
                if layer not in layers:
                    continue
                feats = layers[layer]["features"]
                words = np.stack([f["geometry"][:3] for f in feats]).astype(np.uint32)
                px = unzigzag(words[:, 1]).astype(np.int64)
                py = unzigzag(words[:, 2]).astype(np.int64)
                n = len(feats)
                rows["z"].extend([int(zt)] * n)
                rows["x"].extend([int(xt)] * n)
                rows["y"].extend([int(yt)] * n)
                rows["feature_id"].extend(int(f["id"]) for f in feats)
                rows["px"].extend(px.tolist())
                rows["py"].extend(py.tolist())
            yield pd.DataFrame(
                {
                    "z": pd.array(rows["z"], dtype="int32"),
                    "x": pd.array(rows["x"], dtype="int64"),
                    "y": pd.array(rows["y"], dtype="int64"),
                    "feature_id": pd.array(rows["feature_id"], dtype="int64"),
                    "px": pd.array(rows["px"], dtype="int64"),
                    "py": pd.array(rows["py"], dtype="int64"),
                }
            )

    return tiles.select("z", "x", "y", "mvt").mapInPandas(
        run,
        "z int, x long, y long, feature_id long, px long, py long",
    )


def decode_verify_tiles(tiles: DataFrame) -> DataFrame:
    """Round-trip verification (B16): decode every emitted tile with the
    engine's own reader, recount features. (z,x,y,n_features,ok,decoded)."""
    import pyspark.sql.types as T

    def verify(batches):
        from engine.mvtcodec import tile as tilemod

        for pdf in batches:
            ok = []
            counts = []
            for data in pdf["mvt"]:
                try:
                    layers = tilemod.decode_tile(bytes(data))
                    n = sum(len(v["features"]) for v in layers.values())
                    ok.append(all(v["version"] == 2 for v in layers.values()))
                    counts.append(n)
                except Exception:
                    ok.append(False)
                    counts.append(-1)
            yield pd.DataFrame(
                {
                    "z": pdf["z"],
                    "x": pdf["x"],
                    "y": pdf["y"],
                    "n_features": pdf["n_features"],
                    "ok": ok,
                    "n_features_decoded": counts,
                }
            )

    schema = T.StructType(
        [
            T.StructField("z", T.IntegerType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
            T.StructField("n_features", T.LongType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("n_features_decoded", T.LongType()),
        ]
    )
    return tiles.mapInPandas(verify, schema)
