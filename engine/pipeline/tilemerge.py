"""Multi-layer tile assembly from independently encoded partial tiles
(SURVEY B14: partial encode per (tile, salt/stream) -> final merge).

Legality: a protobuf message built by concatenating serialized occurrences
of a repeated submessage field equals the message holding all of them
(reference Tile.layers framing, internal/spec/vector_tile.proto:75;
layer model /root/reference/layer.go:14). Two merge levels:

- distinct layer names (e.g. the point stream's "pages" + the polygon
  stream's "polygons"/"outlines"): pure wire-level splice — each partial
  tile is split into its layer submessages, and the merged tile re-frames
  them sorted by name. No re-encode, no geometry work.
- same layer name split across salt groups (mega-tile skew, B14): the
  partial layers' features are cheaply re-framed — geometry command words
  pass through opaque; only the per-layer tag dictionary and feature
  framing are rebuilt over the canonical feature order (sorted by id) —
  so the merged layer is BYTE-IDENTICAL to a single-pass encode (the
  engine's canon: layers sorted by name, features by feature id;
  tests/test_tiler_compact.py::test_salted_encode_byte_identical
  asserts salted == unsalted bytes).
"""

from __future__ import annotations

import numpy as np

from engine.mvtcodec import pbwire, tile as tilemod
from engine.mvtcodec.pbwire import WT_LEN


def split_tile_layers(data: bytes) -> list[tuple[str, bytes]]:
    """Top-level wire scan: the tile's layer submessages with their names
    (no feature/geometry decoding)."""
    r = pbwire.Reader(data)
    out = []
    while not r.at_end():
        field, wt = r.read_tag()
        if field == 3 and wt == WT_LEN:
            s, e = r.read_len()
            rr = pbwire.Reader(data, s, e)
            name = None
            while not rr.at_end():
                f, w = rr.read_tag()
                if f == 1 and w == WT_LEN:
                    name = rr.read_bytes().decode("utf-8")
                    break
                rr.skip(w)
            out.append((name, data[s:e]))
        else:
            r.skip(wt)
    return out


def _layer_to_partial(msg: bytes) -> dict | None:
    """Wire-parse a CANONICAL single-pass layer message into the partial-
    array dict fastmerge.merge_point_partials consumes — a framing walk
    only: geometry bytes and value entries stay opaque, no per-feature
    decode/re-encode. Canonical form = this engine's own encoders: fields
    in order (name, features..., keys..., values..., extent, version);
    every feature (id, [tags], type, geometry) with tag keys exactly
    0..t-1 in order. Returns None for anything else (id-less features,
    reordered fields, foreign encoders) — the caller falls back to the
    generic decode/re-encode merge."""
    r = pbwire.Reader(msg)
    name = None
    extent = 4096
    framed: list[bytes] = []
    fids: list[int] = []
    glens: list[int] = []
    feat_lens: list[int] = []
    vcodes: list[list[int]] = []
    keys_parts: list[bytes] = []
    dict_parts: list[bytes] = []
    dict_lens: list[int] = []
    try:
        while not r.at_end():
            tag_pos = r.pos
            field, wt = r.read_tag()
            if field == 1 and wt == WT_LEN:
                name = r.read_bytes().decode("utf-8")
            elif field == 2 and wt == WT_LEN:
                s, e = r.read_len()
                fr = pbwire.Reader(msg, s, e)
                fld, w2 = fr.read_tag()
                if fld != 1 or w2 != pbwire.WT_VARINT:
                    return None  # id-less / non-canonical feature
                fid = fr.read_varint()
                fld, w2 = fr.read_tag()
                codes: list[int] = []
                if fld == 2 and w2 == WT_LEN:
                    ts, te = fr.read_len()
                    tr = pbwire.Reader(msg, ts, te)
                    k = 0
                    while not tr.at_end():
                        if tr.read_varint() != k:
                            return None  # keys not 0..t-1 in order
                        codes.append(tr.read_varint())
                        k += 1
                    fld, w2 = fr.read_tag()
                if fld != 3 or w2 != pbwire.WT_VARINT:
                    return None
                gt = fr.read_varint()
                if gt > 127:
                    return None  # fastmerge tail assumes 1-byte type value
                fld, w2 = fr.read_tag()
                if fld != 4 or w2 != WT_LEN:
                    return None
                gs, ge = fr.read_len()
                if not fr.at_end():
                    return None  # trailing fields after geometry
                framed.append(msg[tag_pos:e])
                feat_lens.append(e - tag_pos)
                fids.append(fid)
                glens.append(ge - gs)
                vcodes.append(codes)
            elif field == 3 and wt == WT_LEN:
                _, e = r.read_len()
                keys_parts.append(msg[tag_pos:e])
            elif field == 4 and wt == WT_LEN:
                _, e = r.read_len()
                dict_parts.append(msg[tag_pos:e])
                dict_lens.append(e - tag_pos)
            elif field == 5 and wt == pbwire.WT_VARINT:
                extent = r.read_varint()
            elif field == 15 and wt == pbwire.WT_VARINT:
                r.read_varint()
            else:
                return None
    except (ValueError, UnicodeDecodeError):
        return None
    if not framed:
        return None
    t = len(vcodes[0])
    if any(len(c) != t for c in vcodes):
        return None
    vcode = (
        np.asarray(vcodes, dtype=np.int64)
        if t
        else np.zeros(len(framed), dtype=np.int64)
    )
    if t and vcode.size and int(vcode.max()) >= len(dict_lens):
        # parseable but inconsistent: a tag value code past the value-dict
        # entry count would index out of bounds inside fastmerge's
        # whole-array re-coding (ecode[codes]); hand it to the generic
        # decode/re-encode merge, which reports the real error
        return None
    return {
        "name": name,
        "extent": extent,
        "keys_blob": b"".join(keys_parts),
        "partial": {
            "fids": np.asarray(fids, dtype=np.int64),
            "block": np.frombuffer(b"".join(framed), dtype=np.uint8),
            "feat_len": np.asarray(feat_lens, dtype=np.int64),
            "glen": np.asarray(glens, dtype=np.int64),
            "vcode": vcode,
            "dict_blob": np.frombuffer(b"".join(dict_parts), dtype=np.uint8),
            "dict_lens": np.asarray(dict_lens, dtype=np.int64),
        },
    }


def _merge_layer_fast(name: str, msgs: list[bytes]) -> bytes | None:
    """Same-name merge on the fastmerge path: parse each assembled layer
    back to partial arrays (framing walk, no geometry/value decode) and
    re-frame with whole-array passes. None -> caller uses the generic
    decoder path (foreign/non-canonical layers, mismatched keys)."""
    from engine.mvtcodec import fastmerge

    parsed = [_layer_to_partial(m) for m in msgs]
    if any(p is None for p in parsed):
        return None
    first = parsed[0]
    if any(
        p["keys_blob"] != first["keys_blob"]
        or p["extent"] != first["extent"]
        or p["name"] != name
        for p in parsed
    ):
        return None
    arity = {
        p["partial"]["vcode"].shape[1] if p["partial"]["vcode"].ndim == 2 else 0
        for p in parsed
    }
    if len(arity) != 1:
        return None  # mixed tag arity across partials
    return fastmerge.merge_point_partials(
        [p["partial"] for p in parsed],
        name,
        first["keys_blob"],
        first["extent"],
    )


def _merge_layer(name: str, msgs: list[bytes]) -> bytes:
    """Merge same-name partial layers: features re-framed in canonical
    (id) order; geometry words pass through untouched."""
    feats = []
    extent = None
    for msg in msgs:
        _, layer = tilemod.decode_layer(msg, 0, len(msg))
        if extent is None:
            extent = layer["extent"]
        elif layer["extent"] != extent:
            # partials quantized on different grids cannot be re-framed
            # onto one extent without re-quantizing geometry
            raise ValueError(
                f"layer '{name}': partials disagree on extent "
                f"({extent} vs {layer['extent']})"
            )
        feats.extend(layer["features"])
    feats.sort(key=lambda f: (f["id"] is None, f["id"]))
    return tilemod.encode_layer(name, {"extent": extent, "features": feats})


def merge_tile_blobs(blobs) -> bytes:
    """Merge partial tiles for ONE (z,x,y) into a single canonical tile.

    Same-name merges go through the fastmerge whole-array re-framer
    (_merge_layer_fast) whenever the partials are this engine's canonical
    layers; the per-feature decode/re-encode path (_merge_layer) remains
    only as the fallback for foreign or non-canonical input."""
    parts: dict[str, list[bytes]] = {}
    for data in blobs:
        for name, msg in split_tile_layers(data):
            parts.setdefault(name, []).append(msg)
    out = []
    for n in sorted(parts):
        msgs = parts[n]
        if len(msgs) == 1:
            payload = msgs[0]
        else:
            payload = _merge_layer_fast(n, msgs)
            if payload is None:
                payload = _merge_layer(n, msgs)
        out.append(pbwire.len_delimited(3, payload))
    return b"".join(out)
