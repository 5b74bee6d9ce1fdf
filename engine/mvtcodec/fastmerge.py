"""Vectorized merge of salted point-layer partials (SURVEY B14 stage 2).

The salted encoder's stage 1 (engine.pipeline.tiler.encode_point_partials_compact)
runs fastpoints.encode_point_features_sorted per (tile, salt) group and
ships the PARTIAL ARRAYS — framed feature bytes, feature ids, per-feature
framed/geometry lengths, local dictionary codes, and the local value
table — instead of assembled tiles. Stage 2 (tiler.merge_partial_tiles)
reads them back as numpy views of the Arrow binary columns, one tile's
rows per call. The same re-framer also merges same-name canonical layers
parsed back to partial arrays (engine.pipeline.tilemerge._merge_layer_fast).
This merge re-frames a tile's partials into the canonical single-pass
layer with whole-array passes only:

- canonical feature order = argsort over the concatenated feature ids;
- the merged first-seen value dictionary comes from factorizing the
  partials' value-message BYTES (the encoders emit canonical value
  encodings, so byte equality == value equality) and re-ranking by first
  occurrence in the merged feature-major code stream — the same ranking
  trick as fastpoints;
- each feature's tail ([type field][geometry field]) is ragged-copied
  opaquely from its source partial (lengths recomputed from glen); only
  the id varint, the re-coded tag block, and the message-length varint are
  re-emitted.

Output is BYTE-IDENTICAL to the unsalted single-pass encoder
(tests/test_tiler_compact.py asserts it). Per-feature Python: none — the round-2
merge decoded and re-encoded every feature through the generic per-feature
path on the single merge task, exactly the skew the salting existed to
remove.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from . import pbwire
from .fastpoints import _ragged_copy
from .tile import VERSION


def merge_point_partials(
    partials: list[dict],
    layer_name: str,
    keys_blob: bytes,
    extent: int,
) -> bytes:
    """Merge one tile's partial arrays -> canonical layer message bytes.

    Each partial dict: fids int64[n_p], block uint8[:], feat_len int64[n_p],
    glen int64[n_p], vcode int64[n_p, t], dict_blob uint8[:],
    dict_lens int64[d_p]. t is identical across partials (same tag columns).
    """
    if len(partials) == 1:
        # single partial == the whole tile in canonical order with the
        # canonical first-seen dictionary: assemble by concatenation, no
        # re-framing (zoom-adaptive salting routes most tiles here)
        p = partials[0]
        return (
            pbwire.len_delimited(1, layer_name.encode("utf-8"))
            + p["block"].tobytes()
            + keys_blob
            + p["dict_blob"].tobytes()
            + pbwire.tag(5, pbwire.WT_VARINT)
            + pbwire.varint(int(extent))
            + pbwire.tag(15, pbwire.WT_VARINT)
            + pbwire.varint(VERSION)
        )
    fids = np.concatenate([p["fids"] for p in partials])
    feat_len = np.concatenate([p["feat_len"] for p in partials])
    glen = np.concatenate([p["glen"] for p in partials])
    block = np.concatenate([p["block"] for p in partials])
    F = len(fids)
    t = partials[0]["vcode"].shape[1] if partials[0]["vcode"].ndim == 2 else 0

    # source byte offset of each feature in the concatenated block
    feat_start = np.cumsum(feat_len) - feat_len
    order = np.argsort(fids, kind="stable")  # canonical: ascending feature id

    # ---- merged first-seen value dictionary
    val_table = b""
    tag_blob = b""
    tag_lens = np.zeros(F, dtype=np.int64)
    tp_hdr = np.zeros(F, dtype=np.int64)
    if t:
        # global entry id per (feature, column): partial-local code + offset
        d_counts = [len(p["dict_lens"]) for p in partials]
        d_off = np.cumsum([0] + d_counts)
        codes = np.concatenate(
            [p["vcode"] + d_off[i] for i, p in enumerate(partials)], axis=0
        )
        # dedup entries by their encoded bytes (canonical encodings)
        entries: list[bytes] = []
        for p in partials:
            lens = p["dict_lens"]
            starts = np.cumsum(lens) - lens
            buf = p["dict_blob"].tobytes()
            entries.extend(
                buf[s : s + l] for s, l in zip(starts.tolist(), lens.tolist())
            )
        ecode, uniq = pd.factorize(np.asarray(entries, dtype=object))
        dcodes = ecode[codes]  # (F, t) deduped entry code
        # first-seen rank over the merged feature-major stream
        stream = dcodes[order].reshape(-1)
        first_idx = np.full(len(uniq), np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(first_idx, stream, np.arange(stream.size))
        rank_order = np.argsort(first_idx, kind="stable")
        rank = np.empty(len(rank_order), dtype=np.int64)
        rank[rank_order] = np.arange(len(rank_order))
        final = rank[stream].reshape(F, t)  # rows in MERGED feature order
        val_table = b"".join(uniq[int(g)] for g in rank_order)
        # per-feature packed tag payload (key idx interleaved with codes),
        # built directly in merged order
        tag_idx = np.empty((F, 2 * t), dtype=np.uint64)
        tag_idx[:, 0::2] = np.arange(t, dtype=np.uint64)[None, :]
        tag_idx[:, 1::2] = final.astype(np.uint64)
        tflat = tag_idx.reshape(-1)
        tag_blob = pbwire.varint_array(tflat)
        tag_lens = pbwire.varint_array_lengths(tflat).reshape(F, -1).sum(axis=1)
        tp_hdr = pbwire.varint_array_lengths(tag_lens)

    # ---- re-frame features in canonical order
    sfids = fids[order]
    sglen = glen[order]
    # opaque tail = [0x18 type][0x22 glen-varint geometry]: lengths derive
    # from glen; source position = end of the framed feature minus tail
    tail_len = 2 + 1 + pbwire.varint_array_lengths(sglen) + sglen
    tail_src = (feat_start + feat_len)[order] - tail_len
    fid_blob = pbwire.varint_array(sfids)
    fid_len = pbwire.varint_array_lengths(sfids)
    msg_len = (1 + fid_len) + tail_len
    if t:
        msg_len = msg_len + 1 + tp_hdr + tag_lens  # already merged order
    mlen_blob = pbwire.varint_array(msg_len)
    mlen_len = pbwire.varint_array_lengths(msg_len)
    framed_len = 1 + mlen_len + msg_len

    out = np.empty(int(framed_len.sum()), dtype=np.uint8)
    pos = np.cumsum(framed_len) - framed_len
    out[pos] = 0x12
    _ragged_copy(out, pos + 1, np.frombuffer(mlen_blob, dtype=np.uint8),
                 np.cumsum(mlen_len) - mlen_len, mlen_len)
    pos = pos + 1 + mlen_len
    out[pos] = 0x08
    _ragged_copy(out, pos + 1, np.frombuffer(fid_blob, dtype=np.uint8),
                 np.cumsum(fid_len) - fid_len, fid_len)
    pos = pos + 1 + fid_len
    if t:
        tstarts = np.cumsum(tag_lens) - tag_lens
        hdr_blob = pbwire.varint_array(tag_lens)
        out[pos] = 0x12
        _ragged_copy(out, pos + 1, np.frombuffer(hdr_blob, dtype=np.uint8),
                     np.cumsum(tp_hdr) - tp_hdr, tp_hdr)
        _ragged_copy(out, pos + 1 + tp_hdr, np.frombuffer(tag_blob, dtype=np.uint8),
                     tstarts, tag_lens)
        pos = pos + 1 + tp_hdr + tag_lens
    _ragged_copy(out, pos, block, tail_src, tail_len)

    # ---- layer assembly
    return (
        pbwire.len_delimited(1, layer_name.encode("utf-8"))
        + out.tobytes()
        + keys_blob
        + val_table
        + pbwire.tag(5, pbwire.WT_VARINT)
        + pbwire.varint(int(extent))
        + pbwire.tag(15, pbwire.WT_VARINT)
        + pbwire.varint(VERSION)
    )
