"""Constant, index-RLE and Noop frame compressors.

NumPy/Python re-expressions of the reference's simple compressors:

- Constant (id 30): stores ``stats.min`` at the narrowest bit-depth and
  always reports error 0.0 — even when forced onto non-constant data
  (`/root/reference/atsc/src/compressor/constant.rs:26,103-144`).
- Index-RLE (id 60): run-start indexes grouped by value, values ordered
  by the u64 bit pattern of the f64 (BTreeMap on ``to_bits`` for
  determinism, `compressor/rle.rs:140-189`).  Lossless, error 0.0.
- Noop (id 250): "passthrough" that actually rounds f64 -> i64
  (`compressor/noop.rs:37-43`) — not lossless for fractional data.
"""

from __future__ import annotations

import numpy as np

import struct

from .bincodec import (
    Reader,
    Writer,
    ivarints_vec,
    ivarints_vec_with_lens as _ivarints_with_lens,
    parse_ivarints,
    uvarints_vec_with_lens as _uvarints_with_lens,
)
from .stats import I16, I32, U8
from .utils import round_half_away, saturating_cast

CONSTANT_ID = 30
RLE_ID = 60
NOOP_ID = 250


def _write_scalar(w: Writer, value: float, bitdepth: int) -> None:
    if bitdepth == U8:
        w.u8(int(saturating_cast(np.array([value]), np.uint8)[0]))
    elif bitdepth == I16:
        w.ivarint(int(saturating_cast(np.array([value]), np.int16)[0]))
    elif bitdepth == I32:
        w.ivarint(int(saturating_cast(np.array([value]), np.int32)[0]))
    else:
        w.f64(value)


def _read_scalar(r: Reader, bitdepth: int) -> float:
    if bitdepth == U8:
        return float(r.u8())
    if bitdepth in (I16, I32):
        return float(r.ivarint())
    return r.f64()


# ---------------------------------------------------------------- Constant


def constant_compress(data: np.ndarray, stats) -> tuple[bytes, float]:
    """`constant.rs:135-139`: encodes stats.min; error always 0.0."""
    w = Writer()
    w.u8(CONSTANT_ID)
    w.enum(stats.bitdepth)
    _write_scalar(w, stats.min, stats.bitdepth)
    return w.bytes(), 0.0


def constant_decompress(sample_count: int, payload: bytes) -> np.ndarray:
    r = Reader(payload)
    cid = r.u8()
    assert cid == CONSTANT_ID, cid
    bitdepth = r.enum()
    value = _read_scalar(r, bitdepth)
    return np.full(sample_count, value, dtype=np.float64)


# ---------------------------------------------------------------- IndexRLE


def rle_runs(data: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized run detection: (run_start_indices, run_values)."""
    v = np.asarray(data, dtype=np.float64)
    if len(v) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    # Compare bit patterns so NaNs and -0.0/0.0 behave deterministically,
    # matching the reference's to_bits() keying (`rle.rs:158-169`).
    bits = v.view(np.uint64)
    change = np.empty(len(v), dtype=bool)
    change[0] = True
    change[1:] = bits[1:] != bits[:-1]
    starts = np.flatnonzero(change)
    return starts, v[starts]


def rle_min_bytes(data: np.ndarray) -> int:
    """Cheap LOWER BOUND on ``rle_compress(data)``'s payload size,
    kept beside the encoder whose layout it describes: 2 header bytes
    + >=1 vec_len byte + >=2 bytes per unique value (value + count
    varints, n_uniq >= 1) + >=1 varint index byte per run.  One
    vectorized bit-compare — no sort, no varint encode — used by the
    tournament to skip provably-losing full encodes."""
    bits = np.ascontiguousarray(data).view(np.uint64)
    n_runs = int(np.count_nonzero(bits[1:] != bits[:-1])) + 1
    return 5 + n_runs


def rle_compress(data: np.ndarray, stats) -> tuple[bytes, float]:
    """Encode runs grouped by value, values in u64-bit order (`rle.rs:142-189`)."""
    starts, values = rle_runs(data)
    bits = values.view(np.uint64)
    order = np.argsort(bits, kind="stable")
    w = Writer()
    w.u8(RLE_ID)
    w.enum(stats.bitdepth)
    # group consecutive equal bit-patterns after the (stable) sort —
    # ascending u64 order, same as BTreeMap<u64>; stability keeps each
    # value's start indices ascending, matching the reference's
    # append-in-encounter-order.  Boundary detection on the already-
    # sorted array instead of np.unique (which would sort AGAIN).
    sorted_bits = bits[order]
    if len(sorted_bits):
        is_first = np.empty(len(sorted_bits), dtype=bool)
        is_first[0] = True
        is_first[1:] = sorted_bits[1:] != sorted_bits[:-1]
        first_idx = np.flatnonzero(is_first)
        uniq_bits = sorted_bits[first_idx]
        group_counts = np.diff(np.append(first_idx, len(sorted_bits)))
    else:
        uniq_bits = sorted_bits
        first_idx = np.empty(0, dtype=np.int64)
        group_counts = np.empty(0, dtype=np.int64)
    w.vec_len(len(uniq_bits))
    sorted_starts = starts[order]

    # one vectorized varint pass over ALL indices, then slice per group
    idx_bytes, idx_lens = _uvarints_with_lens(sorted_starts)
    idx_spans = np.add.reduceat(idx_lens, first_idx) if len(uniq_bits) else np.empty(0, np.int64)
    idx_offs = np.concatenate([[0], np.cumsum(idx_spans)[:-1]]).astype(np.int64)

    uniq_values = uniq_bits.view(np.float64)
    if stats.bitdepth == U8:
        val_bytes = saturating_cast(uniq_values, np.uint8).tobytes()
        val_lens = np.ones(len(uniq_bits), dtype=np.int64)
    elif stats.bitdepth == I16:
        val_bytes, val_lens = _ivarints_with_lens(saturating_cast(uniq_values, np.int16))
    elif stats.bitdepth == I32:
        val_bytes, val_lens = _ivarints_with_lens(saturating_cast(uniq_values, np.int32))
    else:
        val_bytes = uniq_values.astype("<f8").tobytes()
        val_lens = np.full(len(uniq_bits), 8, dtype=np.int64)
    val_offs = np.concatenate([[0], np.cumsum(val_lens)[:-1]]).astype(np.int64)

    cnt_bytes, cnt_lens = _uvarints_with_lens(group_counts)
    cnt_offs = np.concatenate([[0], np.cumsum(cnt_lens)[:-1]]).astype(np.int64)

    n_groups = len(uniq_bits)
    if n_groups == 0:
        return w.bytes(), 0.0
    # interleave the three per-group streams (value|count|indices) with
    # one vectorized ragged gather instead of 3n slice+append ops
    big = np.frombuffer(val_bytes + cnt_bytes + idx_bytes, dtype=np.uint8)
    base_cnt = len(val_bytes)
    base_idx = base_cnt + len(cnt_bytes)
    starts = np.empty(3 * n_groups, dtype=np.int64)
    lens = np.empty(3 * n_groups, dtype=np.int64)
    starts[0::3], lens[0::3] = val_offs, val_lens
    starts[1::3], lens[1::3] = cnt_offs + base_cnt, cnt_lens
    starts[2::3], lens[2::3] = idx_offs + base_idx, idx_spans
    keep = lens > 0
    starts, lens = starts[keep], lens[keep]
    total = int(lens.sum())
    delta = np.ones(total, dtype=np.int64)
    delta[0] = starts[0]
    firsts = np.cumsum(lens)[:-1]
    delta[firsts] = starts[1:] - (starts[:-1] + lens[:-1] - 1)
    gidx = np.cumsum(delta)
    return w.bytes() + big[gidx].tobytes(), 0.0


def rle_compress_batch(
    datas: list[np.ndarray], stats_list: list
) -> list[tuple[bytes, float]]:
    """``[rle_compress(d, s) for d, s in zip(datas, stats_list)]`` in
    ONE vectorized pass over the concatenated frames — byte-identical
    per frame (pinned by the batch-vs-sequential equivalence test).

    The per-frame encoder costs ~15-20 small numpy calls; on
    small-frame-heavy workloads (Zipf conversation lengths) that fixed
    overhead, not the math, dominates the tournament's RLE leg.  Here
    run extraction, the value sort (one ``np.lexsort`` keyed
    (frame, bits) — stability preserves each value's ascending start
    order, exactly like the per-frame stable argsort), varint encoding
    of all three streams, and the final value|count|indices interleave
    each run once over every frame's runs together; only the 3-byte
    headers are written per frame.
    """
    F_ = len(datas)
    if F_ == 0:
        return []
    lens = np.fromiter((len(d) for d in datas), np.int64, F_)
    flat = np.concatenate([np.asarray(d, dtype=np.float64) for d in datas])
    bits_all = flat.view(np.uint64)
    off = np.concatenate([[0], np.cumsum(lens)])
    fid_all = np.repeat(np.arange(F_, dtype=np.int64), lens)
    # run starts: first element of each frame, or bit-pattern change
    change = np.empty(len(flat), dtype=bool)
    if len(flat):
        change[0] = True
        change[1:] = bits_all[1:] != bits_all[:-1]
        # frame boundaries always start a run; an empty trailing frame
        # puts a boundary at len(flat), past the last sample
        bounds = off[1:-1]
        change[bounds[bounds < len(flat)]] = True
    rstart_g = np.flatnonzero(change)
    rid = fid_all[rstart_g]  # frame of each run (non-decreasing)
    rbits = bits_all[rstart_g]
    rlocal = rstart_g - off[rid]
    # sort runs by (frame, u64 bits), stable: per-frame BTreeMap order
    order = np.lexsort((rbits, rid))
    s_rid = rid[order]
    s_bits = rbits[order]
    s_local = rlocal[order]
    # group = consecutive equal (frame, bits)
    is_first = np.empty(len(s_rid), dtype=bool)
    if len(s_rid):
        is_first[0] = True
        is_first[1:] = (s_rid[1:] != s_rid[:-1]) | (s_bits[1:] != s_bits[:-1])
    g_first = np.flatnonzero(is_first)
    g_counts = np.diff(np.append(g_first, len(s_rid)))
    g_rid = s_rid[g_first]
    g_bits = s_bits[g_first]
    g_vals = g_bits.view(np.float64)
    # ---- varint streams over ALL groups/runs at once
    idx_bytes, idx_lens = _uvarints_with_lens(s_local)
    idx_spans = np.add.reduceat(idx_lens, g_first)
    idx_offs = np.concatenate([[0], np.cumsum(idx_spans)[:-1]]).astype(np.int64)
    cnt_bytes, cnt_lens = _uvarints_with_lens(g_counts)
    cnt_offs = np.concatenate([[0], np.cumsum(cnt_lens)[:-1]]).astype(np.int64)
    # value stream: bitdepth varies per frame — encode per class on the
    # gathered group subsets, scatter (bytes, lens) back by group
    bdep = np.fromiter((s.bitdepth for s in stats_list), np.int64, F_)
    g_bd = bdep[g_rid]
    val_lens = np.empty(len(g_rid), dtype=np.int64)
    val_parts: list[tuple[np.ndarray, bytes, np.ndarray]] = []
    for depth in (U8, I16, I32, -1):
        sel = np.flatnonzero(g_bd == depth) if depth != -1 else np.flatnonzero(
            ~np.isin(g_bd, (U8, I16, I32))
        )
        if sel.size == 0:
            continue
        vv = g_vals[sel]
        if depth == U8:
            b = saturating_cast(vv, np.uint8).tobytes()
            ln = np.ones(sel.size, dtype=np.int64)
        elif depth == I16:
            b, ln = _ivarints_with_lens(saturating_cast(vv, np.int16))
        elif depth == I32:
            b, ln = _ivarints_with_lens(saturating_cast(vv, np.int32))
        else:
            b = vv.astype("<f8").tobytes()
            ln = np.full(sel.size, 8, dtype=np.int64)
        val_parts.append((sel, b, ln))
        val_lens[sel] = ln
    # per-class byte blobs live at different bases in the merged buffer
    val_offs = np.empty(len(g_rid), dtype=np.int64)
    merged_vals = []
    base = 0
    for sel, b, ln in val_parts:
        starts_in_class = np.concatenate([[0], np.cumsum(ln)[:-1]]).astype(np.int64)
        val_offs[sel] = base + starts_in_class
        merged_vals.append(b)
        base += len(b)
    val_bytes = b"".join(merged_vals)
    # ---- one global value|count|indices interleave gather
    n_groups = len(g_rid)
    big = np.frombuffer(val_bytes + cnt_bytes + idx_bytes, dtype=np.uint8)
    base_cnt = len(val_bytes)
    base_idx = base_cnt + len(cnt_bytes)
    starts3 = np.empty(3 * n_groups, dtype=np.int64)
    lens3 = np.empty(3 * n_groups, dtype=np.int64)
    starts3[0::3], lens3[0::3] = val_offs, val_lens
    starts3[1::3], lens3[1::3] = cnt_offs + base_cnt, cnt_lens
    starts3[2::3], lens3[2::3] = idx_offs + base_idx, idx_spans
    keep = lens3 > 0
    starts3, lens3 = starts3[keep], lens3[keep]
    total = int(lens3.sum())
    if total:
        delta = np.ones(total, dtype=np.int64)
        delta[0] = starts3[0]
        firsts = np.cumsum(lens3)[:-1]
        delta[firsts] = starts3[1:] - (starts3[:-1] + lens3[:-1] - 1)
        body_all = big[np.cumsum(delta)].tobytes()
    else:
        body_all = b""
    # per-frame split: groups are frame-major, so each frame's body is
    # one contiguous slice of body_all
    grp_total = val_lens + cnt_lens + idx_spans
    frame_body_len = np.zeros(F_, dtype=np.int64)
    np.add.at(frame_body_len, g_rid, grp_total)
    body_off = np.concatenate([[0], np.cumsum(frame_body_len)])
    n_uniq = np.zeros(F_, dtype=np.int64)
    np.add.at(n_uniq, g_rid, 1)
    out: list[tuple[bytes, float]] = []
    for i in range(F_):
        w = Writer()
        w.u8(RLE_ID)
        w.enum(stats_list[i].bitdepth)
        w.vec_len(int(n_uniq[i]))
        out.append(
            (w.bytes() + body_all[body_off[i] : body_off[i + 1]], 0.0)
        )
    return out


def _varint_steps(payload: bytes) -> bytes:
    """Per-byte-offset varint width table: treating offset p as a tag
    byte, the whole varint spans step[p] bytes.  One vectorized pass;
    chasing through it costs two byte-indexing ops per varint."""
    arr = np.frombuffer(payload, dtype=np.uint8)
    steps = np.select(
        [arr < 251, arr == 0xFB, arr == 0xFC], [1, 3, 5], default=9
    ).astype(np.uint8)
    return steps.tobytes()


def _parse_varint_run(
    arr: np.ndarray, steps: bytes, pos: int, n: int
) -> tuple[np.ndarray, int]:
    """Parse `n` consecutive unsigned varints starting at byte `pos`.

    Pointer-chase the (precomputed) step table to find each tag
    position — O(1) Python work per varint — then extract all payloads
    vectorized with masked gathers.
    """
    ps_list = []
    append = ps_list.append
    for _ in range(n):
        append(pos)
        pos += steps[pos]
    ps = np.asarray(ps_list, dtype=np.int64)
    tags = arr[ps]
    out = tags.astype(np.uint64)
    m3 = tags == 0xFB
    if m3.any():
        q = ps[m3]
        out[m3] = arr[q + 1].astype(np.uint64) | (arr[q + 2].astype(np.uint64) << np.uint64(8))
    m5 = tags == 0xFC
    if m5.any():
        q = ps[m5]
        v = np.zeros(int(m5.sum()), dtype=np.uint64)
        for b in range(4):
            v |= arr[q + 1 + b].astype(np.uint64) << np.uint64(8 * b)
        out[m5] = v
    m9 = tags == 0xFD
    if m9.any():
        q = ps[m9]
        v = np.zeros(int(m9.sum()), dtype=np.uint64)
        for b in range(8):
            v |= arr[q + 1 + b].astype(np.uint64) << np.uint64(8 * b)
        out[m9] = v
    return out, pos


def rle_decompress(sample_count: int, payload: bytes) -> np.ndarray:
    """Scatter run-start values then forward-fill (`rle.rs:204-236`).

    Per-group headers (value + count) parse inline — group count is the
    number of DISTINCT values, always small — and each group's index
    run parses through :func:`_parse_varint_run` (vectorized payload
    extraction), so per-index Python work is one step-table chase.
    Forward-fill is vectorized: scatter each run's value at its start
    index, then propagate with a running "last seen" gather.
    """
    r = Reader(payload)
    cid = r.u8()
    assert cid == RLE_ID, cid
    bitdepth = r.enum()
    n_values = r.vec_len()
    pos = r.pos
    arr = np.frombuffer(payload, dtype=np.uint8)
    steps = _varint_steps(payload)
    start_runs: list[np.ndarray] = []
    vals: list[float] = []
    counts: list[int] = []
    unpack_f64 = struct.unpack_from
    for _ in range(n_values):
        if bitdepth == U8:
            value = float(payload[pos])
            pos += 1
        elif bitdepth in (I16, I32):
            tag = payload[pos]
            pos += 1
            if tag < 251:
                u = tag
            elif tag == 0xFB:
                u = payload[pos] | (payload[pos + 1] << 8)
                pos += 2
            else:
                u = int.from_bytes(payload[pos : pos + 4], "little")
                pos += 4
            value = float((u >> 1) ^ -(u & 1))
        else:
            value = unpack_f64("<d", payload, pos)[0]
            pos += 8
        # count varint, then that many index varints (vectorized)
        tag = payload[pos]
        pos += 1
        if tag < 251:
            cnt = tag
        elif tag == 0xFB:
            cnt = payload[pos] | (payload[pos + 1] << 8)
            pos += 2
        else:
            cnt = int.from_bytes(payload[pos : pos + 4], "little")
            pos += 4
        idxs, pos = _parse_varint_run(arr, steps, pos, cnt)
        start_runs.append(idxs)
        vals.append(value)
        counts.append(cnt)
    out = np.zeros(sample_count, dtype=np.float64)
    if not start_runs or sum(counts) == 0:
        return out
    s = np.concatenate(start_runs).astype(np.int64)
    v = np.repeat(np.asarray(vals, dtype=np.float64), counts)
    order = np.argsort(s, kind="stable")
    s, v = s[order], v[order]
    # vectorized fill: for every position, the value of the last run
    # start at-or-before it
    run_of_pos = np.searchsorted(s, np.arange(sample_count), side="right") - 1
    mask = run_of_pos >= 0
    out[mask] = v[run_of_pos[mask]]
    return out


# ------------------------------------------------------------------- Noop


def noop_compress(data: np.ndarray, stats=None) -> tuple[bytes, float]:
    """Rounds f64 -> i64 then varint-encodes (`noop.rs:37-43,62-65`)."""
    ints = round_half_away(np.asarray(data, dtype=np.float64)).astype(np.int64)
    w = Writer()
    w.u8(NOOP_ID)
    w.vec_len(len(ints))
    return w.bytes() + ivarints_vec(ints), 0.0


def noop_decompress(sample_count: int, payload: bytes) -> np.ndarray:
    r = Reader(payload)
    cid = r.u8()
    assert cid == NOOP_ID, cid
    n = r.vec_len()
    ints, _ = parse_ivarints(payload, n, r.pos)
    return ints.astype(np.float64)
