"""Frame planning, auto compressor selection, and stream byte layout.

Re-expresses the reference's chunking planner
(`/root/reference/atsc/src/optimizer/mod.rs:78-98`), the per-frame
compressor tournament (`atsc/src/frame/mod.rs:71-149`) and the `.bro`
stream layout (`atsc/src/data.rs:79-103`, `atsc/src/header.rs:60-84`).

The tournament is a pure function of (frame values, max_error, speed
level) — deterministic and embarrassingly parallel, which is what lets
the Spark layer run it per series-day group inside one ``mapInArrow``
fit body over ``frames.grouped_points`` rows.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .bincodec import Reader, Writer
from .fft import fft_compress, fft_decompress
from .polynomial import (
    IDW_ID,
    POLYNOMIAL_ID,
    polynomial_compress,
    polynomial_decompress,
)
from .simple import (
    constant_compress,
    constant_decompress,
    noop_compress,
    noop_decompress,
    rle_compress,
    rle_decompress,
    rle_min_bytes,
)
from .stats import data_stats
from .utils import prev_power_of_two

#: `optimizer/mod.rs:27,30`
MAX_FRAME_SIZE = 131072  # 2^17
MIN_FRAME_SIZE = 512  # 2^9

#: `frame/mod.rs:22` — sample-size thresholds per speed level 0..6.
COMPRESSION_SPEED = [2**31 - 1, 4096, 2048, 1024, 512, 256, 128]

# Compressor enum variant indices for the frame encoding
# (`compressor/mod.rs:34-44`).
NOOP, FFT, IDW, CONSTANT, POLYNOMIAL, AUTO, RLE = range(7)

COMPRESSOR_NAMES = {
    NOOP: "noop",
    FFT: "fft",
    IDW: "idw",
    CONSTANT: "constant",
    POLYNOMIAL: "polynomial",
    AUTO: "auto",
    RLE: "rle",
}
COMPRESSOR_IDS = {v: k for k, v in COMPRESSOR_NAMES.items()}


def clean_data(values: np.ndarray) -> np.ndarray:
    """Drop NaN/inf before planning (`optimizer/mod.rs:64-71`).

    Note: this changes sample indices, exactly like the reference.
    """
    v = np.asarray(values, dtype=np.float64)
    return v[np.isfinite(v)]


def get_chunk_sizes(length: int) -> list[int]:
    """Greedy power-of-two frame sizing (`optimizer/mod.rs:78-98`).

    131072-size blocks first, then previous powers of two, with any
    tail <= 512 kept as-is.  E.g. 12032 -> [8192, 2048, 1024, 512, 256].
    """
    sizes: list[int] = []
    while length > 0:
        if length >= MAX_FRAME_SIZE:
            sizes.append(MAX_FRAME_SIZE)
            length -= MAX_FRAME_SIZE
        elif length <= MIN_FRAME_SIZE:
            sizes.append(length)
            length = 0
        else:
            size = prev_power_of_two(length)
            sizes.append(size)
            length -= size
    return sizes


def compress_bounded(
    compressor: int, data: np.ndarray, max_error: float, stats=None
) -> tuple[bytes, float]:
    """Dispatch one frame to one compressor (`compressor/mod.rs:94-107`).

    Returns (payload bytes, reported error).  Lossless compressors
    (constant/rle/noop) always report 0.0, matching the reference —
    including Constant's unconditional 0.0 quirk.  ``stats`` lets the
    auto tournament reuse one stats pass across its candidates (it was
    measured at 18% of small-frame tournament time when recomputed per
    candidate).
    """
    if stats is None:
        stats = data_stats(data)
    if compressor == NOOP:
        return noop_compress(data)
    if compressor == FFT:
        return fft_compress(data, max_error, stats)
    if compressor == CONSTANT:
        return constant_compress(data, stats)
    if compressor == RLE:
        return rle_compress(data, stats)
    if compressor == POLYNOMIAL:
        return polynomial_compress(data, max_error, stats, POLYNOMIAL_ID)
    if compressor == IDW:
        return polynomial_compress(data, max_error, stats, IDW_ID)
    raise ValueError(f"unsupported compressor {compressor}")


@dataclass
class FrameResult:
    compressor: int
    sample_count: int
    payload: bytes
    error: float


def compress_best(data: np.ndarray, max_error: float, speed: int = 0) -> FrameResult:
    """Auto selection (`frame/mod.rs:71-149`).

    - constant short-circuit when min == max;
    - when the frame is at least COMPRESSION_SPEED[speed] samples, run
      the candidates [FFT, Polynomial, RLE] on that prefix only, pick
      the smallest payload whose error passes, then recompress the full
      frame with the winner;
    - otherwise run all candidates on the full frame; if none meets the
      bound pick the smallest anyway (NaN errors fail the bound, like
      Rust's partial-ordering filter).
    """
    data = np.asarray(data, dtype=np.float64)
    n = len(data)
    stats = data_stats(data)
    if stats.min == stats.max:
        payload, err = constant_compress(data, stats)
        return FrameResult(CONSTANT, n, payload, err)

    def tournament_candidates(evaluated: np.ndarray) -> list[int]:
        # MAPE's zero quirk (`error.rs:104-116`): any zero in the
        # evaluated slice makes a lossy fit's error 0/0 -> NaN or
        # x/0 -> inf, which can never satisfy `error <= bound`.  FFT's
        # bounded loop is capped at 23 fixed budgets and never forces
        # error 0, so it provably cannot enter `passing` — skip its
        # fits entirely.  POLYNOMIAL must stay: on the inf path its
        # loop escalates to store-all, which forces error 0.0
        # (`polynomial.rs:262-268`) and can win the size tournament
        # (e.g. small-int frames where store-all at u8/i16 bit-depth
        # beats RLE).
        if (evaluated == 0.0).any():
            return [POLYNOMIAL, RLE]
        return [FFT, POLYNOMIAL, RLE]

    def run_candidates(evaluated: np.ndarray, ev_stats) -> list:
        # RLE is always the LAST candidate, always reports error 0.0,
        # and rle_min_bytes lower-bounds its payload, so it wins only
        # by being STRICTLY smaller than a passing earlier candidate.
        # When one already passes at or under that bound, the full RLE
        # encode (bit-sort + three varint streams) is provably dead
        # work — skip it; the selection is identical (same check as
        # batchfit._cohort_tournament).
        cands = tournament_candidates(evaluated)
        results = [
            (compress_bounded(c, evaluated, max_error, ev_stats), c)
            for c in cands
            if c != RLE
        ]
        passing_pre = [(r, c) for r, c in results if r[1] <= max_error]
        skip_rle = False
        if passing_pre:
            best_sz = min(len(r[0]) for r, _ in passing_pre)
            skip_rle = rle_min_bytes(evaluated) >= best_sz
        if not skip_rle:
            results.append((compress_bounded(RLE, evaluated, max_error, ev_stats), RLE))
        return results

    sample_n = COMPRESSION_SPEED[speed]
    if n >= sample_n:
        evaluated = data[:sample_n]
        ev_stats = stats if sample_n >= n else data_stats(evaluated)
        results = run_candidates(evaluated, ev_stats)
        passing = [(r, c) for r, c in results if r[1] <= max_error]
        # RLE always reports 0.0, so `passing` is never empty (when RLE
        # was skipped, an earlier passing candidate proved it moot).
        (payload, _), chosen = min(passing, key=lambda rc: len(rc[0][0]))
        payload, err = compress_bounded(chosen, data, max_error, stats)
        return FrameResult(chosen, n, payload, err)

    results = run_candidates(data, stats)
    passing = [(r, c) for r, c in results if r[1] <= max_error]
    pool = passing if passing else results
    (payload, err), chosen = min(pool, key=lambda rc: len(rc[0][0]))
    return FrameResult(chosen, n, payload, err)


def compress_frame(
    data: np.ndarray, compressor: int = AUTO, max_error: float = 0.03, speed: int = 0
) -> FrameResult:
    if compressor == AUTO:
        return compress_best(data, max_error, speed)
    payload, err = compress_bounded(compressor, data, max_error)
    return FrameResult(compressor, len(data), payload, err)


def decompress_frame(compressor: int, sample_count: int, payload: bytes) -> np.ndarray:
    """`compressor/mod.rs:109-119`."""
    if compressor == NOOP:
        return noop_decompress(sample_count, payload)
    if compressor == FFT:
        return fft_decompress(sample_count, payload)
    if compressor == CONSTANT:
        return constant_decompress(sample_count, payload)
    if compressor in (POLYNOMIAL, IDW):
        return polynomial_decompress(sample_count, payload)
    if compressor == RLE:
        return rle_decompress(sample_count, payload)
    raise ValueError(f"unsupported compressor {compressor}")


def compress_series(
    values: np.ndarray, compressor: int = AUTO, max_error: float = 0.03, speed: int = 0
) -> list[FrameResult]:
    """Full-series plan + execute (`optimizer/mod.rs:45-56`, `main.rs:130-165`):
    clean -> chunk -> per-chunk frame compression."""
    data = clean_data(values)
    out: list[FrameResult] = []
    offset = 0
    for size in get_chunk_sizes(len(data)):
        out.append(compress_frame(data[offset : offset + size], compressor, max_error, speed))
        offset += size
    return out


def decompress_series(frames: list[FrameResult]) -> np.ndarray:
    parts = [decompress_frame(f.compressor, f.sample_count, f.payload) for f in frames]
    return np.concatenate(parts) if parts else np.empty(0, dtype=np.float64)


# ----------------------------------------------------------- .bro stream


def _frame_size_field(payload: bytes) -> int:
    """The reference's (self-admittedly wrong) `size_of_val` sum
    (`frame/mod.rs:50-56`): 8 (sample_count) + 1 (compressor enum) +
    24 (Vec header) + 8 (frame_size) = 41, independent of payload."""
    return 41


def stream_to_bytes(frames: list[FrameResult], version: int = 1) -> bytes:
    """9-byte header + bincode frames (`data.rs:79-85`, `header.rs:60-67`)."""
    if len(frames) > 255:
        raise ValueError("BRO stream frame count is a u8 (header.rs:27)")
    w = Writer()
    w.raw(b"BRRO")
    w.raw(version.to_bytes(4, "little"))
    w.u8(len(frames))
    w.vec_len(len(frames))
    for f in frames:
        w.uvarint(_frame_size_field(f.payload))
        w.uvarint(f.sample_count)
        w.enum(f.compressor)
        w.vec_len(len(f.payload))
        w.raw(f.payload)
    return w.bytes()


def stream_from_bytes(data: bytes) -> list[FrameResult]:
    """`data.rs:89-103` + version guard (`header.rs:30-42`)."""
    if data[:4] != b"BRRO":
        raise ValueError("Magic bytes are not correct!")
    version = int.from_bytes(data[4:8], "little")
    if version > 1:
        raise ValueError(f"File version {version} higher than compressor version")
    r = Reader(data, pos=9)
    n = r.vec_len()
    frames = []
    for _ in range(n):
        r.uvarint()  # frame_size field — informational only
        sample_count = r.uvarint()
        compressor = r.enum()
        payload_len = r.vec_len()
        payload = r.raw(payload_len)
        frames.append(FrameResult(compressor, sample_count, payload, 0.0))
    return frames
