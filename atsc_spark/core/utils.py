"""Scalar helpers shared by the frame compressors, and the row-slice
cut shared by the Arrow kernels (:func:`sized_slices`).

Semantics mirror the reference engine's utility layer
(`/root/reference/atsc/src/utils/mod.rs:21-74`), re-expressed in
Python/NumPy.  Every lossy decode in the reference rounds to
``DECIMAL_PRECISION`` decimals and clamps to the frame's [min, max]
(`utils/mod.rs:61-74`), so we must match those exactly for
point-for-point parity.
"""

from __future__ import annotations

import math

import numpy as np

_INF = float("inf")

#: Decimal precision used by every lossy decode (`utils/mod.rs:21`).
DECIMAL_PRECISION = 5

_I32_MIN = -(2**31)
_I32_MAX = 2**31 - 1


def prev_power_of_two(n: int) -> int:
    """Largest power of two <= n (`utils/mod.rs:24-29`); 0 for n == 0."""
    if n == 0:
        return 0
    return 1 << (n.bit_length() - 1)


def is_decomposable(n: int) -> bool:
    """True when n == 2^a * 3^b (`utils/mod.rs:41-49`)."""
    while n % 2 == 0:
        n //= 2
    while n % 3 == 0:
        n //= 3
    return n == 1


def next_size(n: int) -> int:
    """Next integer > n of the form 2^a * 3^b (`utils/mod.rs:32-38`).

    Used for FFT Gibbs padding sizes.
    """
    n += 1
    while not is_decomposable(n):
        n += 1
    return n


def round_half_away(x):
    """Rust ``f64::round`` — round half away from zero (not banker's).

    For |x| >= 2^52 the value is already integral and the naive
    ``floor(|x| + 0.5)`` would be off by one ulp (x + 0.5 is not
    representable there), so those pass through unchanged.
    """
    x = np.asarray(x, dtype=np.float64)
    big = np.abs(x) >= 2.0**52
    rounded = np.copysign(np.floor(np.abs(x) + 0.5), x)
    return np.where(big, x, rounded)


def round_f64(x: float, decimals: int) -> float:
    """`utils/mod.rs:61-64`: (x * 10^d).round() / 10^d with Rust rounding.

    Scalar math.* fast path, bit-identical to the vectorized
    round_half_away (floor/copysign are the same IEEE ops) — this runs
    inside the per-iteration bounded-fit loop conditions and the numpy
    scalar machinery alone was ~10 us/call (1.5 s of a 16 s fit batch).
    """
    y = float(10**decimals)
    xs = x * y
    if xs != xs or xs in (_INF, -_INF):  # NaN/inf pass through, like np
        return xs / y if xs == xs else xs
    ax = abs(xs)
    if ax >= 2.0**52:
        return xs / y  # round_half_away big-value passthrough: (x*y)/y
    return math.copysign(math.floor(ax + 0.5), xs) / y


def round_and_limit(x, vmin: float, vmax: float, decimals: int):
    """Vectorized `round_and_limit_f64` (`utils/mod.rs:66-74`).

    Round first, then clamp to [vmin, vmax] — the order matters for
    parity at the boundaries.
    """
    y = float(10**decimals)
    out = round_half_away(np.asarray(x, dtype=np.float64) * y) / y
    return np.clip(out, vmin, vmax)


def rust_f64_as_i32(x: float) -> int:
    """Rust's saturating float->int cast: NaN -> 0, out-of-range clamps.

    Needed for the FFT convergence-loop condition
    ``(err * 1000.0) as i32`` (`compressor/fft.rs:334`).
    """
    if np.isnan(x):
        return 0
    if x <= _I32_MIN:
        return _I32_MIN
    if x >= _I32_MAX + 1:
        return _I32_MAX
    return int(x)  # trunc toward zero, like `as`


def saturating_cast(values: np.ndarray, dtype) -> np.ndarray:
    """Rust `as` integer cast semantics for arrays: clamp + trunc, NaN->0.

    clip handles ±inf (trunc keeps them, clip saturates them to the
    type bounds — same result nan_to_num produced); only NaN needs the
    explicit fill, and the isnan probe is far cheaper than an
    unconditional nan_to_num pass on the (almost always finite) input.
    """
    info = np.iinfo(dtype)
    v = np.trunc(values)
    nan = np.isnan(v)
    if nan.any():
        v = np.where(nan, 0.0, v)
    return np.clip(v, info.min, info.max).astype(dtype)


def sized_slices(sizes, budget: int) -> list[tuple[int, int]]:
    """Contiguous ``(lo, hi)`` row slices whose ``sizes`` sum to at most
    ``budget``; a single row larger than the budget gets a slice of
    its own.  Spark caps Arrow batches by record count, not by size,
    so every Arrow kernel whose working memory grows with its batch
    runs per slice (text bytes for the Gopher and minhash kernels,
    decoded samples for the frame decoder, group points for the fit)."""
    n = len(sizes)
    if n <= 1 or int(np.sum(sizes)) <= budget:
        return [(0, n)]
    cuts = [0]
    acc = 0
    for i, s in enumerate(int(x) for x in sizes):
        if acc and acc + s > budget:
            cuts.append(i)
            acc = 0
        acc += s
    cuts.append(n)
    return list(zip(cuts[:-1], cuts[1:]))
