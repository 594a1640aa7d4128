"""Property-based tests (hypothesis) for the frame codec and the
lossless tier: arbitrary finite f64 arrays must roundtrip within the
error bound (lossy) or exactly (lossless), and payloads must decode to
the same length they encoded."""

import numpy as np
from hypothesis import given, settings, strategies as st

from atsc_spark.core import calculate_error, compress_series, decompress_series
from atsc_spark.core.frame import (
    CONSTANT,
    IDW,
    NOOP,
    POLYNOMIAL,
    RLE,
    compress_frame,
    decompress_frame,
)
from atsc_spark.core.gorilla import gorilla_decode, gorilla_encode

finite_floats = st.floats(
    allow_nan=False, allow_infinity=False, min_value=-1e12, max_value=1e12, width=64
)


@st.composite
def float_arrays(draw, min_size=1, max_size=700):
    values = draw(st.lists(finite_floats, min_size=min_size, max_size=max_size))
    return np.asarray(values, dtype=np.float64)


@given(float_arrays())
@settings(max_examples=60, deadline=None)
def test_rle_exact_roundtrip(data):
    frame = compress_frame(data, RLE)
    out = decompress_frame(frame.compressor, frame.sample_count, frame.payload)
    # value equality (-0.0 == 0.0): integral data narrows to int
    # bit-depths in the reference too, which drops the sign of -0.0
    assert np.array_equal(out, data)
    # at f64 bit-depth the roundtrip is bit-exact
    from atsc_spark.core.stats import data_stats, F64

    if data_stats(data).bitdepth == F64:
        assert out.view(np.uint64).tolist() == data.view(np.uint64).tolist()


@given(float_arrays())
@settings(max_examples=40, deadline=None)
def test_auto_error_bound_or_exact(data):
    frames = compress_series(data, max_error=0.05)
    out = decompress_series(frames)
    assert len(out) == len(data)
    err = calculate_error(data, out)
    if np.isnan(err) or err > 0.05 + 1e-9:
        # Documented reference quirks kick in here:
        # - MAPE is NaN when originals contain zeros (error.rs:114 TODO);
        # - polynomial "store everything" claims error 0 without
        #   re-measuring (polynomial.rs:257-262), but its decode still
        #   rounds to 5 decimals and clamps — so sub-1e-5 values are
        #   only 5-decimal-exact.
        # Either way, the reconstruction must equal the original after
        # the reference's own round-to-5-decimals+clamp, or be an
        # exactly-lossless (RLE/constant) payload.
        from atsc_spark.core.utils import round_and_limit

        lo, hi = float(np.min(data)), float(np.max(data))
        # FFT frames quantize the clamp bounds through f32
        # (`fft.rs:173-180`), so sub-f32-denormal values clamp to 0 —
        # also reference behaviour.
        lo32, hi32 = float(np.float32(lo)), float(np.float32(hi))
        ok = (
            np.array_equal(out, data)
            or np.allclose(out, round_and_limit(data, lo, hi, 5), rtol=0, atol=0)
            or np.allclose(out, round_and_limit(data, lo32, hi32, 5), rtol=0, atol=0)
        )
        assert ok, (data, out)


@given(float_arrays(max_size=300))
@settings(max_examples=40, deadline=None)
def test_polynomial_decode_length(data):
    frame = compress_frame(data, POLYNOMIAL, 0.05)
    out = decompress_frame(frame.compressor, frame.sample_count, frame.payload)
    assert len(out) == len(data)


@given(float_arrays(max_size=300))
@settings(max_examples=40, deadline=None)
def test_idw_decode_length(data):
    frame = compress_frame(data, IDW, 0.05)
    out = decompress_frame(frame.compressor, frame.sample_count, frame.payload)
    assert len(out) == len(data)


@given(st.lists(st.integers(min_value=-(2**53), max_value=2**53), min_size=1, max_size=500))
@settings(max_examples=60, deadline=None)
def test_noop_integral_roundtrip(ints):
    data = np.asarray(ints, dtype=np.float64)
    frame = compress_frame(data, NOOP)
    out = decompress_frame(frame.compressor, frame.sample_count, frame.payload)
    assert out.tolist() == data.tolist()


@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=400),
    float_arrays(min_size=1, max_size=400),
)
@settings(max_examples=60, deadline=None)
def test_gorilla_exact(ts_raw, values):
    n = min(len(ts_raw), len(values))
    ts = np.sort(np.asarray(ts_raw[:n], dtype=np.int64))
    v = values[:n]
    ts2, v2 = gorilla_decode(gorilla_encode(ts, v))
    assert ts2.tolist() == ts.tolist()
    assert v2.view(np.uint64).tolist() == v.view(np.uint64).tolist()


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), min_size=2, max_size=400))
@settings(max_examples=80, deadline=None)
def test_gorilla_xor_adversarial_bit_patterns(raws):
    """Arbitrary u64 bit patterns as f64 (opposite signs, NaN payloads,
    near-full-width XORs): the integer leading-zero path must be exact
    where float log2 rounded up within half an ulp of 2^k."""
    from atsc_spark.core.gorilla import xor_decode, xor_encode

    v = np.asarray(raws, dtype=np.uint64).view(np.float64)
    out = xor_decode(xor_encode(v))
    assert out.view(np.uint64).tolist() == v.view(np.uint64).tolist()


def _fft_bounded_sequential(data, max_err):
    """The reference's literal iteration loop (`fft.rs:288-362`) — the
    batched compress_bounded must match it exactly."""
    from atsc_spark.core.fft import FFTFrame, fft_trim, gibbs_sizing, _ifft_real, _round_clamp
    from atsc_spark.core.errors import calculate_error
    from atsc_spark.core.utils import rust_f64_as_i32

    f = FFTFrame(np.min(data), np.max(data))
    if f.max == f.min:
        return f
    max_freq = max(3, len(data) // 100)
    g = gibbs_sizing(np.asarray(data, float)) if len(data) >= 128 else np.asarray(data, float)
    buf = np.fft.fft(g)
    half = buf[: len(buf) // 2 + 1].astype(np.complex64)
    order = np.argsort(-np.abs(half).astype(np.float64), kind="stable")
    err = max_err + 1.0
    jump, it = 0, 0
    while rust_f64_as_i32(max_err * 1000.0) < rust_f64_as_i32(err * 1000.0):
        it += 1
        f.freqs = fft_trim(half, max_freq + jump, order=order)
        out = _round_clamp(_ifft_real(f.freqs, len(g)), f.min, f.max)
        err = calculate_error(g, out)
        if 1 <= it <= 17:
            jump += max(max_freq // 2, 1)
        elif 18 <= it <= 22:
            jump += max(max_freq // 10, 1)
        else:
            break
    f.error = err
    return f


@given(
    st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False), min_size=8, max_size=400
    ),
    st.sampled_from([0.01, 0.03, 0.1]),
)
@settings(max_examples=60, deadline=None)
def test_fft_batched_equals_sequential(vals, max_err):
    """The batched schedule evaluation must reproduce the sequential
    reference loop bit-for-bit: same selected budget, same payload
    bytes, same reported error (incl. NaN/inf cases from zeros)."""
    from atsc_spark.core.fft import FFTFrame

    data = np.asarray(vals, dtype=np.float64)
    batched = FFTFrame(data.min(), data.max())
    batched.compress_bounded(data, max_err)
    seq = _fft_bounded_sequential(data, max_err)
    assert batched.to_bytes() == seq.to_bytes()
    be, se = batched.error, seq.error
    assert (be == se) or (np.isnan(be) and np.isnan(se)), (be, se)


def test_fft_batched_equals_sequential_structured():
    from atsc_spark.core.fft import FFTFrame

    rng = np.random.default_rng(11)
    cases = [
        np.round(np.cumsum(rng.normal(0, 1, 300)) + 50, 2),        # random walk
        50 + 20 * np.sin(np.arange(256) / 10) + rng.normal(0, 3, 256),  # periodic+noise
        rng.poisson(2.0, 150).astype(np.float64),                  # counts w/ zeros
        np.round(rng.normal(100, 4, 4096), 2),                     # big gibbs-padded
        np.repeat([5.0, 9.0, 2.0], 50),                            # steps
    ]
    for i, data in enumerate(cases):
        for max_err in (0.01, 0.03):
            b = FFTFrame(data.min(), data.max()); b.compress_bounded(data, max_err)
            s = _fft_bounded_sequential(data, max_err)
            assert b.to_bytes() == s.to_bytes(), (i, max_err)
            assert (b.error == s.error) or (np.isnan(b.error) and np.isnan(s.error)), (i, max_err)


@given(
    st.lists(
        st.floats(min_value=-1e3, max_value=1e3, allow_nan=False), min_size=2, max_size=500
    ),
    st.sampled_from([0.0, 0.01, 0.03, 0.1]),
)
@settings(max_examples=80, deadline=None)
def test_poly_batched_equals_sequential(vals, max_err):
    """The batched Catmull-Rom schedule evaluation must reproduce the
    sequential reference loop bit-for-bit: same selected iteration,
    same payload bytes, same reported error (incl. NaN/inf zero quirks
    and the iteration-23 store-all asymmetry)."""
    from atsc_spark.core.polynomial import POLYNOMIAL_ID, PolynomialFrame
    from atsc_spark.core.stats import data_stats

    data = np.asarray(vals, dtype=np.float64)
    stc = data_stats(data)
    batched = PolynomialFrame(stc.min, stc.max, POLYNOMIAL_ID, stc.bitdepth)
    batched.compress_bounded_batched(data, max_err)
    seq = PolynomialFrame(stc.min, stc.max, POLYNOMIAL_ID, stc.bitdepth)
    seq._compress_bounded_sequential(data, max_err)
    assert batched.to_bytes() == seq.to_bytes()
    be, se = batched.error, seq.error
    if be is None or se is None:
        assert be == se
    else:
        assert (be == se) or (np.isnan(be) and np.isnan(se)), (be, se)


def test_poly_batched_integerish_zero_quirks():
    """Zero-containing integer-ish frames walk the schedule to
    store-all (inf MAPE path) or exit on a NaN (exact-zero fit) —
    both must match the sequential loop exactly."""
    from atsc_spark.core.polynomial import POLYNOMIAL_ID, PolynomialFrame
    from atsc_spark.core.stats import data_stats

    rng = np.random.default_rng(17)
    cases = [
        rng.integers(0, 3, 400).astype(np.float64),     # many zeros
        np.where(rng.random(800) < 0.01, 0.0, rng.normal(50, 5, 800)),  # rare zeros
        np.concatenate([[0.0], np.arange(1, 512.0)]),   # zero at a kept position
    ]
    for i, data in enumerate(cases):
        for max_err in (0.01, 0.03):
            stc = data_stats(data)
            b = PolynomialFrame(stc.min, stc.max, POLYNOMIAL_ID, stc.bitdepth)
            b.compress_bounded_batched(data, max_err)
            s = PolynomialFrame(stc.min, stc.max, POLYNOMIAL_ID, stc.bitdepth)
            s._compress_bounded_sequential(data, max_err)
            assert b.to_bytes() == s.to_bytes(), (i, max_err)
            assert (b.error == s.error) or (np.isnan(b.error) and np.isnan(s.error))


@given(
    st.lists(
        st.lists(
            st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
            min_size=2,
            max_size=200,
        ),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from([0.0, 0.01, 0.03]),
)
@settings(max_examples=50, deadline=None)
def test_batchfit_equals_sequential(frame_lists, max_err):
    """The cross-frame batched tournament must reproduce
    compress_best frame-for-frame: same compressor choice, same
    payload bytes, same reported error (incl. NaN from the MAPE zero
    quirk) — for mixed lengths, same-length cohorts, zeros, constants
    and negatives alike."""
    from atsc_spark.core.batchfit import compress_frames_batch
    from atsc_spark.core.frame import compress_best

    datas = [np.asarray(f, dtype=np.float64) for f in frame_lists]
    got = compress_frames_batch(datas, max_err)
    for d, r in zip(datas, got):
        s = compress_best(d, max_err)
        assert r.compressor == s.compressor
        assert r.payload == s.payload
        assert (r.error == s.error) or (np.isnan(r.error) and np.isnan(s.error))


def test_batchfit_structured_corpora():
    """Cohort batching on the realistic shapes: Zipf small frames,
    monitoring day frames, zero-heavy counts, exact ramps."""
    from atsc_spark.core.batchfit import compress_frames_batch
    from atsc_spark.core.frame import compress_best

    rng = np.random.default_rng(13)
    datas = []
    for n in np.clip((2.0 / rng.random(150) ** 1.2).astype(int), 2, 600):
        datas.append(np.round(rng.poisson(3, n).astype(float), 1))  # zeros
    for _ in range(6):
        datas.append(50 + 20 * np.sin(np.arange(4096) / 9) + np.round(rng.normal(0, 3, 4096), 2))
    datas.append(np.arange(1024.0) + 1)  # ramp: poly exact
    datas.append(np.full(512, 3.25))     # constant
    for max_err in (0.01, 0.03):
        got = compress_frames_batch(datas, max_err)
        for d, r in zip(datas, got):
            s = compress_best(d, max_err)
            assert (r.compressor, r.payload) == (s.compressor, s.payload)
            assert (r.error == s.error) or (np.isnan(r.error) and np.isnan(s.error))


def test_batchfit_zero_stop_fallback():
    """Alternating patterns put EXACT zeros in the f32 spectrum, so the
    top-budget selection hits fft_trim's zero-frequency early-stop —
    the one FFT shape the batch can't express.  The per-frame fallback
    (reusing the cohort's precomputed spectrum) must reproduce the
    sequential result exactly."""
    from atsc_spark.core.batchfit import compress_frames_batch
    from atsc_spark.core.frame import compress_best

    rng = np.random.default_rng(1)
    datas = [
        np.tile([5.0, 9.0], 32),            # 31 exact-zero bins of 33
        np.tile([1.0, 4.0], 16),
        np.tile([2.0, 2.0, 8.0, 8.0], 16),
        np.round(np.cumsum(rng.normal(0, 1, 64)) + 50, 2),  # cohort mate
    ]
    for e in (0.0, 0.01, 0.03):
        got = compress_frames_batch(datas, e)
        for d, r in zip(datas, got):
            s = compress_best(np.asarray(d, dtype=np.float64), e)
            assert (r.compressor, r.payload) == (s.compressor, s.payload)
            assert (r.error == s.error) or (np.isnan(r.error) and np.isnan(s.error))


def _rle_batch_matches_sequential(datas, stats_list):
    from atsc_spark.core.simple import rle_compress, rle_compress_batch

    got = rle_compress_batch(datas, stats_list)
    assert got == [rle_compress(d, s) for d, s in zip(datas, stats_list)]


def test_rle_batch_equals_sequential_with_empty_frames():
    """rle_compress_batch is byte-identical to per-frame rle_compress
    on adversarial frames — NaN, -0.0, every bit-depth — with empty
    frames first, between, last and alone."""
    from atsc_spark.core.stats import F64, I16, I32, U8, DataStats, data_stats

    nonempty = [
        np.array([1.0, 1.0, 2.0, 255.0, 0.0]),               # u8
        np.array([-3.0, -3.0, 700.0, -3.0]),                 # i16
        np.array([70000.0, -70000.0, 70000.0]),              # i32
        np.array([0.5, 0.5, -1.25, 1e300, 0.5]),             # f64
        np.array([np.nan, np.nan, 1.5, np.nan]),             # NaN runs
        np.array([-0.0, 0.0, -0.0, -0.0, 0.0]),              # signed zeros
        np.array([7.0]),
    ]
    empty = np.empty(0, dtype=np.float64)
    for depth in (U8, I16, I32, F64):
        e_stats = DataStats(0.0, 0.0, 0, 0, 0.0, depth, False)

        def stats_of(frames):
            return [data_stats(d) if len(d) else e_stats for d in frames]

        shapes = [
            [empty],
            [empty, empty, empty],
            nonempty + [empty],                                   # trailing
            nonempty + [empty, empty],
            [empty] + nonempty,                                   # leading
            nonempty[:3] + [empty] + nonempty[3:],                # middle
            [f for d in nonempty for f in (d, empty)],            # alternating
        ]
        for frames in shapes:
            _rle_batch_matches_sequential(frames, stats_of(frames))


@given(
    st.lists(
        st.lists(
            st.one_of(st.sampled_from([0.0, -0.0, 1.0, 300.0, -7.0]), finite_floats),
            min_size=0,
            max_size=40,
        ),
        min_size=1,
        max_size=10,
    )
)
@settings(max_examples=60, deadline=None)
def test_rle_batch_equals_sequential(frame_lists):
    from atsc_spark.core.stats import U8, DataStats, data_stats

    datas = [np.asarray(f, dtype=np.float64) for f in frame_lists]
    e_stats = DataStats(0.0, 0.0, 0, 0, 0.0, U8, False)
    _rle_batch_matches_sequential(
        datas, [data_stats(d) if len(d) else e_stats for d in datas]
    )
