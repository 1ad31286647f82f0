"""Round-15 optimization pins: the fully-vectorized JPEG entropy
encode and the batched matmul IDCT must be EXACTLY the reference
machinery.

Round 15 removed the last python loops from the baseline encode
(per-block symbol lists → flat numpy arrays, per-MCU interleave →
one index permutation, per-call dense code tables → an lru_cache)
and swapped the decoder's einsum IDCT for the stacked matmul form
that matches per-block ``_idct2``'s float association exactly. These
tests pin the rewrites on ADVERSARIAL coefficient layouts the random
images of tests/test_round14d_perf.py don't reliably produce: double
ZRL runs, a final nonzero at k=63 (no EOB), all-zero blocks, and
FF-stuffing across ``_pack_bits`` chunk windows.

Pure-python module: no SparkSession needed.
"""

from __future__ import annotations

import numpy as np
import pytest

from onechronos_etl_takehome_spark.operators import jpeg as J


@pytest.fixture(autouse=True)
def _restore_flags():
    yield
    J._FAST_ENCODE = True
    J._FAST_SCAN = True


def _px_from_coefs(coefs: np.ndarray, quant: np.ndarray) -> np.ndarray:
    """Grayscale pixels whose quantized DCT recovers ``coefs`` (an
    (nby, nbx, 8, 8) int array in NATURAL order) — inverse-transform
    dequantized coefficients, so the encoder's round() lands back on
    the intended integers and the block exercises the exact run/ZRL
    layout we crafted."""
    nby, nbx = coefs.shape[:2]
    deq = coefs.astype(np.float64) * quant
    blocks = (J._DCT.T @ deq @ J._DCT) + 128.0
    px = blocks.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
    return np.clip(np.round(px), 0, 255).astype(np.uint8)


def _adversarial_images():
    """Grayscale images whose luma blocks hit every encode edge case."""
    q = J._scaled_quant(J.QUANT_LUMA, None)
    nat = np.zeros(64, np.int64)
    zig = J._ZIGZAG  # natural index at each zigzag position
    out = []
    # 1. single nonzero at zigzag k=63: run of 62 zeros → 3 ZRLs +
    #    symbol, and NO trailing EOB
    c = np.zeros((2, 2, 8, 8), np.int64)
    flat = nat.copy()
    flat[zig[63]] = 2
    c[0, 0] = flat.reshape(8, 8)
    # 2. nonzeros at k=1 and k=34: run of 32 zeros → exactly 2 ZRLs
    flat = nat.copy()
    flat[zig[1]] = -3
    flat[zig[34]] = 1
    c[0, 1] = flat.reshape(8, 8)
    # 3. run of exactly 16 (ZRL then (0,cat)) and 15 (symbol F<cat>)
    flat = nat.copy()
    flat[zig[1]] = 5
    flat[zig[18]] = -1  # 16 zeros between
    flat[zig[34]] = 1  # 15 zeros between
    c[1, 0] = flat.reshape(8, 8)
    # 4. all-zero AC block with a DC step from its predecessor
    flat = nat.copy()
    flat[zig[0]] = -60
    c[1, 1] = flat.reshape(8, 8)
    out.append(_px_from_coefs(c, q))
    # 5. dense high-energy blocks (negative amplitudes, big
    #    categories) next to sparse ones
    rng = np.random.RandomState(15)
    c = rng.randint(-40, 41, size=(3, 3, 8, 8)).astype(np.int64)
    c[1, 1] = 0
    c[2, 2] = 0
    c[2, 2, 0, 0] = 31
    out.append(_px_from_coefs(c, q))
    return out


@pytest.mark.parametrize("ri", [0, 1, 2, 5])
def test_fast_encode_adversarial_runs_identical(ri):
    for px in _adversarial_images():
        J._FAST_ENCODE = True
        fast = J.jpeg_from_pixels(px, restart_interval=ri)
        J._FAST_ENCODE = False
        ref = J.jpeg_from_pixels(px, restart_interval=ri)
        assert fast == ref
        # and the stream round-trips through both decode paths
        J._FAST_SCAN = True
        a = J.jpeg_pixels(fast)
        J._FAST_SCAN = False
        assert np.array_equal(a, J.jpeg_pixels(fast))


def test_fast_encode_adversarial_color_subsampled():
    rng = np.random.RandomState(42)
    gray = _adversarial_images()[0]
    px = np.stack(
        [
            gray,
            rng.randint(0, 256, gray.shape).astype(np.uint8),
            gray[::-1],
        ],
        axis=-1,
    )
    for sub in ("444", "420"):
        for ri in (0, 2):
            J._FAST_ENCODE = True
            fast = J.jpeg_from_pixels(px, subsampling=sub, restart_interval=ri)
            J._FAST_ENCODE = False
            ref = J.jpeg_from_pixels(px, subsampling=sub, restart_interval=ri)
            assert fast == ref


def test_pack_bits_chunked_identical_to_single_window():
    """The round-15 ``_pack_bits`` packs in bounded windows (the
    round-14 advice: one multi-MB restart-free scan must not balloon
    to GBs of per-bit temporaries). Windowing must be bit-identical —
    including FF-stuffing decided across a window boundary and a
    0xFF-valued final padded byte."""
    rng = np.random.RandomState(7)
    lens = rng.randint(1, 27, size=5000)
    vals = np.array(
        [rng.randint(0, 1 << ln) for ln in lens], dtype=np.uint64
    )
    ref = J._pack_bits(vals, lens, chunk_bits=1 << 62)
    for chunk in (13, 64, 257, 8192):
        assert J._pack_bits(vals, lens, chunk_bits=chunk) == ref
    # all-ones stream: every packed byte is 0xFF → stuffed, and the
    # final partial byte pads to 0xFF (stuffed too)
    lens1 = np.full(41, 3)
    vals1 = np.full(41, 7, np.uint64)
    ref = J._pack_bits(vals1, lens1, chunk_bits=1 << 62)
    assert ref == (b"\xff\x00" * 15) + b"\xff\x00"
    for chunk in (5, 8, 16):
        assert J._pack_bits(vals1, lens1, chunk_bits=chunk) == ref
    assert J._pack_bits([], []) == b""


def test_dense_code_tables_match_dicts():
    for bits, vals in (
        (J.DC_LUMA_BITS, J.DC_LUMA_VALS),
        (J.AC_LUMA_BITS, J.AC_LUMA_VALS),
        (J.DC_CHROMA_BITS, J.DC_CHROMA_VALS),
        (J.AC_CHROMA_BITS, J.AC_CHROMA_VALS),
    ):
        codes = J._build_code_table(bits, vals)
        code_t, len_t = J._dense_code_tables(tuple(codes.items()))
        for sym, (code, ln) in codes.items():
            assert int(code_t[sym]) == code
            assert int(len_t[sym]) == ln
        # cached: same key object round-trips to the same arrays
        again = J._dense_code_tables(tuple(codes.items()))
        assert again[0] is code_t and again[1] is len_t
        assert not code_t.flags.writeable


def test_batched_matmul_idct_is_bit_identical_to_per_block():
    """The decoder's stacked ``_DCT.T @ deq @ _DCT`` must reproduce
    per-block ``_idct2`` EXACTLY (same pairwise-GEMM association —
    the property that let it replace the slower einsum contraction).
    A half-ulp drift here could flip a rounded uint8 pixel."""
    rng = np.random.RandomState(3)
    deq = rng.rand(4000, 8, 8) * 2000.0 - 1000.0
    ref = np.stack([J._idct2(b) for b in deq])
    assert np.array_equal(ref, J._DCT.T @ deq @ J._DCT)


def _one_block_planes(ac_codes: dict):
    """One 8×8 grayscale block whose first AC coefficient is -3 at
    zigzag k=1 (AC symbol 0x02), encoded with the Annex-K DC table and
    ``ac_codes``."""
    q = J._scaled_quant(J.QUANT_LUMA, None)
    c = np.zeros((1, 1, 8, 8), np.int64)
    flat = np.zeros(64, np.int64)
    flat[J._ZIGZAG[1]] = -3
    c[0, 0] = flat.reshape(8, 8)
    plane = _px_from_coefs(c, q).astype(np.float64)
    dc = J._build_code_table(J.DC_LUMA_BITS, J.DC_LUMA_VALS)
    return plane, q, dc, ac_codes


@pytest.mark.parametrize("missing", [0x02, 0x00])
def test_fast_encode_raises_on_undefined_symbol_like_reference(missing):
    """A code table lacking a symbol the block needs (here the (0, 2)
    AC symbol, or EOB) makes the reference walk raise ``KeyError``;
    the vectorized encoder must raise too, never emit a zero-length
    code into a corrupt stream."""
    ac = J._build_code_table(J.AC_LUMA_BITS, J.AC_LUMA_VALS)
    del ac[missing]
    plane, q, dc, ac = _one_block_planes(ac)
    with pytest.raises(KeyError):
        J._encode_block(J._BitWriter(), plane, q, dc, ac, 0)
    with pytest.raises(KeyError):
        J._encode_baseline_fast([(plane, q, dc, ac, (1, 1))], 0)


def test_fast_encode_ignores_undefined_symbols_it_does_not_need():
    """A symbol absent from the table but unused by the block (ZRL
    here) raises on neither path, and both write the same bytes."""
    ac = J._build_code_table(J.AC_LUMA_BITS, J.AC_LUMA_VALS)
    del ac[0xF0]
    plane, q, dc, ac = _one_block_planes(ac)
    w = J._BitWriter()
    J._encode_block(w, plane, q, dc, ac, 0)
    assert J._encode_baseline_fast([(plane, q, dc, ac, (1, 1))], 0) == (
        w.flush()
    )


def test_fast_decode_skips_fill_bytes_before_the_terminating_marker():
    """FF fill bytes may precede any marker (T.81 B.1.1.2). Trailing the
    last MCU, before EOI, the reference reader never reads them; the
    fast scan must decode the same pixels, not reject the scan."""
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, (24, 40, 3)).astype(np.uint8)
    for ri in (0, 2):
        enc = J.jpeg_from_pixels(px, restart_interval=ri)
        assert enc.endswith(b"\xff\xd9")
        filled = enc[:-2] + b"\xff\xff\xff" + enc[-2:]
        J._FAST_SCAN = False
        ref = J.jpeg_pixels(filled)
        J._FAST_SCAN = True
        fast = J.jpeg_pixels(filled)
        assert np.array_equal(fast, ref)
        assert np.array_equal(fast, J.jpeg_pixels(enc))
