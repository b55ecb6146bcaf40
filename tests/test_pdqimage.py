"""Unit pins for the fixed-point PDQ pipeline (`operators.pdqimage`).

The registered oracle rows (`image_pdq_hashes`, `image_pdq_near_dup`)
value-check the whole pipeline against DuckDB at the registered 191×192
geometry; these tests pin what the oracle cannot reach:

* the numpy `box1d_int` against an independent pure-Python replay of
  the PDQ reference's ``box1DFloat`` phase semantics at OTHER window
  sizes (the oracle's LEAD form specializes to window 2);
* the full hash against an independent pure-Python (loop) replay on a
  small fixed image — the "hand-computed vector" pin;
* PDQ-spec properties: exactly ≤128 set bits (median split), header
  comments don't change the hash (function of pixels, not bytes),
  small perturbations move few bits while distinct images are ~128
  apart, and the quality metric orders flat < textured.
* detection-quality comparison vs the 8×8 average-hash stand-in on a
  planted near-dup corpus (VERDICT r13 item 1's "quality-compare").
"""

from __future__ import annotations

import numpy as np
import pytest

from cir_duplicate_detector_spark.operators.pdqimage import (
    DCT_SCALE,
    box1d_int,
    decode_ppm,
    jarosz_window_size,
    pdq_dct_matrix_int,
    pdq_hash_from_pixels,
)


def _rng_image(seed: int, h: int = 192, w: int = 192) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8).astype(
        np.uint8
    )


# ------------------------------------------------------- box1d semantics


def _box1d_reference(vec: list[int], fw: int) -> list[int]:
    """Independent pure-Python replay of the PDQ reference's
    ``box1DFloat`` four-phase sliding window (ramp-up / small-window
    writes / full-window / ramp-down), floor division."""
    if fw <= 1:
        return list(vec)
    hw = (fw + 2) // 2
    n = len(vec)
    out = []
    s = 0
    cur = 0
    li = 0
    ri = 0
    for _ in range(hw - 1):  # phase 1: accumulate, no writes
        s += vec[ri]
        cur += 1
        ri += 1
    for _ in range(fw - hw + 1):  # phase 2: small-window writes
        s += vec[ri]
        cur += 1
        out.append(s // cur)
        ri += 1
    for _ in range(n - fw):  # phase 3: full window
        s += vec[ri]
        s -= vec[li]
        out.append(s // fw)
        ri += 1
        li += 1
    for _ in range(hw - 1):  # phase 4: ramp-down
        s -= vec[li]
        cur -= 1
        out.append(s // cur)
        li += 1
    return out


@pytest.mark.parametrize("fw", [2, 3, 4, 5, 7, 8])
@pytest.mark.parametrize("n", [64, 65, 100, 191])
def test_box1d_matches_phase_reference(fw, n):
    rng = np.random.RandomState(fw * 1000 + n)
    vec = rng.randint(0, 255001, size=n).astype(np.int64)
    got = box1d_int(vec.reshape(1, -1), axis=1, fw=fw)[0]
    want = _box1d_reference(list(vec), fw)
    assert list(got) == want
    # and along axis 0 (column pass) — same values transposed
    got0 = box1d_int(vec.reshape(-1, 1), axis=0, fw=fw)[:, 0]
    assert list(got0) == want


def test_window_size_matches_reference_formula():
    # computeJaroszFilterWindowSize(dim, 64) = ceil(dim / 128)
    assert jarosz_window_size(64) == 1
    assert jarosz_window_size(128) == 1
    assert jarosz_window_size(129) == 2
    assert jarosz_window_size(192) == 2
    assert jarosz_window_size(512) == 4


# ------------------------------------------------- full-pipeline replay


def _pdq_reference(px: np.ndarray) -> str:
    """Independent loop replay of the whole fixed-point pipeline."""
    h, w = px.shape[:2]
    luma = [
        [
            299 * int(px[i][j][0])
            + 587 * int(px[i][j][1])
            + 114 * int(px[i][j][2])
            for j in range(w)
        ]
        for i in range(h)
    ]
    fwr, fwc = jarosz_window_size(w), jarosz_window_size(h)
    for _ in range(2):
        luma = [_box1d_reference(row, fwr) for row in luma]
        cols = list(map(list, zip(*luma)))
        cols = [_box1d_reference(c, fwc) for c in cols]
        luma = list(map(list, zip(*cols)))
    a = [
        [luma[((2 * i + 1) * h) // 128][((2 * j + 1) * w) // 128] for j in range(64)]
        for i in range(64)
    ]
    d = pdq_dct_matrix_int()
    t = [
        [sum(d[i][k] * a[k][j] for k in range(64)) for j in range(64)]
        for i in range(16)
    ]
    b = [
        [sum(t[i][k] * d[j][k] for k in range(64)) for j in range(16)]
        for i in range(16)
    ]
    flat = [b[i][j] for i in range(16) for j in range(16)]
    med = sorted(flat)[127]
    bits = "".join("1" if v > med else "0" for v in flat)
    return "%064x" % int(bits, 2)


def test_hash_matches_pure_python_replay():
    px = _rng_image(7, 192, 192)
    got, _ = pdq_hash_from_pixels(px)
    assert got == _pdq_reference(px)


def test_hash_matches_replay_non_square_odd_width():
    px = _rng_image(11, 192, 191)  # the registered geometry
    got, _ = pdq_hash_from_pixels(px)
    assert got == _pdq_reference(px)


def test_hash_matches_replay_large_window():
    px = _rng_image(13, 300, 260)  # fw 3 / 3 — exercises phases 2-4
    got, _ = pdq_hash_from_pixels(px)
    assert got == _pdq_reference(px)


def test_dct_matrix_shape_and_scale():
    m = np.asarray(pdq_dct_matrix_int())
    assert m.shape == (16, 64)
    # sqrt(2/64) * DCT_SCALE is the max magnitude (cos = ±1 unreached,
    # but the first row gets close); all entries bounded by it.
    assert np.abs(m).max() <= round(DCT_SCALE * (2.0 / 64.0) ** 0.5)
    # rows are near-orthogonal under the quantization: |<r_i, r_j>| is
    # tiny relative to |r_i|^2 (exact orthogonality only pre-rounding).
    g = m @ m.T
    off = g - np.diag(np.diag(g))
    assert np.abs(off).max() < 0.01 * np.diag(g).min()


# ------------------------------------------------------- hash properties


def test_median_split_sets_at_most_128_bits():
    for seed in range(5):
        h, _ = pdq_hash_from_pixels(_rng_image(seed))
        assert bin(int(h, 16)).count("1") <= 128


def test_hash_is_function_of_pixels_not_bytes():
    px = _rng_image(3, 192, 192)
    plain = b"P6\n192 192\n255\n" + px.tobytes()
    commented = b"P6\n# a header comment\n192 192\n255\n" + px.tobytes()
    a = pdq_hash_from_pixels(decode_ppm(plain))
    b = pdq_hash_from_pixels(decode_ppm(commented))
    assert a == b


def test_small_perturbation_small_distance_noise_far():
    base = _rng_image(21)
    # perturb a 10x10 block mildly (clip keeps uint8 semantics exact)
    pert = base.copy()
    blk = pert[90:100, 90:100].astype(np.int16)
    pert[90:100, 90:100] = np.clip(blk + 40, 0, 255).astype(np.uint8)
    other = _rng_image(22)
    ha = int(pdq_hash_from_pixels(base)[0], 16)
    hp = int(pdq_hash_from_pixels(pert)[0], 16)
    ho = int(pdq_hash_from_pixels(other)[0], 16)
    d_pert = bin(ha ^ hp).count("1")
    d_noise = bin(ha ^ ho).count("1")
    assert d_pert < 30 < 90 < d_noise


def test_quality_orders_flat_below_textured():
    flat = np.full((192, 192, 3), 128, dtype=np.uint8)
    textured = _rng_image(31)
    _, q_flat = pdq_hash_from_pixels(flat)
    _, q_tex = pdq_hash_from_pixels(textured)
    assert q_flat == 0
    assert q_flat < q_tex <= 100


def test_too_small_image_raises():
    with pytest.raises(ValueError, match="64x64"):
        pdq_hash_from_pixels(_rng_image(1, 32, 192), doc_id=9)


# ------------------------------------- detection quality vs average-hash


def _ahash8(px) -> int:
    """The 8×8 average hash PDQ is compared with, in exact integers:
    grayscale ``(r+g+b)//3``, block means by floor, bit set where
    ``cell·64 > sum(cells)``."""
    gray = px.astype(np.int64).sum(axis=2) // 3
    bh, bw = px.shape[0] // 8, px.shape[1] // 8
    blocks = gray[: bh * 8, : bw * 8].reshape(8, bh, 8, bw)
    cells = blocks.sum(axis=(1, 3)) // (bh * bw)
    bits = (cells.reshape(-1) * 64) > int(cells.sum())
    return int("".join("1" if b else "0" for b in bits), 2)


def test_pdq_beats_ahash_on_planted_near_dups():
    """VERDICT r13 item 1's quality-compare: on a planted corpus of
    mildly perturbed images, PDQ separates near-dups from noise at
    least as well as the 8×8 average-hash stand-in — measured as the
    margin between the worst planted-pair distance and the best
    noise-pair distance, in units of hash width."""

    def margins(hash_fn, bits):
        planted, noise = [], []
        images = [_rng_image(100 + s) for s in range(6)]
        perturbed = []
        for img in images:
            p = img.copy().astype(np.int16)
            p[60:90, 60:90] += 25  # mild local brightness shift
            perturbed.append(np.clip(p, 0, 255).astype(np.uint8))
        hs = [hash_fn(i) for i in images]
        hp = [hash_fn(p) for p in perturbed]
        for i in range(len(images)):
            planted.append(bin(hs[i] ^ hp[i]).count("1"))
            for j in range(i + 1, len(images)):
                noise.append(bin(hs[i] ^ hs[j]).count("1"))
        return (min(noise) - max(planted)) / bits

    pdq_margin = margins(
        lambda px: int(pdq_hash_from_pixels(px)[0], 16), 256
    )
    ahash_margin = margins(_ahash8, 64)
    assert pdq_margin > 0, "PDQ must separate planted pairs from noise"
    assert pdq_margin >= ahash_margin - 0.05


def test_operator_registered_rows_exist():
    from cir_duplicate_detector_spark.plans import ALL_QUERIES

    for name in ("image_pdq_hashes", "image_pdq_near_dup"):
        fn, sql = ALL_QUERIES[name]
        assert callable(fn) and isinstance(sql, str)
