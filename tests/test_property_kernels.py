"""Property-based tests (hypothesis) for the determinism-critical pure
kernels: codec roundtrips, minhash lane extraction, rolling-hash
polynomial identity. These run without Spark — the Spark-side
equivalence of each kernel is covered by the operator tests; here the
kernels themselves face randomized adversarial inputs.
"""

import hashlib

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_pipeline_spark.operators.dedup import _py_lane_minhashes
from duckdb_pipeline_spark.operators.multimodal import (
    decode_bmp,
    decode_wav,
    encode_bmp,
    encode_wav,
    sample_frames,
)
from duckdb_pipeline_spark.operators.text import RK_B, RK_K, RK_M, RK_POWS


@settings(max_examples=50, deadline=None)
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 41),  # exercises every row-padding residue
    seed=st.integers(0, 2**31 - 1),
)
def test_bmp_roundtrip_any_shape(h, w, seed):
    px = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = decode_bmp(encode_bmp(px))
    assert out.shape == px.shape and (out == px).all()


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(1, 4000),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**31 - 1),
)
def test_wav_roundtrip_bounded_error(n, rate, seed):
    s = np.random.default_rng(seed).uniform(-1, 1, size=n)
    dec, r = decode_wav(encode_wav(s, rate))
    assert r == rate and len(dec) == n
    assert np.abs(dec - s).max() <= 1.0 / 32767 + 1e-12  # one quantization step
    if n >= 400:
        fr = sample_frames(dec, 400, 160)
        assert fr.shape == (1 + (n - 400) // 160, 400)


@settings(max_examples=40, deadline=None)
@given(
    shingles=st.sets(st.text(min_size=1, max_size=12), min_size=1, max_size=60),
)
def test_lane_minhashes_match_bytewise_reference(shingles):
    """The Carter-Wegman lane min must equal a from-scratch rebuild of
    the scheme definition (a/b = LE u32 halves of md5 bytes [0,8),
    h_k = (a + k*b) mod 2^32 — the equivalence the oracle SQL's
    md5_number_upper arithmetic relies on)."""
    got = _py_lane_minhashes(shingles, 16)
    digs = [hashlib.md5(s.encode()).digest() for s in shingles]
    ab = [
        (int.from_bytes(d[:4], "little"), int.from_bytes(d[4:8], "little"))
        for d in digs
    ]
    want = [min((a + k * b) % 2**32 for a, b in ab) for k in range(16)]
    assert got == want


@settings(max_examples=40, deadline=None)
@given(text=st.text(min_size=RK_K, max_size=300))
def test_rolling_hash_identity_on_arbitrary_text(text):
    """Every adjacent k-gram hash pair satisfies the Rabin-Karp rolling
    update — for arbitrary unicode text, not just ASCII."""
    codes = [ord(c) for c in text]
    hashes = [
        sum(codes[i + j] * RK_POWS[j] for j in range(RK_K)) % RK_M
        for i in range(len(codes) - RK_K + 1)
    ]
    for i in range(len(hashes) - 1):
        rolled = ((hashes[i] - codes[i] * RK_POWS[0]) * RK_B + codes[i + RK_K]) % RK_M
        assert rolled == hashes[i + 1]
    # and the vectorized kernel's windowed matmul agrees
    cs = np.frombuffer(text.encode("utf-32-le"), dtype="<u4").astype("int64")
    wins = np.lib.stride_tricks.sliding_window_view(cs, RK_K)
    vec = (wins @ np.array(RK_POWS, dtype="int64")) % RK_M
    assert vec.tolist() == hashes


@settings(max_examples=30, deadline=None)
@given(
    batch=st.lists(
        st.sets(st.text(min_size=1, max_size=10), min_size=1, max_size=25),
        min_size=0,
        max_size=12,
    ),
)
def test_batch_lane_minhashes_match_per_doc_kernel(batch):
    """The vocabulary-deduped batch kernel must equal the per-doc
    kernel row for row (same digests, same u32 lane minima)."""
    from duckdb_pipeline_spark.operators.dedup import _batch_lane_minhashes

    mins = _batch_lane_minhashes(batch, 16)
    assert mins.shape == (len(batch), 16)
    for i, sh in enumerate(batch):
        assert mins[i].tolist() == _py_lane_minhashes(sh, 16)


# ---------------------------------------------------------------------------
# Limb-sum finish math (queries/common.py): the exactness the rollup
# rewrite and every fixed_point_agg consumer rest on. Mirror the SQL
# operator semantics in pure Python (>> and % match Spark's
# shiftright/pmod on these domains; the two divisions are binary
# double ops exactly as in the generated SQL) and check against an
# independent Decimal derivation — including arbitrary GROUPING of the
# rows, which is what aggregate-then-rollup re-aggregation does.
# ---------------------------------------------------------------------------

_LM = (1 << 20) - 1
_LB = 10**9


def _limb_finish_py(sa: int, sb: int, sc: int) -> float:
    c2 = sc & _LM
    b2 = sb + (sc >> 20)
    b3 = b2 & _LM
    a2 = sa + (b2 >> 20)
    r1 = a2 % _LB
    q1 = int(round((a2 - r1) / _LB))
    t2 = (r1 << 20) + b3
    r2 = t2 % _LB
    q2 = int(round((t2 - r2) / _LB))
    t3 = (r2 << 20) + c2
    r3 = t3 % _LB
    q3 = int(round((t3 - r3) / _LB))
    q = (((q1 << 20) + q2) << 20) + q3
    return float(q) + float(r3) / 1e9


@settings(max_examples=200, deadline=None)
@given(
    xs=st.lists(
        st.decimals(
            min_value=-4_000_000, max_value=4_000_000, places=4, allow_nan=False
        ),
        min_size=1,
        max_size=300,
    ),
    cuts=st.lists(st.integers(0, 299), max_size=6),
)
def test_limb_finish_exact_and_regroupable(xs, cuts):
    from decimal import Decimal
    from math import floor

    us = [int(Decimal(x).scaleb(9)) for x in xs]  # exact scale-9 units

    # arbitrary partition of the rows (the rollup re-aggregation path)
    bounds = sorted({c for c in cuts if c < len(us)} | {0, len(us)})
    groups = [us[a:b] for a, b in zip(bounds, bounds[1:]) if a < b] or [us]
    sa = sum((u >> 40) for g in groups for u in g)
    sb = sum(((u >> 20) & _LM) for g in groups for u in g)
    # per-group partials first, then totals — exactly what
    # aggregate-then-rollup does; integer addition is associative so
    # this MUST equal the single-pass sums
    sc_groups = [sum(u & _LM for u in g) for g in groups]
    sc = sum(sc_groups)

    got = _limb_finish_py(sa, sb, sc)

    s = sum(us)
    d = Decimal(s).scaleb(-9)
    i = floor(d)
    expected = float(i) + float(d - i)
    assert got == expected


# ---- round-6 session-2 kernels: bloom lane math, morton interleave ----


@settings(max_examples=40, deadline=None)
@given(text=st.text(st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=200))
def test_bloom_lane_sql_matches_hashlib_reference(text):
    """The engine-portable instr-nibble SQL that derives the k=4 16-bit
    Bloom positions must agree with a direct hashlib computation (big-
    endian 16-bit prefix of each 8-hex-char md5 lane) on arbitrary
    printable text — evaluated through DuckDB, the same way the oracle
    runs it (Spark-side agreement is covered by the no-false-negative
    operator test, which would break on any divergence)."""
    import duckdb

    from duckdb_pipeline_spark.queries.dedup import _bloom_lane_sql

    con = duckdb.connect()
    lanes = ", ".join(_bloom_lane_sql("h"))
    got = con.execute(
        f"SELECT {lanes} FROM (SELECT md5(?) AS h)", [text]
    ).fetchone()
    hexd = hashlib.md5(text.encode()).hexdigest()
    want = tuple(int(hexd[8 * j : 8 * j + 4], 16) for j in range(4))
    assert tuple(got) == want



@given(
    h=st.integers(1, 16),
    w=st.integers(1, 24),
    seed=st.integers(0, 2**31 - 1),
    ft=st.integers(0, 4),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip_any_shape_any_filter(h, w, seed, ft):
    """decode(encode(px, filter)) == px for arbitrary shapes and all
    five scanline filters — including 1-pixel-wide images where the
    left/upper-left references fall off the edge."""
    from duckdb_pipeline_spark.operators.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert (decode_png(encode_png(px, filter_type=ft)) == px).all()


@given(
    mcs=st.integers(2, 8),
    data=st.binary(min_size=0, max_size=2000),
)
@settings(max_examples=60, deadline=None)
def test_lzw_roundtrip_any_stream(mcs, data):
    """_lzw_decode(_lzw_encode(x)) == x for arbitrary byte streams
    (values masked into the palette range) at every GIF starting code
    size — exercises width growth, the KwKwK case, and (for
    low-entropy draws) the 4096-entry reset."""
    from duckdb_pipeline_spark.operators.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    masked = bytes(b % (1 << mcs) for b in data)
    assert _lzw_decode(_lzw_encode(masked, mcs), mcs) == masked


@given(
    h=st.integers(1, 20),
    w=st.integers(1, 24),
    npal=st.sampled_from([4, 8, 16, 32]),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_any_shape(h, w, npal, seed):
    from duckdb_pipeline_spark.operators.multimodal import decode_gif, encode_gif

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(npal, 3), dtype=np.uint8)
    idx = rng.integers(0, npal, size=(h, w), dtype=np.uint8)
    assert (decode_gif(encode_gif(idx, pal)) == pal[idx]).all()


@given(
    h=st.integers(1, 16),
    w=st.integers(1, 20),
    npal=st.sampled_from([4, 8, 16]),
    n_frames=st.integers(1, 6),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_gif_animation_roundtrip(h, w, npal, n_frames, seed):
    """decode_gif_frames(encode_gif_animated(frames)) reproduces every
    frame's RGB pixels in order, for arbitrary shapes/palettes/frame
    counts; decode_gif (single-frame reader) must still return frame 0
    of an animation."""
    from duckdb_pipeline_spark.operators.multimodal import (
        decode_gif,
        decode_gif_frames,
        encode_gif_animated,
    )

    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, size=(npal, 3), dtype=np.uint8)
    frames = [
        rng.integers(0, npal, size=(h, w), dtype=np.uint8)
        for _ in range(n_frames)
    ]
    payload = encode_gif_animated(frames, pal)
    dec = decode_gif_frames(payload)
    assert dec.shape == (n_frames, h, w, 3)
    for i, fr in enumerate(frames):
        assert (dec[i] == pal[fr]).all()
    assert (decode_gif(payload) == pal[frames[0]]).all()


def test_jpeg_constant_block_exact_and_hand_reference():
    """Spec-math pins for the baseline-JPEG codec: (1) a constant
    block survives exactly (DC quantizes losslessly at Annex K Q[0,0]
    = 16 for multiples of 128/16 after level shift); (2) the entropy
    stream for a known DC-only case matches the hand-derived Annex K
    Huffman codes: DC diff 3 -> category 2 (code '011') + bits '11',
    EOB '1010' -> byte 0111 1101 0 + 1-padding = 0x7D 0xFF(stuffed)."""
    from duckdb_pipeline_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    const = np.full((8, 8), 176, dtype=np.uint8)  # 176-128=48 -> DC=48*8/16=24? see below
    rec = decode_jpeg_gray(encode_jpeg_gray(const))
    assert (rec == 176).all()

    # hand reference: pixels all 134 -> level-shifted 6 -> DC coeff
    # 8*6=48 -> quantized round(48/16)=3 -> diff 3, category 2,
    # Annex K DC code for cat 2 = '011', magnitude bits '11',
    # AC EOB = '1010'; stream = 011 11 1010 + pad '1' = 0111 1101 0...
    payload = encode_jpeg_gray(np.full((8, 8), 134, dtype=np.uint8))
    scan = payload[payload.index(b"\xff\xda") + 10 : -2]
    assert scan[0] == 0b01111101, f"entropy byte {scan[0]:08b}"
    assert (decode_jpeg_gray(payload) == 134).all()


_JPEG_HASH_SCRIPT = """
import hashlib
from duckdb_pipeline_spark.operators.multimodal import decode_jpeg_gray, synth_jpeg_payload
h = hashlib.sha256()
for did in range(350):
    payload = synth_jpeg_payload(did, 37 * did % 400)[1]
    h.update(payload)
    h.update(decode_jpeg_gray(payload).tobytes())
print(h.hexdigest())
"""


def _blas_name() -> str:
    try:
        return np.__config__.CONFIG["Build Dependencies"]["blas"]["name"]
    except (AttributeError, KeyError, TypeError):
        return ""


@pytest.mark.skipif("openblas" not in _blas_name(), reason="numpy is not backed by OpenBLAS")
def test_jpeg_payloads_do_not_depend_on_the_blas_kernel():
    """The JPEG transforms are exact integer arithmetic: encoding and
    decoding give the same bytes whichever CPU kernel OpenBLAS picks
    (a float matmul rounded values on a .5 boundary either way)."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "OPENBLAS_CORETYPE"}
    env["PYTHONPATH"] = root

    def digest(extra: dict) -> str:
        return subprocess.run(
            [sys.executable, "-c", _JPEG_HASH_SCRIPT], cwd=root, env={**env, **extra},
            capture_output=True, text=True, check=True,
        ).stdout.strip()

    default = digest({})
    assert default and default == digest({"OPENBLAS_CORETYPE": "Haswell"})


@given(
    hb=st.integers(1, 3),
    wb=st.integers(1, 4),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_roundtrip_bounded_error(hb, wb, seed):
    """Lossy roundtrip: smooth content must survive within a small
    bound (quantization error), any content within a loose one —
    and re-encoding a decoded image must be a FIXED POINT of the
    codec within one more pass's error."""
    from duckdb_pipeline_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    rng = np.random.default_rng(seed)
    h, w = 8 * hb, 8 * wb
    yy, xx = np.mgrid[0:h, 0:w]
    smooth = np.clip(
        np.round(128 + 70 * np.sin(xx / 4.0) + 30 * np.cos(yy / 3.0)), 0, 255
    ).astype(np.uint8)
    rec = decode_jpeg_gray(encode_jpeg_gray(smooth))
    assert np.abs(rec.astype(int) - smooth.astype(int)).max() <= 12
    noisy = rng.integers(0, 256, (h, w), dtype=np.uint8)
    rec2 = decode_jpeg_gray(encode_jpeg_gray(noisy))
    assert np.abs(rec2.astype(int) - noisy.astype(int)).max() <= 160


@given(
    n=st.integers(8, 1500),
    kind=st.integers(0, 2),
    seed=st.integers(0, 2**31 - 1),
)
@settings(max_examples=50, deadline=None)
def test_flac_lossless_roundtrip_and_crc(n, kind, seed):
    """decode_flac(encode_flac(x)) == x EXACTLY for noise, tones and
    random walks (all three fixed-predictor selections); corrupting a
    frame byte must trip a CRC error, never return wrong samples."""
    import pytest

    from duckdb_pipeline_spark.operators.multimodal import (
        decode_flac,
        encode_flac,
    )

    rng = np.random.default_rng(seed)
    if kind == 0:
        s = rng.integers(-32768, 32767, n)
    elif kind == 1:
        s = np.round(18000 * np.sin(np.arange(n) / 15.0)).astype(np.int64)
    else:
        s = np.clip(np.cumsum(rng.integers(-60, 60, n)), -32768, 32767)
    s = s.astype(np.int64)
    payload = encode_flac(s)
    d, rate = decode_flac(payload)
    assert rate == 16000 and (d == s).all()
    bad = bytearray(payload)
    bad[-3] ^= 0xFF  # inside the frame body / CRC region
    with pytest.raises((ValueError, IndexError, NotImplementedError)):
        decode_flac(bytes(bad))
