"""Known-answer + property-style roundtrip tests for every codec
(SURVEY.md §5 carry-over items 2 and 3). Spark-free — pure numpy and
pyarrow, through the block entry points ``encode_block_arrow`` /
``decode_block_arrow``."""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pytest

from parquet_converter_spark.codecs import (
    ELIGIBLE,
    block_codec,
    decode_block_arrow,
    encode_block_arrow,
)
from parquet_converter_spark.codecs.primitives import (
    bitpack,
    bitunpack,
    zigzag_decode,
    zigzag_encode,
)

rng = np.random.default_rng(7)

#: input Arrow type per block dtype; vectors come in as float64 lists
#: (Spark array<double>) so the float32 narrowing is exercised too
ARROW_IN = {
    "str": pa.string(),
    "int64": pa.int64(),
    "int32": pa.int32(),
    "ts_us": pa.timestamp("us"),
    "f32list": pa.list_(pa.float64()),
}


def encode(values, dtype: str, codec: str | None = None) -> bytes:
    return encode_block_arrow(pa.array(values, ARROW_IN[dtype]), dtype, codec)


def decode(blob: bytes) -> tuple[list, str]:
    arr, used = decode_block_arrow(blob)
    return arr.to_pylist(), used


def _roundtrip(values, dtype: str, codec: str | None):
    blob = encode(values, dtype, codec)
    out, used = decode(blob)
    expect = values.tolist() if isinstance(values, np.ndarray) else list(values)
    assert out == expect, (dtype, codec)
    return blob, used


def _f32(v) -> np.ndarray:
    with np.errstate(over="ignore"):  # float64 → float32 overflow is ±inf by contract
        return np.asarray(v, np.float32)


# ---------------------------------------------------------------- primitives


def test_bitpack_roundtrip():
    for width in [0, 1, 3, 7, 8, 13, 31, 33, 64]:
        n = 257
        vals = rng.integers(0, 2, n).astype(np.uint64) if width == 1 else (
            rng.integers(0, 2 ** min(width, 63), n, dtype=np.uint64)
            if width
            else np.zeros(n, dtype=np.uint64)
        )
        out = bitunpack(bitpack(vals, width), n, width)
        assert (out == vals).all(), width


def test_zigzag():
    vals = np.array([0, -1, 1, -2, 2, 2**62, -(2**62), np.iinfo(np.int64).min + 1])
    assert (zigzag_decode(zigzag_encode(vals)) == vals).all()


# ------------------------------------------------------------- known answers


def test_rle_known_answer():
    # 3 runs: aaa bb c → run codes + lengths
    blob = encode(["a", "a", "a", "b", "b", "c"], "str", "rle")
    out, used = decode(blob)
    assert used == "rle"
    assert out == ["a", "a", "a", "b", "b", "c"]


def test_dict_known_answer():
    blob = encode(["user", "assistant", "user", None, "user"], "str", "dict")
    out, _ = decode(blob)
    assert out[:3] == ["user", "assistant", "user"]
    assert [v is None for v in out] == [False, False, False, True, False]


def test_delta_known_answer():
    blob = encode(np.array([100, 101, 102, 103], dtype=np.int64), "int64", "delta")
    out, _ = decode(blob)
    assert out == [100, 101, 102, 103]
    # constant delta of 1 → tiny block
    assert len(blob) < 64


def test_forbp_known_answer():
    vals = np.array([1_000_000, 1_000_003, 1_000_001], dtype=np.int64)
    out, _ = decode(encode(vals, "int64", "forbp"))
    assert out == [1_000_000, 1_000_003, 1_000_001]


# --------------------------------------------------------------- properties


INT_CASES = {
    "empty": np.array([], dtype=np.int64),
    "single": np.array([42], dtype=np.int64),
    "constant": np.full(1000, -7, dtype=np.int64),
    "sequential": np.arange(5000, dtype=np.int64),
    "random": rng.integers(-(2**40), 2**40, 3000),
    "extremes": np.array(
        [np.iinfo(np.int64).min + 1, np.iinfo(np.int64).max, 0, -1, 1]
    ),
    "runs": np.repeat(rng.integers(0, 5, 50), rng.integers(1, 100, 50)),
}


@pytest.mark.parametrize("case", list(INT_CASES))
@pytest.mark.parametrize("codec", ELIGIBLE["int64"] + [None])
def test_int_roundtrip(case, codec):
    _roundtrip(INT_CASES[case], "int64", codec)


STR_CASES = {
    "empty": [],
    "single": ["x"],
    "empties_and_nulls": ["", None, "", "a", None, ""],
    "unicode": ["héllo", "🎉🎊", "ünïcode ✓", "\x00zero", "tab\there"],
    "runs": ["user"] * 50 + ["assistant"] * 50 + ["tool"] * 3,
    "long": ["x" * 100_000, "short", "y" * 70_000],
    "random_words": [
        " ".join(rng.choice(["alpha", "beta", "gamma", "delta"], rng.integers(1, 20)))
        for _ in range(500)
    ],
    "all_null": [None, None, None],
}


@pytest.mark.parametrize("case", list(STR_CASES))
@pytest.mark.parametrize("codec", ELIGIBLE["str"] + [None])
def test_str_roundtrip(case, codec):
    _roundtrip(STR_CASES[case], "str", codec)


@pytest.mark.parametrize("codec", ELIGIBLE["ts_us"] + [None])
def test_ts_roundtrip(codec):
    base = datetime(2024, 3, 1, 12, 0, 0)
    ts = [base + timedelta(microseconds=int(d)) for d in np.cumsum(rng.integers(1, 10**7, 500))]
    ts[5] = None
    ts[499] = None
    _roundtrip(ts, "ts_us", codec)


def test_ts_microsecond_precision():
    ts = [datetime(2024, 1, 1, 0, 0, 0, 1), datetime(2024, 1, 1, 0, 0, 0, 999999)]
    out, _ = decode(encode(ts, "ts_us", "delta"))
    assert out == ts


@pytest.mark.parametrize("codec", ELIGIBLE["int32"] + [None])
def test_int32_nullable_roundtrip(codec):
    _roundtrip([1, None, 3, 3, 3, -2, None, 0] * 40, "int32", codec)


def test_auto_selects_reasonably():
    # sequential ints → delta; low-cardinality runs → rle or dict
    blob = encode(np.arange(10_000, dtype=np.int64), "int64", None)
    assert block_codec(blob) == "delta"
    roles = (["user"] * 30 + ["assistant"] * 30) * 100
    blob = encode(roles, "str", None)
    assert block_codec(blob) in ("rle", "dict")


def test_f32list_vector_roundtrip():
    centers = rng.standard_normal((4, 16)).astype(np.float32)
    vecs = [
        (centers[i % 4] + np.float32(0.1) * rng.standard_normal(16).astype(np.float32)).tolist()
        for i in range(500)
    ]
    vecs[3] = None
    vecs[4] = []
    for codec in ["fplain", "ftrans", None]:
        out, used = decode(encode(vecs, "f32list", codec))
        assert [v is None for v in vecs] == [v is None for v in out]
        for a, b in zip(vecs, out):
            if a is not None:
                assert _f32(a).tobytes() == _f32(b).tobytes()  # bit-identical


def test_compression_beats_plain_on_text():
    words = ["the", "quick", "brown", "fox", "query", "spark", "encode"]
    texts = [" ".join(rng.choice(words, rng.integers(5, 40))) for _ in range(3000)]
    auto = encode(texts, "str", None)
    raw = sum(len(t.encode()) for t in texts)
    assert len(auto) < raw * 0.5


def test_f32list_special_values_bit_identical():
    """Embedding payloads carry NaN/Inf/-0.0/subnormals — the vector
    codec must reproduce the exact float32 bit patterns, plus None and
    empty vectors."""
    vecs = [
        [1.0, float("nan"), float("inf")],
        [-0.0, 3.5e38, -float("inf")],   # 3.5e38 overflows float32 → inf
        None,
        [],
        [1.401298464324817e-45],          # smallest positive subnormal
    ]
    out, used = decode(encode(vecs, "f32list", None))
    assert _f32(vecs[1])[1] == np.inf
    for a, b in zip(vecs, out):
        if a is None:
            assert b is None
            continue
        assert _f32(a).tobytes() == _f32(b).tobytes()


# ------------------------------------------------------------- lossy vectors


def test_lossy_codecs_never_auto_selected():
    """fq16/fq8 are OPT-IN only: absent from ELIGIBLE (so the cost-model
    selector can never pick them) and auto-encode of a vector column
    always lands on a lossless codec."""
    from parquet_converter_spark.codecs.vectors import LOSSY_VEC_CODECS

    assert LOSSY_VEC_CODECS == {"fq16", "fq8", "fpq"}
    for dtype, names in ELIGIBLE.items():
        assert not (set(names) & LOSSY_VEC_CODECS), dtype
    vecs = [rng.standard_normal(8).astype(np.float32).tolist() for _ in range(64)]
    _, used = decode(encode(vecs, "f32list", None))
    assert used in ("fplain", "ftrans")


def test_fq16_roundtrip_within_half_precision_bound():
    """fq16 decode must equal float32(float16(x)) exactly — the error is
    precisely the IEEE half rounding, ≤ 2^-11 relative in the fp16
    normal range. Includes None and empty vectors."""
    vals = [
        (10.0 * rng.standard_normal(16)).astype(np.float32).tolist()
        for _ in range(200)
    ]
    vals[5] = None
    vals[6] = []
    out, used = decode(encode(vals, "f32list", "fq16"))
    assert used == "fq16"
    assert [v is None for v in vals] == [v is None for v in out]
    for a, b in zip(vals, out):
        if a is None:
            continue
        a32 = np.asarray(a, np.float32)
        expect = a32.astype(np.float16).astype(np.float32)
        assert np.array_equal(expect, np.asarray(b, np.float32))
        if a32.size:
            err = np.abs(a32.astype(np.float64) - expect.astype(np.float64))
            assert (err <= np.abs(a32) * 2.0**-11 + 1e-12).all()


def test_fq8_roundtrip_within_quantization_step():
    """fq8 per-vector symmetric int8: element error ≤ amax/254 (half a
    step), zero vectors decode to exact zeros, scale isolation keeps a
    huge-magnitude vector from degrading its neighbors."""
    vals = [
        (float(10.0 ** (i % 5)) * rng.standard_normal(12)).astype(np.float32).tolist()
        for i in range(100)
    ]
    vals[0] = [0.0, 0.0, 0.0]        # amax == 0 → exact
    vals[1] = None
    vals[2] = []
    out, used = decode(encode(vals, "f32list", "fq8"))
    assert used == "fq8"
    assert [v is None for v in vals] == [v is None for v in out]
    assert np.asarray(out[0], np.float32).tolist() == [0.0, 0.0, 0.0]
    for a, b in zip(vals, out):
        if a is None or len(a) == 0:
            continue
        a64 = np.asarray(a, np.float32).astype(np.float64)
        b64 = np.asarray(b, np.float32).astype(np.float64)
        amax = np.abs(a64).max()
        # half a quantization step + float32-scale representation slop
        assert (np.abs(a64 - b64) <= amax / 254.0 * (1 + 1e-5) + 1e-12).all()


def test_fq8_nonfinite_vector_poisons_only_itself():
    """A NaN/inf amax must not corrupt neighboring vectors — scales are
    per-vector. The clean vector roundtrips within its own bound."""
    clean = np.asarray([1.0, -2.0, 0.5], np.float32)
    vecs = [[float("nan"), 1.0], clean.tolist(), [float("inf"), 3.0]]
    out, _ = decode(encode(vecs, "f32list", "fq8"))
    got = np.asarray(out[1], np.float64)
    assert (np.abs(got - clean.astype(np.float64)) <= 2.0 / 254.0 * 1.01).all()


def test_fq8_compresses_better_than_lossless():
    """The point of opting in: ~4x fewer payload bytes than fplain on
    incompressible float noise (fq16 ~2x)."""
    vecs = [rng.standard_normal(64).astype(np.float32).tolist() for _ in range(512)]
    plain = len(encode(vecs, "f32list", "fplain"))
    h16 = len(encode(vecs, "f32list", "fq16"))
    q8 = len(encode(vecs, "f32list", "fq8"))
    assert h16 < plain * 0.60
    assert q8 < plain * 0.35


def test_fpq_roundtrip_quality_and_ratio_on_clustered_vectors():
    """Product quantization: per-block codebooks must reconstruct
    naturally-clustered embeddings at high cosine fidelity while
    beating scalar quantization's ratio by a wide margin. Empty/None
    vectors roundtrip structurally; encode is deterministic."""
    centers = rng.standard_normal((16, 64)).astype(np.float32) * 3
    vals = [
        (centers[i % 16] + 0.3 * rng.standard_normal(64)).astype(np.float32).tolist()
        for i in range(4000)
    ]
    vals[3] = None
    vals[4] = []
    blob = encode(vals, "f32list", "fpq")
    out, used = decode(blob)
    assert used == "fpq"
    assert [v is None for v in vals] == [v is None for v in out]
    assert len(out[4]) == 0
    coss = []
    for a, b in zip(vals, out):
        if a is None or len(a) == 0:
            continue
        a64 = np.asarray(a, np.float64)
        b64 = np.asarray(b, np.float64)
        assert len(a64) == len(b64)
        coss.append(a64 @ b64 / (np.linalg.norm(a64) * np.linalg.norm(b64)))
    assert float(np.mean(coss)) > 0.99
    assert float(np.min(coss)) > 0.95
    q8 = len(encode(vals, "f32list", "fq8"))
    assert len(blob) < q8 * 0.45  # PQ lands well past int8's ~4x
    assert blob == encode(vals, "f32list", "fpq")  # deterministic


def test_fpq_rejects_ragged_and_handles_empty_blocks():
    with pytest.raises(ValueError, match="fixed-dimension"):
        encode([[1.0, 2.0], [1.0, 2.0, 3.0]], "f32list", "fpq")
    # a block of only null/empty vectors still roundtrips
    out, used = decode(encode([None, [], None], "f32list", "fpq"))
    assert used == "fpq"
    assert out == [None, [], None]
