"""FSST-specific tests: table build, escape disambiguation, roundtrip
on adversarial byte patterns (SURVEY.md §7.3 #1). Roundtrips run the
production kernel (``compress_vectorized``) and compare it with the
C-regex reference compressor in ``fsst_oracle``."""

from __future__ import annotations

import numpy as np
import pytest

from fsst_oracle import compress as oracle_compress
from parquet_converter_spark.codecs.fsst import (
    ESCAPE,
    build_symbol_table,
    compress_vectorized,
    decompress,
)

rng = np.random.default_rng(11)


def _rt(data: bytes, symbols=None):
    syms = build_symbol_table(data) if symbols is None else symbols
    comp = compress_vectorized(data, syms)
    assert decompress(comp, syms) == data
    ref = oracle_compress(data, syms)
    assert decompress(ref, syms) == data
    # one candidate per 2-byte prefix may cost a little density
    assert len(comp) <= max(len(ref) + 8, int(len(ref) * 1.1))
    return comp, syms


def test_empty():
    assert compress_vectorized(b"", []) == b""
    assert oracle_compress(b"", []) == b""
    assert decompress(b"", []) == b""


def test_simple_text():
    data = b"the quick brown fox jumps over the lazy dog " * 200
    comp, _ = _rt(data)
    assert len(comp) < len(data) * 0.5


def test_no_symbols_all_escape():
    data = b"abcdef"
    comp = compress_vectorized(data, [])
    assert comp == oracle_compress(data, [])
    assert len(comp) == 2 * len(data)
    assert decompress(comp, []) == data


def test_escape_byte_in_data():
    # 0xFF never appears in UTF-8, but the codec must survive raw bytes
    data = bytes([0xFF, 0xFF, 0x41, 0xFF, 0x42]) * 50
    _rt(data)


def test_symbol_table_caps():
    data = bytes(rng.integers(0, 256, 100_000, dtype=np.uint8).tobytes())
    syms = build_symbol_table(data)
    assert len(syms) <= 255
    assert all(1 <= len(s) <= 8 for s in syms)
    _rt(data, syms)


def test_longest_match_priority():
    # "abcd" and "ab" both symbols → compressor must prefer "abcd"
    syms = [b"abcd", b"ab", b"c", b"d", b"x"]
    data = b"abcdabcdxx"
    comp = compress_vectorized(data, syms)
    assert comp[0] == 0 and comp[1] == 0  # two "abcd" codes first
    assert comp == oracle_compress(data, syms)
    assert decompress(comp, syms) == data


def test_consecutive_escapes():
    # literals that are the escape byte, adjacent → run disambiguation
    syms = [b"A"]
    data = bytes([ESCAPE] * 7) + b"A" + bytes([ESCAPE])
    _rt(data, syms)


def test_unicode_text():
    data = ("héllo 🎉 wörld ✓ " * 500).encode("utf-8")
    comp, _ = _rt(data)
    assert len(comp) < len(data)


@pytest.mark.parametrize("size", [1, 2, 255, 4096])
def test_random_bytes_roundtrip(size):
    data = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
    _rt(data)


# ------------------------------------------------- vectorized kernel parity


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"a",
        b"the quick brown the quick brown the quick" * 100,
        bytes([ESCAPE] * 9) + b"Aa" + bytes([ESCAPE]),
        ("héllo 🎉 wörld " * 300).encode(),
    ],
    ids=["empty", "one", "text", "escapes", "unicode"],
)
def test_vectorized_kernel_roundtrip(data):
    syms = build_symbol_table(data)
    comp = compress_vectorized(data, syms)
    assert decompress(comp, syms) == data


def test_vectorized_kernel_matches_regex_ratio():
    data = b"select a from t where b = c order by d " * 2000
    syms = build_symbol_table(data)
    c_re = oracle_compress(data, syms)
    c_np = compress_vectorized(data, syms)
    assert decompress(c_np, syms) == data
    # exact-greedy tokenization → identical (or better) ratio
    assert len(c_np) <= len(c_re) * 1.01


def test_vectorized_kernel_random_bytes():
    for size in [3, 257, 5000]:
        data = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
        syms = build_symbol_table(data)
        assert decompress(compress_vectorized(data, syms), syms) == data
