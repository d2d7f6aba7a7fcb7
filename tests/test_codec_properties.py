"""Property-based codec roundtrips (hypothesis) — beyond the reference's
test strategy (SURVEY.md §5: the reference has no property testing)."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from parquet_converter_spark.codecs import ELIGIBLE, decode_block_arrow, encode_block_arrow

_SETTINGS = dict(max_examples=40, deadline=None)


def _assert_roundtrip(arr: pa.Array, dtype: str, codec: str | None):
    out, _ = decode_block_arrow(encode_block_arrow(arr, dtype, codec))
    assert out.to_pylist() == arr.to_pylist()


int_lists = st.lists(
    st.one_of(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.none(),
    ),
    max_size=300,
)


@settings(**_SETTINGS)
@given(vals=int_lists, codec=st.sampled_from(ELIGIBLE["int64"] + [None]))
def test_int64_roundtrip_property(vals, codec):
    _assert_roundtrip(pa.array(vals, pa.int64()), "int64", codec)


str_lists = st.lists(
    st.one_of(st.text(max_size=60), st.none()),
    max_size=200,
)


@settings(**_SETTINGS)
@given(vals=str_lists, codec=st.sampled_from(ELIGIBLE["str"] + [None]))
def test_str_roundtrip_property(vals, codec):
    _assert_roundtrip(pa.array(vals, pa.string()), "str", codec)


ts_lists = st.lists(
    st.one_of(
        st.integers(min_value=0, max_value=4_000_000_000_000_000),  # epoch-us range
        st.none(),
    ),
    max_size=200,
)


@settings(**_SETTINGS)
@given(vals=ts_lists, codec=st.sampled_from(ELIGIBLE["ts_us"] + [None]))
def test_ts_roundtrip_property(vals, codec):
    arr = pa.array(vals, pa.int64()).cast(pa.timestamp("us"))
    out, _ = decode_block_arrow(encode_block_arrow(arr, "ts_us", codec))
    assert out.cast(pa.int64()).to_pylist() == vals


# --- FSST kernel differential property: the vectorized exact-greedy
# tokenizer (match-domain pointer doubling) and the C-regex scan in
# tests/fsst_oracle.py are two implementations of the same greedy compressor. Both must roundtrip any
# byte string; the vectorized output may only be marginally larger (its
# prefix-dispatch considers one candidate symbol per 2-byte prefix).

fsst_payloads = st.one_of(
    st.binary(max_size=2048),
    # repetitive text-like payloads give the symbol table real work
    st.lists(
        st.sampled_from([b"the cat ", b"user_42 ", b"hello", b" said ", b"\x00\xff", b"aaaa"]),
        max_size=200,
    ).map(b"".join),
)


@settings(max_examples=40, deadline=None)
@given(data=fsst_payloads)
def test_fsst_kernels_differential(data):
    from fsst_oracle import compress as oracle_compress
    from parquet_converter_spark.codecs import fsst

    syms = fsst.build_symbol_table(data[:4096] or b"x")
    out_re = oracle_compress(data, syms)
    out_vec = fsst.compress_vectorized(data, syms)
    assert fsst.decompress(out_re, syms) == data
    assert fsst.decompress(out_vec, syms) == data
    assert len(out_vec) <= max(len(out_re) + 8, int(len(out_re) * 1.1))
