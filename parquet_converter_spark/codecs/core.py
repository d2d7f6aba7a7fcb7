"""The lightweight codecs: plain, FOR+bitpack, delta, dict, RLE.

Each codec exposes, per logical type class:

* ``encode_ints(values: np.int64[n]) -> bytes`` / ``decode_ints(payload, n)``
* ``encode_strs(lengths: np.int64[n], data: bytes) -> bytes`` /
  ``decode_strs(payload, n) -> (lengths, data)``

Values arriving here are the NON-NULL values of a column chunk (the
block layer strips and restores nulls via a bitmap — see blocks.py),
so codecs never see NaN/None. All kernels are vectorized numpy;
Python-level loops in the codec package run per symbol, subspace or
candidate codec, never per row or per byte.

Design per SURVEY.md §7.1/§7.3; supersedes the reference's single
whole-file parquet codec choice (/root/reference/parquet_converter/
converter.py:241,577 — one static compression codec per file).
"""

from __future__ import annotations

import numpy as np

from .primitives import (
    bitpack,
    bitunpack,
    min_bits,
    pack_sections,
    read_u32,
    u32,
    unpack_sections,
    zigzag_decode,
    zigzag_encode,
)

# ---------------------------------------------------------------------------
# plain


class PlainCodec:
    """Escape-hatch codec: raw little-endian int64s / raw UTF-8 + lengths."""

    name = "plain"

    def encode_ints(self, values: np.ndarray) -> bytes:
        return np.ascontiguousarray(values, dtype="<i8").tobytes()

    def decode_ints(self, payload: bytes, n: int) -> np.ndarray:
        return np.frombuffer(payload, dtype="<i8", count=n).astype(np.int64)

    def encode_strs(self, lengths: np.ndarray, data: bytes) -> bytes:
        return pack_sections(_encode_uint_vec(lengths), data)

    def decode_strs(self, payload: bytes, n: int) -> tuple[np.ndarray, bytes]:
        len_sec, data = unpack_sections(payload, 2)
        lengths = _decode_uint_vec(len_sec, n).astype(np.int64)
        return lengths, data


# ---------------------------------------------------------------------------
# frame-of-reference + bit-packing (ints)


def _encode_uint_vec(values: np.ndarray) -> bytes:
    """FOR+bitpack a non-negative int vector: [u64 ref][u8 width][packed]."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    ref = int(v.min()) if v.size else 0
    rel = v - np.uint64(ref)
    width = min_bits(rel)
    return np.uint64(ref).tobytes() + bytes([width]) + bitpack(rel, width)


def _decode_uint_vec(payload: bytes, n: int) -> np.ndarray:
    ref = np.frombuffer(payload, dtype=np.uint64, count=1)[0]
    width = payload[8]
    return bitunpack(payload[9:], n, width) + ref


class ForBitpackCodec:
    """Frame-of-reference + bit-packing for integer columns.

    Best for clustered values (turn_idx within a salted block, epoch
    timestamps within a conversation).
    """

    name = "forbp"

    def encode_ints(self, values: np.ndarray) -> bytes:
        v = np.ascontiguousarray(values, dtype=np.int64)
        ref = int(v.min()) if v.size else 0
        rel = (v.astype(np.uint64) - np.int64(ref).astype(np.uint64)).astype(np.uint64)
        width = min_bits(rel)
        return np.int64(ref).tobytes() + bytes([width]) + bitpack(rel, width)

    def decode_ints(self, payload: bytes, n: int) -> np.ndarray:
        ref = np.frombuffer(payload, dtype=np.int64, count=1)[0]
        width = payload[8]
        rel = bitunpack(payload[9:], n, width)
        return (rel + ref.astype(np.uint64)).astype(np.int64)


# ---------------------------------------------------------------------------
# delta (+ zigzag + FOR/bitpack) — monotone-ish ints (ts, turn_idx)


class DeltaCodec:
    """First value verbatim, then zigzag(diff) FOR+bit-packed.

    Near-constant timestamp deltas within a conversation collapse to a
    few bits per value. Cross-conversation jumps inside a salted group
    are absorbed by zigzag (signed) deltas.
    """

    name = "delta"

    def encode_ints(self, values: np.ndarray) -> bytes:
        v = np.ascontiguousarray(values, dtype=np.int64)
        if v.size == 0:
            return b""
        first = np.int64(v[0]).tobytes()
        deltas = np.diff(v)
        zz = zigzag_encode(deltas)
        return first + _encode_uint_vec(zz)

    def decode_ints(self, payload: bytes, n: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        first = np.frombuffer(payload, dtype=np.int64, count=1)[0]
        zz = _decode_uint_vec(payload[8:], n - 1)
        deltas = zigzag_decode(zz)
        out = np.empty(n, dtype=np.int64)
        out[0] = first
        if n > 1:
            np.cumsum(deltas, out=out[1:])
            out[1:] += first
        return out


# ---------------------------------------------------------------------------
# delta + byte-plane transposition


class DeltaTransposeCodec:
    """Zigzag deltas laid out byte-plane-transposed (all least-significant
    bytes together, then the next plane, …) so the block-level zstd wrap
    sees long near-constant runs — the Blosc/HDF5 "shuffle filter"
    composed with delta. Wins on jittery-but-bounded deltas (timestamps
    with irregular gaps) where bit-packing produces incompressible
    high-entropy bits but byte planes above the jitter width are
    constant."""

    name = "dtrans"

    def encode_ints(self, values: np.ndarray) -> bytes:
        v = np.ascontiguousarray(values, dtype=np.int64)
        if v.size == 0:
            return b""
        first = np.int64(v[0]).tobytes()
        zz = zigzag_encode(np.diff(v)).astype("<u8")
        planes = np.ascontiguousarray(zz.view(np.uint8).reshape(-1, 8).T)
        return first + planes.tobytes()

    def decode_ints(self, payload: bytes, n: int) -> np.ndarray:
        if n == 0:
            return np.zeros(0, dtype=np.int64)
        first = np.frombuffer(payload, dtype=np.int64, count=1)[0]
        out = np.empty(n, dtype=np.int64)
        out[0] = first
        if n > 1:
            planes = np.frombuffer(payload, dtype=np.uint8, offset=8).reshape(8, n - 1)
            zz = np.ascontiguousarray(planes.T).reshape(-1).view("<u8").astype(np.uint64)
            deltas = zigzag_decode(zz)
            np.cumsum(deltas, out=out[1:])
            out[1:] += first
        return out


# ---------------------------------------------------------------------------
# dictionary


def _factorize_strs(lengths: np.ndarray, data: bytes):
    """Factorize a string chunk → (codes uint64, uniq_lengths, uniq_data).

    pyarrow dictionary_encode — C++ hash table over the raw buffers, no
    Python string objects."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    arr = pa.Array.from_buffers(
        pa.large_string(), n, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)]
    )
    enc = pc.dictionary_encode(arr)
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.uint64)
    dict_arr = enc.dictionary.cast(pa.large_string())
    d_off = np.frombuffer(dict_arr.buffers()[1], dtype=np.int64, count=len(dict_arr) + 1)
    d_buf = dict_arr.buffers()[2]
    u_data = d_buf.to_pybytes()[d_off[0] : d_off[-1]] if d_buf is not None else b""
    return codes, np.diff(d_off).astype(np.int64), u_data


class DictCodec:
    """Dictionary encoding: distinct values + bit-packed codes.

    Target columns: low-cardinality strings (role, tool) — reference
    analog: the profiler's unique-value analysis
    (/root/reference/parquet_converter/analyzer.py:236-281) turned into
    an actual encoding.
    """

    name = "dict"

    def encode_ints(self, values: np.ndarray) -> bytes:
        v = np.ascontiguousarray(values, dtype=np.int64)
        uniques, codes = np.unique(v, return_inverse=True)
        return pack_sections(
            u32(len(uniques)),
            PlainCodec().encode_ints(uniques),
            _encode_uint_vec(codes.astype(np.uint64)),
        )

    def decode_ints(self, payload: bytes, n: int) -> np.ndarray:
        nu_sec, uniq_sec, code_sec = unpack_sections(payload, 3)
        n_uniq = read_u32(nu_sec)
        uniques = PlainCodec().decode_ints(uniq_sec, n_uniq)
        codes = _decode_uint_vec(code_sec, n).astype(np.int64)
        return uniques[codes]

    def encode_strs(self, lengths: np.ndarray, data: bytes) -> bytes:
        codes, u_lengths, u_data = _factorize_strs(lengths, data)
        return pack_sections(
            u32(len(u_lengths)),
            PlainCodec().encode_strs(u_lengths, u_data),
            _encode_uint_vec(codes),
        )

    def decode_strs(self, payload: bytes, n: int) -> tuple[np.ndarray, bytes]:
        nu_sec, uniq_sec, code_sec = unpack_sections(payload, 3)
        n_uniq = read_u32(nu_sec)
        u_lengths, u_data = PlainCodec().decode_strs(uniq_sec, n_uniq)
        codes = _decode_uint_vec(code_sec, n).astype(np.int64)
        # gather: out[i] = unique[codes[i]] — vectorized via offsets+repeat
        u_offsets = np.zeros(n_uniq + 1, dtype=np.int64)
        np.cumsum(u_lengths, out=u_offsets[1:])
        out_lengths = u_lengths[codes]
        u_arr = np.frombuffer(u_data, dtype=np.uint8)
        starts = u_offsets[codes]
        # build gather indices: for each value, a contiguous range
        total = int(out_lengths.sum())
        if total:
            # vectorized multi-range gather: per-value contiguous byte ranges
            step_starts = np.repeat(starts, out_lengths)
            within = np.arange(total, dtype=np.int64) - np.repeat(
                np.concatenate(([0], np.cumsum(out_lengths)[:-1])), out_lengths
            )
            out_data = u_arr[step_starts + within].tobytes()
        else:
            out_data = b""
        return out_lengths.astype(np.int64), out_data


# ---------------------------------------------------------------------------
# word-dictionary (strings)


class WdictCodec:
    """Word-level dictionary encoding for natural-language text.

    Tokenize on single spaces (lossless: split(' ') → join(' ') is the
    identity for ANY string, including empties and repeated spaces),
    dictionary-encode the flattened word stream, bit-pack the ids.
    Every step is a pyarrow C++ kernel or numpy — zero per-row Python.
    Layout: [word dict (plain str)][per-string word counts][word ids].
    """

    name = "wdict"

    def encode_strs(self, lengths: np.ndarray, data: bytes) -> bytes:
        import pyarrow as pa
        import pyarrow.compute as pc

        n = len(lengths)
        offsets = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(lengths, out=offsets[1:])
        arr = pa.Array.from_buffers(
            pa.large_string(), n, [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)]
        )
        splits = pc.split_pattern(arr, " ")
        counts = np.diff(splits.offsets.to_numpy(zero_copy_only=False)).astype(np.uint64)
        words = pc.list_flatten(splits)
        enc = pc.dictionary_encode(words)
        indices = enc.indices.to_numpy(zero_copy_only=False).astype(np.uint64)
        dict_arr = enc.dictionary.cast(pa.large_string())
        d_off = np.frombuffer(dict_arr.buffers()[1], dtype=np.int64, count=len(dict_arr) + 1)
        d_buf = dict_arr.buffers()[2]
        d_data = d_buf.to_pybytes()[d_off[0] : d_off[-1]] if d_buf is not None else b""
        d_lengths = np.diff(d_off).astype(np.int64)
        return pack_sections(
            u32(len(d_lengths)),
            PlainCodec().encode_strs(d_lengths, d_data),
            _encode_uint_vec(counts),
            _encode_uint_vec(indices),
        )

    def decode_strs(self, payload: bytes, n: int) -> tuple[np.ndarray, bytes]:
        import pyarrow as pa
        import pyarrow.compute as pc

        nd_sec, dict_sec, cnt_sec, idx_sec = unpack_sections(payload, 4)
        n_dict = read_u32(nd_sec)
        d_lengths, d_data = PlainCodec().decode_strs(dict_sec, n_dict)
        counts = _decode_uint_vec(cnt_sec, n).astype(np.int64)
        n_words = int(counts.sum())
        indices = _decode_uint_vec(idx_sec, n_words).astype(np.int64)
        d_off = np.zeros(n_dict + 1, dtype=np.int64)
        np.cumsum(d_lengths, out=d_off[1:])
        dict_arr = pa.Array.from_buffers(
            pa.large_string(),
            n_dict,
            [None, pa.py_buffer(d_off.tobytes()), pa.py_buffer(d_data)],
        )
        words = pc.take(dict_arr, pa.array(indices, type=pa.int64()))
        w_off = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=w_off[1:])
        list_arr = pa.LargeListArray.from_arrays(
            pa.array(w_off, type=pa.int64()), words
        )
        joined = pc.binary_join(list_arr, pa.scalar(" ", type=pa.large_string()))
        j_off = np.frombuffer(joined.buffers()[1], dtype=np.int64, count=n + 1)
        j_buf = joined.buffers()[2]
        j_data = j_buf.to_pybytes()[j_off[0] : j_off[-1]] if j_buf is not None else b""
        return np.diff(j_off).astype(np.int64), j_data


# ---------------------------------------------------------------------------
# run-length


class RleCodec:
    """Run-length encoding over dictionary codes.

    Target: ``role`` under (conv_id, turn_idx) sort — alternating
    user/assistant runs and long tool-call bursts. Works for ints too.
    Layout: [n_runs][dict of uniques][run codes FOR+bp][run lengths FOR+bp].
    """

    name = "rle"

    def _encode_runs(self, codes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        n = codes.size
        if n == 0:
            return np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.uint64)
        change = np.empty(n, dtype=bool)
        change[0] = True
        np.not_equal(codes[1:], codes[:-1], out=change[1:])
        starts = np.flatnonzero(change)
        run_codes = codes[starts].astype(np.uint64)
        run_lengths = np.diff(np.append(starts, n)).astype(np.uint64)
        return run_codes, run_lengths

    def encode_ints(self, values: np.ndarray) -> bytes:
        v = np.ascontiguousarray(values, dtype=np.int64)
        uniques, codes = np.unique(v, return_inverse=True)
        run_codes, run_lengths = self._encode_runs(codes.astype(np.uint64))
        return pack_sections(
            u32(len(uniques)) + u32(len(run_codes)),
            PlainCodec().encode_ints(uniques),
            _encode_uint_vec(run_codes),
            _encode_uint_vec(run_lengths),
        )

    def decode_ints(self, payload: bytes, n: int) -> np.ndarray:
        hdr, uniq_sec, rc_sec, rl_sec = unpack_sections(payload, 4)
        n_uniq, n_runs = read_u32(hdr, 0), read_u32(hdr, 4)
        uniques = PlainCodec().decode_ints(uniq_sec, n_uniq)
        run_codes = _decode_uint_vec(rc_sec, n_runs).astype(np.int64)
        run_lengths = _decode_uint_vec(rl_sec, n_runs).astype(np.int64)
        return np.repeat(uniques[run_codes], run_lengths)

    def encode_strs(self, lengths: np.ndarray, data: bytes) -> bytes:
        codes, u_lengths, u_data = _factorize_strs(lengths, data)
        run_codes, run_lengths = self._encode_runs(codes)
        return pack_sections(
            u32(len(u_lengths)) + u32(len(run_codes)),
            PlainCodec().encode_strs(u_lengths, u_data),
            _encode_uint_vec(run_codes),
            _encode_uint_vec(run_lengths),
        )

    def decode_strs(self, payload: bytes, n: int) -> tuple[np.ndarray, bytes]:
        hdr, uniq_sec, rc_sec, rl_sec = unpack_sections(payload, 4)
        n_uniq, n_runs = read_u32(hdr, 0), read_u32(hdr, 4)
        u_lengths, u_data = PlainCodec().decode_strs(uniq_sec, n_uniq)
        run_codes = _decode_uint_vec(rc_sec, n_runs).astype(np.int64)
        run_lengths = _decode_uint_vec(rl_sec, n_runs).astype(np.int64)
        codes = np.repeat(run_codes, run_lengths)
        # reuse DictCodec's vectorized gather
        payload_dict = pack_sections(
            u32(n_uniq),
            PlainCodec().encode_strs(u_lengths, u_data),
            _encode_uint_vec(codes.astype(np.uint64)),
        )
        return DictCodec().decode_strs(payload_dict, n)
