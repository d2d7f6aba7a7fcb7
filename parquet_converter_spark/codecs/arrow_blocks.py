"""Block encode/decode on pyarrow Arrays — the engine's one block path.

Every caller (the grouped-map encode UDF, the decode and corrupt-block
scans, the embedding codec metrics) hands in and gets back pa.Arrays,
so no UDF materializes Python objects per value:

    pa.Array --(validity bitmap + raw buffers)--> codec kernels -> block
    block -> buffers -> pa.Array.from_buffers (zero copies on decode)

The frame layout, codec registry and selector live in blocks.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .blocks import (
    _HDR,
    _U64,
    CODEC_IDS,
    CODEC_NAMES,
    DTYPE_IDS,
    DTYPE_NAMES,
    _codec_decode,
    _codec_encode,
    _decompress,
    _maybe_compress,
    choose_codec,
)

# Each Spark Python worker is one of N parallel processes on the same
# host; pyarrow's default kernel thread pool sizes itself to ALL cores,
# so 32 workers × 32 arrow threads would oversubscribe the box 32×.
# One kernel thread per worker process is the correct sizing.
try:  # pragma: no cover - depends on worker context
    if pa.cpu_count() > 2:
        pa.set_cpu_count(1)
        pa.set_io_thread_count(2)
except Exception:
    pass

ARROW_TYPES = {
    "str": pa.large_string(),
    "int64": pa.int64(),
    "ts_us": pa.timestamp("us"),
    "int32": pa.int32(),
    "f32list": pa.list_(pa.float32()),
}


def _strings_canonical(arr: pa.Array) -> tuple[np.ndarray, bytes]:
    """Non-null string array → (lengths, utf8 concat) via raw buffers."""
    arr = arr.cast(pa.large_string())
    off = np.frombuffer(arr.buffers()[1], dtype=np.int64, count=len(arr) + 1 + arr.offset)
    off = off[arr.offset : arr.offset + len(arr) + 1]
    data_buf = arr.buffers()[2]
    data = data_buf.to_pybytes()[off[0] : off[-1]] if data_buf is not None else b""
    return np.diff(off).astype(np.int64), data


def _vectors_canonical(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Non-null list array → (lengths, flat float32 values).

    The cast narrows float64 elements to float32; values past the
    float32 range become ±inf, the intended narrowing (bit-identity is
    defined on the float32 values). Null elements inside a vector read
    as NaN."""
    arr = arr.cast(ARROW_TYPES["f32list"])
    lengths = np.diff(arr.offsets.to_numpy()).astype(np.int64)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float32, copy=False)
    return lengths, flat


def _extract_arrow(arr: pa.Array, dtype: str):
    """pa.Array → (validity bool[n], canonical non-null values)."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    valid = arr.is_valid().to_numpy(zero_copy_only=False).astype(bool)
    nn = arr.drop_null()
    if dtype == "str":
        return valid, _strings_canonical(nn)
    if dtype == "f32list":
        return valid, _vectors_canonical(nn)
    if dtype == "ts_us":
        ints = nn.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy(zero_copy_only=False)
        return valid, ints.astype(np.int64)
    return valid, nn.cast(pa.int64()).to_numpy(zero_copy_only=False).astype(np.int64)


def encode_block_arrow(arr: pa.Array, dtype: str, codec: str | None = None) -> bytes:
    """Encode one column chunk → framed block bytes.

    codec=None or 'auto' → auto-select via the cost model."""
    valid, canonical = _extract_arrow(arr, dtype)
    n = valid.size
    null_count = int(n - valid.sum())
    if codec is None or codec == "auto":
        codec = choose_codec(canonical, dtype)
    payload = _codec_encode(codec, dtype, canonical)
    comp_flag, wrapped = _maybe_compress(payload)
    out = bytearray(
        _HDR.pack(1, CODEC_IDS[codec], DTYPE_IDS[dtype], comp_flag, n, null_count)
    )
    if null_count > 0:
        out += np.packbits(valid).tobytes()  # MSB-first
    out += _U64.pack(len(payload))
    out += wrapped
    return bytes(out)


def _validity_buffer(valid: np.ndarray) -> pa.Buffer:
    """Arrow validity bitmaps are LSB-first."""
    return pa.py_buffer(np.packbits(valid, bitorder="little").tobytes())


def _offsets(valid: np.ndarray, lengths: np.ndarray, dtype) -> pa.Buffer:
    """Per-row offsets with zero-length slots at the null rows."""
    full_lengths = np.zeros(valid.size, dtype=dtype)
    full_lengths[valid] = lengths
    offsets = np.zeros(valid.size + 1, dtype=dtype)
    np.cumsum(full_lengths, out=offsets[1:])
    return pa.py_buffer(offsets.tobytes())


def decode_block_arrow(blob: bytes) -> tuple[pa.Array, str]:
    """Decode a framed block → (pa.Array, codec name)."""
    version, codec_id, dtype_id, comp_flag, n, null_count = _HDR.unpack_from(blob, 0)
    if version != 1:
        raise ValueError(f"unknown block version {version}")
    pos = _HDR.size
    if null_count > 0:
        nbytes = (n + 7) // 8
        valid = np.unpackbits(
            np.frombuffer(blob, dtype=np.uint8, count=nbytes, offset=pos), count=n
        ).astype(bool)
        pos += nbytes
    else:
        valid = np.ones(n, dtype=bool)
    (raw_len,) = _U64.unpack_from(blob, pos)
    pos += 8
    payload = _decompress(comp_flag, blob[pos:], raw_len)
    dtype = DTYPE_NAMES[dtype_id]
    codec = CODEC_NAMES[codec_id]
    n_valid = int(valid.sum())
    values = _codec_decode(codec, dtype, payload, n_valid)

    vbuf = _validity_buffer(valid) if null_count > 0 else None
    if dtype == "str":
        lengths, data = values
        arr = pa.Array.from_buffers(
            pa.large_string(),
            n,
            [vbuf, _offsets(valid, lengths, np.int64), pa.py_buffer(data)],
            null_count=null_count,
        )
        return arr, codec
    if dtype == "f32list":
        lengths, flat = values
        arr = pa.Array.from_buffers(
            ARROW_TYPES["f32list"],
            n,
            [vbuf, _offsets(valid, lengths, np.int32)],
            null_count=null_count,
            children=[pa.array(np.asarray(flat, dtype=np.float32))],
        )
        return arr, codec

    full = np.zeros(n, dtype=np.int64)
    full[valid] = values
    if dtype == "int32":
        full = full.astype(np.int32)
    arr = pa.Array.from_buffers(
        ARROW_TYPES[dtype], n, [vbuf, pa.py_buffer(full.tobytes())], null_count=null_count
    )
    return arr, codec
