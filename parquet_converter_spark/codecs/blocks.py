"""Block format and codec selection: frame constants, dtype tags, the
optional zstd wrap, codec dispatch and the sample-based cost model.

A block is the encoded form of one column chunk (the non-null values
go through a codec from core.py/fsst.py/vectors.py; nulls are carried
as a packed validity bitmap and re-inserted on decode — value order is
preserved, so decode is bit-identical). arrow_blocks.py builds and
parses the frames from pyarrow Arrays.

Frame layout (little-endian):
    u8  version (=1)
    u8  codec_id
    u8  dtype_id          0=str 1=int64 2=ts_us 3=int32 4=f32list
    u8  compression       0=raw 1=zstd
    u32 n_rows
    u32 null_count
    [validity bitmap ceil(n/8) bytes]   present iff null_count > 0
    u64 payload_raw_len
    payload  (zstd-compressed iff compression=1)

The optional zstd wrap is part of the cost model: block sizes are
always measured post-wrap, so codec selection optimizes the real
on-disk footprint (the metric BASELINE.json compares against the
reference's snappy parquet).
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa

from .core import (
    DeltaCodec,
    DeltaTransposeCodec,
    DictCodec,
    ForBitpackCodec,
    PlainCodec,
    RleCodec,
    WdictCodec,
)
from .fsst import FsstCodec
from .strutil import buf_to_strings

_HDR = struct.Struct("<BBBBII")
_U64 = struct.Struct("<Q")

CODECS = {
    "plain": PlainCodec(),
    "dict": DictCodec(),
    "rle": RleCodec(),
    "forbp": ForBitpackCodec(),
    "delta": DeltaCodec(),
    "fsst": FsstCodec(),
    "wdict": WdictCodec(),
    "dtrans": DeltaTransposeCodec(),
}
CODEC_IDS = {
    name: i
    for i, name in enumerate(
        ["plain", "dict", "rle", "forbp", "delta", "fsst", "wdict", "dtrans",
         "fplain", "ftrans", "fq16", "fq8", "fpq"]  # append-only: ids are on disk
    )
}

from .vectors import VEC_CODECS  # noqa: E402  (codec ids must exist first)

CODECS.update(VEC_CODECS)
CODEC_NAMES = {i: n for n, i in CODEC_IDS.items()}

DTYPE_IDS = {"str": 0, "int64": 1, "ts_us": 2, "int32": 3, "f32list": 4}
DTYPE_NAMES = {i: n for n, i in DTYPE_IDS.items()}

# which codecs can encode which type class
ELIGIBLE = {
    "str": ["dict", "rle", "wdict", "fsst", "plain"],
    "int64": ["delta", "dtrans", "forbp", "rle", "plain"],
    "ts_us": ["delta", "dtrans", "forbp", "plain"],
    "int32": ["delta", "dtrans", "forbp", "rle", "dict", "plain"],
    "f32list": ["ftrans", "fplain"],
}

_ZSTD = pa.Codec("zstd", compression_level=3)


def _maybe_compress(payload: bytes) -> tuple[int, bytes]:
    if len(payload) < 64:
        return 0, payload
    comp = _ZSTD.compress(payload)
    comp_bytes = comp.to_pybytes() if hasattr(comp, "to_pybytes") else bytes(comp)
    if len(comp_bytes) < len(payload):
        return 1, comp_bytes
    return 0, payload


def _decompress(flag: int, data: bytes, raw_len: int) -> bytes:
    if flag == 0:
        return data
    out = _ZSTD.decompress(data, raw_len)
    return out.to_pybytes() if hasattr(out, "to_pybytes") else bytes(out)


def _codec_encode(codec_name: str, dtype: str, canonical) -> bytes:
    codec = CODECS[codec_name]
    if dtype == "str":
        lengths, data = canonical
        return codec.encode_strs(lengths, data)
    if dtype == "f32list":
        lengths, flat = canonical
        return codec.encode_vecs(lengths, flat)
    return codec.encode_ints(canonical)


def _codec_decode(codec_name: str, dtype: str, payload: bytes, n: int):
    codec = CODECS[codec_name]
    if dtype == "str":
        return codec.decode_strs(payload, n)
    if dtype == "f32list":
        return codec.decode_vecs(payload, n)
    return codec.decode_ints(payload, n)


def _str_sample(lengths, data, max_rows: int, max_bytes: int):
    """Prefix sample of a string chunk bounded by rows AND bytes."""
    n = len(lengths)
    take = min(n, max_rows)
    s_lengths = lengths[:take]
    csum = int(s_lengths.sum())
    if csum > max_bytes:
        cut = int(np.searchsorted(np.cumsum(s_lengths), max_bytes)) or 1
        s_lengths = s_lengths[:cut]
        csum = int(s_lengths.sum())
    return (s_lengths, data[:csum]), (int(lengths.sum()) or 1) / max(csum, 1)


def choose_codec(canonical, dtype: str, sample_n: int = 1024) -> str:
    """Sample-based cost model: encode a bounded sample with every
    eligible codec, extrapolate, pick the argmin.

    This is the reference's sample-then-pin pattern
    (/root/reference/parquet_converter/converter.py:453-511 pins a
    100k-row sampled schema at :573-574) repurposed: sample each
    (partition, column) chunk, estimate encoded size per codec, pin
    the winner for the full chunk.

    Cost controls (selection must stay ≪ encode):
    * strings sample ≤ sample_n rows / 128 KiB; FSST (the slowest
      sampler) gets its own ≤ 32 KiB sample;
    * dict/RLE are screened out by a cheap cardinality probe when the
      sample is nearly all-distinct (they cannot win there).
    """
    if dtype == "str":
        lengths, data = canonical
        n = len(lengths)
        if n == 0:
            return "plain"
        sample, scale = _str_sample(lengths, data, sample_n, 128 * 1024)
        sizes: dict[str, float] = {}
        # cardinality screen on the sampled rows
        s_vals = buf_to_strings(*sample)
        uniq_ratio = len(set(s_vals)) / max(len(s_vals), 1)
        candidates = ["plain", "wdict"]
        if uniq_ratio < 0.6:
            candidates += ["dict", "rle"]
        for name in candidates:
            try:
                payload = _codec_encode(name, dtype, sample)
            except Exception:
                continue
            _, wrapped = _maybe_compress(payload)
            sizes[name] = len(wrapped) * scale
        # FSST on its own smaller sample (symbol-table training is the
        # single most expensive probe — ~90% of selector cost when it
        # runs). Cardinality screen mirrors the dict/rle one, from the
        # other side: below ~50% distinct, dict(+zstd) pays for each
        # distinct string once and the zstd wrap already captures
        # cross-string substructure, so FSST cannot win — skip its
        # sample entirely on such columns (role/tool/template-like).
        if uniq_ratio >= 0.5:
            f_sample, f_scale = _str_sample(lengths, data, sample_n, 32 * 1024)
            try:
                payload = _codec_encode("fsst", dtype, f_sample)
                _, wrapped = _maybe_compress(payload)
                sizes["fsst"] = len(wrapped) * f_scale
            except Exception:
                pass
        if not sizes:
            return "plain"
        best = min(sizes, key=sizes.get)
        if best == "fsst":
            fast = {k: v for k, v in sizes.items() if k != "fsst"}
            if fast:
                alt = min(fast, key=fast.get)
                # speed-aware tie-break: FSST only when meaningfully smaller
                if sizes["fsst"] > 0.92 * fast[alt]:
                    return alt
        return best

    if dtype == "f32list":
        lengths, flat = canonical
        if len(lengths) == 0:
            return "fplain"
        cap = min(len(lengths), 2048)
        s_lengths = lengths[:cap]
        s_flat = flat[: int(s_lengths.sum())]
        scale = max(int(lengths.sum()), 1) / max(int(s_lengths.sum()), 1)
        sizes = {}
        for name in ELIGIBLE["f32list"]:
            payload = _codec_encode(name, dtype, (s_lengths, s_flat))
            _, wrapped = _maybe_compress(payload)
            sizes[name] = len(wrapped) * scale
        return min(sizes, key=sizes.get)

    n = len(canonical)
    if n == 0:
        return "plain"
    # ints encode at GB/s — up to one chunk the trial is EXACT (encode
    # everything with every candidate, no extrapolation error; a
    # sampled prefix of a delta chain systematically mis-ranks plain+zstd
    # vs delta on jittery timestamps)
    if n <= 65_536:
        sample, scale = canonical, 1.0
    else:
        sample, scale = canonical[:sample_n], n / sample_n
    sizes = {}
    for name in ELIGIBLE[dtype]:
        if name in ("fsst", "wdict"):
            continue
        try:
            payload = _codec_encode(name, dtype, sample)
        except Exception:
            continue
        _, wrapped = _maybe_compress(payload)
        sizes[name] = len(wrapped) * scale
    return min(sizes, key=sizes.get) if sizes else "plain"


def block_codec(blob: bytes) -> str:
    return CODEC_NAMES[blob[1]]
