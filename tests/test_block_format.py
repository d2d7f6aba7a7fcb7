"""The on-disk block format is frozen: golden frames and the codec
entry points other tools import. Spark-free."""

from __future__ import annotations

import importlib
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from parquet_converter_spark.codecs import ELIGIBLE, decode_block_arrow, encode_block_arrow

GOLDEN = json.loads((Path(__file__).parent / "data" / "golden_blocks.json").read_text("utf-8"))

#: input Arrow type per dtype; f32list inputs are float64 so the float32
#: narrowing (±inf on overflow) is part of the frozen bytes
_IN_TYPES = {
    "str": pa.string(),
    "int64": pa.int64(),
    "int32": pa.int32(),
    "ts_us": pa.int64(),  # epoch microseconds, cast below
    "f32list": pa.list_(pa.float64()),
}


def _input(dtype: str) -> pa.Array:
    vals = GOLDEN["inputs"][dtype]
    if dtype == "f32list":
        vals = [None if v is None else [float.fromhex(x) for x in v] for v in vals]
    arr = pa.array(vals, _IN_TYPES[dtype])
    return arr.cast(pa.timestamp("us")) if dtype == "ts_us" else arr


def _comparable(dtype: str, arr: pa.Array) -> list:
    """Values in the fixture's JSON form: epoch-us ints for timestamps,
    float32 bit patterns for vectors."""
    if dtype == "ts_us":
        return arr.cast(pa.int64()).to_pylist()
    if dtype == "f32list":
        with np.errstate(over="ignore"):
            return [
                None if v is None else np.asarray(v, np.float32).view(np.uint32).tolist()
                for v in arr.to_pylist()
            ]
    return arr.to_pylist()


def test_golden_fixture_covers_every_codec():
    have = {(b["dtype"], b["codec"]) for b in GOLDEN["blocks"]}
    want = {(d, c) for d, codecs in ELIGIBLE.items() for c in [*codecs, "auto"]}
    want |= {("f32list", c) for c in ("fq16", "fq8", "fpq")}
    assert have == want


@pytest.mark.parametrize(
    "entry", GOLDEN["blocks"], ids=[f"{b['dtype']}-{b['codec']}" for b in GOLDEN["blocks"]]
)
def test_golden_blocks_byte_identical(entry):
    """Encoding the fixture input reproduces the stored frame byte for
    byte, and decoding the frame returns the fixture values (the input
    itself for lossless codecs)."""
    dtype = entry["dtype"]
    arr = _input(dtype)
    # fpq trains on the ±3.4e38-clamped overflow element: float32
    # overflow inside its k-means distances is expected there
    with np.errstate(over="ignore", invalid="ignore"):
        blob = encode_block_arrow(arr, dtype, entry["codec"])
    assert blob.hex() == entry["block"]
    out, used = decode_block_arrow(bytes.fromhex(entry["block"]))
    assert used == entry["used"]
    want = entry["decoded"] if "decoded" in entry else _comparable(dtype, arr)
    assert _comparable(dtype, out) == want


@pytest.mark.parametrize(
    "module, name",
    [
        ("parquet_converter_spark.codecs.arrow_blocks", "encode_block_arrow"),
        ("parquet_converter_spark.codecs.arrow_blocks", "decode_block_arrow"),
        ("parquet_converter_spark.codecs", "choose_codec"),
    ],
)
def test_benchmark_import_surface(module, name):
    """perfbench/workloads.py traces these codec entry points by module
    path; renaming or moving one would silently empty its codecs.*
    ledger."""
    assert callable(getattr(importlib.import_module(module), name))
