"""Canonical in-memory string-column representation for codecs.

A string column chunk is carried as ``(lengths: np.int64[n], data: bytes)``
— the UTF-8 concatenation of all values plus per-value byte lengths.
Conversion back to strings goes through pyarrow buffers (vectorized,
zero per-row Python).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def buf_to_strings(lengths: np.ndarray, data: bytes) -> np.ndarray:
    """(lengths, utf8 concat) → numpy object array of str."""
    n = len(lengths)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    arr = pa.Array.from_buffers(
        pa.large_string(),
        n,
        [None, pa.py_buffer(offsets.tobytes()), pa.py_buffer(data)],
    )
    return np.asarray(arr.to_pandas(), dtype=object)
