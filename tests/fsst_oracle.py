"""Reference FSST compressor for differential tests.

The production kernel is ``fsst.compress_vectorized`` (pure numpy). This
is the same greedy compressor written the obvious way: ONE C-level
``re`` scan with a longest-match-first alternation over the symbol
table; Python runs only per *match*, for the code lookup. Any output
decodes with ``fsst.decompress``.
"""

from __future__ import annotations

import re

import numpy as np

from parquet_converter_spark.codecs.fsst import ESCAPE


def _compile(symbols: list[bytes]):
    """Longest-first alternation → greedy longest match at each position."""
    ordered = sorted(symbols, key=lambda s: (-len(s), s))
    code_of = {s: bytes([i]) for i, s in enumerate(symbols)}
    parts = [re.escape(s) for s in ordered]
    parts.append(b"(?s:.)")  # fallback: any single byte → escape
    pattern = re.compile(b"|".join(parts))
    return pattern, code_of


def compress(data: bytes, symbols: list[bytes]) -> bytes:
    if not data:
        return b""
    if not symbols:
        # degenerate (table build saw no data): escape every byte,
        # vectorized by interleaving an escape column with the data
        arr = np.frombuffer(data, dtype=np.uint8)
        out = np.empty(arr.size * 2, dtype=np.uint8)
        out[0::2] = ESCAPE
        out[1::2] = arr
        return out.tobytes()
    pattern, code_of = _compile(symbols)
    esc = bytes([ESCAPE])

    def repl(m, _get=code_of.get, _esc=esc):
        s = m.group(0)
        c = _get(s)
        return c if c is not None else _esc + s

    return pattern.sub(repl, data)
