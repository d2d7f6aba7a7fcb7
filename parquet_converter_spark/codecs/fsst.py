"""From-scratch FSST-style symbol-table string codec.

FSST ("Fast Static Symbol Table", Boncz/Neumann/Leis, VLDB 2020 —
public paper) replaces frequent byte substrings (symbols, 1..8 bytes)
with 1-byte codes; bytes not covered by any symbol are emitted as an
escape byte (0xFF) followed by the literal byte. Decoding is a pure
table expansion.

This implementation is written from scratch for this engine:

* **Table construction** — greedy gain maximization over sampled
  n-gram frequencies (lengths 2..8, counted with numpy sliding
  windows), ranked by ``(len-1) * count``; remaining code space is
  filled with the most frequent single bytes so uncovered bytes don't
  all pay the 2-byte escape penalty.
* **Compression** — the column chunk's concatenated UTF-8 buffer is
  tokenized greedily by a fully vectorized numpy kernel
  (:func:`compress_vectorized`, one candidate symbol per 2-byte
  prefix); no Python runs per byte, match or row. A C-regex scan of
  the same greedy compressor is kept in the tests as the oracle.
* **Decompression** — fully vectorized numpy: maximal runs of the
  escape byte are disambiguated positionally (within a maximal 0xFF
  run, even offsets are escapes), then symbols expand via
  repeat+gather.

Payload layout:
    [table: u16 n_syms, then per symbol u8 len + bytes]
    [orig string lengths: FOR+bitpack]
    [compressed concat bytes]

Reference analog: the text columns the reference just hands to snappy
(/root/reference/parquet_converter/converter.py:577); here text gets a
real lightweight encoding, per BASELINE.json north_rule.
"""

from __future__ import annotations

import struct

import numpy as np

from .primitives import pack_sections, unpack_sections
from .core import _decode_uint_vec, _encode_uint_vec

ESCAPE = 0xFF
MAX_SYMBOLS = 255  # codes 0..254; 255 is the escape byte
MAX_SYM_LEN = 8
_TABLE_SAMPLE_CAP = 1 << 18  # 256 KiB of sample text for table build


def build_symbol_table(sample: bytes, max_symbols: int = MAX_SYMBOLS) -> list[bytes]:
    """Greedy symbol selection from n-gram frequencies on a sample."""
    if len(sample) > _TABLE_SAMPLE_CAP:
        sample = sample[:_TABLE_SAMPLE_CAP]
    if not sample:
        return []
    arr = np.frombuffer(sample, dtype=np.uint8)
    candidates: list[tuple[int, bytes]] = []  # (gain, symbol)
    for length in range(2, MAX_SYM_LEN + 1):
        if arr.size < length:
            break
        # pack each L-byte window into a BIG-ENDIAN uint64: unsigned
        # numeric order equals memcmp order, so np.unique returns the
        # same uniques in the same order as the former void-dtype view
        # — but sorts native integers instead of memcmp'ing byte blobs
        # (~6× faster; this was 60% of the whole encode CPU). Identical
        # uniq/counts arrays → identical gains, argsort tie-breaks, and
        # final symbol table, byte for byte.
        m = arr.size - length + 1
        packed = np.zeros(m, dtype=np.uint64)
        for k in range(length):
            packed = (packed << np.uint64(8)) | arr[k : m + k].astype(np.uint64)
        uniq, counts = np.unique(packed, return_counts=True)
        # keep only n-grams seen often enough to plausibly pay for a slot
        keep = counts >= 4
        uniq, counts = uniq[keep], counts[keep]
        if uniq.size == 0:
            continue
        gains = (length - 1) * counts
        order = np.argsort(gains)[::-1][:512]
        uniq_bytes = uniq[order].byteswap().view(np.uint8).reshape(-1, 8)[:, 8 - length:]
        for j, i in enumerate(order):
            candidates.append((int(gains[i]), uniq_bytes[j].tobytes()))
    candidates.sort(key=lambda t: (-t[0], t[1]))
    # multi-byte symbols first (cap so frequent single bytes still fit)
    n_multi_cap = max_symbols - 32
    symbols: list[bytes] = []
    seen: set[bytes] = set()
    for _gain, sym in candidates:
        if len(symbols) >= n_multi_cap:
            break
        if sym in seen:
            continue
        seen.add(sym)
        symbols.append(sym)
    # fill remaining slots with most frequent single bytes
    byte_counts = np.bincount(arr, minlength=256)
    order = np.argsort(byte_counts)[::-1]
    for b in order:
        if len(symbols) >= max_symbols:
            break
        if byte_counts[b] == 0:
            continue
        sym = bytes([b])
        if sym in seen:
            continue
        seen.add(sym)
        symbols.append(sym)
    return symbols


def compress_vectorized(data: bytes, symbols: list[bytes]) -> bytes:
    """Fully-vectorized FSST compression (numpy end to end).

    FSST decoding accepts ANY valid tokenization, so the compressor is
    free to trade a little match density for vectorizability:

    1. **prefix dispatch** — one candidate symbol per 2-byte prefix
       (the longest symbol sharing that prefix); candidates found for
       all positions at once via a 65536-entry lookup table;
    2. **verification** — per symbol (≤255 of them), the remaining
       bytes are compared in one vectorized slice;
    3. **overlap resolution** — greedy-approximate: iterative
       running-max-of-ends passes (3 rounds) keep a non-overlapping
       subset; conservative but provably valid;
    4. **emission** — kept matches, single-byte symbol codes, and
       escape pairs are scattered into the output with repeat/cumsum
       arithmetic. No Python executes per byte, match, or row.
    """
    if not data:
        return b""
    arr = np.frombuffer(data, dtype=np.uint8)
    n = arr.size
    multi = [(i, s) for i, s in enumerate(symbols) if len(s) >= 2]
    single_code = np.full(256, -1, dtype=np.int16)
    for i, s in enumerate(symbols):
        if len(s) == 1:
            single_code[s[0]] = i
    if not multi and single_code.max() < 0:
        out = np.empty(n * 2, dtype=np.uint8)
        out[0::2] = ESCAPE
        out[1::2] = arr
        return out.tobytes()

    # 1. prefix dispatch table: prefix16 -> chosen multi-byte symbol
    by_prefix: dict[int, tuple[int, bytes]] = {}
    for code, s in multi:
        key = (s[0] << 8) | s[1]
        cur = by_prefix.get(key)
        if cur is None or len(s) > len(cur[1]):
            by_prefix[key] = (code, s)

    best_len = np.zeros(n, dtype=np.int8)
    best_code = np.full(n, -1, dtype=np.int16)
    if n >= 2 and multi:
        prefix16 = (arr[:-1].astype(np.int32) << 8) | arr[1:].astype(np.int32)
        # counting-sort positions by 16-bit prefix: bucket offsets are
        # O(1) lookups per symbol — the loop is over SYMBOLS (≤255),
        # every body is a vectorized slice
        order16 = np.argsort(prefix16, kind="stable")
        bucket_off = np.zeros(65537, dtype=np.int64)
        np.cumsum(np.bincount(prefix16, minlength=65536), out=bucket_off[1:])
        for code, s in multi:
            key = (s[0] << 8) | s[1]
            lo, hi = bucket_off[key], bucket_off[key + 1]
            if lo == hi:
                continue
            sel = order16[lo:hi]
            L = len(s)
            sel = sel[sel + L <= n]
            ok = np.ones(sel.size, dtype=bool)
            for k in range(2, L):
                ok &= arr[sel + k] == s[k]
            sel = sel[ok]
            if sel.size:
                # longest verified symbol wins at each position
                upd = L > best_len[sel]
                su = sel[upd]
                best_len[su] = L
                best_code[su] = code

    # 3. EXACT greedy tokenization, pointer-doubled over the MATCH
    # domain: walking greedily, every byte between taken matches is a
    # literal, so from position p the next taken match is simply the
    # first match position ≥ p — i.e. succ[k] = searchsorted(mp,
    # mp[k] + len_k) over match indices only. The taken set is the
    # orbit of match 0 under succ, marked in ceil(log2 M) vectorized
    # rounds (M = #match positions ≪ n bytes — this is what makes the
    # kernel competitive with a C regex scan; the old byte-domain
    # doubling cost ~log2(n) passes over all n bytes).
    has_m = best_len >= 2
    mp = np.flatnonzero(has_m)
    M = mp.size
    if M:
        ml = best_len[mp].astype(np.int64)
        succ = np.append(np.searchsorted(mp, mp + ml), M).astype(np.int64)
        taken = np.zeros(M + 1, dtype=bool)
        taken[0] = True  # all bytes before mp[0] are literals; mp[0] is taken
        s = succ
        for _ in range(max(1, int(np.ceil(np.log2(max(M, 2)))) + 1)):
            taken[s[taken]] = True
            s = s[s]
        tm = mp[taken[:M]]
        tl = ml[taken[:M]]
    else:
        tm = np.empty(0, dtype=np.int64)
        tl = np.empty(0, dtype=np.int64)

    # literal token starts = the gaps between consecutive taken matches
    gap_starts = np.concatenate([[0], tm + tl]).astype(np.int64)
    gap_ends = np.concatenate([tm, [n]]).astype(np.int64)
    gl = gap_ends - gap_starts
    lit_pos = np.repeat(gap_starts, gl) + _within(gl)

    # 4. emission — merge taken-match and literal starts (both sorted)
    n_tok = tm.size + lit_pos.size
    is_m = np.zeros(n_tok, dtype=bool)
    is_m[np.searchsorted(lit_pos, tm) + np.arange(tm.size)] = True
    starts = np.empty(n_tok, dtype=np.int64)
    starts[is_m] = tm
    starts[~is_m] = lit_pos
    lit_bytes = arr[starts]
    lit_codes = single_code[lit_bytes]
    is_single = (~is_m) & (lit_codes >= 0)
    is_escape = (~is_m) & (lit_codes < 0)
    widths = np.where(is_escape, 2, 1).astype(np.int64)
    b0 = np.where(
        is_m,
        best_code[starts].astype(np.int64),
        np.where(is_single, lit_codes.astype(np.int64), ESCAPE),
    )
    out_off = np.zeros(starts.size + 1, dtype=np.int64)
    np.cumsum(widths, out=out_off[1:])
    out = np.empty(int(out_off[-1]), dtype=np.uint8)
    out[out_off[:-1]] = b0.astype(np.uint8)
    out[out_off[:-1][is_escape] + 1] = lit_bytes[is_escape]
    return out.tobytes()


def _within(lengths: np.ndarray) -> np.ndarray:
    """[0..l0), [0..l1), … concatenated — offsets within repeated runs."""
    total = int(lengths.sum())
    ends = np.cumsum(lengths)
    return np.arange(total, dtype=np.int64) - np.repeat(ends - lengths, lengths)


def decompress(comp: bytes, symbols: list[bytes]) -> bytes:
    """Vectorized FSST expansion."""
    if not comp:
        return b""
    arr = np.frombuffer(comp, dtype=np.uint8)
    n = arr.size
    is_ff = arr == ESCAPE
    # classify: within each maximal run of 0xFF, even offsets are escapes
    escape_pos = np.zeros(n, dtype=bool)
    if is_ff.any():
        padded = np.concatenate(([False], is_ff))
        run_starts = np.flatnonzero(is_ff & ~padded[:-1])
        # run lengths via next non-ff
        ff_idx = np.flatnonzero(is_ff)
        # offset within run: index - start of its run
        run_id = np.searchsorted(run_starts, ff_idx, side="right") - 1
        offsets = ff_idx - run_starts[run_id]
        escape_pos[ff_idx[offsets % 2 == 0]] = True
    # a byte is a literal iff the previous byte is an escape
    literal_pos = np.zeros(n, dtype=bool)
    literal_pos[1:] = escape_pos[:-1]
    symbol_pos = ~escape_pos & ~literal_pos
    # build symbol lookup arrays
    n_syms = len(symbols)
    sym_lengths = np.zeros(256, dtype=np.int64)
    sym_offsets = np.zeros(256, dtype=np.int64)
    flat = bytearray()
    for i, s in enumerate(symbols):
        sym_offsets[i] = len(flat)
        sym_lengths[i] = len(s)
        flat += s
    flat_arr = np.frombuffer(bytes(flat), dtype=np.uint8) if flat else np.zeros(0, np.uint8)
    # output pieces, in stream order: symbols expand, literals are 1 byte
    emit_pos = np.flatnonzero(~escape_pos)  # symbols and literals both emit
    emit_bytes = arr[emit_pos]
    emit_is_literal = literal_pos[emit_pos]
    out_lengths = np.where(emit_is_literal, 1, sym_lengths[emit_bytes])
    total = int(out_lengths.sum())
    out = np.empty(total, dtype=np.uint8)
    # destinations
    dst_offsets = np.zeros(emit_pos.size + 1, dtype=np.int64)
    np.cumsum(out_lengths, out=dst_offsets[1:])
    # literals: scatter directly
    lit_sel = emit_is_literal
    out[dst_offsets[:-1][lit_sel]] = emit_bytes[lit_sel]
    # symbols: repeat+gather
    sym_sel = ~emit_is_literal
    if sym_sel.any():
        s_bytes = emit_bytes[sym_sel]
        s_lens = sym_lengths[s_bytes]
        starts = sym_offsets[s_bytes]
        src = np.repeat(starts, s_lens) + (
            np.arange(int(s_lens.sum()), dtype=np.int64)
            - np.repeat(np.concatenate(([0], np.cumsum(s_lens)[:-1])), s_lens)
        )
        dst = np.repeat(dst_offsets[:-1][sym_sel], s_lens) + (
            np.arange(int(s_lens.sum()), dtype=np.int64)
            - np.repeat(np.concatenate(([0], np.cumsum(s_lens)[:-1])), s_lens)
        )
        out[dst] = flat_arr[src]
    return out.tobytes()


class FsstCodec:
    """String codec: shared symbol table + compressed concat buffer."""

    name = "fsst"

    def encode_strs(self, lengths: np.ndarray, data: bytes) -> bytes:
        symbols = build_symbol_table(data)
        comp = compress_vectorized(data, symbols)
        table = bytearray(struct.pack("<H", len(symbols)))
        for s in symbols:
            table.append(len(s))
            table += s
        return pack_sections(bytes(table), _encode_uint_vec(lengths), comp)

    def decode_strs(self, payload: bytes, n: int) -> tuple[np.ndarray, bytes]:
        table_sec, len_sec, comp = unpack_sections(payload, 3)
        (n_syms,) = struct.unpack_from("<H", table_sec, 0)
        pos = 2
        symbols = []
        for _ in range(n_syms):
            ln = table_sec[pos]
            pos += 1
            symbols.append(table_sec[pos : pos + ln])
            pos += ln
        lengths = _decode_uint_vec(len_sec, n).astype(np.int64)
        data = decompress(comp, symbols)
        return lengths, data
