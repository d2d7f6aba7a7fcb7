"""Float-vector (embedding) column codec — training-pipeline storage.

Embedding columns (``array<float>``) dominate bytes in training-data
lakes next to text. Lightweight float compression that stays lossless:

* **ftrans** — byte-plane transposition of the flat float32 stream
  (the Blosc/HDF5 shuffle filter): exponent/sign bytes of similar
  vectors are near-constant, so the zstd wrap collapses them. Lossless.
* **fplain** — raw little-endian float32 + lengths (escape hatch).

Both carry (lengths, flat float32s), mirroring the string canonical
form, so ragged vector columns work. Framing, null bitmaps, and the
zstd wrap come from the same block layer as every other codec.

Two OPT-IN lossy rungs (training pipelines routinely trade exactness
for 2-4× space on embeddings; see the Faiss/ScaNN scalar-quantization
literature):

* **fq16** — IEEE half precision. Relative error ≤ 2^-11 per element
  over the fp16 normal range (|x| ∈ [6.1e-5, 65504]); underflow is
  graded to subnormals, overflow saturates to ±inf. 2× before zstd.
* **fq8** — per-vector symmetric int8: ``q = round(x * 127 / amax)``
  with one float32 scale per vector (``amax = max|x|``). Per-element
  absolute error ≤ amax/254 (half a quantization step). ~4× before
  zstd.

Lossy codecs are NEVER auto-selected (absent from ``ELIGIBLE``) and
are rejected by the table-encode CLI whitelist — the engine's default
invariant stays bit-identical decode (BASELINE.json north_rule). They
are reachable only through explicit opt-in
(``encode_block_arrow(..., codec="fq8")`` /
``operators.embcodec.lossy_compression_metrics``), which reports the
realized error alongside the ratio.
"""

from __future__ import annotations

import numpy as np

from .primitives import pack_sections, u32, read_u32, unpack_sections
from .core import _decode_uint_vec, _encode_uint_vec


class FplainVecCodec:
    name = "fplain"

    def encode_vecs(self, lengths: np.ndarray, flat: np.ndarray) -> bytes:
        return pack_sections(
            _encode_uint_vec(lengths.astype(np.uint64)),
            np.ascontiguousarray(flat, dtype="<f4").tobytes(),
        )

    def decode_vecs(self, payload: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
        len_sec, data = unpack_sections(payload, 2)
        lengths = _decode_uint_vec(len_sec, n).astype(np.int64)
        flat = np.frombuffer(data, dtype="<f4")
        return lengths, flat


class FtransVecCodec:
    """Byte-plane transposed float32s: plane k holds byte k of every
    value — sign/exponent planes compress to near nothing under zstd
    for naturally-clustered embeddings."""

    name = "ftrans"

    def encode_vecs(self, lengths: np.ndarray, flat: np.ndarray) -> bytes:
        f = np.ascontiguousarray(flat, dtype="<f4")
        planes = np.ascontiguousarray(f.view(np.uint8).reshape(-1, 4).T)
        return pack_sections(
            _encode_uint_vec(lengths.astype(np.uint64)),
            u32(len(f)) + planes.tobytes(),
        )

    def decode_vecs(self, payload: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
        len_sec, data = unpack_sections(payload, 2)
        lengths = _decode_uint_vec(len_sec, n).astype(np.int64)
        m = read_u32(data)
        planes = np.frombuffer(data, dtype=np.uint8, offset=4).reshape(4, m)
        flat = np.ascontiguousarray(planes.T).reshape(-1).view("<f4").copy()
        return lengths, flat


class Fq16VecCodec:
    """Half-precision downcast. Decode widens back to float32 (the
    nearest f32 to each stored f16), so roundtrip error is exactly the
    f32→f16 rounding: ≤ 2^-11 relative in the fp16 normal range."""

    name = "fq16"
    lossy = True

    def encode_vecs(self, lengths: np.ndarray, flat: np.ndarray) -> bytes:
        with np.errstate(over="ignore"):  # saturation to ±inf is the contract
            h = np.ascontiguousarray(flat, dtype="<f4").astype("<f2")
        return pack_sections(_encode_uint_vec(lengths.astype(np.uint64)), h.tobytes())

    def decode_vecs(self, payload: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
        len_sec, data = unpack_sections(payload, 2)
        lengths = _decode_uint_vec(len_sec, n).astype(np.int64)
        return lengths, np.frombuffer(data, dtype="<f2").astype(np.float32)


class Fq8VecCodec:
    """Per-vector symmetric int8 quantization: one float32 scale per
    vector (amax/127), int8 codes. NaN/±inf amax poisons only its own
    vector (scale becomes nan/inf), never neighbors — scales are
    per-vector by construction."""

    name = "fq8"
    lossy = True

    def encode_vecs(self, lengths: np.ndarray, flat: np.ndarray) -> bytes:
        f = np.ascontiguousarray(flat, dtype="<f4")
        lens = lengths.astype(np.int64)
        bounds = np.concatenate([[0], np.cumsum(lens)])
        amax = np.zeros(len(lens), dtype="<f4")
        nzmask = lens > 0
        if f.size and nzmask.any():
            # reduceat over only the non-empty segments' starts (an
            # empty vector's start can be == len(f), out of range, and
            # zero-length slices return garbage); scatter back
            starts = bounds[:-1][nzmask]
            amax[nzmask] = np.maximum.reduceat(np.abs(f), starts).astype("<f4")
        with np.errstate(divide="ignore", invalid="ignore"):
            scales = (amax / 127.0).astype("<f4")
            safe = np.where(scales > 0, scales, np.float32(1.0))
            inv = np.repeat(
                np.where(scales > 0, 1.0 / safe, 0.0).astype(np.float32), lens
            )
            q = np.nan_to_num(
                np.clip(np.rint(f * inv), -127, 127), nan=0.0, posinf=127, neginf=-127
            ).astype(np.int8)
        return pack_sections(
            _encode_uint_vec(lens.astype(np.uint64)), scales.tobytes(), q.tobytes()
        )

    def decode_vecs(self, payload: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
        len_sec, scale_sec, data = unpack_sections(payload, 3)
        lengths = _decode_uint_vec(len_sec, n).astype(np.int64)
        scales = np.frombuffer(scale_sec, dtype="<f4")
        q = np.frombuffer(data, dtype=np.int8)
        with np.errstate(invalid="ignore"):  # inf-amax vectors decode to nan
            flat = (q.astype(np.float32) * np.repeat(scales, lengths)).astype(np.float32)
        return lengths, flat


class FpqVecCodec:
    """Product quantization (Jégou/Douze/Schmid, TPAMI 2011 — the
    Faiss ``PQ`` construction): split each vector into ``m`` subvectors,
    k-means each subspace to a 256-entry codebook trained PER BLOCK on
    the block's own vectors, store one uint8 code per subspace per
    vector. dim·4 bytes → m bytes + a per-block codebook
    (m·256·subdim·4, amortized over the block's rows) — ~16-32× on
    typical embedding widths, far past scalar quantization, at the
    cost of reconstruction error bounded only empirically (no closed
    form; `lossy_compression_metrics` reports the realized error and
    cosine fidelity, bound_ok stays null).

    Per-block training keeps the codec self-contained (a block decodes
    from its own bytes, like every other codec — no table-level model
    state) and adapts codebooks to local data drift. Deterministic:
    strided sample, strided init, fixed Lloyd iteration count, pure
    numpy. Requires fixed-dimension vectors (the embedding-table
    contract); ragged input raises. NaN/inf elements quantize through
    ``nan_to_num`` — they poison only their own vector's
    reconstruction, never the codebook's neighbors."""

    name = "fpq"
    lossy = True

    def __init__(self, m: int = 8, k: int = 256, train_n: int = 16_384, iters: int = 8):
        if k > 256:
            raise ValueError("fpq codes are uint8: k must be <= 256")
        self.m, self.k, self.train_n, self.iters = m, k, train_n, iters

    def _fit_m(self, dim: int) -> int:
        for m in range(min(self.m, dim), 0, -1):
            if dim % m == 0:
                return m
        return 1

    def encode_vecs(self, lengths: np.ndarray, flat: np.ndarray) -> bytes:
        lens = lengths.astype(np.int64)
        dims = np.unique(lens[lens > 0])
        if dims.size > 1:
            raise ValueError(
                f"fpq requires fixed-dimension vectors, got dims {dims.tolist()[:8]}"
            )
        f = np.ascontiguousarray(flat, dtype="<f4")
        if dims.size == 0:  # only empty/null vectors in the block
            return pack_sections(
                _encode_uint_vec(lens.astype(np.uint64)),
                u32(0) + u32(self.k) + u32(0), b"", b"",
            )
        dim = int(dims[0])
        m = self._fit_m(dim)
        sd = dim // m
        x = np.nan_to_num(
            f.reshape(-1, dim).astype(np.float32),
            nan=0.0, posinf=3.4e38, neginf=-3.4e38,
        )
        n = len(x)
        train = x[np.linspace(0, n - 1, min(n, self.train_n)).astype(np.int64)]
        k = min(self.k, len(train))
        codebooks = np.empty((m, k, sd), dtype="<f4")
        codes = np.empty((n, m), dtype=np.uint8)

        def _assign(pts: np.ndarray, cent: np.ndarray) -> np.ndarray:
            # argmin_j ||x - c_j||² == argmin_j (||c_j||² - 2 x·c_j):
            # the ||x||² term is constant per row — dropping it halves
            # the (n, k) intermediate traffic. float32 throughout: the
            # quantizer only needs the argmin, not exact distances.
            return np.argmin(
                (cent * cent).sum(1)[None, :] - 2.0 * (pts @ cent.T), axis=1
            )

        for j in range(m):
            xs = np.ascontiguousarray(train[:, j * sd : (j + 1) * sd])
            cent = xs[np.linspace(0, len(xs) - 1, k).astype(np.int64)].copy()
            for _ in range(self.iters):
                assign = _assign(xs, cent)
                counts = np.bincount(assign, minlength=k)
                sums = np.empty((k, sd), dtype=np.float64)
                for d in range(sd):
                    sums[:, d] = np.bincount(assign, weights=xs[:, d], minlength=k)
                nz = counts > 0
                cent[nz] = (sums[nz] / counts[nz, None]).astype(np.float32)
            codes[:, j] = _assign(
                np.ascontiguousarray(x[:, j * sd : (j + 1) * sd]), cent
            ).astype(np.uint8)
            codebooks[j] = cent.astype("<f4")
        return pack_sections(
            _encode_uint_vec(lens.astype(np.uint64)),
            u32(m) + u32(k) + u32(dim),
            codebooks.tobytes(),
            codes.tobytes(),
        )

    def decode_vecs(self, payload: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
        len_sec, hdr, cb_sec, code_sec = unpack_sections(payload, 4)
        lengths = _decode_uint_vec(len_sec, n).astype(np.int64)
        m = read_u32(hdr)
        k = read_u32(hdr[4:])
        dim = read_u32(hdr[8:])
        if m == 0:
            return lengths, np.empty(0, dtype=np.float32)
        sd = dim // m
        codebooks = np.frombuffer(cb_sec, dtype="<f4").reshape(m, k, sd)
        codes = np.frombuffer(code_sec, dtype=np.uint8).reshape(-1, m)
        out = np.empty((len(codes), dim), dtype=np.float32)
        for j in range(m):
            out[:, j * sd : (j + 1) * sd] = codebooks[j][codes[:, j]]
        return lengths, out.reshape(-1)


VEC_CODECS = {
    "fplain": FplainVecCodec(),
    "ftrans": FtransVecCodec(),
    "fq16": Fq16VecCodec(),
    "fq8": Fq8VecCodec(),
    "fpq": FpqVecCodec(),
}

#: codecs whose decode is an approximation — opt-in only, never
#: auto-selected, rejected by bit-exact verify paths
LOSSY_VEC_CODECS = frozenset(
    name for name, c in VEC_CODECS.items() if getattr(c, "lossy", False)
)
