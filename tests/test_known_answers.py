"""Known-answer tests for the rows-only (no-DuckDB-oracle) queries
(VERDICT r01 §missing #6): each op's output is recomputed independently
— in plain Python/numpy, sharing only Spark's xxhash64 primitive where
the algorithm is defined in terms of it — so `no_oracle` no longer
means "unchecked"."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from parquet_converter_spark.operators import dedup, multimodal, similarity, textstats

MASK = 0xFFFFFFFFFFFFFFFF


def _signed64(x: int) -> int:
    x &= MASK
    return x - (1 << 64) if x >= 1 << 63 else x


def _xxh_single(spark, values: list[str]) -> dict[str, int]:
    df = spark.createDataFrame([(v,) for v in set(values)], "s string")
    return {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}


def _xxh_pair(spark, pairs: list[tuple[str, int]]) -> dict[tuple[str, int], int]:
    df = spark.createDataFrame(list(set(pairs)), "s string, i int")
    rows = df.select("s", "i", F.xxhash64("s", "i").alias("h")).collect()
    return {(r["s"], r["i"]): r["h"] for r in rows}


def test_simhash_known_answer(spark):
    """Bit-vote logic recomputed in Python from the per-token hashes."""
    text = "a b a"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = dedup.simhash(docs).collect()[0]["simhash"]

    toks = text.split()
    h = _xxh_single(spark, toks)
    n = len(toks)
    expected = 0
    for b in range(64):
        votes = sum(((h[t] & MASK) >> b) & 1 for t in toks)
        if 2 * votes >= n:
            expected |= 1 << b
    assert got == _signed64(expected)


def test_minhash_known_answer(spark):
    """sig[i] = min over 3-shingles of xxhash64(shingle, i), recomputed
    directly from the shingle set."""
    text = "a b c d"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = dedup.minhash_signatures(docs, num_hashes=4).collect()[0]["minhash"]

    shingles = ["a b c", "b c d"]
    h = _xxh_pair(spark, [(s, i) for s in shingles for i in range(4)])
    expected = [min(h[(s, i)] for s in shingles) for i in range(4)]
    assert list(got) == expected


def test_lsh_candidate_pairs_known_answer(spark):
    """Identical docs share every band bucket; unrelated docs share none."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over it"),
            (2, "the quick brown fox jumps over it"),
            (3, "entirely unrelated words appear in this document"),
        ],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(docs, num_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    assert [(r["a_id"], r["b_id"]) for r in pairs.collect()] == [(1, 2)]
    verified = dedup.ngram_jaccard(docs, pairs).collect()
    assert verified[0]["jaccard"] == 1.0


def test_doc_fingerprint_normalization_known_answer(spark):
    docs = spark.createDataFrame(
        [(1, "  The   CAT sat "), (2, "the cat sat")], "doc_id long, text string"
    )
    fps = {r["doc_id"]: r["fp"] for r in textstats.fingerprint(docs).collect()}
    assert fps[1] == fps[2]
    direct = _xxh_single(spark, ["the cat sat"])["the cat sat"]
    assert fps[1] == direct


def _vecs():
    return [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0
        (2, [-1.0, 0.0, 0.0, 0.0]),    # antipode
        (3, [0.0, 1.0, 0.0, 0.0]),     # orthogonal
    ]


def _np_cos(a, b):
    a, b = np.asarray(a, np.float64), np.asarray(b, np.float64)
    return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_lsh_near_dup_pairs_known_answer(spark):
    df = spark.createDataFrame(_vecs(), "vec_id long, embedding array<float>")
    got = similarity.lsh_near_dup_pairs(df, threshold=0.9, dim=4).collect()
    assert [(r["a_id"], r["b_id"]) for r in got] == [(0, 1)]
    # float32 storage: compare at the rounding grain the op guarantees
    expected = round(_np_cos(*[dict(_vecs())[i] for i in (0, 1)]), 6)
    assert got[0]["cos_sim"] == pytest.approx(expected, abs=2e-6)


def test_lsh_ann_topk_known_answer(spark):
    df = spark.createDataFrame(_vecs(), "vec_id long, embedding array<float>")
    got = similarity.ann_topk(df, [1.0, 0.0, 0.0, 0.0], dim=4, k=3, n_planes=6).collect()
    ids = [r["vec_id"] for r in got]
    assert ids[0] == 0 and got[0]["cos_sim"] == 1.0
    assert ids[1] == 1  # the near-dup ranks second
    assert 2 not in ids  # the antipode never shares the query's bucket


def test_media_stats_known_answer(spark):
    media = multimodal.synth_media(spark, n=9, seed=42)
    got = {r["kind"]: r for r in multimodal.media_stats(media).collect()}
    rows = media.select("media_id", "kind", "width", "duration_ms").collect()
    import collections

    widths = collections.defaultdict(list)
    durs = collections.defaultdict(list)
    counts = collections.Counter()
    for r in rows:
        counts[r["kind"]] += 1
        if r["width"] is not None:
            widths[r["kind"]].append(r["width"])
        if r["duration_ms"] is not None:
            durs[r["kind"]].append(r["duration_ms"])
    assert set(got) == set(counts)
    for kind in counts:
        assert got[kind]["n"] == counts[kind]
        if widths[kind]:
            assert got[kind]["avg_w"] == pytest.approx(float(np.mean(widths[kind])))
        if durs[kind]:
            assert got[kind]["avg_ms"] == pytest.approx(float(np.mean(durs[kind])))


def test_media_features_sha256_known_answer(spark):
    media = multimodal.synth_media(spark, n=6, seed=42)
    got = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
    for r in media.select("media_id", "payload").collect():
        b = bytes(r["payload"])
        assert got[r["media_id"]]["sha256"] == hashlib.sha256(b).hexdigest()
        assert got[r["media_id"]]["payload_bytes"] == len(b)


def test_codec_selector_known_answers():
    """The cost-model selector's picks on canonical shapes are fixed
    (deterministic sample, deterministic sizes) — pin them."""
    import pyarrow as pa

    from parquet_converter_spark.codecs.arrow_blocks import decode_block_arrow, encode_block_arrow

    cases = {
        "const_int": (pa.array([7] * 1000), "int64", "forbp", 40),
        "seq_int": (pa.array(range(1000)), "int64", "delta", 50),
        "rand_str": (
            pa.array([f"user_{i * 7919 % 997}" for i in range(1000)]),
            "str",
            "plain",
            2000,
        ),
    }
    for name, (arr, dtype, want_codec, max_bytes) in cases.items():
        blob = encode_block_arrow(arr, dtype, None)
        out, used = decode_block_arrow(blob)
        assert used == want_codec, name
        assert len(blob) <= max_bytes, name
        assert out.to_pylist() == arr.to_pylist(), name


def test_ivf_ann_known_answer(spark):
    """IVF with n_probe=n_cells degenerates to exact search; with
    n_probe=1 it returns the query's own cluster ranked by cosine."""
    rng = np.random.default_rng(5)
    rows = []
    axes = np.eye(8)[:3]
    for i in range(90):
        base = axes[i % 3]
        v = base + 0.05 * rng.standard_normal(8)
        rows.append((i, v.astype(np.float32).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = axes[0].tolist()

    exact = [r["vec_id"] for r in similarity.cosine_topk(df, q, k=10).collect()]
    full_probe = [
        r["vec_id"]
        for r in similarity.ivf_ann_topk(
            df, q, k=10, n_cells=3, n_probe=3, sample_n=90
        ).collect()
    ]
    assert full_probe == exact  # degenerate probe-all == exact

    got = similarity.ivf_ann_topk(df, q, k=10, n_cells=3, n_probe=1, sample_n=90).collect()
    ids = [r["vec_id"] for r in got]
    assert set(i % 3 for i in ids) == {0}  # only cluster-0 members
    # ranking inside the probed cell matches numpy exact cosine
    vecs = dict(rows)
    np_rank = sorted(
        (i for i in vecs if i % 3 == 0),
        key=lambda i: (-_np_cos(vecs[i], q), i),
    )[:10]
    assert ids == np_rank


def test_ivf_assign_deterministic_and_parallel(spark):
    rng = np.random.default_rng(6)
    rows = [(i, rng.standard_normal(8).astype(np.float32).tolist()) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = similarity.ivf_train_centroids(df, k=4, sample_n=64)
    a1 = {r["vec_id"]: r["ivf_cell"] for r in similarity.ivf_assign(df, cent).collect()}
    a2 = {
        r["vec_id"]: r["ivf_cell"]
        for r in similarity.ivf_assign(df.repartition(5), cent).collect()
    }
    assert a1 == a2  # assignment independent of partitioning
    assert set(a1.values()) <= set(range(4))


def test_decode_error_isolation_known_answer(spark):
    """The rows-only decode_error_isolation query, recomputed
    independently: total rows from the pristine decode, lost rows from
    the victim block's n_rows read straight off the blocks table —
    both derived WITHOUT the query's own arithmetic."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod

    row = entrymod._q_decode_error_isolation(spark, "").collect()[0]

    # independent recomputation of the expected victim size
    import tempfile

    from parquet_converter_spark import checkpoint as ckpt
    from parquet_converter_spark.encode_job import encode_table
    from parquet_converter_spark.schema import TRANSCRIPT_SCHEMA
    from parquet_converter_spark.synth import synth_pandas
    from parquet_converter_spark.tableio import ParquetDirTableIO

    with tempfile.TemporaryDirectory() as tmp:
        pdf = synth_pandas(n_convs=40, seed=7)
        df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
        io = ParquetDirTableIO(spark, tmp)
        encode_table(spark, df, io, run_id="ka", salt_rows=1024, num_buckets=4)
        blocks = (
            io.read(ckpt.BLOCKS)
            .select("bucket", "salt", "chunk", "n_rows")
            .orderBy("bucket", "salt", "chunk")
            .collect()
        )
        expected_lost = int(blocks[0]["n_rows"])
        expected_total = len(pdf)

    assert row["total_rows"] == expected_total
    assert row["lost_rows"] == expected_lost
    assert row["decoded_rows"] == expected_total - expected_lost
    assert row["corrupt_block_cols"] == 1
    assert row["corrupt_column"] == "text"


def _union_find_components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Reference union-find: node -> min id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_dup_clusters_known_answer(spark):
    """Min-label propagation vs plain union-find on a random graph with
    path-shaped components (worst case for propagation depth) plus
    singleton pairs."""
    rng = np.random.default_rng(11)
    pairs = []
    # three path components: 0-1-2-...-9, 100-101-...-107, 200-201
    for base, ln in ((0, 10), (100, 8), (200, 2)):
        pairs += [(base + i, base + i + 1) for i in range(ln - 1)]
    # random extra edges inside the first component (chords)
    for _ in range(5):
        a, b = sorted(rng.choice(10, size=2, replace=False).tolist())
        if a != b:
            pairs.append((a, b))
    df = spark.createDataFrame(pairs, "a_id long, b_id long")
    got = {r["node"]: r["cluster_id"] for r in dedup.dup_clusters(df).collect()}
    assert got == _union_find_components(pairs)


def test_near_dedup_corpus_keeps_representatives(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(0, 3), (3, 5), (6, 7)], "a_id long, b_id long")
    kept = sorted(
        r["doc_id"] for r in dedup.near_dedup_corpus(docs, pairs).collect()
    )
    # clusters {0,3,5} -> keep 0; {6,7} -> keep 6; singletons 1,2,4 survive
    assert kept == [0, 1, 2, 4, 6]


def test_decode_time_slice_known_answer(spark):
    """The zone-map slice query vs a plain pandas filter over the same
    deterministic synth frame — fully independent of the engine's
    decode path."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entrymod
    from parquet_converter_spark.synth import synth_pandas

    row = entrymod._q_decode_time_slice(spark, "").collect()[0]

    pdf = synth_pandas(n_convs=50, seed=21)
    ts = pdf["ts"]
    span = ts.max() - ts.min()
    lo = ts.min() + 0.40 * span
    hi = ts.min() + 0.45 * span
    expected = int(((ts >= lo) & (ts <= hi)).sum())

    assert row["total_rows"] == len(pdf)
    assert row["sliced_rows"] == expected
    assert 0 < row["touched_blocks"] < row["total_blocks"]


def test_simhash_near_dup_pairs_known_answer(spark):
    """Banded-bucket pairing vs brute-force hamming over every pair of
    fingerprints — the pigeonhole banding must have 100% recall (every
    pair within max_hamming appears) and the bit_count verify must
    drop everything beyond it."""
    import random

    rng = random.Random(7)
    words = [f"w{i}" for i in range(50)]
    rows, did = [], 0
    for _ in range(8):
        base = " ".join(rng.choice(words) for _ in range(30))
        rows.append((did, base)); did += 1
        toks = base.split()
        toks[rng.randrange(len(toks))] = rng.choice(words)  # near-dup edit
        rows.append((did, " ".join(toks))); did += 1
    rows.append((did, rows[0][1]))  # one exact dup → hamming 0 pair
    df = spark.createDataFrame(rows, "doc_id long, text string")

    fps = {r["doc_id"]: r["simhash"] & MASK for r in dedup.simhash(df).collect()}
    maxh = 6
    expected = sorted(
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a in fps for b in fps
        if a < b and bin(fps[a] ^ fps[b]).count("1") <= maxh
    )
    assert expected, "seeded corpus must contain at least one near-dup pair"
    got = sorted(
        (r["a_id"], r["b_id"], r["hamming"])
        for r in dedup.simhash_near_dup_pairs(df, max_hamming=maxh).collect()
    )
    assert got == expected
    # chunking invariance: tiny chunks must not change the pair set
    got_chunked = sorted(
        (r["a_id"], r["b_id"], r["hamming"])
        for r in dedup.simhash_near_dup_pairs(df, max_hamming=maxh, chunk_size=2).collect()
    )
    assert got_chunked == expected


def test_simhash_near_dup_pairs_validates_max_hamming(spark):
    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_dup_pairs(df, max_hamming=9)


def test_ivf_index_query_matches_adhoc(spark, tmp_path):
    """A built (persisted, cell-partitioned) index must return exactly
    what the ad-hoc ivf_ann_topk returns for the same quantizer params
    — same training sample, same assignment, same probes."""
    rng = np.random.default_rng(5)
    axes = np.eye(8)[:3]
    rows = []
    for i in range(90):
        v = axes[i % 3] + 0.05 * rng.standard_normal(8)
        rows.append((i, v.astype(np.float32).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = axes[0].tolist()

    idx = str(tmp_path / "ivf_idx")
    info = similarity.ivf_build_index(spark, df, idx, n_cells=3, sample_n=90)
    assert info["cells"] == 3 and info["rows"] == 90 and info["dim"] == 8

    adhoc = [(r["vec_id"], r["cos_sim"]) for r in
             similarity.ivf_ann_topk(df, q, k=10, n_cells=3, n_probe=1, sample_n=90).collect()]
    indexed = [(r["vec_id"], r["cos_sim"]) for r in
               similarity.ivf_query(spark, idx, q, k=10, n_probe=1).collect()]
    assert indexed == adhoc
    # probe-all degenerates to exact
    exact = [r["vec_id"] for r in similarity.cosine_topk(df, q, k=10).collect()]
    assert [r["vec_id"] for r in similarity.ivf_query(spark, idx, q, k=10, n_probe=3).collect()] == exact


def test_simhash_near_dup_pairs_exact_mode_hamming_zero(spark):
    """max_hamming=0 (one 64-bit band — the whole fingerprint) must not
    overflow the band mask; it degenerates to exact-fingerprint pairing."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta epsilon zeta")],
        "doc_id long, text string",
    )
    got = [(r["a_id"], r["b_id"], r["hamming"])
           for r in dedup.simhash_near_dup_pairs(df, max_hamming=0).collect()]
    assert got == [(1, 2, 0)]


def test_ivf_train_distributed_matches_numpy_at_256_cells(spark):
    """Past the driver budget, Lloyd runs distributed (mapInPandas
    partial sums). Recompute the SAME algorithm — same hash-ordered
    seed init, same normalized-mean updates — in plain numpy over the
    full sample and require matching centroids and assignments, while
    asserting no collect ever moved more than k rows to the driver."""
    import pyspark.sql.classic.dataframe as cdf

    k, dim, per = 256, 16, 8
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((k, dim)) * 10.0     # well-separated
    rows = []
    for i in range(k * per):
        v = centers[i % k] + 0.01 * rng.standard_normal(dim)
        rows.append((i, v.astype(np.float32).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    # independent numpy recomputation of the distributed recipe:
    # survivors = all rows (sample_n >= n so p == 1), seeds = first k
    # by (xxhash64(id, seed), id), then normalized-mean Lloyd
    h = {
        r["vec_id"]: r["h"]
        for r in df.select(
            "vec_id", F.xxhash64(F.col("vec_id"), F.lit(42)).alias("h")
        ).collect()
    }
    order = sorted(range(k * per), key=lambda i: (h[i], i))
    x = np.asarray([rows[i][1] for i in range(k * per)], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    cent_np = x[order[:k]].copy()
    for _ in range(10):
        assign = np.argmax(x @ cent_np.T, axis=1)
        for j in range(k):
            sel = x[assign == j]
            if len(sel):
                c = sel.mean(axis=0)
                cent_np[j] = c / max(np.linalg.norm(c), 1e-12)

    collected_rows = []
    orig = cdf.DataFrame.collect

    def counting(self):
        out = orig(self)
        collected_rows.append(len(out))
        return out

    cdf.DataFrame.collect = counting
    try:
        cent = similarity.ivf_train_centroids(
            df, k=k, sample_n=k * per, driver_budget=1,  # force distributed
        )
    finally:
        cdf.DataFrame.collect = orig

    assert max(collected_rows) <= k, collected_rows  # never the sample
    assert cent.shape == (k, dim)
    assert np.allclose(cent, cent_np, atol=1e-8)
    # and the quantizer behaves identically
    a_engine = np.argmax(x @ cent.T, axis=1)
    a_numpy = np.argmax(x @ cent_np.T, axis=1)
    assert (a_engine == a_numpy).all()


def test_ivf_auto_sample_scales_with_cells(spark):
    """sample_n=None must scale the training sample with the cell count
    (>= 64 points/cell) instead of under-training large quantizers on a
    fixed 4096 rows."""
    rng = np.random.default_rng(12)
    rows = [(i, rng.standard_normal(8).astype(np.float32).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # k=128 -> auto sample 8192 > n: every row survives the hash filter
    cent = similarity.ivf_train_centroids(df, k=128)
    assert len(cent) == 128  # not clipped by an undersized fixed sample


def test_ann_recall_floors_on_seeded_corpus(spark):
    """Recall@10 floors for the approximate paths vs the exact oracle —
    the quality contract the bench reports as recall fields."""
    rng = np.random.default_rng(13)
    k_cells, dim = 16, 32
    centers = rng.standard_normal((k_cells, dim)) * 4.0
    rows = []
    for i in range(800):
        v = centers[i % k_cells] + 0.3 * rng.standard_normal(dim)
        rows.append((i, v.astype(np.float32).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    q = (centers[3] + 0.1 * rng.standard_normal(dim)).tolist()

    exact = {r["vec_id"] for r in similarity.cosine_topk(df, q, k=10).collect()}
    ivf4 = {
        r["vec_id"]
        for r in similarity.ivf_ann_topk(
            df, q, k=10, n_cells=k_cells, n_probe=4, sample_n=800
        ).collect()
    }
    assert len(exact & ivf4) / 10 >= 0.9, sorted(exact & ivf4)
    # probe-all degenerates to exact: recall exactly 1
    ivf_all = {
        r["vec_id"]
        for r in similarity.ivf_ann_topk(
            df, q, k=10, n_cells=k_cells, n_probe=k_cells, sample_n=800
        ).collect()
    }
    assert ivf_all == exact
    df.unpersist()


def test_lossy_compression_metrics_known_answer(spark):
    """The lossy quality sheet recomputed independently in numpy from
    the codec definitions alone: fq16 decode == f32(f16(x)), fq8 decode
    == round(clip(x·127/amax))·amax/127 with a float32 per-vector
    scale. Error/fidelity fields must match exactly at the op's
    rounding grain; both published bounds must hold; the ratio floors
    are the reason the codec exists."""
    from parquet_converter_spark.operators import embcodec

    rng = np.random.default_rng(21)
    # 2000 vectors so fpq's per-block codebook (8*256*3*4 B) amortizes
    # into a real ratio; fq16/fq8 recomputes stay exact at any n
    vals = [(3.0 * rng.standard_normal(24)).astype(np.float32).tolist()
            for _ in range(2000)]
    vals[7] = None
    vals[8] = []
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "vec_id long, embedding array<float>"
    ).coalesce(1)  # ONE batch: the per-block fpq codebook is paid once
    rows = {
        r["codec"]: r
        for r in embcodec.lossy_compression_metrics(
            df, codecs=("fq16", "fq8", "fpq")
        ).collect()
    }
    assert set(rows) == {"fq16", "fq8", "fpq"}

    # fpq has no closed-form bound (bound_ok null) — its quality gate
    # is the realized fidelity on this clustered corpus
    fpq = rows["fpq"]
    assert fpq["bound_ok"] is None
    assert fpq["n_vecs"] == 2000
    assert fpq["ratio"] > 4.0  # m=8 codes + per-block codebook, post-zstd
    assert fpq["mean_cos_sim"] > 0.97

    arrs = [np.asarray(v, np.float32) for v in vals if v is not None]
    flat = np.concatenate([a for a in arrs if a.size]).astype(np.float64)
    raw_bytes = int(flat.size * 4)

    def scores(decoded):
        errs, rels, coss = [], [], []
        for a, b in zip(arrs, decoded):
            a64, b64 = a.astype(np.float64), b.astype(np.float64)
            if a64.size == 0:
                coss.append(1.0)
                continue
            err = np.abs(a64 - b64)
            amax = np.abs(a64).max()
            errs.append(err.max())
            rels.append(err.max() / amax if amax > 0 else 0.0)
            na, nb = np.linalg.norm(a64), np.linalg.norm(b64)
            coss.append(float(a64 @ b64 / (na * nb)) if na > 0 and nb > 0 else 1.0)
        coss.append(1.0)  # the null vector counts at cosine 1
        return max(errs), max(rels), float(np.mean(coss))

    # fq16 oracle decode
    d16 = [a.astype(np.float16).astype(np.float32) for a in arrs]
    # fq8 oracle decode (float32 scale, like the codec stores)
    d8 = []
    for a in arrs:
        amax = np.abs(a.astype(np.float64)).max() if a.size else 0.0
        scale = np.float32(amax / 127.0)
        if scale > 0:
            q = np.clip(np.rint(a.astype(np.float64) / np.float64(scale)), -127, 127)
            d8.append((q.astype(np.float32) * scale).astype(np.float32))
        else:
            d8.append(np.zeros_like(a))

    for codec, dec in (("fq16", d16), ("fq8", d8)):
        r = rows[codec]
        e_abs, e_rel, e_cos = scores(dec)
        assert r["n_vecs"] == 2000
        assert r["raw_bytes"] == raw_bytes
        assert r["bound_ok"] is True
        assert abs(r["max_rel_err"] - round(e_rel, 8)) <= 1e-8, codec
        assert abs(r["mean_cos_sim"] - e_cos) <= 2e-6, codec
    assert rows["fq16"]["ratio"] > 1.5
    assert rows["fq8"]["ratio"] > 2.5
    assert rows["fq8"]["max_rel_err"] > rows["fq16"]["max_rel_err"]


def test_quantize_roundtrip_matches_codec_formula(spark):
    """quantize_roundtrip(fq8) must hand downstream ops EXACTLY the
    values the codec stores: q = round(clip(x·127/amax))·float32(amax/127)
    per vector — recomputed here straight from the formula. Schema and
    non-vector columns pass through untouched."""
    from parquet_converter_spark.operators import embcodec

    rng = np.random.default_rng(31)
    vals = [(5.0 * rng.standard_normal(16)).astype(np.float32).tolist()
            for _ in range(200)]
    vals[9] = None
    df = spark.createDataFrame(
        [(i, f"tag{i}", v) for i, v in enumerate(vals)],
        "vec_id long, tag string, embedding array<float>",
    )
    out = embcodec.quantize_roundtrip(df, "fq8")
    assert out.schema == df.schema
    got = {r["vec_id"]: r for r in out.collect()}
    assert len(got) == 200
    for i, v in enumerate(vals):
        assert got[i]["tag"] == f"tag{i}"
        if v is None:
            assert got[i]["embedding"] is None
            continue
        a = np.asarray(v, np.float32)
        scale = np.float32(np.abs(a.astype(np.float64)).max() / 127.0)
        if scale > 0:
            q = np.clip(np.rint(a.astype(np.float64) / np.float64(scale)), -127, 127)
            expect = (q.astype(np.float32) * scale).astype(np.float32)
        else:
            expect = np.zeros_like(a)
        assert np.array_equal(np.asarray(got[i]["embedding"], np.float32), expect), i


def test_ivf_sq8_index_matches_quantized_exact_and_shrinks(spark, tmp_path):
    """IVF-SQ8 (store_codec='fq8'): a probe-all query over the
    quantized index must return EXACTLY what exact search over
    fq8-roundtripped vectors returns (same per-vector formula), the
    index files must be materially smaller than the float32 index, and
    the cell prune must still be a planning-time PartitionFilter."""
    import os

    from parquet_converter_spark.operators import embcodec
    from parquet_converter_spark.plans import partition_filters

    rng = np.random.default_rng(17)
    k_cells, dim = 4, 32
    centers = rng.standard_normal((k_cells, dim)) * 4.0
    rows = [
        (i, (centers[i % k_cells] + 0.3 * rng.standard_normal(dim))
            .astype(np.float32).tolist())
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = (centers[1] + 0.1 * rng.standard_normal(dim)).tolist()

    raw_dir = str(tmp_path / "raw")
    sq_dir = str(tmp_path / "sq8")
    similarity.ivf_build_index(spark, df, raw_dir, n_cells=k_cells, sample_n=400)
    info = similarity.ivf_build_index(
        spark, df, sq_dir, n_cells=k_cells, sample_n=400, store_codec="fq8"
    )
    assert info["store_codec"] == "fq8"

    got = similarity.ivf_query(spark, sq_dir, q, k=10, n_probe=k_cells).collect()
    want = similarity.cosine_topk(
        embcodec.quantize_roundtrip(df, "fq8"), q, k=10
    ).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == [
        (r["vec_id"], r["cos_sim"]) for r in want
    ]

    def _dir_bytes(d):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(d) for f in fs if f.endswith(".parquet")
        )

    raw_b = _dir_bytes(os.path.join(raw_dir, "vectors"))
    sq_b = _dir_bytes(os.path.join(sq_dir, "vectors"))
    assert sq_b < raw_b * 0.55, (sq_b, raw_b)

    pruned = similarity.ivf_query(spark, sq_dir, q, k=5, n_probe=1)
    assert any("ivf_cell" in f for f in partition_filters(pruned))
    # and the pruned probe agrees with brute force on the same cells'
    # content (n_probe=1 over clustered data: query's own cell)
    assert len(pruned.collect()) == 5


def test_cosine_topk_batch_matches_per_query_exactly(spark):
    """The fused batch scorer must be row-identical to running
    cosine_topk once per query — including rounded-cosine ties broken
    by id across Arrow-batch boundaries (the partial top-k widens to
    the boundary value before tie-sorting, so a smaller id in another
    batch can never be lost)."""
    rng = np.random.default_rng(23)
    rows = [(i, rng.standard_normal(8).astype(np.float32).tolist()) for i in range(300)]
    # seeded exact ties: clones of vector 7 at far-apart ids
    rows[150] = (150, rows[7][1])
    rows[299] = (299, rows[7][1])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(8)
    queries = spark.createDataFrame(
        [(int(i), rows[i][1]) for i in (0, 7, 42)],
        "query_id long, query_vec array<float>",
    )
    got = similarity.cosine_topk_batch(df, queries, k=10).collect()
    assert len(got) == 30
    for qid in (0, 7, 42):
        want = similarity.cosine_topk(df, rows[qid][1], k=10).collect()
        batch = [(r["vec_id"], r["cos_sim"]) for r in got if r["query_id"] == qid]
        assert batch == [(r["vec_id"], r["cos_sim"]) for r in want], qid
    # the clone ties surface for query 7, id-ascending
    q7 = [r["vec_id"] for r in got if r["query_id"] == 7][:3]
    assert q7 == [7, 150, 299]

    with pytest.raises(ValueError, match="shard the query set"):
        similarity.cosine_topk_batch(df, queries, k=5, max_queries=2)


def test_ivf_query_batch_matches_per_query(spark, tmp_path):
    """Batch index query (one pruned read of the probed-cell union +
    per-query cell mask) must be row-identical to per-query ivf_query
    on BOTH the float32 and the SQ8 index."""
    rng = np.random.default_rng(29)
    k_cells, dim = 4, 16
    centers = rng.standard_normal((k_cells, dim)) * 4.0
    rows = [
        (i, (centers[i % k_cells] + 0.3 * rng.standard_normal(dim))
            .astype(np.float32).tolist())
        for i in range(240)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qset = [(int(i), rows[i][1]) for i in (0, 1, 2, 3)]
    queries = spark.createDataFrame(qset, "query_id long, query_vec array<float>")

    for codec in (None, "fq8"):
        idx = str(tmp_path / f"idx_{codec}")
        similarity.ivf_build_index(
            spark, df, idx, n_cells=k_cells, sample_n=240, store_codec=codec
        )
        got = similarity.ivf_query_batch(spark, idx, queries, k=5, n_probe=2).collect()
        for qid, qvec in qset:
            want = similarity.ivf_query(spark, idx, qvec, k=5, n_probe=2).collect()
            batch = [(r["vec_id"], r["cos_sim"]) for r in got if r["query_id"] == qid]
            assert batch == [(r["vec_id"], r["cos_sim"]) for r in want], (codec, qid)


def test_fq16_bound_scoped_to_half_precision_contract(spark):
    """fq16's bound check must not flag behavior the codec documents:
    subnormal-range vectors (graded underflow, error ≤ half a 2^-24
    step — far above amax·2^-11) and overflow saturation to ±inf are
    the contract, not violations."""
    from parquet_converter_spark.operators import embcodec

    vals = [
        [1e-7, -3e-8, 5e-8],          # entirely below the fp16 normal floor
        [70000.0, 1.0, -0.5],         # saturates to +inf (documented)
        [0.25, -0.125, 0.0625],       # exactly representable: zero error
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "vec_id long, embedding array<float>"
    )
    row = embcodec.lossy_compression_metrics(df, codecs=("fq16",)).collect()[0]
    assert row["bound_ok"] is True, row
