"""Known-answer tests for profiling/dedup/similarity/textstats operators
(reference test model: tests/test_analyzer.py:38-41 known answers)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from parquet_converter_spark.operators import analyzer, dedup, profile, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the cat sat on the mat", "en"),          # exact dup of 1
        (3, "the cat sat on the red mat", "en"),      # near dup
        (4, "der hund ist und das haus", "de"),
        (5, "completely different text entirely here", "en"),
        (6, "", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_profile_known_answers(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (None, "b")], "value int, label string"
    )
    # reference tests/test_analyzer.py:40: null_count(value)=1, n_unique(label)=2
    assert profile.null_count(df, "value").collect()[0]["nulls"] == 1
    assert profile.distinct_count(df, "label").collect()[0]["uniq"] == 2
    assert profile.row_count(df).collect()[0]["cnt"] == 3
    prof = profile.numeric_profile(df, "value").collect()[0]
    assert prof["mn"] == 1.0 and prof["mx"] == 2.0 and prof["mean"] == 1.5


def test_value_counts_top5(spark):
    df = spark.createDataFrame([(x,) for x in "aaabbc"], "v0 string")
    rows = profile.value_counts_top5(df, "v0").collect()
    assert [(r["v"], r["c"]) for r in rows] == [("a", 3), ("b", 2), ("c", 1)]


def test_exact_dup_groups(docs):
    rows = dedup.exact_dup_groups(docs).collect()
    assert len(rows) == 1
    assert rows[0]["keep_id"] == 1 and rows[0]["dup_count"] == 2


def test_minhash_lsh_finds_near_dups(docs):
    sigs = dedup.minhash_signatures(docs, num_hashes=16)
    pairs = dedup.lsh_candidate_pairs(sigs, bands=8, rows_per_band=2)
    verified = dedup.ngram_jaccard(docs, pairs)
    hits = {(r["a_id"], r["b_id"]): r["jaccard"] for r in verified.collect()}
    assert hits.get((1, 2)) == 1.0  # exact dup must bucket together
    # near-dup pair should be a candidate with high (but <1) jaccard
    if (1, 3) in hits:
        assert 0.3 < hits[(1, 3)] < 1.0


def test_simhash_similarity(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[1] == sh[2]  # identical docs → identical simhash
    # near dup within small hamming distance; different doc far away
    ham = lambda a, b: bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham(sh[1], sh[3]) < ham(sh[1], sh[5])


def test_cosine_topk_self_first(spark):
    rows = [(i, [float(i == j) for j in range(4)]) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    top = similarity.cosine_topk(df, [1.0, 0.0, 0.0, 0.0], k=2).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cos_sim"] == 1.0


def test_ann_topk_contains_query(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(8).astype("float32").tolist()) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[5][1]
    top = similarity.ann_topk(df, [float(x) for x in q], dim=8, k=3, n_planes=4)
    ids = [r["vec_id"] for r in top.collect()]
    assert 5 in ids  # the query vector itself shares its own bucket


def test_sampling_deterministic_and_rate_accurate(spark):
    """Hash sampling: membership is a pure function of the key
    (partitioning-independent), and realized rates concentrate near
    the nominal fraction."""
    from parquet_converter_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    kept1 = sorted(r["doc_id"] for r in sampling.hash_sample(df, "doc_id", 0.5).collect())
    kept2 = sorted(
        r["doc_id"]
        for r in sampling.hash_sample(df.repartition(7), "doc_id", 0.5).collect()
    )
    assert kept1 == kept2  # partitioning-independent
    assert 900 <= len(kept1) <= 1100  # binomial concentration at n=2000
    assert len(sampling.hash_sample(df, "doc_id", 1.0).collect()) == 2000
    assert len(sampling.hash_sample(df, "doc_id", 0.0).collect()) == 0


def test_stratified_sample_rates_per_stratum(spark):
    from parquet_converter_spark.operators import sampling

    rows = [(i, "en" if i % 2 == 0 else "de") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = sampling.stratified_sample(df, "lang", {"en": 1.0, "de": 0.25}, "doc_id")
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["en"] == 1000  # rate 1.0 keeps every row
    assert 180 <= counts["de"] <= 320  # ~250 expected
    # unlisted strata drop entirely
    df2 = df.withColumn("lang", F.lit("fr"))
    assert sampling.stratified_sample(df2, "lang", {"en": 1.0}, "doc_id").count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.stratified_sample(df, "lang", {}, "doc_id")


def test_hash_split_disjoint_exhaustive_stable(spark):
    from parquet_converter_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(3000)], "doc_id long")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    out = sampling.hash_split(df, "doc_id", fr).collect()
    labels = {r["doc_id"]: r["split"] for r in out}
    assert len(labels) == 3000  # split assigns every row exactly once
    from collections import Counter

    c = Counter(labels.values())
    assert c.get(None, 0) <= 1  # only a 1-in-4B float-edge sliver may be null
    assert 2200 <= c["train"] <= 2600 and 200 <= c["val"] <= 400
    # stability: a subset keyed the same way gets the same labels
    sub = sampling.hash_split(df.where(F.col("doc_id") < 100), "doc_id", fr).collect()
    assert all(labels[r["doc_id"]] == r["split"] for r in sub)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.hash_split(df, "doc_id", {"a": 0.9, "b": 0.2})


def test_closest_pairs_refuses_unbounded_cartesian(spark):
    """The exact O(n²) baseline must refuse inputs past max_rows with a
    pointer at the scale paths, not silently launch the cartesian."""
    import pytest

    rows = [(i, [float(i), 1.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="lsh_near_dup_pairs"):
        similarity.closest_pairs(df, k=3, max_rows=10)
    # within the bound it still answers exactly
    got = similarity.closest_pairs(df, k=1, max_rows=100).collect()
    assert len(got) == 1


def test_textstats_known_answers(docs):
    tok = {r["doc_id"]: r["n_tokens"] for r in textstats.token_count(docs).collect()}
    assert tok[1] == 6 and tok[6] == 0
    langs = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(docs).collect()}
    assert langs[1] == "en" and langs[4] == "de" and langs[6] == "und"
    fps = {r["doc_id"]: r["fp"] for r in textstats.fingerprint(docs).collect()}
    assert fps[1] == fps[2] and fps[1] != fps[3]


def test_analyzer_fused_profile(spark):
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (None, "b", None)],
        "value int, label string, x double",
    )
    a = analyzer.analyze_table(df)
    assert a["row_count"] == 3
    assert a["columns"]["value"]["null_count"] == 1
    assert a["columns"]["label"]["unique_values"] == 2
    assert a["columns"]["x"]["mean"] == 2.0
    top = a["columns"]["label"]["top_values"]
    assert top[0]["value"] == "b" and top[0]["count"] == 2
    text = analyzer.format_report({"t": a})
    assert "rows=3" in text and "label" in text


@pytest.mark.slow
def test_embedding_compression_parallel_and_stable(spark):
    """The codec-metrics query must NOT funnel through one task: with a
    4-partition input it emits one per-batch row per partition, and the
    merged summary matches the single-partition run bit-for-bit."""
    import numpy as np

    from parquet_converter_spark.operators import embcodec

    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(16).astype("float32").tolist()) for i in range(256)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    per_batch = embcodec.per_batch_metrics(df.repartition(4), "embedding")
    batches = per_batch.collect()
    assert len(batches) >= 4  # >1 task: at least one metrics row per partition
    assert all(b["roundtrip_ok"] for b in batches)

    multi = embcodec.compression_metrics(df.repartition(4), "embedding").collect()[0]
    single = embcodec.compression_metrics(df.coalesce(1), "embedding").collect()[0]
    assert multi["n_vecs"] == single["n_vecs"] == 256
    assert multi["raw_bytes"] == single["raw_bytes"] == 256 * 16 * 4
    assert multi["all_roundtrip_ok"] and single["all_roundtrip_ok"]

    # deterministic blocking: EVERY field (incl. encoded_bytes and
    # codecs_used) must be identical regardless of input partitioning
    det_multi = embcodec.compression_metrics(
        df.repartition(4), "embedding", id_col="vec_id", rows_per_block=64
    ).collect()[0]
    det_single = embcodec.compression_metrics(
        df.coalesce(1), "embedding", id_col="vec_id", rows_per_block=64
    ).collect()[0]
    assert det_multi.asDict() == det_single.asDict()


def test_embedding_compression_bit_identity_nan_negzero(spark):
    """Roundtrip must compare BIT PATTERNS: NaN payloads are bit-equal
    to themselves (value compare would flag them as mismatches), and
    -0.0 survives as -0.0 (value compare would accept a +0.0 flip)."""
    import math

    from parquet_converter_spark.operators import embcodec

    rows = [
        (0, [float("nan"), 1.0, -0.0]),
        (1, [float("-inf"), float("inf"), 2.5]),
        (2, [-0.0, float("nan"), float("nan")]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embcodec.compression_metrics(df, "embedding", id_col="vec_id").collect()[0]
    assert out["all_roundtrip_ok"] is True
    assert out["n_vecs"] == 3
    assert not math.isnan(out["raw_bytes"])


def test_lossy_embedding_paths_keep_nan(spark):
    """A NaN element decodes to NaN, never to NULL: quantize_roundtrip
    hands readers exactly the decoded floats, and the lossy report's
    max_abs_err turns NaN instead of dropping the block it came from."""
    import math

    from parquet_converter_spark.operators import embcodec

    rows = [(0, [float("nan"), -0.0, 1.0, 2.0]), (1, [0.5, -1.0, 3.0, 4.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["vec_id"]: r["embedding"]
        for r in embcodec.quantize_roundtrip(df, "fq16").collect()
    }
    assert math.isnan(got[0][0]) and got[0][1:] == [-0.0, 1.0, 2.0]
    assert got[1] == [0.5, -1.0, 3.0, 4.0]
    row = embcodec.lossy_compression_metrics(df, codecs=("fq16",)).collect()[0]
    assert math.isnan(row["max_abs_err"])


def test_analyzer_sample_rows(spark):
    df = spark.createDataFrame(
        [(i, f"name{i}") for i in range(50)], "id int, name string"
    )
    a = analyzer.analyze_table(df)
    assert [r[0] for r in a["first_rows"]] == [0, 1, 2]
    assert [r[0] for r in a["last_rows"]] == [49, 48, 47]
    assert len(a["sample_rows"]) == 10
    # deterministic: same sample on re-run
    b = analyzer.analyze_table(df)
    assert a["sample_rows"] == b["sample_rows"]
    text = analyzer.format_report({"t": a})
    assert "first rows:" in text and "sample rows:" in text
    # opt-out keeps the single-pass profile only
    c = analyzer.analyze_table(df, include_samples=False)
    assert "sample_rows" not in c


def test_analyzer_approx_mode(spark):
    """The scale profile: HLL distinct within rsd of exact, approx
    median within tolerance, identical result shape."""
    df = spark.createDataFrame(
        [(i, f"u{i % 97}", float(i)) for i in range(2000)],
        "id int, user string, x double",
    )
    exact = analyzer.analyze_table(df, include_samples=False)
    ap = analyzer.analyze_table(df, include_samples=False, approx=True)
    assert set(exact["columns"]) == set(ap["columns"])
    assert ap["row_count"] == 2000
    u = ap["columns"]["user"]["unique_values"]
    assert abs(u - 97) <= max(3, int(97 * 0.05))
    assert abs(ap["columns"]["x"]["median"] - exact["columns"]["x"]["median"]) <= 2.0
    assert ap["columns"]["id"]["null_count"] == 0


def test_histogram_bins_and_clamps(spark):
    from parquet_converter_spark.operators import profile

    rows = [(float(v),) for v in [-5, 0, 1, 9.9, 10, 55, 99.9, 100, 250]] + [(None,)]
    df = spark.createDataFrame(rows, "x double")
    got = {r["bucket"]: r["n"] for r in profile.histogram(df, "x", 0.0, 100.0, 10).collect()}
    # -5 clamps into bin 0; 100 and 250 clamp into bin 9; null dropped
    assert got[0] == 4   # -5, 0, 1, 9.9
    assert got[1] == 1   # 10
    assert got[5] == 1   # 55
    assert got[9] == 3   # 99.9, 100, 250
    assert sum(got.values()) == 9


def test_hash_split_tolerated_float_overshoot(spark):
    """ADVICE r03: fractions whose float sum lands in (1.0, 1+1e-9]
    pass validation and must not blow up mid-loop — the last interval
    clamps to the end of the hash line."""
    from parquet_converter_spark.operators.sampling import hash_split

    df = spark.createDataFrame([(f"k{i}",) for i in range(100)], "k string")
    out = hash_split(df, "k", {"a": 0.7, "b": 0.3 + 5e-10})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert None not in counts and sum(counts.values()) == 100
