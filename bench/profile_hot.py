"""Per-phase profiling of the hot bench paths (guide §1: measure first).

Not part of the frozen bench contract — diagnostic only.
Usage: python bench/profile_hot.py [phase ...]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from parquet_converter_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_t0 = time.perf_counter()
_last = _t0


def mark(label: str) -> None:
    global _last
    now = time.perf_counter()
    print(f"[{now - _t0:8.3f}s] +{now - _last:7.3f}s  {label}", flush=True)
    _last = now


def main() -> None:
    phases = set(sys.argv[1:]) or {"ivf", "encode", "minhash", "verify", "profile"}
    spark = get_spark(app="profile-hot")
    spark.sparkContext.setLogLevel("ERROR")
    mark("session up")
    tmp = tempfile.mkdtemp(prefix="pcs_prof_")

    if "ivf" in phases:
        from parquet_converter_spark.operators import similarity

        emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        emb.count()
        mark("ivf: emb warm count")
        spark.sparkContext.setJobDescription("ivf: train")
        cent = similarity.ivf_train_centroids(emb, 16)
        mark("ivf: train_centroids")
        spark.sparkContext.setJobDescription("ivf: assign noop")
        assigned = similarity.ivf_assign(emb, cent)
        assigned.write.format("noop").mode("overwrite").save()
        mark("ivf: assign -> noop")
        spark.sparkContext.setJobDescription("ivf: assign+repartition noop")
        assigned.repartition("ivf_cell").write.format("noop").mode("overwrite").save()
        mark("ivf: assign+repartition -> noop")
        spark.sparkContext.setJobDescription("ivf: vectors write")
        assigned.repartition("ivf_cell").write.mode("overwrite").partitionBy(
            "ivf_cell"
        ).parquet(f"{tmp}/ivf/vectors")
        mark("ivf: vectors partitioned write")
        cent_rows = [(int(i), [float(x) for x in c]) for i, c in enumerate(cent)]
        spark.createDataFrame(cent_rows, "cell int, centroid array<double>").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{tmp}/ivf/centroids")
        mark("ivf: centroids write")
        meta = spark.createDataFrame(
            [(16, 64, "embedding", "vec_id", 42, None)],
            "n_cells int, dim int, vec_col string, id_col string, seed int, store_codec string",
        )
        meta.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/ivf/index_meta")
        mark("ivf: meta write")
        emb.count()
        mark("ivf: final count")
        spark.sparkContext.setJobDescription("ivf: sq8 quantize noop")
        similarity._sq8_quantize(assigned, "embedding", "vec_id").write.format(
            "noop"
        ).mode("overwrite").save()
        mark("ivf: assign+sq8_quantize -> noop")
        t0 = time.perf_counter()
        similarity.ivf_build_index(spark, emb, f"{tmp}/ivf_full", n_cells=16)
        mark(f"ivf: FULL build ({time.perf_counter()-t0:.3f})")

    if "encode" in phases:
        from parquet_converter_spark.encode_job import encode_table
        from parquet_converter_spark.partitioning import with_group_keys
        from parquet_converter_spark.schema import TRANSCRIPT_SCHEMA
        from parquet_converter_spark.synth import synth_distributed
        from parquet_converter_spark.tableio import ParquetDirTableIO

        src = os.path.join(tmp, "src")
        synth_distributed(spark, 100_000, seed=42).write.mode("overwrite").parquet(src)
        df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src)
        n = df.count()
        mark(f"encode: synth written ({n} rows), parts={df.rdd.getNumPartitions()}")
        spark.sparkContext.setJobDescription("encode: scan noop")
        df.write.format("noop").mode("overwrite").save()
        mark("encode: raw scan -> noop")
        keyed = with_group_keys(df, 64, 32_768)
        spark.sparkContext.setJobDescription("encode: shuffle+groups noop")
        from parquet_converter_spark.encode_job import _encode_group_fn
        from parquet_converter_spark.schema import BLOCKS_STORED_SCHEMA

        blocks = keyed.groupBy("bucket", "salt").applyInArrow(
            _encode_group_fn("prof", "auto", 65_536), schema=BLOCKS_STORED_SCHEMA
        )
        blocks.write.format("noop").mode("overwrite").save()
        mark("encode: shuffle+applyInArrow -> noop")
        # warm rep
        io = ParquetDirTableIO(spark, os.path.join(tmp, "enc0"))
        t0 = time.perf_counter()
        encode_table(spark, df, io, run_id="prof0", salt_rows=32_768)
        mark(f"encode: FULL encode_table rep1 ({time.perf_counter()-t0:.3f})")
        io = ParquetDirTableIO(spark, os.path.join(tmp, "enc1"))
        t0 = time.perf_counter()
        encode_table(spark, df, io, run_id="prof1", salt_rows=32_768)
        mark(f"encode: FULL encode_table rep2 ({time.perf_counter()-t0:.3f})")
        from parquet_converter_spark.decode_job import decode_table

        dec = decode_table(spark, io)
        print("decode input parts:", dec.rdd.getNumPartitions())
        spark.sparkContext.setJobDescription("decode noop")
        dec.write.format("noop").mode("overwrite").save()
        mark("encode: decode -> noop")

    if "minhash" in phases:
        from parquet_converter_spark.operators import dedup

        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        docs.count()
        mark("minhash: docs warm")
        spark.sparkContext.setJobDescription("minhash: signatures noop")
        sigs = dedup.minhash_signatures(docs, num_hashes=16)
        sigs.write.format("noop").mode("overwrite").save()
        mark("minhash: signatures -> noop")
        spark.sparkContext.setJobDescription("minhash: candidates noop")
        pairs = dedup.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
        pairs.write.format("noop").mode("overwrite").save()
        mark("minhash: sigs+candidates -> noop")
        spark.sparkContext.setJobDescription("minhash: full noop")
        out = dedup.ngram_jaccard(docs, pairs).where(F.col("jaccard") >= 0.5)
        out.write.format("noop").mode("overwrite").save()
        mark("minhash: full query -> noop")
        spark.sparkContext.setJobDescription("simhash: fingerprints noop")
        dedup.simhash(docs).write.format("noop").mode("overwrite").save()
        mark("simhash: fingerprints -> noop")
        spark.sparkContext.setJobDescription("simhash: near dups noop")
        dedup.simhash_near_dup_pairs(docs, max_hamming=6).write.format("noop").mode(
            "overwrite"
        ).save()
        mark("simhash: near_dups -> noop")

    if "profile" in phases:
        li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        li.count()
        mark("profile: lineitem warm")
        from parquet_converter_spark.operators import profile

        spark.sparkContext.setJobDescription("numeric_profile")
        profile.numeric_profile(li, "l_extendedprice").collect()
        mark("profile: numeric_profile collect")
        spark.sparkContext.setJobDescription("numeric_profile no median")
        li.agg(
            F.round(F.min("l_extendedprice"), 4),
            F.round(F.max("l_extendedprice"), 4),
            F.round(F.avg("l_extendedprice"), 4),
            F.round(F.stddev_samp("l_extendedprice"), 4),
        ).collect()
        mark("profile: same w/o median")
        ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        ev.count()
        mark("profile: events warm")
        import __spark_entry__ as entrymod

        q = entrymod.queries()
        t0 = time.perf_counter()
        rows = q["typed_cast_battery"](spark, SF_DIR).collect()
        mark(f"profile: typed_cast_battery collect ({len(rows)} rows)")
        spark.sparkContext.setJobDescription("typed_cast noop")
        q["typed_cast_battery"](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        mark("profile: typed_cast_battery -> noop (no collect)")

    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    mark("done")


if __name__ == "__main__":
    main()
