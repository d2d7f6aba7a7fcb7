"""Capture .explain("formatted") output for the optimization-round
plan evidence (plans/r06/<name>_{before,after}.txt).

Usage: python bench/capture_plans.py <suffix> <out_dir> [sf_dir]
Run once from the round-start tree with suffix=before and once from the
optimized tree with suffix=after. Names whose construction fails (API
drift between the two trees) are skipped with a note.
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    suffix = sys.argv[1]
    out_dir = sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from parquet_converter_spark.session import get_spark

    spark = get_spark(app=f"plans-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    q = entrymod.queries()

    def dump(name: str, df) -> None:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {name}_{suffix}.txt", flush=True)

    # --- declared queries that were touched (plan-visible changes)
    for name in [
        "typed_cast_battery",
        "profile_all_columns",
        "anti_join_resume",
        "numeric_profile",
        "minhash_dup_candidates",
        "simhash_fingerprints",
        "simhash_near_dups",
        "ann_topk_batch",
    ]:
        try:
            dump(name, q[name](spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            print(f"skip {name}: {e}", flush=True)

    # numeric_profile after-state is a 3-job pipeline whose returned
    # frame is a LocalRelation — also capture the histogram pass that
    # replaces the ObjectHashAggregate median
    try:
        li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        c = F.col("l_extendedprice")
        bucket = F.least(
            F.greatest(F.floor((c - F.lit(900.0)) / F.lit(104100.0) * F.lit(8192)), F.lit(0)),
            F.lit(8191),
        ).cast("int")
        dump(
            "numeric_profile_median_histpass",
            li.where(c.isNotNull() & ~F.isnan(c)).groupBy(bucket.alias("b")).agg(F.count("*")),
        )
    except Exception as e:  # noqa: BLE001
        print(f"skip histpass: {e}", flush=True)

    # --- engine paths (not queries() entries but bench-timed)
    from parquet_converter_spark import checkpoint as ckpt
    from parquet_converter_spark.encode_job import _encode_group_fn, encode_table
    from parquet_converter_spark.partitioning import with_group_keys
    from parquet_converter_spark.schema import BLOCKS_STORED_SCHEMA, TRANSCRIPT_SCHEMA
    from parquet_converter_spark.synth import synth_distributed
    from parquet_converter_spark.tableio import ParquetDirTableIO
    from parquet_converter_spark.verify import _digest_frame, verify_decode
    from parquet_converter_spark.decode_job import decode_table

    tmp = tempfile.mkdtemp(prefix=f"plans_{suffix}_")
    src = os.path.join(tmp, "src")
    synth_distributed(spark, 2_000, seed=42).write.mode("overwrite").parquet(src)
    df = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src)
    keyed = with_group_keys(df, 64, 32_768)
    blocks = keyed.groupBy("bucket", "salt").applyInArrow(
        _encode_group_fn("plan", "auto", 65_536), schema=BLOCKS_STORED_SCHEMA
    )
    dump("encode_main", blocks)

    io_ = ParquetDirTableIO(spark, os.path.join(tmp, "enc"))
    encode_table(spark, df, io_, run_id="plan", salt_rows=32_768)
    dec = decode_table(spark, io_)
    dump("decode_table", dec)
    try:
        d = dec.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        r = df.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
        dd = d.withColumn("_d", F.lit(1)).alias("d")
        rr = r.withColumn("_r", F.lit(1)).alias("r")
        dump("verify_decode_join", dd.join(rr, ["conv_id", "turn_idx"], "full_outer"))
        dump("verify_digest", _digest_frame(dec))
    except Exception as e:  # noqa: BLE001
        print(f"skip verify plans: {e}", flush=True)

    # ivf build main frame (assignment [+ quantize] before the write)
    from parquet_converter_spark.operators import similarity

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cent = similarity.ivf_train_centroids(emb, 16)
    try:
        assigned = similarity._assign_sq8_quantize(emb, cent, "embedding", "vec_id")
    except AttributeError:
        assigned = similarity._sq8_quantize(
            similarity.ivf_assign(emb, cent), "embedding", "vec_id"
        )
    dump("ivf_build_sq8_vectors", assigned.repartition("ivf_cell"))

    import shutil

    shutil.rmtree(tmp, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
