"""Per-group error isolation (reference O2: one failure ≠ batch failure,
converter.py:226-233): a poisoned group yields a status='error'
manifest row, every other group commits, decode never sees the bad
group, and a later resume retries exactly the failed group."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_converter_spark import checkpoint as ckpt
from parquet_converter_spark.decode_job import decode_table
from parquet_converter_spark.encode_job import encode_table
from parquet_converter_spark.schema import TRANSCRIPT_SCHEMA
from parquet_converter_spark.synth import synth_pandas
from parquet_converter_spark.tableio import ParquetDirTableIO
from parquet_converter_spark.verify import verify_decode


def test_error_group_isolated_and_retried(spark, tmp_path, poisoned_encode):
    pdf = synth_pandas(n_convs=20, seed=9)
    pdf.loc[pdf.index[5], "text"] = "POISON pill"
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    io = ParquetDirTableIO(spark, str(tmp_path))

    s1 = encode_table(spark, df, io, run_id="r1", salt_rows=512, num_buckets=6)
    assert s1["errors"] >= 1
    assert s1["groups"] >= 1
    manifest = ckpt.read_manifest(io)
    errs = manifest.where(F.col("status") == "error").count()
    assert errs == s1["errors"]

    # decode sees only committed groups; the poisoned group's rows absent
    decoded = decode_table(spark, io)
    assert decoded.where(F.col("text").contains("POISON")).count() == 0
    assert decoded.count() == s1["rows"]

    # heal the data (no poison) → resume retries ONLY the failed groups
    pdf2 = synth_pandas(n_convs=20, seed=9)
    df2 = spark.createDataFrame(pdf2, schema=TRANSCRIPT_SCHEMA)
    s2 = encode_table(spark, df2, io, run_id="r2", salt_rows=512, num_buckets=6)
    assert s2["groups"] == s1["errors"]
    result = verify_decode(decode_table(spark, io), df2)
    assert result["ok"], result
