"""The encode commit: manifest, metrics and summary built on the driver
from one pruned read of the attempt's chunk rows.

The oracle below is the Spark SQL derivation the commit used before it
moved to the driver (a manifest aggregate over the attempt's block
rows, and a ``from_json``/``explode`` aggregate over their meta JSON).
Every committed row must equal it, on multi-chunk groups whose codecs
differ across chunks, on an error group, on a maintenance retire+done
swap, and on a no-op rerun."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from parquet_converter_spark import checkpoint as ckpt
from parquet_converter_spark.encode_job import encode_table
from parquet_converter_spark.maintenance import compact_blocks
from parquet_converter_spark.schema import (
    BLOCKS_STORED_SCHEMA,
    MANIFEST_SCHEMA,
    METRICS_SCHEMA,
    TRANSCRIPT_SCHEMA,
)
from parquet_converter_spark.synth import synth_pandas
from parquet_converter_spark.tableio import ParquetDirTableIO


@pytest.fixture(scope="module")
def transcripts(spark):
    pdf = synth_pandas(n_convs=40, seed=42)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA).cache()


def oracle_rows(io, phys_run_id):
    """(manifest rows, metrics rows) of one attempt, derived in Spark
    SQL from its block rows."""
    written = io.read(ckpt.BLOCKS, BLOCKS_STORED_SCHEMA).where(
        F.col("run_id") == phys_run_id
    )
    manifest = (
        written.groupBy("bucket", "salt")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("blk_bytes").alias("encoded_bytes"),
            F.max((F.col("chunk") == -1).cast("int")).alias("has_err"),
        )
        .select(
            F.lit(phys_run_id).alias("run_id"),
            "bucket",
            "salt",
            "n_chunks",
            "n_rows",
            "encoded_bytes",
            F.when(F.col("has_err") == 1, F.lit("error"))
            .otherwise(F.lit("done"))
            .alias("status"),
        )
    )
    meta_schema = "map<string, struct<codec:string, bytes:bigint>>"
    metrics = (
        written.where(F.col("chunk") >= 0)
        .select("bucket", "salt", F.from_json("meta", meta_schema).alias("m"))
        .select("bucket", "salt", F.explode("m").alias("column", "cm"))
        .groupBy("bucket", "salt", "column")
        .agg(
            F.max(F.col("cm.codec")).alias("codec"),
            F.sum(F.col("cm.bytes")).alias("encoded_bytes"),
        )
        .select(
            F.lit(phys_run_id).alias("run_id"),
            "bucket",
            "salt",
            "column",
            "codec",
            "encoded_bytes",
        )
    )
    return _rowset(manifest), _rowset(metrics)


def _rowset(df):
    return sorted(tuple(r) for r in df.collect())


def committed_rows(io, phys_run_id):
    def pick(name, schema):
        if not io.exists(name):
            return []
        return _rowset(io.read(name, schema).where(F.col("run_id") == phys_run_id))

    return pick(ckpt.MANIFEST, MANIFEST_SCHEMA), pick(ckpt.METRICS, METRICS_SCHEMA)


def _parquet_files(io, name):
    p = io.path(name)
    return sorted(f for f in os.listdir(p) if f.endswith(".parquet")) if os.path.isdir(p) else []


def test_commit_matches_oracle_on_multichunk_groups(spark, transcripts, tmp_path):
    io = ParquetDirTableIO(spark, str(tmp_path))
    s = encode_table(
        spark, transcripts, io, run_id="r1", salt_rows=2048, num_buckets=2, chunk_rows=64
    )
    phys = s["physical_run_id"]
    # the fixture must exercise the max-codec rule: some column of some
    # group picked different codecs in different chunks
    chunk_codecs: dict = {}
    for r in (
        io.read(ckpt.BLOCKS, BLOCKS_STORED_SCHEMA)
        .where(F.col("run_id") == phys)
        .select("bucket", "salt", "meta")
        .collect()
    ):
        for col, cm in json.loads(r["meta"]).items():
            chunk_codecs.setdefault((r["bucket"], r["salt"], col), set()).add(cm["codec"])
    assert any(len(c) > 1 for c in chunk_codecs.values())

    manifest, metrics = committed_rows(io, phys)
    assert (manifest, metrics) == oracle_rows(io, phys)
    assert max(r[3] for r in manifest) > 1  # multi-chunk groups
    done = [r for r in manifest if r[6] == "done"]
    assert s["groups"] == len(done) and s["errors"] == 0
    assert s["rows"] == sum(r[4] for r in done) == transcripts.count()
    assert s["encoded_bytes"] == sum(r[5] for r in done)
    assert s["chunks"] == sum(r[3] for r in done)


def test_commit_matches_oracle_on_error_group(spark, tmp_path, poisoned_encode):
    pdf = synth_pandas(n_convs=20, seed=9)
    pdf.loc[pdf.index[5], "text"] = "POISON pill"
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    io = ParquetDirTableIO(spark, str(tmp_path))
    s = encode_table(spark, df, io, run_id="r1", salt_rows=512, num_buckets=6, chunk_rows=128)
    assert s["errors"] >= 1 and s["groups"] >= 1
    manifest, metrics = committed_rows(io, s["physical_run_id"])
    assert (manifest, metrics) == oracle_rows(io, s["physical_run_id"])
    errors = [r for r in manifest if r[6] == "error"]
    assert len(errors) == s["errors"]
    # an error group counts its marker row as a chunk and has no metrics
    assert all(r[3] == 1 and r[4] == 0 and r[5] == 0 for r in errors)
    err_keys = {(r[1], r[2]) for r in errors}
    assert not err_keys & {(r[1], r[2]) for r in metrics}


def test_commit_matches_oracle_on_compaction_swap(spark, transcripts, tmp_path):
    io = ParquetDirTableIO(spark, str(tmp_path))
    encode_table(
        spark, transcripts, io, run_id="r1", salt_rows=256, num_buckets=4, chunk_rows=256
    )
    old = set(
        tuple(r) for r in ckpt.visible_triples(io).select("bucket", "salt", "run_id").collect()
    )
    manifest_files = _parquet_files(io, ckpt.MANIFEST)
    res = compact_blocks(spark, io, min_fill=0.5, chunk_rows=65_536, salt_rows=65_536)
    assert res["compacted_groups"] > 0
    phys = res["run_id"]
    manifest, metrics = committed_rows(io, phys)
    assert (manifest, metrics) == oracle_rows(io, phys)
    # blocks_after is the rewrite's own done-chunk count
    assert res["blocks_after"] == sum(r[3] for r in manifest if r[6] == "done")
    # the retire rows for every superseded triple ride in the SAME
    # single manifest file as the done rows
    new_files = sorted(set(_parquet_files(io, ckpt.MANIFEST)) - set(manifest_files))
    assert len(new_files) == 1
    swap = spark.read.schema(MANIFEST_SCHEMA).parquet(
        os.path.join(io.path(ckpt.MANIFEST), new_files[0])
    )
    retired = {
        (r["bucket"], r["salt"], r["run_id"])
        for r in swap.where(F.col("status") == "retired").collect()
    }
    assert retired and retired <= old
    assert swap.where(F.col("status") == "done").count() == len(manifest)


def test_rerun_of_committed_run_appends_no_commit_files(spark, transcripts, tmp_path):
    io = ParquetDirTableIO(spark, str(tmp_path))
    encode_table(spark, transcripts, io, run_id="r1", salt_rows=512, num_buckets=4)
    before = {n: _parquet_files(io, n) for n in (ckpt.MANIFEST, ckpt.METRICS)}
    s = encode_table(spark, transcripts, io, run_id="r1", salt_rows=512, num_buckets=4)
    assert (s["groups"], s["errors"], s["rows"], s["encoded_bytes"], s["chunks"]) == (0,) * 5
    assert {n: _parquet_files(io, n) for n in before} == before
    assert committed_rows(io, s["physical_run_id"]) == ([], [])


def test_encode_commit_cost(spark, transcripts, tmp_path):
    """One encode appends exactly one file to each of manifest and
    metrics, and the whole commit after the blocks write is at most 4
    Spark jobs: the chunk-row scan and the table_meta, manifest and
    metrics writes."""
    sc = spark.sparkContext
    group = f"commit-tail-{time.time_ns()}"
    appends = []

    class RecordingIO(ParquetDirTableIO):
        def append(self, df, name, compression="uncompressed"):
            appends.append(name)
            super().append(df, name, compression)
            if name == ckpt.BLOCKS:
                sc.setJobGroup(group, "encode commit after the blocks write")

    io = RecordingIO(spark, str(tmp_path))
    try:
        encode_table(spark, transcripts, io, run_id="r1", salt_rows=512, num_buckets=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert appends == [ckpt.BLOCKS, ckpt.TABLE_META, ckpt.MANIFEST, ckpt.METRICS]
    assert len(_parquet_files(io, ckpt.MANIFEST)) == 1
    assert len(_parquet_files(io, ckpt.METRICS)) == 1
    # job start events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= n_jobs <= 4, n_jobs
