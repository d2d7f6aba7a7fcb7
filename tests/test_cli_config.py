"""CLI ↔ EngineConfig wiring (reference parity: cli.py --config /
--save-config honored, tests/test_cli.py:118-133). Precedence is
file < PCS_* env < explicit CLI flag; per-column codec overrides and
the wdict/dtrans codecs are reachable from the CLI."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from parquet_converter_spark import checkpoint as ckpt
from parquet_converter_spark.cli import main
from parquet_converter_spark.tableio import ParquetDirTableIO


@pytest.fixture(scope="module")
def src_dir(spark, tmp_path_factory):
    from parquet_converter_spark.schema import TRANSCRIPT_SCHEMA
    from parquet_converter_spark.synth import synth_pandas

    out = str(tmp_path_factory.mktemp("cli_src"))
    spark.createDataFrame(synth_pandas(n_convs=12, seed=5), schema=TRANSCRIPT_SCHEMA) \
        .write.mode("overwrite").parquet(out)
    return out


def _salt_rows_used(spark, out: str) -> int:
    io = ParquetDirTableIO(spark, out)
    return io.read(ckpt.TABLE_META).select("salt_rows").distinct().collect()[0][0]


def test_config_file_sets_encode_knobs(spark, src_dir, tmp_path, monkeypatch):
    monkeypatch.delenv("PCS_SALT_ROWS", raising=False)
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({"salt_rows": 1024, "codec": "auto"}))
    out = str(tmp_path / "enc")
    assert main(["encode", "--input", src_dir, "--out", out, "--config", str(cfg)]) == 0
    assert _salt_rows_used(spark, out) == 1024


def test_env_overrides_config_file(spark, src_dir, tmp_path, monkeypatch):
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({"salt_rows": 1024}))
    monkeypatch.setenv("PCS_SALT_ROWS", "512")
    out = str(tmp_path / "enc")
    assert main(["encode", "--input", src_dir, "--out", out, "--config", str(cfg)]) == 0
    assert _salt_rows_used(spark, out) == 512


def test_cli_flag_overrides_env_and_file(spark, src_dir, tmp_path, monkeypatch):
    cfg = tmp_path / "cfg.json"
    cfg.write_text(json.dumps({"salt_rows": 1024}))
    monkeypatch.setenv("PCS_SALT_ROWS", "512")
    out = str(tmp_path / "enc")
    assert main([
        "encode", "--input", src_dir, "--out", out,
        "--config", str(cfg), "--salt-rows", "256",
    ]) == 0
    assert _salt_rows_used(spark, out) == 256


def test_save_config_roundtrip(tmp_path, monkeypatch):
    monkeypatch.setenv("PCS_CODEC", "wdict")
    saved = tmp_path / "effective.json"
    assert main(["config", "--save", str(saved)]) == 0
    data = json.loads(saved.read_text())
    assert data["codec"] == "wdict"
    # saved file loads back as a valid base config
    monkeypatch.delenv("PCS_CODEC")
    assert main(["config", "--config", str(saved)]) == 0


def test_per_column_codec_override(spark, src_dir, tmp_path, monkeypatch):
    monkeypatch.delenv("PCS_SALT_ROWS", raising=False)
    out = str(tmp_path / "enc")
    assert main([
        "encode", "--input", src_dir, "--out", out,
        "--salt-rows", "2048", "--codec-cols", "role=plain",
    ]) == 0
    io = ParquetDirTableIO(spark, out)
    codecs = {
        r["column"]: r["codec"]
        for r in io.read(ckpt.METRICS).select("column", "codec").distinct().collect()
    }
    assert codecs["role"] == "plain"  # forced away from auto's dict/rle pick


def test_codec_cols_rejects_unknown(src_dir, tmp_path):
    with pytest.raises(SystemExit):
        main([
            "encode", "--input", src_dir, "--out", str(tmp_path / "enc"),
            "--codec-cols", "nope=plain",
        ])


def test_wdict_dtrans_reachable_from_cli(spark, src_dir, tmp_path, monkeypatch):
    """The engine's own codecs must be CLI-selectable (old --codec choices
    omitted them)."""
    monkeypatch.delenv("PCS_SALT_ROWS", raising=False)
    out = str(tmp_path / "enc")
    assert main([
        "encode", "--input", src_dir, "--out", out,
        "--salt-rows", "2048", "--codec-cols", "text=wdict,ts=dtrans",
    ]) == 0
    io = ParquetDirTableIO(spark, out)
    codecs = {
        r["column"]: r["codec"]
        for r in io.read(ckpt.METRICS).select("column", "codec").distinct().collect()
    }
    assert codecs["text"] == "wdict" and codecs["ts"] == "dtrans"
    # and the result still decodes bit-identically
    from parquet_converter_spark.decode_job import decode_table
    from parquet_converter_spark.schema import TRANSCRIPT_SCHEMA
    from parquet_converter_spark.verify import verify_decode

    ref = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src_dir)
    assert verify_decode(decode_table(spark, io), ref)["ok"]


def test_report_reads_pinned_metrics_and_metricsless_table(
    spark, src_dir, tmp_path, capsys, poisoned_encode
):
    """report reads the metrics table with its pinned schema, and still
    reports a table whose only commit was all error groups — such a
    commit appends no metrics file at all."""
    from parquet_converter_spark.encode_job import encode_table
    from parquet_converter_spark.schema import ENCODED_COLUMNS, TRANSCRIPT_SCHEMA

    def report(out):
        capsys.readouterr()
        assert main(["report", "--out", out]) == 0
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    good = str(tmp_path / "good")
    assert main(["encode", "--input", src_dir, "--out", good, "--salt-rows", "2048"]) == 0
    rep = report(good)
    assert rep["groups"] > 0
    assert {c["column"] for c in rep["codecs"]} == set(ENCODED_COLUMNS)

    bad = str(tmp_path / "bad")
    src = spark.read.schema(TRANSCRIPT_SCHEMA).parquet(src_dir)
    poisoned = src.withColumn("text", F.concat(F.lit("POISON "), F.coalesce("text", F.lit(""))))
    s = encode_table(spark, poisoned, ParquetDirTableIO(spark, bad), salt_rows=2048)
    assert s["groups"] == 0 and s["errors"] > 0
    rep = report(bad)
    assert rep["groups"] == 0 and rep["codecs"] == []
