from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from parquet_converter_spark.session import get_spark

    s = get_spark(app="pcs-tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def poisoned_encode(monkeypatch):
    """Make the block encoders blow up for one specific group's data
    (patched on both the pandas and the Arrow hot paths; the UDF
    builders resolve these names at build time, so the patched
    versions ship to the workers)."""
    from parquet_converter_spark import encode_job

    real = encode_job.encode_block
    real_arrow = encode_job.encode_block_arrow

    def poisoned(series, dtype, codec=None):
        if dtype == "str" and series.astype(str).str.contains("POISON", na=False).any():
            raise RuntimeError("simulated kernel failure")
        return real(series, dtype, codec)

    def poisoned_arrow(arr, dtype, codec=None):
        if dtype == "str":
            import pyarrow.compute as pc

            hits = pc.match_substring(arr.cast("string"), "POISON")
            if pc.any(pc.fill_null(hits, False)).as_py():
                raise RuntimeError("simulated kernel failure")
        return real_arrow(arr, dtype, codec)

    monkeypatch.setattr(encode_job, "encode_block", poisoned)
    monkeypatch.setattr(encode_job, "encode_block_arrow", poisoned_arrow)
    yield
    # monkeypatch auto-restores
