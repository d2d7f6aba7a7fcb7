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
    """Make the block encoder blow up for one specific group's data
    (the UDF builder resolves this name at build time, so the patched
    version ships to the workers)."""
    from parquet_converter_spark import encode_job

    real = encode_job.encode_block_arrow

    def poisoned(arr, dtype, codec=None):
        if dtype == "str":
            import pyarrow.compute as pc

            hits = pc.match_substring(arr.cast("string"), "POISON")
            if pc.any(pc.fill_null(hits, False)).as_py():
                raise RuntimeError("simulated kernel failure")
        return real(arr, dtype, codec)

    monkeypatch.setattr(encode_job, "encode_block_arrow", poisoned)
    yield
    # monkeypatch auto-restores
