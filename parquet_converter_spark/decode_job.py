"""The decode pipeline: committed blocks → reconstructed transcript rows.

``mapInArrow`` over block rows — each block row expands to up to
chunk_rows transcript rows, all decoded with the vectorized numpy
kernels straight into Arrow buffers (no per-row Python). Decode is
embarrassingly parallel: no shuffle at all; global order is
re-established only where a consumer asks for it (verification sorts
by (conv_id, turn_idx)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import checkpoint as ckpt
from .schema import ENCODED_COLUMNS, TRANSCRIPT_SCHEMA

#: highest table format this decoder understands (block frames carry
#: their own per-blob version; this is the table-level contract)
SUPPORTED_FORMAT_VERSION = 1


def _check_format_version(io) -> None:
    """Fail fast with a clear message when the table was written by a
    newer engine — garbled per-block errors are the alternative."""
    if not io.exists(ckpt.TABLE_META):
        return  # pre-table_meta tables are format 1 by definition
    from pyspark.sql import functions as F

    from .schema import TABLE_META_SCHEMA

    # pinned schema: meta files written before the geometry columns
    # existed read them as nulls instead of poisoning schema inference
    vmax = (
        io.read(ckpt.TABLE_META, TABLE_META_SCHEMA)
        .agg(F.max("format_version").alias("v"))
        .collect()[0]["v"]
    )
    if vmax is not None and vmax > SUPPORTED_FORMAT_VERSION:
        raise ValueError(
            f"table format_version {vmax} is newer than this decoder "
            f"(supports <= {SUPPORTED_FORMAT_VERSION}); upgrade the engine"
        )


def decode_table(
    spark: SparkSession,
    io,
    buckets: list[int] | None = None,
    columns: list[str] | None = None,
    on_error: str = "raise",
    ts_range: tuple | None = None,
    conv_range: tuple | None = None,
    skip_all_null_ts_blocks: bool = False,
) -> DataFrame:
    """Read committed blocks and reconstruct the transcript DataFrame.

    ``buckets`` selects a subset of hash buckets — the predicate lands
    on the blocks parquet scan (partition-level pushdown), so a
    selective decode of one bucket reads ~1/num_buckets of the data.
    ``columns`` projects a subset of columns — only those columns'
    binary blocks are READ at all (parquet column pruning on the
    blocks table), the columnar payoff of per-column blocks.
    ``ts_range=(lo, hi)`` prunes on the per-block ZONE MAPS: only
    blocks whose [ts_min, ts_max] interval overlaps [lo, hi] decode at
    all (blocks with null stats — all-null ts or tables written before
    zone maps — are kept conservatively). This is BLOCK skipping, not
    a row filter: rows outside the range within an overlapping block
    still decode; use ``decode_time_slice`` for the exact-slice
    composition. ``skip_all_null_ts_blocks=True`` additionally drops
    blocks whose ts_nulls stat proves every row's ts is null — ONLY
    sound under a downstream exact ts filter (null ts never matches a
    range predicate); plain block-skip decode keeps them so callers
    relying on the conservative superset (retention proofs, CLI
    --ts-from without exact filtering) still see null-ts rows. ``conv_range=(lo, hi)`` is the same block-skipping
    test on the conv_id zone maps (sorted groups make them tight);
    ``decode_conversation`` uses it as a point interval.
    ``on_error='skip'`` is the decode analog of encode's per-group
    error isolation (reference ignore_errors, converter.py:226-233): a
    corrupt block drops that block row's rows (ALL its columns — never
    misaligned partial columns) instead of failing the job; use
    ``corrupt_blocks`` to locate and diagnose the damage.
    """
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    _check_format_version(io)
    cols = list(columns) if columns is not None else list(ENCODED_COLUMNS)
    unknown = set(cols) - set(ENCODED_COLUMNS)
    if unknown:
        raise ValueError(f"unknown columns: {sorted(unknown)}")
    out_schema = T.StructType([TRANSCRIPT_SCHEMA[c] for c in cols])
    blocks = ckpt.committed_blocks(io)
    if buckets is not None:
        blocks = blocks.where(blocks.bucket.isin([int(b) for b in buckets]))
    if ts_range is not None:
        lo, hi = ts_range
        # interval overlap; null stats (legacy/all-null blocks) pass.
        # ts_min/ts_max are plain parquet columns, so this predicate
        # also drives parquet row-group pruning on the blocks scan.
        overlap = (F.col("ts_min").isNull() | (F.col("ts_min") <= F.lit(hi))) & (
            F.col("ts_max").isNull() | (F.col("ts_max") >= F.lit(lo))
        )
        if skip_all_null_ts_blocks:
            # ts_nulls == n_rows PROVES the block holds no row a ts
            # predicate can match — sound only when the caller applies
            # an exact ts filter downstream (decode_time_slice), since
            # SQL range predicates exclude null ts. eqNullSafe: a null
            # ts_nulls stat (legacy block) proves nothing → kept. On a
            # time-clustered table this prunes the null-ts sentinel
            # window's blocks, which would otherwise be touched by
            # EVERY slice query forever.
            overlap &= ~F.col("ts_nulls").eqNullSafe(F.col("n_rows"))
        blocks = blocks.where(overlap)
    if conv_range is not None:
        clo, chi = conv_range
        # conv zone maps come free from the group sort; same
        # null-conservative overlap test as ts_range
        blocks = blocks.where(
            (F.col("conv_min").isNull() | (F.col("conv_min") <= F.lit(chi)))
            & (F.col("conv_max").isNull() | (F.col("conv_max") >= F.lit(clo)))
        )
    blocks = blocks.select(*[f"{c}_blk" for c in cols])
    return blocks.mapInArrow(
        _decode_batches_cols(cols, on_error == "skip"), schema=out_schema
    )


def _decode_batches_cols(cols: list[str], skip_errors: bool = False):
    def fn(iterator):
        import pyarrow as pa

        from .codecs.arrow_blocks import decode_block_arrow
        from .schema import COLUMN_DTYPES

        for batch in iterator:
            d = batch.to_pydict()
            for i in range(batch.num_rows):
                try:
                    arrays = []
                    for col in cols:
                        arr, _codec = decode_block_arrow(bytes(d[f"{col}_blk"][i]))
                        if COLUMN_DTYPES[col] == "str":
                            arr = arr.cast(pa.string())
                        arrays.append(arr)
                    lens = {c: len(a) for c, a in zip(cols, arrays)}
                    if len(set(lens.values())) > 1:
                        raise ValueError(f"column length mismatch in block: {lens}")
                    # constructed INSIDE the try so skip mode isolates a
                    # block whose corruption only surfaces at assembly
                    rb = pa.RecordBatch.from_arrays(arrays, names=cols)
                except Exception:
                    if skip_errors:
                        continue
                    raise
                yield rb

    return fn


def corrupt_blocks(spark: SparkSession, io) -> DataFrame:
    """Diagnostic scan: try-decode every committed block and report the
    failures as (bucket, salt, chunk, column, error) rows. Distributed
    mapInArrow, one pass over the blocks table; empty result = clean."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_schema

    out_schema = pa.schema(
        [("bucket", pa.int32()), ("salt", pa.int64()), ("chunk", pa.int32()),
         ("column", pa.string()), ("error", pa.string())]
    )

    def probe(iterator):
        from .codecs.arrow_blocks import decode_block_arrow

        for batch in iterator:
            d = batch.to_pydict()
            bad = {name: [] for name in out_schema.names}
            for i in range(batch.num_rows):
                for col in ENCODED_COLUMNS:
                    try:
                        decode_block_arrow(bytes(d[f"{col}_blk"][i]))
                    except Exception as exc:  # noqa: BLE001 — diagnostic surface
                        row = (d["bucket"][i], d["salt"][i], d["chunk"][i], col, repr(exc)[:500])
                        for name, v in zip(out_schema.names, row):
                            bad[name].append(v)
            yield pa.RecordBatch.from_pydict(bad, schema=out_schema)

    blocks = ckpt.committed_blocks(io).select(
        "bucket", "salt", "chunk", *[f"{c}_blk" for c in ENCODED_COLUMNS]
    )
    return blocks.mapInArrow(probe, from_arrow_schema(out_schema))


def decode_time_slice(
    spark: SparkSession,
    io,
    lo,
    hi,
    columns: list[str] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """Exact time-window decode: zone-map block skipping + the exact
    row filter on the decoded output. At 10^12 turns a narrow window
    touches only the blocks whose [ts_min, ts_max] overlap it —
    typically a tiny fraction — instead of decoding the whole table
    and filtering."""
    from pyspark.sql import functions as F

    cols = columns
    if cols is not None and "ts" not in cols:
        cols = [*cols, "ts"]  # the exact filter needs ts; keep caller's projection after
    df = decode_table(
        spark, io, columns=cols, on_error=on_error, ts_range=(lo, hi),
        # the exact row filter below excludes null ts, so blocks proven
        # all-null by their ts_nulls stat are skipped, not decoded
        skip_all_null_ts_blocks=True,
    )
    df = df.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    if columns is not None and "ts" not in columns:
        df = df.select(*columns)
    return df


def decode_conversation(
    spark: SparkSession,
    io,
    conv_id: str,
    on_error: str = "raise",
    ts_range: tuple | None = None,
) -> DataFrame:
    """Point lookup: decode one conversation's turns.

    Uses the engine's own partitioning as an index: candidate buckets =
    {pmod(xxhash64(conv_id), nb) for every bucketing that ever wrote
    (table_meta)} → blocks scan prunes to those buckets → final row
    filter. At 10^12 turns this touches ~1/num_buckets of the table
    instead of all of it. ``ts_range=(lo, hi)`` composes the time-slice
    selector on top: ts zone maps prune further and the exact window
    filter applies to the decoded rows (CLI: --conv-id with
    --ts-from/--ts-to)."""
    from pyspark.sql import functions as F

    buckets = None
    if io.exists(ckpt.TABLE_META):
        from .schema import TABLE_META_SCHEMA

        meta = io.read(ckpt.TABLE_META, TABLE_META_SCHEMA)
        # ONE pre-decode job computes every candidate bucket AND probes
        # for visible runs missing their geometry row (a legacy-engine
        # crash between manifest and meta appends — current engine
        # writes meta first, so only old tables can be in that state):
        # left-join visible run_ids against meta and hash the literal
        # conv_id under each recorded bucketing in the same plan. A
        # null num_buckets row means some visible run has unknown
        # geometry → bucket pruning would silently miss its rows, so
        # fall back to the unpruned scan.
        vis_runs = ckpt.visible_triples(io).select("run_id").distinct()
        rows = (
            vis_runs.join(meta.select("run_id", "num_buckets"), "run_id", "left")
            .select(
                "num_buckets",
                F.pmod(F.xxhash64(F.lit(conv_id)), F.col("num_buckets"))
                .cast("int")
                .alias("b"),
            )
            .distinct()
            .collect()
        )
        if rows and all(r["num_buckets"] is not None for r in rows):
            buckets = sorted({r["b"] for r in rows})
    # tables written before table_meta existed (or with meta-less
    # visible runs) fall back to a full scan; within the candidate
    # buckets, conv zone maps prune further — only blocks whose
    # [conv_min, conv_max] covers this id decode at all
    df = decode_table(
        spark, io, buckets=buckets, on_error=on_error,
        conv_range=(conv_id, conv_id), ts_range=ts_range,
    )
    df = df.where(F.col("conv_id") == conv_id)
    if ts_range is not None:
        lo, hi = ts_range
        df = df.where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    return df
