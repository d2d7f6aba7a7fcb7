"""The encode pipeline (SURVEY.md §3.4):

    source → resume anti-join → groupBy(bucket, salt)
           → applyInPandas(sort, chunk, encode per column)
           → blocks table + manifest + metrics commit

All per-value work happens inside the grouped-map UDF on Arrow
batches (vectorized numpy codecs); Spark's shuffle does the
distribution. The manifest append is the commit point — see
checkpoint.py for the resume/visibility contract.
"""

from __future__ import annotations

import json
import time
import uuid

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import checkpoint as ckpt
from .codecs.arrow_blocks import encode_block_arrow
from .codecs.blocks import block_codec, encode_block
from .partitioning import (
    DEFAULT_SALT_ROWS,
    estimate_input_rows,
    plan_num_buckets,
    resolve_time_bucket,
    with_group_keys,
)
from .localframe import local_df
from .schema import (
    BLOCKS_STORED_SCHEMA,
    COLUMN_DTYPES,
    ENCODED_COLUMNS,
    MANIFEST_SCHEMA,
    METRICS_SCHEMA,
    TABLE_META_SCHEMA,
)

#: rows per encoded chunk — bounds Arrow batch and block sizes
DEFAULT_CHUNK_ROWS = 65_536

#: the chunk-row columns the commit reads back (binary blocks pruned)
_COMMIT_COLS = ["bucket", "salt", "chunk", "n_rows", "blk_bytes", "meta"]


def _codec_for(codec, col: str):
    """codec may be a single name ('auto', 'dict', …) or a per-column
    dict {column: name} with 'auto' fallback — the engine analog of the
    reference's per-column dtypes override (parser.py:190-192)."""
    if isinstance(codec, dict):
        return codec.get(col, "auto")
    return codec


def _encode_group_arrow_fn(run_id: str, codec, chunk_rows: int):
    """Arrow-native grouped-map UDF (applyInArrow): sorts, chunks, and
    encodes straight from pa.Array buffers — zero pandas objects. Falls
    back to an error marker row on failure (same contract as the
    pandas path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .schema import BLOCKS_STORED_SCHEMA

    out_fields = [(f.name) for f in BLOCKS_STORED_SCHEMA.fields]

    def _out_table(rows: list[dict]) -> pa.Table:
        cols = {
            "bucket": pa.array([r["bucket"] for r in rows], pa.int32()),
            "salt": pa.array([r["salt"] for r in rows], pa.int64()),
            "chunk": pa.array([r["chunk"] for r in rows], pa.int32()),
            "n_rows": pa.array([r["n_rows"] for r in rows], pa.int64()),
            **{
                f"{c}_blk": pa.array([r.get(f"{c}_blk") for r in rows], pa.binary())
                for c in ENCODED_COLUMNS
            },
            "meta": pa.array([r["meta"] for r in rows], pa.string()),
            "blk_bytes": pa.array([r["blk_bytes"] for r in rows], pa.int64()),
            # tz=UTC: the session pins spark.sql.session.timeZone=UTC
            # (session.py), and Spark's arrow verifier expects the
            # session-zoned type for TimestampType output columns
            "ts_min": pa.array([r.get("ts_min") for r in rows], pa.timestamp("us", tz="UTC")),
            "ts_max": pa.array([r.get("ts_max") for r in rows], pa.timestamp("us", tz="UTC")),
            "ts_nulls": pa.array([r.get("ts_nulls") for r in rows], pa.int64()),
            "conv_min": pa.array([r.get("conv_min") for r in rows], pa.string()),
            "conv_max": pa.array([r.get("conv_max") for r in rows], pa.string()),
            "run_id": pa.array([run_id] * len(rows), pa.string()),
        }
        return pa.table({name: cols[name] for name in out_fields})

    def encode_group(key: tuple, tbl: pa.Table) -> pa.Table:
        bucket, salt = int(key[0].as_py()), int(key[1].as_py())
        try:
            idx = pc.sort_indices(
                tbl,
                sort_keys=[("conv_id", "ascending"), ("turn_idx", "ascending")],
            )
            tbl = tbl.take(idx)
            rows = []
            n = tbl.num_rows
            for chunk_idx, start in enumerate(range(0, n, chunk_rows)):
                part = tbl.slice(start, chunk_rows)
                row: dict = {
                    "bucket": bucket,
                    "salt": salt,
                    "chunk": chunk_idx,
                    "n_rows": part.num_rows,
                }
                meta = {}
                blk_bytes = 0
                for col in ENCODED_COLUMNS:
                    arr = part.column(col).combine_chunks()
                    blob = encode_block_arrow(arr, COLUMN_DTYPES[col], _codec_for(codec, col))
                    row[f"{col}_blk"] = blob
                    meta[col] = {"codec": block_codec(blob), "bytes": len(blob)}
                    blk_bytes += len(blob)
                row["meta"] = json.dumps(meta)
                row["blk_bytes"] = blk_bytes
                # zone maps: conv bounds come free from the sort; ts needs
                # a real min/max (unsorted within a chunk). All-null ts →
                # null stats (= "unknown", conservative keep at decode)
                conv = part.column("conv_id")
                row["conv_min"] = conv[0].as_py()
                row["conv_max"] = conv[len(conv) - 1].as_py()
                mm = pc.min_max(part.column("ts"))
                row["ts_min"] = mm["min"].as_py()
                row["ts_max"] = mm["max"].as_py()
                row["ts_nulls"] = part.column("ts").null_count
                rows.append(row)
            return _out_table(rows)
        except Exception as exc:  # noqa: BLE001 — per-group error isolation
            err = {
                "bucket": bucket,
                "salt": salt,
                "chunk": -1,
                "n_rows": 0,
                "meta": json.dumps({"error": repr(exc)[:2000]}),
                "blk_bytes": 0,
            }
            return _out_table([err])

    return encode_group


def _encode_group_fn(run_id: str, codec: str, chunk_rows: int):
    """Build the grouped-map UDF. Everything below runs executor-side
    on one (bucket, salt) group at a time."""

    def encode_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bucket, salt = int(key[0]), int(key[1])
        try:
            pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="mergesort")
            out_rows = []
            n = len(pdf)
            for chunk_idx, start in enumerate(range(0, n, chunk_rows)):
                part = pdf.iloc[start : start + chunk_rows]
                row: dict = {
                    "bucket": bucket,
                    "salt": salt,
                    "chunk": chunk_idx,
                    "n_rows": len(part),
                }
                meta = {}
                blk_bytes = 0
                for col in ENCODED_COLUMNS:
                    blob = encode_block(part[col], COLUMN_DTYPES[col], _codec_for(codec, col))
                    row[f"{col}_blk"] = bytearray(blob)
                    meta[col] = {"codec": block_codec(blob), "bytes": len(blob)}
                    blk_bytes += len(blob)
                row["meta"] = json.dumps(meta)
                row["blk_bytes"] = blk_bytes
                # zone maps (see arrow path): sorted conv bounds + ts min/max
                row["conv_min"] = part["conv_id"].iloc[0]
                row["conv_max"] = part["conv_id"].iloc[-1]
                ts = part["ts"].dropna()
                row["ts_min"] = ts.min() if len(ts) else None
                row["ts_max"] = ts.max() if len(ts) else None
                row["ts_nulls"] = int(len(part) - len(ts))
                out_rows.append(row)
            out = pd.DataFrame(out_rows)
        except Exception as exc:  # noqa: BLE001 — per-group error isolation
            # the reference captures per-file errors into stats and keeps
            # going (converter.py:226-233); the distributed analog is an
            # error marker row: chunk=-1, no blocks, error in meta. The
            # commit step turns it into a status='error' manifest row, so
            # the group is retried on resume and never read by decode.
            err_row = {
                "bucket": bucket,
                "salt": salt,
                "chunk": -1,
                "n_rows": 0,
                "meta": json.dumps({"error": repr(exc)[:2000]}),
                "blk_bytes": 0,
                "ts_min": None,
                "ts_max": None,
                "ts_nulls": None,
                "conv_min": None,
                "conv_max": None,
            }
            for col in ENCODED_COLUMNS:
                err_row[f"{col}_blk"] = None
            out = pd.DataFrame([err_row])
        out["run_id"] = run_id
        return out

    return encode_group


def _commit_rows(chunks, phys_run_id: str):
    """Manifest rows, metrics rows and the summary of one attempt, from
    its chunk rows (a pyarrow Table of ``_COMMIT_COLS``).

    Per (bucket, salt) group, the manifest row counts EVERY chunk row
    (an error marker, chunk -1, included), sums rows and block bytes,
    and is status 'error' when the group holds an error marker, else
    'done' (error groups stay pending — retried on resume — and are
    never visible to decode: reference O2 error isolation). Per (group, column), the metrics row takes the max codec
    name and the summed bytes over the group's real chunks (chunk >= 0)
    from the chunk's meta JSON. The summary totals the done groups;
    ``chunks`` is their block count.

    Driver memory: one small row per chunk — about one per group at the
    default chunk_rows = salt_rows — the same order as the manifest
    rows themselves, i.e. metadata (see localframe.py)."""
    groups: dict = {}
    columns: dict = {}
    cols = (chunks.column(c).to_pylist() for c in _COMMIT_COLS)
    for bucket, salt, chunk, n_rows, blk_bytes, meta in zip(*cols):
        g = groups.setdefault((bucket, salt), [0, 0, 0, False])
        g[0] += 1
        g[1] += n_rows
        g[2] += blk_bytes or 0
        if chunk < 0:
            g[3] = True
            continue
        for col, cm in json.loads(meta).items():
            m = columns.setdefault((bucket, salt, col), [cm["codec"], 0])
            m[0] = max(m[0], cm["codec"])
            m[1] += cm["bytes"]
    manifest_rows = [
        (phys_run_id, b, s, n, r, nb, "error" if err else "done")
        for (b, s), (n, r, nb, err) in groups.items()
    ]
    metrics_rows = [
        (phys_run_id, b, s, col, codec, nb) for (b, s, col), (codec, nb) in columns.items()
    ]
    done = [g for g in groups.values() if not g[3]]
    summary = {
        "groups": len(done),
        "errors": len(groups) - len(done),
        "rows": sum(g[1] for g in done),
        "encoded_bytes": sum(g[2] for g in done),
        "chunks": sum(g[0] for g in done),
    }
    return manifest_rows, metrics_rows, summary


def encode_table(
    spark: SparkSession,
    df: DataFrame,
    io,
    run_id: str | None = None,
    codec: str | dict = "auto",
    salt_rows: int = DEFAULT_SALT_ROWS,
    chunk_rows: int = DEFAULT_CHUNK_ROWS,
    num_buckets: int | None = None,
    resume: bool = True,
    max_groups: int | None = None,
    resume_scope: str = "global",
    arrow_native: bool = True,
    time_bucket=None,
    retire_triples: DataFrame | None = None,
) -> dict:
    """Encode a transcript DataFrame into the blocks table at ``io``.

    ``time_bucket`` ('hour'/'day'/'week' or seconds) opts into
    TIME-CLUSTERED encode: the event-time window index folds into the
    salt key, so each block covers one window and its ts zone maps
    become tight — ``decode_time_slice`` then prunes blocks on batch
    tables, not just streaming-epoch ones. Like ``salt_rows``, a
    resumed run must pass the SAME value or the group keys won't line
    up with the committed manifest.

    ``retire_triples`` — a (bucket, salt, run_id) frame of OLD triples
    this encode SUPERSEDES (compaction / retention rewrites,
    maintenance.py). Their 'retired' manifest rows ride in the SAME
    append as this run's 'done' rows, so the swap shares the one
    commit point: readers see either the old blocks (commit absent) or
    the new blocks only (commit present), never both.

    Returns a summary dict (groups encoded, groups errored, rows,
    encoded bytes, blocks written).
    ``max_groups`` bounds how many pending groups this invocation
    commits — used by the kill/resume test and usable as incremental
    batch commit on a real cluster. ``resume_scope='run'`` restricts
    the resume anti-join to THIS run_id's prior commits (streaming
    epochs: each epoch is a new data increment whose groups must not be
    suppressed by earlier epochs, but an epoch REPLAY must still skip
    its own committed groups).

    Commit identity: ``run_id`` is the LOGICAL id (what callers pass
    and resume scopes match on, by prefix); every invocation stamps a
    unique physical id ``{run_id}~{attempt}`` into blocks/manifest/
    metrics/table_meta. This makes the commit replay-safe: a crash
    between the blocks append and the manifest append leaves orphan
    blocks under an attempt id that never gets a manifest row — the
    replay re-encodes under a NEW attempt id, so the orphans stay
    invisible to ``committed_blocks`` forever instead of becoming
    duplicate decoded rows; and a benign rerun of a fully-committed
    run_id appends nothing (the manifest is derived only from rows
    carrying this invocation's attempt id).
    """
    if run_id is not None and "~" in run_id:
        raise ValueError("run_id must not contain '~' (reserved attempt separator)")
    run_id = run_id or f"run_{int(time.time() * 1000):x}"
    phys_run_id = f"{run_id}~{uuid.uuid4().hex[:8]}"
    tb_secs = resolve_time_bucket(time_bucket)
    span = None
    if num_buckets is None and resume:
        # geometry reuse: a prior attempt of this logical run already
        # recorded its num_buckets under identical grouping params —
        # resume MUST key groups identically anyway, and reusing skips
        # every planning scan (row estimate + ts span)
        num_buckets = ckpt.prior_geometry(io, run_id, salt_rows, chunk_rows, tb_secs)
    if num_buckets is None:
        # planning estimate only — never a full scan of a non-parquet
        # source (estimate_input_rows: parquet metadata count, else
        # bytes/avg-line-length)
        n_rows = estimate_input_rows(spark, df)
        parallelism = spark.sparkContext.defaultParallelism
        if tb_secs is not None:
            # time clustering multiplies group count by the window
            # count, so auto-planning must target ≈salt_rows rows per
            # (bucket, window) or groups collapse to slivers. The
            # window count needs the ts span — parquet FOOTER stats
            # when available (O(files) metadata, zero data read), else
            # ONE map-side min/max over the pruned ts column (the
            # single data pre-read in planning; pass num_buckets
            # explicitly to skip both).
            from .partitioning import ts_span_from_footers

            span = ts_span_from_footers(df.inputFiles())
            if span is None:
                b = df.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).collect()[0]
                span = (b["lo"], b["hi"]) if b["lo"] is not None else None
            n_windows = 1
            if span is not None:
                n_windows = max(1, int((span[1] - span[0]).total_seconds() // tb_secs) + 1)
            rows_per_window = n_rows // n_windows
            if n_windows > 1 and rows_per_window < salt_rows:
                import logging

                logging.getLogger("parquet_converter_spark").warning(
                    "time_bucket=%ss yields ~%d rows/window (< salt_rows=%d): "
                    "groups shatter into slivers, hurting compression and task "
                    "overhead — widen the window so rows/window >> salt_rows",
                    tb_secs, rows_per_window, salt_rows,
                )
            from .partitioning import plan_tb_num_buckets

            num_buckets = plan_tb_num_buckets(
                n_rows, n_windows, salt_rows, parallelism
            )
        else:
            num_buckets = plan_num_buckets(n_rows, salt_rows, parallelism)

    keyed = with_group_keys(df, num_buckets, salt_rows, time_bucket=tb_secs)

    # fresh-run fast path: nothing committed (in scope) and no group cap
    # → skip the full-table distinct + semi-join entirely (saves one
    # complete aggregate job over the input on every first run). The
    # manifest-exists probe is a filesystem check, so a fresh TABLE
    # skips even the empty-manifest scan job.
    scope_run = run_id if resume_scope == "run" else None
    already = (
        resume
        and io.exists(ckpt.MANIFEST)
        and ckpt.completed_groups(io, scope_run).limit(1).count() > 0
    )
    if not already and max_groups is None:
        todo = keyed
    else:
        planned = keyed.select("bucket", "salt").distinct()
        pending = ckpt.pending_groups(io, planned, scope_run) if resume else planned
        if max_groups is not None:
            pending = pending.orderBy("bucket", "salt").limit(max_groups)
        # the pending-group list is one row per ~salt_rows input rows —
        # tiny in most resumes, but at 10^12 turns a cold restart has
        # ~15M groups (~300MB), past safe broadcast size. Hint broadcast
        # only when it provably fits; otherwise let Catalyst/AQE pick
        # (shuffled hash join on the already-shuffle-bound keys).
        if pending.limit(2_000_001).count() <= 2_000_000:
            pending = F.broadcast(pending)
        todo = keyed.join(pending, ["bucket", "salt"], "left_semi")

    grouped = todo.groupBy("bucket", "salt")
    if arrow_native:
        blocks = grouped.applyInArrow(
            _encode_group_arrow_fn(phys_run_id, codec, chunk_rows),
            schema=BLOCKS_STORED_SCHEMA,
        )
    else:
        blocks = grouped.applyInPandas(
            _encode_group_fn(phys_run_id, codec, chunk_rows), schema=BLOCKS_STORED_SCHEMA
        )
    io.append(blocks, ckpt.BLOCKS, compression="uncompressed")

    # ---- commit: ONE column-pruned scan reads back this attempt's chunk
    # rows (blk_bytes and meta were computed inside the UDF, so no
    # binary block column is read); the manifest, metrics, maintenance
    # error check and summary are then bookkeeping on the driver.
    # Attempt-scoped: only THIS invocation's rows, never a prior
    # same-run_id attempt's (replay-safety — see docstring).
    chunks = (
        io.read(ckpt.BLOCKS, BLOCKS_STORED_SCHEMA)
        .where(F.col("run_id") == phys_run_id)
        .select(*_COMMIT_COLS)
        .toArrow()
    )
    manifest_rows, metrics_rows, summary = _commit_rows(chunks, phys_run_id)
    if retire_triples is not None and summary["errors"]:
        # maintenance rewrites are ALL-OR-NOTHING: if any group's
        # re-encode errored, commit NOTHING — appending the retire rows
        # would permanently hide the error groups' source data (data
        # loss), and appending only the done rows would double the
        # successful groups. Aborting leaves the new blocks as
        # manifest-less orphans (invisible; vacuum reclaims them) and
        # the old table untouched — the same guarantee as any crash
        # before the commit point.
        raise RuntimeError(
            "maintenance re-encode hit per-group errors; commit aborted — "
            "old triples remain visible, new blocks are orphaned "
            "(reclaimable via vacuum). Fix the cause and re-run."
        )

    # table metadata: partitioning parameters decoders need for
    # selective reads (bucket pruning / conv_id point lookup) and
    # resumes reuse as planned geometry (prior_geometry). One row per
    # attempt — epochs/resumes may plan different bucket counts, and a
    # pruning reader must consider every bucketing that ever wrote.
    # Appended BEFORE the manifest commit: a crash between the two
    # appends must leave at worst an orphan meta row for an invisible
    # run (harmless — it only widens the candidate bucket set), never
    # a VISIBLE run without its geometry, which would make
    # decode_conversation's bucket pruning miss its rows forever.
    ts_lo, ts_hi = span if span is not None else (None, None)
    meta_df = local_df(
        spark,
        [
            (
                phys_run_id,
                int(num_buckets),
                int(salt_rows),
                int(chunk_rows),
                1,
                tb_secs,
                ts_lo,
                ts_hi,
            )
        ],
        TABLE_META_SCHEMA,
    )
    io.append(meta_df, ckpt.TABLE_META, compression="snappy")

    # every commit is ONE part file written by one task: an n-row local
    # frame would otherwise write min(n, defaultParallelism) files, and
    # each extra manifest file costs every later read. A benign rerun
    # that wrote no chunk rows appends nothing.
    if manifest_rows or retire_triples is not None:
        manifest = local_df(spark, manifest_rows, MANIFEST_SCHEMA)
        if retire_triples is not None:
            # the superseded triples' 'retired' rows ride in the SAME
            # file as this run's 'done' rows: the swap is one commit
            manifest = manifest.unionByName(ckpt.retire_rows(retire_triples))
        io.append(manifest.coalesce(1), ckpt.MANIFEST, compression="snappy")
    if metrics_rows:
        io.append(
            local_df(spark, metrics_rows, METRICS_SCHEMA).coalesce(1),
            ckpt.METRICS,
            compression="snappy",
        )
    return {
        "run_id": run_id,
        "physical_run_id": phys_run_id,
        **summary,
        "num_buckets": num_buckets,
    }
