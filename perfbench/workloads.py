"""The benchmark's workloads, driven through the engine's public API.

Both workloads run the same user-visible operations, so both report
every end-to-end metric; they differ in the shape of the table those
operations meet:

* ``bulk`` — one hash-bucketed batch ``encode_table`` of a large table,
  a full ``decode_table``, ``verify_decode_digest``, a
  maintenance pass that finds almost nothing to compact, then slices
  and lookups that zone maps cannot prune (hash buckets mix all times).
* ``ingest_read`` — the same kind of table landed as time-ordered files
  and ingested by ``stream_encode`` (one file per epoch), read once,
  compacted (time-bucketed) and vacuumed, read in a loop, decoded and
  verified.

Every read is checked against the generated input (row count and an
order-insensitive row digest); a mismatch or an exception counts as a
failed operation.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import spans as tr

SALT_ROWS = 32_768  # bench.py's engine section uses the same grouping
CHUNK_ROWS = 32_768
SLICE_FRAC = 0.05
NOTEXT = ["conv_id", "turn_idx", "role", "tool", "ts"]
SENTINEL_TS = np.iinfo(np.int64).min


# ---------------------------------------------------------------------------
# helpers


def rows_digest(pdf: pd.DataFrame) -> tuple[int, int]:
    """(rows, order-insensitive digest) of a transcript frame."""
    if len(pdf) == 0:
        return 0, 0
    norm = pd.DataFrame({
        "conv_id": pdf["conv_id"].astype(object),
        "turn_idx": pdf["turn_idx"].astype(np.int64),
        "role": pdf["role"].astype(object),
        "text": pdf["text"].astype(object),
        "tool": pdf["tool"].astype(object),
        "ts": _ts_int(pdf["ts"]),
    })
    h = pd.util.hash_pandas_object(norm, index=False).to_numpy(np.uint64)
    return len(pdf), int(h.sum(dtype=np.uint64))


def _ts_int(s: pd.Series) -> np.ndarray:
    s = pd.to_datetime(s)
    if getattr(s.dt, "tz", None) is not None:
        s = s.dt.tz_convert("UTC").dt.tz_localize(None)
    vals = s.astype("datetime64[us]")
    out = vals.to_numpy().astype(np.int64)
    out[vals.isna().to_numpy()] = SENTINEL_TS
    return out


def arrow_frame(tbl: pa.Table) -> pd.DataFrame:
    return tbl.to_pandas(timestamp_as_object=False, coerce_temporal_nanoseconds=False)


def tail_stat(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; below 20 samples there is none above the median,
    so the p90 (linear interpolation) is reported instead."""
    v = sorted(values)
    n = len(v)
    q = 1.0 - 10.0 / n if n >= 20 else 0.9
    return q * 100, float(np.quantile(v, q))


def dir_stats(path: str) -> tuple[int, int]:
    total = files = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(dp, f))
            files += 1
    return total, files


def _import_engine(batches):
    import parquet_converter_spark.decode_job  # noqa: F401
    import parquet_converter_spark.encode_job  # noqa: F401
    import parquet_converter_spark.maintenance  # noqa: F401
    import parquet_converter_spark.verify  # noqa: F401

    yield from batches


class Run:
    """State shared by one benchmark run: session, tracer, checks."""

    def __init__(self, args, work: str, cpus: int):
        self.args = args
        self.work = work
        self.cpus = cpus
        self.tracer = tr.Tracer(args.trace, cpus)
        self.last: dict = {}  # span of the latest call()
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.info: dict = {"cpus": cpus, "wall": {}}

    # -- session --------------------------------------------------------------

    def start_session(self):
        from parquet_converter_spark.session import get_spark

        self.spark = get_spark(app="perfbench", master=f"local[{self.cpus}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext

    def stop_session(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.tracer.sc = None

    def setup(self, prepare, reps: int = 3) -> None:
        """Set up ``reps`` times (session start, a first trivial job, the
        workload's preparation), keeping the last session, then warm up
        once: one task per core starts a Python worker and imports the
        engine's modules, so no timed call pays for worker start.
        ``setup_s`` = median set-up + warm-up."""
        totals, starts = [], []
        for i in range(reps):
            if i:
                self.stop_session()
            t0 = time.perf_counter()
            self.start_session()
            starts.append(time.perf_counter() - t0)
            self.spark.range(1).count()
            prepare()
            totals.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.spark.range(0, self.cpus, numPartitions=self.cpus).mapInArrow(
            _import_engine, "id long").count()
        warm = time.perf_counter() - t0
        self.e2e["setup_s"] = statistics.median(totals) + warm
        self.layer["session.start_s"] = statistics.median(starts)
        self.info["setup_reps_s"] = totals
        self.info["warmup_s"] = warm

    # -- checks ---------------------------------------------------------------

    def call(self, name: str, fn, *a, **kw):
        """One public engine call inside a span; exceptions count as a
        failed operation and propagate."""
        self.attempted += 1
        with self.tracer.span(name) as sp:
            self.last = sp
            try:
                return fn(*a, **kw)
            except Exception:
                self.failed += 1
                self.failures.append(f"{name}: raised")
                sp["error"] = True
                raise

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.failures.append(what)


# ---------------------------------------------------------------------------
# shared read path


class Reads:
    """Seeded slice windows and lookup ids plus their reference answers."""

    def __init__(self, run: Run, pdf: pd.DataFrame, longest: str):
        rng = np.random.default_rng(run.args.seed + 7919)
        ts = pdf["ts"].dropna()
        self.lo, self.hi = ts.min().to_pydatetime(), ts.max().to_pydatetime()
        span = self.hi - self.lo
        self.width = span * SLICE_FRAC
        self.windows = []
        for f in rng.uniform(0.0, 1.0 - SLICE_FRAC, 64):
            lo = self.lo + span * float(f)
            lo = lo.replace(microsecond=0)
            self.windows.append((lo, lo + self.width))
        convs = pd.unique(pdf["conv_id"])
        picks = [longest] + [str(c) for c in rng.choice(convs, 63, replace=True)]
        self.convs = picks
        self.ts_int = _ts_int(pdf["ts"])
        self.pdf = pdf
        self.by_conv = pdf.groupby("conv_id", sort=False).indices
        self._ref: dict = {}

    def slice_ref(self, i: int) -> tuple[int, int]:
        key = ("s", i)
        if key not in self._ref:
            lo, hi = self.windows[i]
            lo_i = np.datetime64(lo, "us").astype(np.int64)
            hi_i = np.datetime64(hi, "us").astype(np.int64)
            m = (self.ts_int >= lo_i) & (self.ts_int <= hi_i)
            self._ref[key] = rows_digest(self.pdf[m])
        return self._ref[key]

    def lookup_ref(self, i: int) -> tuple[int, int]:
        key = ("l", i)
        if key not in self._ref:
            self._ref[key] = rows_digest(self.pdf.iloc[self.by_conv[self.convs[i]]])
        return self._ref[key]


def read_loop(run: Run, io, reads: Reads, budget_s: float, tag: str, min_each: int = 4):
    """Closed loop, one client: alternate a slice and a lookup until
    ``budget_s`` has passed and each kind has ``min_each`` samples.
    Returns (slice spans, lookup spans, per-call results)."""
    from parquet_converter_spark.decode_job import decode_conversation, decode_time_slice

    spark = run.spark
    s_lat, l_lat, results = [], [], []
    t_end = time.perf_counter() + budget_s
    i = 0
    while i < len(reads.windows) and (
        time.perf_counter() < t_end or len(s_lat) < min_each or len(l_lat) < min_each
    ):
        lo, hi = reads.windows[i]
        tbl = run.call("decode_job.decode_time_slice",
                       lambda: decode_time_slice(spark, io, lo, hi).toArrow())
        s_lat.append(run.last)
        got = rows_digest(arrow_frame(tbl))
        run.check(got == reads.slice_ref(i), f"{tag} slice {i}: {got} != {reads.slice_ref(i)}")
        results.append(("s", i, got, run.last.get("jobs", 0)))

        cid = reads.convs[i]
        tbl = run.call("decode_job.decode_conversation",
                       lambda: decode_conversation(spark, io, cid).toArrow())
        l_lat.append(run.last)
        got = rows_digest(arrow_frame(tbl))
        run.check(got == reads.lookup_ref(i), f"{tag} lookup {cid}: {got} != {reads.lookup_ref(i)}")
        results.append(("l", i, got, run.last.get("jobs", 0)))
        i += 1
    return s_lat, l_lat, results


def block_stats(run: Run, io) -> pd.DataFrame:
    from parquet_converter_spark import checkpoint as ckpt

    return (
        ckpt.committed_blocks(io)
        .select("n_rows", "ts_min", "ts_max", "ts_nulls", "conv_min", "conv_max")
        .toPandas()
    )


def read_layers(run: Run, b: pd.DataFrame | None, reads: Reads, results, suffix: str) -> None:
    """Blocks touched and decode amplification of the loop's reads,
    computed from the committed zone maps ``b`` (the predicates the
    engine prunes with), plus Spark jobs per call (traced run only)."""
    if b is None:
        return
    tmin = _ts_int(b["ts_min"])
    tmax = _ts_int(b["ts_max"])
    nulls_all = (b["ts_nulls"] == b["n_rows"]).to_numpy()
    touched, decoded, returned, l_touched, s_jobs, l_jobs = [], 0, 0, [], [], []
    for kind, i, got, jobs in results:
        if kind == "s":
            lo, hi = (np.datetime64(x, "us").astype(np.int64) for x in reads.windows[i])
            unk_lo, unk_hi = tmin == SENTINEL_TS, tmax == SENTINEL_TS
            m = (unk_lo | (tmin <= hi)) & (unk_hi | (tmax >= lo)) & ~nulls_all
            touched.append(int(m.sum()))
            decoded += int(b["n_rows"][m].sum())
            returned += got[0]
            s_jobs.append(jobs)
        else:
            cid = reads.convs[i]
            m = (b["conv_min"] <= cid) & (b["conv_max"] >= cid)
            l_touched.append(int(m.sum()))
            l_jobs.append(jobs)
    run.layer[f"decode_job.slice_blocks_touched.{suffix}"] = statistics.median(touched)
    run.layer[f"decode_job.slice_rows_decoded_per_row_returned.{suffix}"] = decoded / max(returned, 1)
    run.layer[f"decode_job.lookup_blocks_touched.{suffix}"] = statistics.median(l_touched)
    run.layer[f"decode_job.jobs_per_slice.{suffix}"] = statistics.median(s_jobs)
    run.layer[f"decode_job.jobs_per_lookup.{suffix}"] = statistics.median(l_jobs)
    run.info[f"blocks.{suffix}"] = int(len(b))


def latency_metrics(run: Run, s_spans, l_spans) -> None:
    for kind, spans in (("slice", s_spans), ("lookup", l_spans)):
        adj = [s["adj"] for s in spans]
        run.e2e[f"{kind}_p50_s"] = statistics.median(adj)
        run.info["wall"][f"{kind}_p50_s"] = statistics.median(s["dur"] for s in spans)
        q, v = tail_stat(adj)
        run.info[f"{kind}_tail"] = {"percentile": q, "value_s": v, "samples": len(adj)}


def maintain(run: Run, io, reads: Reads, n_rows: int) -> None:
    from parquet_converter_spark.maintenance import compact_blocks, vacuum_blocks
    from parquet_converter_spark.partitioning import plan_compact_time_bucket

    span_s = (reads.hi - reads.lo).total_seconds()
    window = plan_compact_time_bucket(
        span_s, n_rows, chunk_rows=CHUNK_ROWS,
        slice_secs=reads.width.total_seconds(), max_touch_frac=0.10,
    )
    bdir = io.path("blocks")
    before, _ = dir_stats(bdir)
    cres = run.call("maintenance.compact_blocks", compact_blocks, run.spark, io,
                    min_fill=0.5, chunk_rows=CHUNK_ROWS, salt_rows=SALT_ROWS,
                    time_bucket=window)
    compact = run.last
    mid, _ = dir_stats(bdir)
    vres = run.call("maintenance.vacuum_blocks", vacuum_blocks, run.spark, io)
    vacuum = run.last
    after, _ = dir_stats(bdir)
    run.e2e["maintain_s"] = compact["adj"] + vacuum["adj"]
    run.info["wall"]["maintain_s"] = compact["dur"] + vacuum["dur"]
    run.layer["maintenance.compact_s"] = compact["dur"]
    run.layer["maintenance.vacuum_s"] = vacuum["dur"]
    run.layer["maintenance.blocks_before"] = cres["blocks_before"]
    run.layer["maintenance.blocks_after"] = cres["blocks_after"]
    # compaction appends (mid - before); a vacuum that found dead rows
    # rewrites every visible block (after)
    vacuumed = after if vres["rows_kept"] >= 0 else 0
    run.layer["maintenance.rewrite_bytes_per_user_byte"] = (
        (mid - before) + vacuumed) / max(before, 1)
    run.info["compact"] = {k: cres.get(k) for k in ("compacted_groups", "rows", "skipped")}
    run.info["compact_window_s"] = window


def notext_layer(run: Run, io) -> None:
    """A decode that skips ``text`` (traced run): the share of decode
    the text column's blocks cost."""
    from parquet_converter_spark.decode_job import decode_table

    if not run.args.trace:
        return
    with run.tracer.span("decode_job.decode_table") as sp:
        decode_table(run.spark, io, columns=NOTEXT).write.format("noop").mode("overwrite").save()
    run.layer["decode_job.notext_s"] = sp["dur"]


def checkpoint_layers(run: Run, io) -> None:
    from parquet_converter_spark import checkpoint as ckpt

    if not run.args.trace:
        return
    with run.tracer.span("checkpoint.committed_blocks") as sp:
        ckpt.committed_blocks(io).count()
    run.layer["checkpoint.committed_blocks_s"] = sp["dur"]
    with run.tracer.span("checkpoint.completed_groups") as sp:
        ckpt.completed_groups(io).limit(1).count()
    run.layer["checkpoint.resume_probe_s"] = sp["dur"]
    run.layer["checkpoint.manifest_rows"] = ckpt.read_manifest(io).count()


def table_layers(run: Run, root: str, turns: int) -> None:
    size, files = dir_stats(root)
    run.layer["tableio.dir_bytes_per_turn"] = size / turns
    run.layer["tableio.files"] = files


def encoded_bytes(run: Run, io, turns: int) -> None:
    """Table-wide encoded bytes and codec lineage from the METRICS table."""
    from pyspark.sql import functions as F

    from parquet_converter_spark import checkpoint as ckpt

    vis = ckpt.visible_triples(io).select("bucket", "salt", "run_id")
    m = (
        io.read(ckpt.METRICS)
        .join(vis, ["bucket", "salt", "run_id"], "left_semi")
        .groupBy("column", "codec")
        .agg(F.sum("encoded_bytes").alias("b"), F.count("*").alias("groups"))
        .toPandas()
    )
    run.info["num_buckets"] = sorted(
        int(r[0]) for r in io.read(ckpt.TABLE_META).select("num_buckets").distinct().collect())
    run.info["groups"] = vis.count()
    total = int(m["b"].sum())
    run.e2e["encoded_bytes_per_turn"] = total / turns
    codecs = {}
    for col, g in m.groupby("column"):
        run.layer[f"codecs.bytes_per_turn.{col}"] = float(g["b"].sum()) / turns
        codecs[col] = {r.codec: int(r.groups) for r in g.itertuples()}
    run.info["codecs"] = codecs
    run.info["encoded_bytes"] = total


def decode_and_verify(run: Run, io, df, turns: int, reps: int = 3) -> None:
    """Full decode into ``noop`` and ``verify_decode_digest``, ``reps``
    times each; the medians are reported (the first call of each also
    pays JIT compilation, and a single ~2 s call is at the mercy of
    one scheduling hiccup)."""
    from parquet_converter_spark.decode_job import decode_table
    from parquet_converter_spark.verify import verify_decode_digest

    spark = run.spark
    full, verify = [], []
    for _ in range(reps):
        run.call("decode_job.decode_table",
                 lambda: decode_table(spark, io).write.format("noop").mode("overwrite").save())
        full.append(run.last)
    for _ in range(reps):
        res = run.call("verify.verify_decode_digest",
                       lambda: verify_decode_digest(decode_table(spark, io), df))
        verify.append(run.last)
        run.check(bool(res.get("ok")), f"verify_decode_digest: {res}")
    for metric, spans in (("decode_turns_per_s", full), ("verify_turns_per_s", verify)):
        run.e2e[metric] = turns / statistics.median(s["adj"] for s in spans)
        run.info["wall"][metric] = turns / statistics.median(s["dur"] for s in spans)
    t_full = statistics.median(s["dur"] for s in full)
    t_verify = statistics.median(s["dur"] for s in verify)
    run.layer["decode_job.full_s"] = t_full
    run.layer["verify.digest_s"] = t_verify
    run.layer["verify.overhead_s"] = t_verify - t_full


# ---------------------------------------------------------------------------
# encode-path layers (traced run)


def encode_layers(run: Run, df, num_buckets: int) -> None:
    """Planning, grouping skew, shuffle and UDF-boundary costs of the
    batch encode, each measured by its own call outside the timed path."""
    from parquet_converter_spark.partitioning import estimate_input_rows, with_group_keys

    if not run.args.trace:
        return
    spark = run.spark
    with run.tracer.span("partitioning.estimate_input_rows") as sp:
        estimate_input_rows(spark, df)
    run.layer["partitioning.estimate_rows_s"] = sp["dur"]
    keyed = with_group_keys(df, num_buckets, SALT_ROWS)
    sizes = keyed.groupBy("bucket", "salt").count().toPandas()["count"].to_numpy()
    run.layer["partitioning.group_rows_max_over_median"] = float(sizes.max() / np.median(sizes))
    with run.tracer.span("partitioning.shuffle") as sp:
        keyed.repartition("bucket", "salt").write.format("noop").mode("overwrite").save()
    run.layer["partitioning.shuffle_s"] = sp["dur"]

    def empty(key, tbl):
        return pa.table({"bucket": pa.array([], pa.int32())})

    with run.tracer.span("encode_job.udf_boundary") as sp:
        (keyed.groupBy("bucket", "salt").applyInArrow(empty, schema="bucket int")
         .write.format("noop").mode("overwrite").save())
    run.layer["encode_job.udf_boundary_s"] = sp["dur"]


def _is_udf_stage(rdds: list[str]) -> bool:
    return any("FlatMapGroupsInArrow" in r or "FlatMapGroupsInPandas" in r for r in rdds)


def encode_job_layers(run: Run, jobs: list[dict], turns: int) -> None:
    """Split encode wall into the UDF stage and the commit tail, from
    the event-log jobs under the encode (or ingest) span. The commit
    tail of one encode (one streaming micro-batch) runs from the end of
    its UDF job to the end of its last job: the blocks append's commit,
    manifest, metrics and table_meta."""
    task_s, walls, tail = 0.0, [], 0.0
    batches: dict = {}
    for j in sorted(jobs, key=lambda j: j["submit"]):
        batches.setdefault(j["batch"], []).append(j)
    for group in batches.values():
        udf_end = None
        for j in group:
            udf_stages = [s for s, r in j["stage_rdds"].items() if _is_udf_stage(r)]
            for s in udf_stages:
                for w, _ in j.get("task_walls", {}).get(s, []):
                    task_s += w
                    walls.append(w)
            if udf_stages:
                udf_end = j["end"] or j["submit"]
        if udf_end is not None:
            tail += max((j["end"] or j["submit"]) for j in group) - udf_end
    run.layer["encode_job.udf_task_s"] = task_s
    run.layer["encode_job.udf_task_max_over_median"] = (
        max(walls) / statistics.median(walls) if walls else 0.0)
    run.layer["encode_job.commit_tail_s"] = tail
    run.layer["encode_job.shuffle_write_bytes_per_turn"] = (
        sum(j["shuffle_write"] for j in jobs) / turns)
    run.layer["encode_job.spill_bytes"] = sum(j["spill"] for j in jobs)


def codec_layers(run: Run, df, num_buckets: int) -> None:
    """Single-thread driver calls of the codec kernels on one seeded
    group of the input (one ``CHUNK_ROWS`` block per column)."""
    from pyspark.sql import functions as F

    from parquet_converter_spark.codecs import choose_codec
    from parquet_converter_spark.codecs.arrow_blocks import decode_block_arrow, encode_block_arrow
    from parquet_converter_spark.partitioning import with_group_keys
    from parquet_converter_spark.schema import COLUMN_DTYPES

    if not run.args.trace:
        return
    bucket = run.args.seed % num_buckets
    tbl = (
        with_group_keys(df, num_buckets, SALT_ROWS)
        .where((F.col("bucket") == bucket) & (F.col("salt") == 0))
        .drop("bucket", "salt")
        .orderBy("conv_id", "turn_idx")
        .limit(CHUNK_ROWS)
        .toArrow()
    )
    n = tbl.num_rows
    for col, dtype in COLUMN_DTYPES.items():
        arr = tbl.column(col).combine_chunks()
        canon = _canonical(arr, dtype)
        sel = _median_time(lambda: choose_codec(canon, dtype))
        codec = choose_codec(canon, dtype)
        blob = encode_block_arrow(arr, dtype, codec)
        enc = _median_time(lambda: encode_block_arrow(arr, dtype, codec))
        dec = _median_time(lambda: decode_block_arrow(blob))
        raw = arr.nbytes / 1e6
        run.layer[f"codecs.encode_mb_s.{col}"] = raw / enc
        run.layer[f"codecs.decode_mb_s.{col}"] = raw / dec
        run.layer[f"codecs.select_ms.{col}"] = sel * 1000.0
        run.info.setdefault("codec_group", {})[col] = {
            "codec": codec, "rows": n, "raw_bytes": arr.nbytes, "bytes": len(blob)}


def _canonical(arr: pa.Array, dtype: str):
    """The selector's input form: non-null values as int64, or
    (lengths, utf-8 bytes) for strings."""
    nn = arr.drop_null()
    if dtype == "str":
        nn = nn.cast(pa.large_string())
        off = np.frombuffer(nn.buffers()[1], dtype=np.int64)[nn.offset: nn.offset + len(nn) + 1]
        data = nn.buffers()[2].to_pybytes()[off[0]: off[-1]] if nn.buffers()[2] else b""
        return np.diff(off).astype(np.int64), data
    return nn.cast(pa.int64()).to_numpy(zero_copy_only=False).astype(np.int64)


def _median_time(fn, reps: int = 5) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


# ---------------------------------------------------------------------------
# workloads


def _setup(run: Run, meta: dict):
    """Load the reference rows, set the session up (preparation = read
    and count the input) and return (reference frame, input frame)."""
    from parquet_converter_spark.schema import TRANSCRIPT_SCHEMA

    pdf = arrow_frame(pq.read_table(meta["dir"]))
    state: dict = {}

    def prepare():
        state["df"] = run.spark.read.schema(TRANSCRIPT_SCHEMA).parquet(meta["dir"])
        state["df"].count()

    run.setup(prepare)
    return pdf, state["df"]


def bulk(run: Run, meta: dict) -> None:
    from parquet_converter_spark.encode_job import encode_table
    from parquet_converter_spark.tableio import ParquetDirTableIO

    pdf, df = _setup(run, meta)
    turns = meta["turns"]
    reads = Reads(run, pdf, meta["longest_conv"])
    root = os.path.join(run.work, "bulk_table")
    shutil.rmtree(root, ignore_errors=True)
    io = ParquetDirTableIO(run.spark, root)

    with run.tracer.span("bench.bulk") as phase:
        summary = run.call("encode_job.encode_table", encode_table, run.spark, df, io,
                           run_id="bulk", salt_rows=SALT_ROWS)
        enc = run.last
        decode_and_verify(run, io, df, turns)
        # bulk reads once, after its maintenance pass: its "pre" and
        # "post" read layers describe the same reads
        maintain(run, io, reads, turns)
        s_lat, l_lat, results = read_loop(run, io, reads, run.args.seconds, "bulk")
        table_layers(run, root, turns)
    run.phase_id = phase["id"]
    run.check(summary["rows"] == turns and summary["errors"] == 0, f"encode summary {summary}")
    run.e2e["encode_turns_per_s"] = turns / enc["adj"]
    run.info["wall"]["encode_turns_per_s"] = turns / enc["dur"]
    latency_metrics(run, s_lat, l_lat)
    run.layer["encode_job.encode_table_s"] = enc["dur"]
    run.layer["partitioning.num_buckets"] = summary["num_buckets"]
    run.layer["partitioning.groups"] = summary["groups"]
    encoded_bytes(run, io, turns)
    b = block_stats(run, io) if run.args.trace else None
    read_layers(run, b, reads, results, "pre")
    read_layers(run, b, reads, results, "post")
    checkpoint_layers(run, io)
    notext_layer(run, io)
    encode_layers(run, df, summary["num_buckets"])
    codec_layers(run, df, summary["num_buckets"])
    run.encode_span_names = ("encode_job.encode_table",)
    run.turns = turns


def ingest_read(run: Run, meta: dict) -> None:
    from parquet_converter_spark.streaming.ingest import stream_encode
    from parquet_converter_spark.tableio import ParquetDirTableIO

    pdf, df = _setup(run, meta)
    turns = meta["turns"]
    reads = Reads(run, pdf, meta["longest_conv"])
    root = os.path.join(run.work, "ingest_table")
    ckpt_dir = os.path.join(run.work, "ingest_ckpt")
    for d in (root, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)
    io = ParquetDirTableIO(run.spark, root)

    with run.tracer.span("bench.ingest_read") as phase:
        def ingest():
            q = stream_encode(run.spark, meta["dir"], io, ckpt_dir,
                              salt_rows=SALT_ROWS, max_files_per_trigger=1)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q.recentProgress

        progress = run.call("streaming.stream_encode", ingest)
        stream = run.last
        _, _, res0 = read_loop(run, io, reads, 0.0, "pre-compaction", min_each=1)
        with run.tracer.span("bench.zone_maps"):
            pre_stats = block_stats(run, io) if run.args.trace else None
        maintain(run, io, reads, turns)
        s1, l1, res1 = read_loop(run, io, reads, run.args.seconds, "post-compaction")
        decode_and_verify(run, io, df, turns)
        table_layers(run, root, turns)
    run.phase_id = phase["id"]
    # the same windows and ids must answer identically on both layouts
    before = {(k, i): g for k, i, g, _ in res0}
    for k, i, g, _ in res1:
        if (k, i) in before:
            run.check(before[(k, i)] == g, f"{k}{i} differs across compaction")
    run.e2e["encode_turns_per_s"] = turns / stream["adj"]
    run.info["wall"]["encode_turns_per_s"] = turns / stream["dur"]
    latency_metrics(run, s1, l1)
    epochs = [p for p in progress if p.get("numInputRows", 0) > 0]
    ep_s = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in epochs]
    add_s = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in progress]
    run.check(len(epochs) == len(meta["files"]), f"epochs {len(epochs)} != files")
    run.layer["streaming.epochs"] = len(epochs)
    run.layer["streaming.epoch_s_median"] = statistics.median(ep_s) if ep_s else 0.0
    run.layer["streaming.epoch_s_max"] = max(ep_s) if ep_s else 0.0
    run.layer["streaming.trigger_overhead_s"] = stream["dur"] - sum(add_s)
    run.layer["encode_job.encode_table_s"] = sum(add_s)
    run.info["epochs"] = len(epochs)
    encoded_bytes(run, io, turns)
    run.layer["partitioning.num_buckets"] = max(run.info["num_buckets"])
    run.layer["partitioning.groups"] = run.info["groups"]
    read_layers(run, pre_stats, reads, res0, "pre")
    read_layers(run, block_stats(run, io) if run.args.trace else None, reads, res1, "post")
    checkpoint_layers(run, io)
    run.encode_span_names = ("streaming.stream_encode",)
    run.turns = turns


WORKLOADS = {"bulk": bulk, "ingest_read": ingest_read}
