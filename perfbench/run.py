"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk --seed 1 --seconds 5 --trace 0

Run from the repository root (any cwd works; paths resolve from this
file). With ``--trace 0`` the last stdout line carries every end-to-end
metric; with ``--trace 1`` the Spark event log is switched on for this
run only and the last line carries every per-layer metric. The line
before it is an ``info`` record (core count, bucket count, codecs, tail
percentiles and sample counts, input generation time). Spans are
written to ``.perfbench_work/spans-<workload>-seed<seed>.jsonl``.
Exit code 0 when every output checked out, 1 when one did not, 2 when
the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
LEDGER_MODULES = ["encode_job", "streaming", "decode_job", "verify", "maintenance", "bench"]

# (name, unit, better) — reported by every workload
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("encode_turns_per_s", "1/s", "higher"),
    ("encoded_bytes_per_turn", "B", "lower"),
    ("decode_turns_per_s", "1/s", "higher"),
    ("verify_turns_per_s", "1/s", "higher"),
    ("slice_p50_s", "s", "lower"),
    ("lookup_p50_s", "s", "lower"),
    ("maintain_s", "s", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]


def _per_layer():
    from operators_suite import HEADLINE

    out = [
        ("session.start_s", "s", "lower"),
        ("partitioning.estimate_rows_s", "s", "lower"),
        ("partitioning.num_buckets", "count", "higher"),
        ("partitioning.groups", "count", "higher"),
        ("partitioning.group_rows_max_over_median", "ratio", "lower"),
        ("partitioning.shuffle_s", "s", "lower"),
        ("encode_job.encode_table_s", "s", "lower"),
        ("encode_job.udf_boundary_s", "s", "lower"),
        ("encode_job.udf_task_s", "s", "lower"),
        ("encode_job.udf_task_max_over_median", "ratio", "lower"),
        ("encode_job.commit_tail_s", "s", "lower"),
        ("encode_job.shuffle_write_bytes_per_turn", "B", "lower"),
        ("encode_job.spill_bytes", "B", "lower"),
    ]
    for c in COLUMNS:
        out += [
            (f"codecs.encode_mb_s.{c}", "MB/s", "higher"),
            (f"codecs.decode_mb_s.{c}", "MB/s", "higher"),
            (f"codecs.select_ms.{c}", "ms", "lower"),
            (f"codecs.bytes_per_turn.{c}", "B", "lower"),
        ]
    out += [("decode_job.full_s", "s", "lower"), ("decode_job.notext_s", "s", "lower")]
    for when in ("pre", "post"):
        out += [
            (f"decode_job.slice_blocks_touched.{when}", "count", "lower"),
            (f"decode_job.slice_rows_decoded_per_row_returned.{when}", "ratio", "lower"),
            (f"decode_job.lookup_blocks_touched.{when}", "count", "lower"),
            (f"decode_job.jobs_per_slice.{when}", "count", "lower"),
            (f"decode_job.jobs_per_lookup.{when}", "count", "lower"),
        ]
    out += [
        ("verify.digest_s", "s", "lower"),
        ("verify.overhead_s", "s", "lower"),
        ("checkpoint.committed_blocks_s", "s", "lower"),
        ("checkpoint.resume_probe_s", "s", "lower"),
        ("checkpoint.manifest_rows", "count", "lower"),
        ("streaming.epochs", "count", "higher"),
        ("streaming.epoch_s_median", "s", "lower"),
        ("streaming.epoch_s_max", "s", "lower"),
        ("streaming.trigger_overhead_s", "s", "lower"),
        ("maintenance.compact_s", "s", "lower"),
        ("maintenance.vacuum_s", "s", "lower"),
        ("maintenance.blocks_before", "count", "lower"),
        ("maintenance.blocks_after", "count", "lower"),
        ("maintenance.rewrite_bytes_per_user_byte", "ratio", "lower"),
        ("tableio.dir_bytes_per_turn", "B", "lower"),
        ("tableio.files", "count", "lower"),
    ]
    for q in HEADLINE:
        out += [(f"operators.{q}_s", "s", "lower"), (f"operators.jobs.{q}", "count", "lower")]
    out += [(f"ledger.{m}_self_s", "s", "lower") for m in LEDGER_MODULES]
    out += [("trace.phase_s", "s", "lower"), ("trace.engine_share", "ratio", "higher")]
    return out


def _env(work: str, trace: bool) -> None:
    """Launcher settings; must precede the JVM launch."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    # executor-side Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p)
    for sub in ("spark-local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the session's driver-heap knob: 2g holds these tables with room to
    # spare, and a small heap keeps peak RSS from tracking GC timing
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    args = [f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    if trace:
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{os.path.join(work, 'events')}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["bulk", "ingest_read"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "parquet_converter_spark", "__init__.py")):
        print(f"perfbench: engine package parquet_converter_spark not found in {ROOT}",
              file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    cache = os.path.join(ROOT, ".perfbench_cache")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]

    import inputs
    import spans as tr
    import workloads as wl

    cpus = _cpus()
    run = wl.Run(args, work, cpus)
    meta = inputs.transcript_input(cache, args.workload, args.seed, args.size)
    run.info.update(input_turns=meta["turns"], gen_s=meta["gen_s"], gen_cached=meta["cached"])
    ops = inputs.ops_input(cache, args.seed, args.size) if args.trace else None

    rss = tr.RssSampler().start()
    error = None
    try:
        wl.WORKLOADS[args.workload](run, meta)
        if args.trace:
            import operators_suite

            operators_suite.run_suite(run, ops["dir"])
    except Exception as exc:  # noqa: BLE001 — reported as a failed run
        error = exc
        traceback.print_exc()
    finally:
        run.stop_session()
    run.e2e["peak_rss_mb"] = rss.stop()
    _stop_jvm()

    if error is None:
        phase = run.tracer.spans[run.phase_id]
        run.info["phase_s"] = phase["dur"]
        # CPU seconds of the process tree and the host's steal share over
        # the phase: context for judging a run's wall times on a shared host
        run.info["phase_cpu_s"] = phase["cpu"]
        run.info["phase_steal_frac"] = phase["steal"]
        run.tracer.self_times()
        if args.trace:
            _ledger(run, os.path.join(work, "events"))
    os.makedirs(work_root, exist_ok=True)
    run.tracer.write(os.path.join(work_root, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    names = END_TO_END if not args.trace else _per_layer()
    source = run.e2e if not args.trace else run.layer
    metrics = {}
    for name, unit, _ in names:
        if name in source:
            metrics[name] = {"value": float(source[name]), "unit": unit}
        elif args.trace and error is None:
            # a layer this workload does not exercise did no work
            metrics[name] = {"value": 0.0, "unit": unit}
    correct = error is None and run.failed == 0
    run.info["failures"] = run.failures[:20]
    run.info["failed_ops_frac"] = run.failed / max(run.attempted, 1)
    print(json.dumps({"info": run.info}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if error is None else max(run.failed, 1),
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM to exit: it exits when
    its stdin (a pipe from this process) closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _ledger(run, events_dir: str) -> None:
    import spans as tr
    import workloads as wl

    tracer = run.tracer
    jobs = tr.read_event_logs(events_dir)
    tr.assign_jobs(tracer, jobs)
    enc = [s for s in tracer.spans if s["name"] in run.encode_span_names]
    enc_jobs = [j for s in enc for j in tr.subtree_jobs(tracer, s["id"])]
    wl.encode_job_layers(run, enc_jobs, run.turns)
    ledger = tracer.module_ledger(run.phase_id)
    phase = tracer.spans[run.phase_id]
    ledger["bench"] = ledger.get("bench", 0.0) + phase["self"]
    for m in LEDGER_MODULES:
        run.layer[f"ledger.{m}_self_s"] = ledger.get(m, 0.0)
    run.layer["trace.phase_s"] = phase["dur"]
    run.layer["trace.engine_share"] = (
        sum(v for m, v in ledger.items() if m != "bench") / phase["dur"])
    run.info["ledger"] = ledger


if __name__ == "__main__":
    sys.exit(main())
