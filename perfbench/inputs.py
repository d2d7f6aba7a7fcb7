"""Seeded benchmark inputs.

Every input is a pure function of (workload, seed, size) and is cached
under the checkout's ``.perfbench_cache`` directory, so a repeated seed
skips generation. Generation time is reported apart from ``setup_s``.

* transcripts — turns shaped like the engine's ``synth`` generator,
  made size-stable: conversation lengths are capped at ``conv_cap`` and
  the table is cut at ``turns`` rows, so every seed gives the same row
  count and the same longest conversation (an uncapped Zipf(1.7) sum
  varies about tenfold between seeds).
* landing files — the same kind of table split by conversation range
  into time-ordered parquet files, one per streaming epoch.
* operator tables — small TPC-H-like ``lineitem``/``orders``/``customer``
  plus ``events``/``embeddings``/``documents`` with the column layout
  the headline queries in ``__spark_entry__`` read.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    # workload -> size name -> generation parameters
    "bulk": {
        "full": {"turns": 120_000, "conv_cap": 20_000},
        "smoke": {"turns": 6_000, "conv_cap": 1_500},
    },
    "ingest_read": {
        "full": {"turns": 90_000, "conv_cap": 15_000, "files": 3},
        "smoke": {"turns": 6_000, "conv_cap": 1_500, "files": 3},
    },
}
OPS_SIZES = {"full": 1.0, "smoke": 0.5}


_VOCAB = (
    "the of and to in is you that it he was for on are as with his they at be "
    "this have from or one had by word but not what all were we when your can "
    "said there use an each which she do how their if will up other about out "
    "many then them these so some her would make like him into time has look "
    "two more write go see number no way could people my than first water been "
    "call who oil its now find long down day did get come made may part spark "
    "parquet column encode decode block turn tool python model token"
).split()
_TOOLS = np.array(["bash", "search", "browser", "editor", "python", "sql"], dtype=object)
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
#: conversation i starts CONV_GAP_US after conversation i-1 (the engine's
#: synth uses 60 s, which at this table size spreads ~2k turns per hour —
#: too thin for time-bucketed compaction to fill any block)
CONV_GAP_US = 4_000_000


def transcripts(turns: int, conv_cap: int, seed: int) -> pd.DataFrame:
    """Transcript turns in the shape the engine's own ``synth`` module
    generates (Zipf(1.7) conversation lengths, alternating roles with
    tool bursts, tool runs, word-salad text with empty/null/non-ASCII
    and one >64 KiB turn, near-regular timestamps with rare nulls; conversations start
    ``CONV_GAP_US`` apart),
    vectorised and cut to exactly ``turns`` rows. Conversation 0 is the
    longest, at ``conv_cap`` turns."""
    rng = np.random.default_rng(seed)
    lengths = [conv_cap]
    total = conv_cap
    while total < turns:
        more = np.minimum(rng.zipf(1.7, 256) + 2, conv_cap)
        lengths.extend(more.tolist())
        total += int(more.sum())
    lengths = np.array(lengths, dtype=np.int64)
    ends = np.cumsum(lengths)
    n_conv = int(np.searchsorted(ends, turns)) + 1
    lengths = lengths[:n_conv]
    lengths[-1] -= int(ends[n_conv - 1] - turns)
    conv = np.repeat(np.arange(n_conv), lengths)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    turn_idx = (np.arange(turns) - starts).astype(np.int32)

    roles = np.where(turn_idx % 2 == 1, "assistant", "user").astype(object)
    roles[turn_idx == 0] = "system"
    roles[rng.random(turns) < 0.12] = "tool"
    roles[rng.random(turns) < 0.001] = None
    tools = np.where(rng.random(turns) < 0.15, _TOOLS[rng.integers(0, 6, turns)], None)

    n_words = rng.integers(3, 40, turns)
    words = np.array(_VOCAB, dtype=object)[rng.integers(0, len(_VOCAB), int(n_words.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = np.array([" ".join(words[bounds[i]: bounds[i + 1]]) for i in range(turns)],
                     dtype=object)
    texts[rng.random(turns) < 0.01] = ""
    for i in np.flatnonzero(rng.random(turns) < 0.02):
        texts[i] = texts[i] + " héllo 🎉 ünïcode ✓" if texts[i] else "🎉"
    texts[rng.random(turns) < 0.01] = None
    if turns > 3:
        texts[3] = "long " * 16_000  # one > 64 KiB turn

    deltas = 2_000_000 + rng.integers(-500_000, 500_000, turns)
    csum = np.cumsum(deltas)
    ts_us = _EPOCH_2024 + conv * CONV_GAP_US + csum - np.repeat(
        np.concatenate([[0], csum[np.cumsum(lengths)[:-1] - 1]]), lengths)
    ts = pd.Series(ts_us.astype("datetime64[us]"))
    ts[rng.random(turns) < 0.001] = pd.NaT
    return pd.DataFrame({
        "conv_id": np.char.add("conv_", np.char.zfill(conv.astype(str), 8)).astype(object),
        "turn_idx": turn_idx,
        "role": roles,
        "text": texts,
        "tool": tools,
        "ts": ts,
    })


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    from parquet_converter_spark.schema import TRANSCRIPT_SCHEMA

    schema = pa.schema(
        [
            pa.field(f.name, pa.int32() if f.name == "turn_idx" else (
                pa.timestamp("us") if f.name == "ts" else pa.string()))
            for f in TRANSCRIPT_SCHEMA.fields
        ]
    )
    tbl = pa.Table.from_pandas(pdf[schema.names], schema=schema, preserve_index=False)
    pq.write_table(tbl, path)


def transcript_input(cache: str, workload: str, seed: int, size: str) -> dict:
    """Generate (or reuse) the workload's transcript input.

    Returns {"dir", "files", "turns", "gen_s", "cached"}. For
    ``ingest_read`` the files are the landing files in epoch order.
    """
    p = SIZES[workload][size]
    d = os.path.join(cache, f"{workload}-{p['turns']}-seed{seed}")
    meta_path = os.path.join(d, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta.update(cached=True)
        return meta
    t0 = time.perf_counter()
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "data"))
    pdf = transcripts(p["turns"], p["conv_cap"], seed)
    names = []
    n_files = p.get("files", 1)
    if n_files == 1:
        names.append("part-00000.parquet")
        write_parquet(pdf, os.path.join(tmp, "data", names[0]))
    else:
        # conversation ranges (conv order = ascending start time), cut at
        # the conversation boundaries nearest to equal row counts
        conv_start = np.flatnonzero(pdf["turn_idx"].to_numpy() == 0)
        targets = np.arange(1, n_files) * len(pdf) / n_files
        cuts = conv_start[np.searchsorted(conv_start, targets)]
        for i, (a, b) in enumerate(zip([0, *cuts], [*cuts, len(pdf)])):
            names.append(f"epoch-{i:03d}.parquet")
            write_parquet(pdf.iloc[a:b], os.path.join(tmp, "data", names[-1]))
    meta = {
        "dir": os.path.join(d, "data"),
        "files": names,
        "turns": int(len(pdf)),
        "longest_conv": str(pdf["conv_id"].value_counts().idxmax()),
        "gen_s": time.perf_counter() - t0,
    }
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    meta.update(cached=False)
    return meta


# ---------------------------------------------------------------------------
# operator tables

_WORDS = (
    "the a data spark table column row batch stream window join merge sort "
    "hash scan filter key value query order line part customer small big "
    "fast slow agg group vector"
).split()
_LANGS = np.array(["en", "fr", "es", "zh", "de"], dtype=object)


def _ops_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_ev, n_emb, n_doc = (
        int(150 * scale), int(1500 * scale), int(1000 * scale), int(500 * scale), int(500 * scale)
    )
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "MACHINERY"], n_cust),
    })
    day = np.datetime64("1995-01-01", "us")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": day + rng.integers(0, 2500, n_ord) * np.timedelta64(86_400_000_000, "us"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(float)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": day + rng.integers(0, 2500, n_li) * np.timedelta64(86_400_000_000, "us"),
    })
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    k = rng.integers(0, 100, n_ev)
    props = [None if rng.random() < 0.015 else json.dumps({"k": int(x)}) for x in k]
    events = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ev_ts,
        "user_id": pa.array(rng.integers(0, 64, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "purchase", "error", "signup", "view"], n_ev),
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": pa.array(props, pa.string()),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + 0.6 * rng.normal(size=(n_emb, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.08:  # near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split(" ")
            j = int(rng.integers(0, len(words)))
            words[j] = str(rng.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {
        "customer": customer, "orders": orders, "lineitem": lineitem,
        "events": events, "embeddings": embeddings, "documents": documents,
    }


def ops_input(cache: str, seed: int, size: str) -> dict:
    """Write (or reuse) the operator tables; returns {"dir", "gen_s", "rows"}."""
    d = os.path.join(cache, f"operators-{OPS_SIZES[size]}-seed{seed}")
    meta_path = os.path.join(d, "_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    t0 = time.perf_counter()
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = _ops_tables(seed, OPS_SIZES[size])
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    meta = {
        "dir": d,
        "gen_s": time.perf_counter() - t0,
        "rows": {n: t.num_rows for n, t in tables.items()},
    }
    with open(os.path.join(tmp, "_meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return meta
