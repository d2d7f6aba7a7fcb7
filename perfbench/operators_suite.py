"""The 14 headline operator queries that ``bench.py`` times, over the
benchmark's seeded operator tables.

One cold pass warms plans and Python workers; the warm pass is timed
per query. Each warm result is value-hashed with ``canon``/``table_hash``
from ``bench/compare_oracle.py`` and must equal DuckDB running the
query's ``oracle_sql()`` text where one exists, and otherwise the hash
the first run with the same seed recorded.
"""

from __future__ import annotations

import json
import os

HEADLINE = [
    "filter_project_agg",
    "numeric_profile",
    "value_counts_top5",
    "profile_all_columns",
    "anti_join_resume",
    "typed_cast_battery",
    "ann_topk_cosine",
    "ann_topk_batch",
    "token_count_stats",
    "minhash_dup_candidates",
    "simhash_fingerprints",
    "simhash_near_dups",
    "embedding_compression",
    "ivf_ann_topk",
]


def _collect(query, spark, ops_dir):
    sdf = query(spark, ops_dir)
    return sdf, sdf.collect()


def run_suite(run, ops_dir: str) -> None:
    import duckdb

    import __spark_entry__ as entrymod
    from bench.compare_oracle import table_hash

    spark = run.spark
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    with run.tracer.span("bench.operators_cold"):
        for name in HEADLINE:
            queries[name](spark, ops_dir).collect()

    hashes = {}
    with run.tracer.span("bench.operators") as suite:
        for name in HEADLINE:
            # some queries run jobs while building the frame (query
            # vectors, exact medians), so the call spans both
            sdf, rows = run.call(f"operators.{name}", _collect, queries[name], spark, ops_dir)
            sp = run.last
            run.layer[f"operators.{name}_s"] = sp["dur"]
            run.layer[f"operators.jobs.{name}"] = sp.get("jobs", 0)
            hashes[name] = table_hash(sdf.columns, [tuple(r) for r in rows])
    run.info["suite_s"] = suite["dur"]

    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "events", "embeddings", "documents"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(ops_dir, t + '.parquet')}'")
    first_path = os.path.join(ops_dir, "_first_hashes.json")
    first = {}
    if os.path.exists(first_path):
        with open(first_path) as f:
            first = json.load(f)
    for name in HEADLINE:
        h, n, cols = hashes[name]
        got = [h, n, list(cols)]
        if name in oracles:
            rel = con.sql(oracles[name])
            h, n, cols = table_hash([d[0] for d in rel.description], rel.fetchall())
            want = [h, n, list(cols)]
        else:
            want = first.setdefault(name, got)
        run.check(got == want, f"operators.{name}: hash {got} != {want}")
    con.close()
    if not os.path.exists(first_path):
        with open(first_path, "w") as f:
            json.dump(first, f)
