"""``headline_queries``: one pass over twenty registry queries.

Each query is built and executed to the ``noop`` sink, one at a time,
with ``clearCache`` after each. The names are fixed here, so the
workload does not follow edits to any other list of queries. The pass
reads the generated tables only and never touches a store.

Outputs are checked outside the timed region: each query's collected
rows against its ``QuerySpec.oracle`` run in DuckDB over the same
parquet files, compared the way ``tools/check_oracle.py`` compares
(row count, column names, then the rows sorted with columns in name
order and floats rounded to 9 places).
"""

from __future__ import annotations

import decimal
import math
import os
import sys

import duckdb

from etl_pipeline_4handling_listings_spark.queries import REGISTRY

QUERIES = [
    "flagship_curated",
    "q1_pricing_summary",
    "q3_topk_join_agg",
    "q5_multi_join_agg",
    "q6_forecast_revenue",
    "q18_large_orders",
    "w1_latest_record",
    "w6_lead_changed",
    "v_validation_flags",
    "m1_merge_upsert",
    "m2_history_merge",
    "o1_priority_topk",
    "x1_enrich_lookup",
    "events_hourly_rollup",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_quality_score",
    "text_langid",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_pass(spark, tracer, sf_dir: str) -> None:
    """Run every query once."""
    with tracer.span("queries.pass"):
        for name in QUERIES:
            with tracer.span(f"queries.{name}"):
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
            spark.catalog.clearCache()


# The comparison of tools/check_oracle.py, copied so that edits to the
# project's tools cannot change what the benchmark accepts.
def _normalize(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, decimal.Decimal):
        return v.normalize()
    if isinstance(v, (list, tuple)):
        return tuple(_normalize(x) for x in v)
    return v


def _canon(rows, cols) -> list:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_normalize(r[i]) for i in order) for r in rows), key=repr)


def collect_pass(spark, sf_dir: str) -> dict:
    """Run every query once, collecting its rows: the warm-up pass.
    Returns name -> (rows, columns), or the exception it raised."""
    out = {}
    for name in QUERIES:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            out[name] = ([tuple(r) for r in df.collect()], df.columns)
        except Exception as exc:  # a failing query is a failed check
            out[name] = exc
        spark.catalog.clearCache()
    return out


def check(results: dict, sf_dir: str) -> list[str]:
    """Names of the queries whose collected rows differ from their
    oracle's (or that returned no rows, where there is no oracle)."""
    failed = []
    with duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"parquet_scan('{os.path.join(sf_dir, t)}.parquet')")
        for name in QUERIES:
            got, oracle = results[name], REGISTRY[name].oracle
            if isinstance(got, Exception):
                print(f"query {name}: {type(got).__name__}: {got}", file=sys.stderr)
                ok = False
            elif oracle is None:
                ok = len(got[0]) > 0
            else:
                rows, cols = got
                res = con.execute(oracle)
                dcols = [d[0] for d in res.description]
                ok = (sorted(cols) == sorted(dcols)
                      and _canon(rows, cols) == _canon(res.fetchall(), dcols))
            if not ok:
                failed.append(name)
    return failed
