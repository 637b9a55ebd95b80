"""``daily_load``: the reference's three executables, day after day.

Each day runs, in order and one call at a time, what the CLI's
executables run (``plans/cli.py``):

- curated: ``read_union`` of the day's ``load_date`` partition,
  ``run_curated_load``, ``write_json_lines`` for the rejected and the
  outdated rows, ``write_export`` of the curated table, then
  ``MergeStore.vacuum``;
- history: ``read_union``, ``run_history_load``, ``write_export``;
- backfill: one ongoing-mode ``backfill_property_ids`` pass over the
  curated store, through a transport that returns ``crc32(mls|lid)``
  after the reference's default 0.01 s throttle per call.

Day 1 loads empty stores; days 2..N merge the day's mix (see
``gen_listings``) into stores that keep growing. ``clearCache`` is not
called between days, as a long-lived session would not call it.

Every output is checked outside the timed region, against DuckDB
models over the same raw files (``check_*``).
"""

from __future__ import annotations

import os
import shutil
import time
import zlib

import duckdb

import gen_listings

from etl_pipeline_4handling_listings_spark.plans.listings import (
    DRIVING_COLS,
    HIST_KEYS,
    KEYS,
    ListingsDims,
    backfill_property_ids,
    run_curated_load,
    run_history_load,
)
from etl_pipeline_4handling_listings_spark.sources.readers import read_union
from etl_pipeline_4handling_listings_spark.sources.store import MergeStore
from etl_pipeline_4handling_listings_spark.sources.writers import (
    write_export,
    write_json_lines,
)

NUM_OUTPUT_FILES = 4
VACUUM_KEEP = 2
BATCH_SIZE = 500
THROTTLE_S = 0.01
RUN_TS = "2024-06-01 00:00:00"


def make_transport(counters=None):
    """The property-id lookup the backfill calls, one call per batch.

    ``counters`` (calls, rows, busy seconds) are Spark accumulators,
    added to inside the Python workers.
    """

    def transport(rows: list[dict]) -> list[dict]:
        t0 = time.perf_counter()
        time.sleep(THROTTLE_S)
        out = [
            {"asg_primary_id": zlib.crc32(f"{r['mls']}|{r['mls_listing_id']}".encode())}
            for r in rows
        ]
        if counters is not None:
            calls, n_rows, busy = counters
            calls.add(1)
            n_rows.add(len(rows))
            busy.add(time.perf_counter() - t0)
        return out

    return transport


def traced_store_class(tracer, stats: dict):
    """A ``MergeStore`` whose merges are spans, and which records what
    each merge committed (``history()``) and how often it recomputed."""

    class TracedStore(MergeStore):
        def merge(self, source, *args, **kwargs):
            with tracer.span("sources.store.merge"):
                version = super().merge(source, *args, **kwargs)
            stats["merges"] += 1
            stats["merge_recomputes"] += self.merge_recomputes
            row = (self.history().filter("is_current")
                   .select("size_bytes").first())
            stats["merge_bytes"] += (row.size_bytes or 0) if row else 0
            return version

    return TracedStore


class DailyRun:
    """One fresh pair of stores fed day by day from ``feed_dir``.

    ``tracer``, ``store_cls`` and ``transport`` may be swapped between
    days, to trace some days and not others.
    """

    def __init__(self, spark, tracer, feed_dir: str, work: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.feed_dir = feed_dir
        self.work = work
        self.store_cls = MergeStore
        self.transport = make_transport()
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        self.curated = os.path.join(work, "curated_store")
        self.history = os.path.join(work, "history_store")
        self.curated_out = os.path.join(work, "curated_export")
        self.history_out = os.path.join(work, "history_export")

    def _raw(self, day: int):
        d = gen_listings.load_date(day)
        with self.tracer.span("sources.readers.read_union"):
            return read_union(
                self.spark, [os.path.join(self.feed_dir, "raw")],
                predicate=f"load_date between '{d}' and '{d}'",
            )

    def _dims(self) -> ListingsDims:
        def t(name: str):
            return self.spark.read.parquet(
                os.path.join(self.feed_dir, "dims", f"{name}.parquet"))

        return ListingsDims(boards=t("boards"), states=t("states"),
                            zipcodes=t("zipcodes"),
                            property_sub_types=t("property_sub_types"))

    def curated_exec(self, day: int) -> None:
        t = self.tracer
        raw, dims = self._raw(day), self._dims()
        store = self.store_cls(self.spark, self.curated, keys=KEYS)
        with t.span("plans.run_curated_load"):
            res = run_curated_load(raw, dims, store)
        rejects = os.path.join(self.work, "rejects", gen_listings.load_date(day))
        with t.span("sources.writers.write_json_lines"):
            write_json_lines(res.rejected, f"{rejects}/rejected")
        with t.span("sources.writers.write_json_lines"):
            write_json_lines(res.outdated, f"{rejects}/outdated", mode="append")
        with t.span("sources.writers.write_export"):
            write_export(res.curated, self.curated_out, num_files=NUM_OUTPUT_FILES)
        with t.span("sources.store.vacuum"):
            store.vacuum(keep=VACUUM_KEEP)

    def history_exec(self, day: int) -> None:
        t = self.tracer
        raw, dims = self._raw(day), self._dims()
        store = self.store_cls(self.spark, self.history, keys=HIST_KEYS)
        with t.span("plans.run_history_load"):
            table = run_history_load(raw, dims, store)
        with t.span("sources.writers.write_export"):
            write_export(table, self.history_out, num_files=NUM_OUTPUT_FILES)

    def backfill_exec(self, limit: int) -> None:
        store = self.store_cls(self.spark, self.curated, keys=KEYS)
        with self.tracer.span("plans.backfill_property_ids"):
            backfill_property_ids(store, self.transport, limit=limit,
                                  batch_size=BATCH_SIZE, run_ts=RUN_TS)

    def id_snapshot(self):
        """(mls, mls_listing_id, asg_primary_id, queried_ts) of the
        curated store, as Arrow."""
        df = MergeStore(self.spark, self.curated, keys=KEYS).read().selectExpr(
            "mls", "mls_listing_id", "asg_primary_id",
            "cast(asg_primary_id_queried_ts as string) as queried_ts")
        return df.toArrow()


# -- output checks (DuckDB models over the raw files) ------------------

PROPERTY_TYPES = ("AP", "CO", "CP", "DU", "FM", "LL", "MB", "MF", "SF", "TH",
                  "TS", "VL", "ZZ")


def _valid_sql(feed_dir: str, day: int) -> str:
    """Rows of days 1..``day`` that pass the pipelines' validation,
    with the board remap applied and exact duplicates removed."""
    dims = os.path.join(feed_dir, "dims")
    ptypes = ", ".join(f"'{p}'" for p in PROPERTY_TYPES)
    return f"""
    WITH raw AS (
      SELECT r.*, b.mls AS b_mls, b.movedto
      FROM read_parquet('{feed_dir}/raw/*/*.parquet', hive_partitioning = true,
                        hive_types = {{'load_date': VARCHAR}}) r
      LEFT JOIN '{dims}/boards.parquet' b ON r.mls = b.mls
      WHERE r.load_date <= '{gen_listings.load_date(day)}'
    )
    SELECT DISTINCT coalesce(movedto, mls) AS mls, mls_listing_id,
      source_as_of_date, listing_date, entry_date, load_date, listing_status,
      current_price, source_listing_id, trim(street_address_raw) AS street,
      property_type, property_sub_type
    FROM raw
    WHERE b_mls IS NOT NULL AND mls_listing_id IS NOT NULL
      AND rent_sale IN ('Sale', 'Rental')
      AND listing_status IN ('A', 'U', 'S', 'X')
      AND property_type IN ({ptypes})
      AND property_sub_type IN (SELECT property_sub_type
                                FROM '{dims}/property_sub_types.parquet')
      AND NOT (coalesce(current_price, 0) < 1
               AND ((listing_status = 'S' AND closed_price IS NULL)
                    OR listing_status <> 'S'))
      AND state_raw IN (SELECT state FROM '{dims}/states.parquet'
                        UNION SELECT name FROM '{dims}/states.parquet')
      AND EXISTS (SELECT 1 FROM '{dims}/zipcodes.parquet' z
                  WHERE z.state = raw.state_raw AND z.zipcode = raw.zip_raw)
    """


def _diff(con, expected: str, actual: str) -> int:
    """Rows in one query and not the other, both ways (bag semantics)."""
    return con.execute(
        f"SELECT (SELECT count(*) FROM (({expected}) EXCEPT ALL ({actual})))"
        f" + (SELECT count(*) FROM (({actual}) EXCEPT ALL ({expected})))"
    ).fetchone()[0]


def check_curated(run: DailyRun, day: int) -> bool:
    """The curated export equals the latest valid record per key."""
    cols = ("mls, mls_listing_id, epoch_us(source_as_of_date) AS asof,"
            " listing_status, current_price::DOUBLE AS price")
    expected = f"""
      SELECT {cols}, street FROM (
        SELECT *, row_number() OVER (
          PARTITION BY mls, mls_listing_id
          ORDER BY source_as_of_date DESC, listing_date DESC, entry_date ASC,
                   load_date DESC) AS rn
        FROM ({_valid_sql(run.feed_dir, day)})) WHERE rn = 1"""
    actual = (f"SELECT {cols}, street_address_raw AS street"
              f" FROM '{run.curated_out}/*.parquet'")
    with duckdb.connect() as con:
        return _diff(con, expected, actual) == 0


def check_history(run: DailyRun, day: int) -> bool:
    """The history export holds, per key, each as-of version whose
    driving columns differ from the version before it, and no
    (key, as-of) twice."""
    # DRIVING_COLS, with the trimmed address under its model name
    driving = [c if c != "street_address_raw" else "street" for c in DRIVING_COLS]
    changed = " OR ".join(
        f"{c} IS DISTINCT FROM lag({c}) OVER w" for c in driving)
    cols = ("mls, mls_listing_id, epoch_us(source_as_of_date) AS asof,"
            " listing_status, current_price::DOUBLE AS price, source_listing_id,"
            " property_type, property_sub_type")
    expected = f"""
      SELECT {cols}, street FROM (
        SELECT *, ({changed}) AS keep FROM (
          SELECT * FROM (
            SELECT *, row_number() OVER (
              PARTITION BY mls, mls_listing_id, source_as_of_date
              ORDER BY listing_date DESC, entry_date ASC, load_date DESC) AS rn
            FROM ({_valid_sql(run.feed_dir, day)})) WHERE rn = 1)
        WINDOW w AS (PARTITION BY mls, mls_listing_id ORDER BY source_as_of_date))
      WHERE keep"""
    export = f"'{run.history_out}/*.parquet'"
    actual = f"SELECT {cols}, street_address_raw AS street FROM {export}"
    with duckdb.connect() as con:
        dup_keys = con.execute(
            f"SELECT count(*) - count(DISTINCT (mls, mls_listing_id,"
            f" source_as_of_date)) FROM {export}").fetchone()[0]
        return dup_keys == 0 and _diff(con, expected, actual) == 0


def check_backfill(run: DailyRun, limit: int) -> bool:
    """The day's pass gave ``crc32(mls|lid)`` and the run stamp to the
    first ``limit`` un-enriched rows in priority order, and changed
    nothing else. The state before the pass is the day's curated
    export; the state after it is read from the store."""
    after = run.id_snapshot()
    with duckdb.connect() as con:
        con.register("after_t", after)
        con.create_function(
            "crc", lambda m, lid: zlib.crc32(f"{m}|{lid}".encode()),
            ["VARCHAR", "VARCHAR"], "BIGINT")
        expected = f"""
          WITH before_t AS (
            SELECT mls, mls_listing_id, asg_primary_id,
              strftime(asg_primary_id_queried_ts, '%Y-%m-%d %H:%M:%S') AS queried_ts
            FROM '{run.curated_out}/*.parquet'),
          picked AS (
            SELECT mls, mls_listing_id FROM before_t
            WHERE asg_primary_id IS NULL
            ORDER BY queried_ts ASC NULLS FIRST, mls, mls_listing_id
            LIMIT {limit})
          SELECT b.mls, b.mls_listing_id,
            CASE WHEN p.mls IS NULL THEN b.asg_primary_id
                 ELSE crc(b.mls, b.mls_listing_id) END AS id,
            CASE WHEN p.mls IS NULL THEN b.queried_ts
                 ELSE '{RUN_TS}' END AS queried_ts
          FROM before_t b LEFT JOIN picked p USING (mls, mls_listing_id)"""
        actual = ("SELECT mls, mls_listing_id, asg_primary_id AS id, queried_ts"
                  " FROM after_t")
        return _diff(con, expected, actual) == 0
