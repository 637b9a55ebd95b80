"""Benchmark of the listings engine, run from the repository root:

    python3 perfbench/run.py --workload daily_load --seed 1 --seconds 5 --trace 0

Workloads (one process, one client, one pipeline call at a time, a
closed loop on ``local[<cpus>]``):

- ``daily_load``: the curated, history and backfill executables day
  after day on a generated multi-day feed (``daily.py``);
- ``headline_queries``: passes over twenty registry queries on
  generated TPC-H-shaped tables (``headline.py``).

Inputs are generated from ``--seed`` under ``.bench_work/`` and the
program only sees the files. The set-up (``setup_s``) generates the
inputs and warms the session up on them: days 1 and 2, or a first
query pass that also collects every result for the oracle check and
a second pass. Then steps run until ``--seconds`` have passed;
``step_s`` and ``step_cpu_s`` are their medians (see ``StepClock``).
One step is one incremental day, or one query pass. Every output is
checked, outside the timed region.

The last stdout line is one JSON object. With ``--trace 0`` its
metrics are the end-to-end ones. With ``--trace 1`` every other step
is traced and the metrics are the per-layer split (``spans.py``,
``LAYERS.md``); the spans are written to ``.bench_work/trace/``, and
``trace.overhead_s`` is the median traced step minus the median
untraced one. A metric of a layer the workload never enters is 0.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

DRIVER_MEM = "2g"
# daily_load feed: day-1 keys, rows per later day, days generated,
# and rows each backfill pass enriches
DAILY = dict(keys0=20_000, rows_per_day=5_000, days=5)
BACKFILL_LIMIT = 1_000
HEADLINE_SF = 0.002

SPAN_NAMES = [
    "plans.run_curated_load",
    "plans.run_history_load",
    "plans.backfill_property_ids",
    "sources.readers.read_union",
    "sources.store.merge",
    "sources.store.vacuum",
    "sources.writers.write_export",
    "sources.writers.write_json_lines",
]
PASS_SPLIT = ("jobs", "tasks", "exec_run_s", "exec_cpu_s", "gc_s", "input_mb",
              "shuffle_write_mb", "driver_s")


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since start."""
    print(f"[{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def pin_environment() -> None:
    """Session settings every run shares; set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the Python workers import the program and this benchmark's
    # modules (the backfill transport) by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    for d in (os.environ["SPARK_LOCAL_DIRS"], os.environ["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    sys.path[:0] = [ROOT, HERE]


def start_spark(name: str, trace: bool):
    from etl_pipeline_4handling_listings_spark.session import get_spark

    import spans

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(spans.event_log_conf(os.path.join(WORK, "eventlog")))
    spark = get_spark(app_name=f"perfbench-{name}", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _process_tree(root: int) -> set[int]:
    """``root`` and every live process descended from it."""
    parents = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parents[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    tree = {root}
    while kids := {p for p, pp in parents.items() if pp in tree} - tree:
        tree |= kids
    return tree


def _tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by this process and by ``root``'s
    tree, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    total = sum(os.times()[:2])
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / tick  # utime..cstime
    return total


def _machine_busy_steal() -> tuple[int, int]:
    """This machine's busy and stolen CPU ticks so far (/proc/stat)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[0] + t[1] + t[2] + t[5] + t[6], t[7]


class StepClock:
    """Times one step of the program.

    ``wall`` is the elapsed time. ``adjusted`` is the elapsed time with
    the hypervisor's steal taken out: ``wall * busy / (busy + steal)``,
    where busy and steal are this machine's CPU ticks during the step.
    On a shared host, steal comes and goes with other tenants and can
    stretch a step by half; the adjusted figure is what the step takes
    when the machine's CPUs are its own. ``cpu`` is the CPU time the
    driver, the JVM and its Python workers used.
    """

    def __init__(self, spark) -> None:
        self.jvm = spark.sparkContext._gateway.proc.pid

    def __enter__(self) -> "StepClock":
        self._cpu = _tree_cpu_s(self.jvm)
        self._busy, self._steal = _machine_busy_steal()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        busy, steal = _machine_busy_steal()
        busy, self.steal_ticks = busy - self._busy, steal - self._steal
        self.adjusted = self.wall * busy / max(busy + self.steal_ticks, 1)
        self.cpu = _tree_cpu_s(self.jvm) - self._cpu

    def __str__(self) -> str:
        return (f"wall {self.wall:.2f}s adjusted {self.adjusted:.2f}s "
                f"cpu {self.cpu:.2f}s steal {self.steal_ticks / os.sysconf('SC_CLK_TCK'):.2f}s")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver, the JVM and the JVM's live
    Python workers, summed over processes."""
    jvm = spark.sparkContext._gateway.proc.pid
    peaks = {"driver": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss}
    for pid in _process_tree(jvm):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks["jvm" if pid == jvm else pid] = int(line.split()[1])
        except OSError:
            continue
    log("peak rss (MB): " + ", ".join(f"{k} {v // 1024}" for k, v in peaks.items()))
    return sum(peaks.values()) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its workers to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = _process_tree(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.perf_counter() + 30
    while any(os.path.exists(f"/proc/{p}") for p in tree) and time.perf_counter() < deadline:
        time.sleep(0.1)


class Tally:
    """Calls attempted, calls failed, failed output checks."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def call(self, fn, *args) -> bool:
        self.attempted += 1
        try:
            fn(*args)
            return True
        except Exception:  # a failed call is counted, the run goes on
            print(f"call {fn.__name__} failed:", file=sys.stderr)
            traceback.print_exc()
            self.failed += 1
            return False

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            print(f"check failed: {what}", file=sys.stderr)
            self.failed += 1


# -- daily_load --------------------------------------------------------

def _daily_day(run, day: int, tally: Tally) -> StepClock | None:
    """One day of the three executables, then its output checks.
    Returns the day's clock, or None when a call failed."""
    with StepClock(run.spark) as clock, run.tracer.span(
            "step.bootstrap" if day == 1 else "step.day"):
        ok = (tally.call(run.curated_exec, day)
              and tally.call(run.history_exec, day)
              and tally.call(run.backfill_exec, BACKFILL_LIMIT))
    if not ok:
        return None
    import daily

    tally.check(daily.check_curated(run, day), f"curated day {day}")
    tally.check(daily.check_history(run, day), f"history day {day}")
    tally.check(daily.check_backfill(run, BACKFILL_LIMIT), f"backfill day {day}")
    return clock


def _summary(setup: StepClock, steps: list[StepClock]) -> dict:
    return {
        "setup_s": setup.adjusted,
        "step_s": statistics.median(c.adjusted for c in steps),
        "step_cpu_s": statistics.median(c.cpu for c in steps),
    }


def _overhead(steps: dict) -> dict:
    """Median traced step minus median untraced step."""
    if not steps[False]:
        return {}
    return {"trace.overhead_s": statistics.median(c.adjusted for c in steps[True])
            - statistics.median(c.adjusted for c in steps[False])}


def daily_load(spark, seed: int, seconds: float, trace: bool, tally: Tally) -> dict:
    """Set-up: generate the feed and load days 1 and 2 into empty
    stores. Steps: days 3, 4, ... until ``seconds`` have passed.
    Traced runs trace the even days."""
    import daily
    import gen_listings
    from spans import Tracer

    off = Tracer()
    tracer = Tracer(spark.sparkContext, enabled=trace)
    stats = {"merges": 0, "merge_recomputes": 0, "merge_bytes": 0}
    acc = tuple(spark.sparkContext.accumulator(z) for z in (0, 0, 0.0))
    feed = os.path.join(WORK, "feed")

    with StepClock(spark) as setup:
        gen_listings.generate(feed, seed, **DAILY)
        run = daily.DailyRun(spark, off, feed, os.path.join(WORK, "stores"))
        bootstrap = _daily_day(run, 1, tally)
        warm = bootstrap and _daily_day(run, 2, tally)
    if warm is None:
        raise RuntimeError("set-up failed")
    log(f"set-up: {setup}")

    steps: dict[bool, list[StepClock]] = {False: [], True: []}
    deadline = time.perf_counter() + seconds
    plain = (run.store_cls, run.transport)
    for day in range(3, DAILY["days"] + 1):
        traced = trace and day % 2 == 0
        run.tracer = tracer if traced else off
        run.store_cls, run.transport = (
            (daily.traced_store_class(tracer, stats), daily.make_transport(acc))
            if traced else plain)
        clock = _daily_day(run, day, tally)
        if clock is None:
            break
        steps[traced].append(clock)
        log(f"day {day}{' traced' if traced else ''}: {clock}")
        if time.perf_counter() >= deadline and (not trace or all(steps.values())):
            break
    if not steps[trace]:
        raise RuntimeError("no incremental day completed")
    if not trace:
        return _summary(setup, steps[False])

    raw_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(os.path.join(feed, "raw")) for f in fs)
    live_files = live_bytes = 0
    for path, keys in ((run.curated, daily.KEYS), (run.history, daily.HIST_KEYS)):
        row = (daily.MergeStore(spark, path, keys=keys).history()
               .filter("is_current").first())
        live_files += row.n_files
        live_bytes += row.size_bytes
    calls, rows, busy = (a.value for a in acc)
    passes = len(steps[True])
    counters = {
        "step.bootstrap.wall_s": bootstrap.wall,
        "sources.store.live_files": live_files,
        "sources.store.live_mb": live_bytes / 2**20,
        # merge bytes committed per raw byte read: every traced day's
        # partition is read twice, by the curated and the history load
        "sources.store.write_amp": stats["merge_bytes"] / (2 * raw_bytes),
        "sources.store.merge_recomputes": stats["merge_recomputes"] / max(stats["merges"], 1),
        "operators.enrich.transport_calls": calls / passes,
        "operators.enrich.transport_busy_s": busy / passes,
        "operators.enrich.rows_per_call": rows / max(calls, 1),
        "operators.enrich.call_fill": rows / max(calls, 1) / daily.BATCH_SIZE,
        **_overhead(steps),
    }
    return {"tracer": tracer, "counters": counters}


# -- headline_queries --------------------------------------------------

def headline_queries(spark, seed: int, seconds: float, trace: bool,
                     tally: Tally) -> dict:
    """Set-up: generate the tables, run a pass that collects every
    query's rows for the oracle check, then one plain pass. Steps:
    passes until ``seconds`` have passed. Traced runs trace every
    other pass, starting with the first."""
    import gen_tables
    import headline
    from spans import Tracer

    off = Tracer()
    tracer = Tracer(spark.sparkContext, enabled=trace)
    tables = os.path.join(WORK, "tables")

    with StepClock(spark) as setup:
        gen_tables.generate(tables, seed, HEADLINE_SF)
        results = headline.collect_pass(spark, tables)
        headline.run_pass(spark, off, tables)
    log(f"set-up: {setup}")
    tally.attempted += len(headline.QUERIES)
    for name in headline.check(results, tables):
        tally.check(False, f"query {name}")

    steps: dict[bool, list[StepClock]] = {False: [], True: []}
    deadline = time.perf_counter() + seconds
    while True:
        traced = trace and len(steps[True]) <= len(steps[False])
        with StepClock(spark) as clock:
            ok = tally.call(headline.run_pass, spark, tracer if traced else off, tables)
        if not ok:
            break
        steps[traced].append(clock)
        log(f"pass{' traced' if traced else ''}: {clock}")
        if time.perf_counter() >= deadline and (not trace or all(steps.values())):
            break
    if not steps[trace]:
        raise RuntimeError("no query pass completed")
    if not trace:
        return _summary(setup, steps[False])
    return {"tracer": tracer, "counters": _overhead(steps)}


WORKLOADS = {"daily_load": daily_load, "headline_queries": headline_queries}


def per_layer(tracer, counters: dict, names) -> dict:
    """Every per-layer metric in ``names``; those of layers the
    workload never entered are 0."""
    from spans import span_metrics

    import headline

    m = dict.fromkeys(names, 0.0)
    m.update(span_metrics(tracer, SPAN_NAMES))
    m["step.day.wall_s"] = span_metrics(tracer, ["step.day"])["step.day.wall_s"]
    for q in headline.QUERIES:
        m[f"queries.{q}.wall_s"] = span_metrics(tracer, [f"queries.{q}"])[
            f"queries.{q}.wall_s"]
    qpass = span_metrics(tracer, ["queries.pass"])
    for k in PASS_SPLIT:
        m[f"queries.pass.{k}"] = qpass[f"queries.pass.{k}"]
    m.update(counters)
    return m


def load_units(trace: bool) -> dict:
    """Name -> unit of the metrics a run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    shutil.rmtree(WORK, ignore_errors=True)
    pin_environment()
    # fail before any work when the program is not importable
    import etl_pipeline_4handling_listings_spark.plans.listings  # noqa: F401

    units = load_units(bool(args.trace))
    tally = Tally()
    spark = start_spark(args.workload, bool(args.trace))
    log("session started")
    try:
        out = WORKLOADS[args.workload](
            spark, args.seed, args.seconds, bool(args.trace), tally)
        rss = peak_rss_mb(spark)
    finally:
        stop_spark(spark)
        log("session stopped")
    if args.trace:
        import spans

        outside = spans.attribute(out["tracer"], os.path.join(WORK, "eventlog"))
        log(f"{outside} Spark jobs ran outside any span")
        out["tracer"].dump(os.path.join(WORK, "trace",
                                        f"{args.workload}-{args.seed}.json"))
        metrics = per_layer(out["tracer"], out["counters"], units)
    else:
        metrics = {**out, "peak_rss_mb": rss}
    if set(metrics) != set(units):
        raise SystemExit("metrics and BENCHMARK.json disagree: "
                         f"{sorted(set(metrics) ^ set(units))}")
    for d in os.listdir(WORK):
        if d != "trace":
            shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
