"""One measured run of one workload, in a fresh process.

``run.py`` starts this file with the benchmark's own working directory
and environment; it is not meant to be started by hand. The process
pays set-up (operator import, SparkSession, one warm-up query), then
executes each of ``--keys`` once, in that order, through the ``noop``
sink, and with ``--check`` compares each output with its oracle:

    run -> key -> build   QUERIES[key](spark, data_dir)       timed
                  exec    df.write.format("noop").save()     timed
                  check   df.collect() vs DuckDB oracle      untimed, with --check

It writes one JSON record to ``--out``. With ``--trace 1`` it also
writes Spark's event log, registers a StreamingQueryListener and reads
the cache's storage, and the record carries per-layer numbers and
per-key detail; without it, only spans and ``/proc`` readings are
taken, so end-to-end numbers come from untraced runs.
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import importlib.util
import itertools
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
#: Memory, and spill space, DuckDB may use for the oracle queries,
#: which run inside this process next to the Spark driver.
ORACLE_MEMORY = "2GB"
sys.path.insert(0, HERE)

# Only standard-library modules load before set-up is timed: numpy,
# pyarrow and pyspark are the program's import cost (registry.import_s).

import eventlog  # noqa: E402
import procfs  # noqa: E402
import spec  # noqa: E402


class Spans:
    """In-memory spans: id, parent, name, start and end (epoch seconds)
    and duration (from the monotonic clock)."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._ids = itertools.count(1)

    def open(self, name: str, parent: int | None = None) -> dict:
        rec = {"id": next(self._ids), "parent": parent, "name": name,
               "start": time.time(), "_t0": time.perf_counter()}
        self.records.append(rec)
        return rec

    @staticmethod
    def close(rec: dict) -> float:
        rec["end"] = time.time()
        rec["dur_s"] = time.perf_counter() - rec.pop("_t0")
        return rec["dur_s"]


def register_stream_listener(spark) -> list[dict]:
    """Register a StreamingQueryListener; returns the list it appends
    every trigger's progress to."""
    from pyspark.sql.streaming import StreamingQueryListener

    seen: list[dict] = []

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            seen.append({
                "query": str(p.id),
                "ts": dt.datetime.fromisoformat(
                    p.timestamp.replace("Z", "+00:00")).timestamp(),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    spark.streams.addListener(Listener())
    return seen


def load_canon(root: str):
    """The exact cell canonicalisation of tools/strict_sweep.py."""
    path = os.path.join(root, "tools", "strict_sweep.py")
    mod_spec = importlib.util.spec_from_file_location("strict_sweep", path)
    mod = importlib.util.module_from_spec(mod_spec)
    mod_spec.loader.exec_module(mod)
    return mod.canon


class Oracles:
    """Each key's oracle result, canonicalised: its column names sorted,
    and its rows as a sorted list of canonical cells in that column
    order. DuckDB runs the oracle SQL once per input and SQL text; the
    result is kept under ``<data>/_oracles/`` for later runs."""

    def __init__(self, root: str, data: str) -> None:
        self.data, self.canon = data, load_canon(root)
        self.cache = os.path.join(data, "_oracles")
        self._con = None

    def _connect(self):
        import duckdb

        tmp = os.path.abspath("duckdb_tmp")
        con = duckdb.connect(config={
            "memory_limit": ORACLE_MEMORY, "temp_directory": tmp,
            "max_temp_directory_size": ORACLE_MEMORY,
        })
        for n in sorted(os.listdir(self.data)):
            if n.endswith(".parquet"):
                con.execute(f"CREATE VIEW {n[:-len('.parquet')]} AS SELECT * FROM "
                            f"read_parquet('{self.data}/{n}')")
        return con

    def get(self, sql: str) -> dict:
        path = os.path.join(self.cache, hashlib.sha256(sql.encode()).hexdigest() + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if self._con is None:
            self._con = self._connect()
        rel = self._con.execute(sql)
        cols = [c[0] for c in rel.description]
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        got = {"cols": [cols[i] for i in order],
               "rows": sorted([self.canon(r[i]) for i in order] for r in rel.fetchall())}
        os.makedirs(self.cache, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(got, f)
        os.replace(path + ".tmp", path)
        return got


def oracle_mismatch(df, expected: dict, canon) -> str | None:
    """None when ``df`` equals its oracle as strict_sweep compares them
    (columns by name, rows as a sorted multiset of canonical cells, a
    0-row result never passing); else the reason."""
    scols, srows = df.columns, df.collect()
    if sorted(scols) != expected["cols"]:
        return f"columns {sorted(scols)} vs {expected['cols']}"
    so = sorted(range(len(scols)), key=lambda i: scols[i])
    sn = sorted([canon(r[i]) for i in so] for r in srows)
    dn = expected["rows"]
    if len(sn) != len(dn):
        return f"rows {len(sn)} vs {len(dn)}"
    if sn != dn:
        return "values differ, first: " + repr(
            next((a, b) for a, b in zip(sn, dn) if a != b))[:300]
    if not sn:
        return "0-row result"
    return None


def cached_mb(spark) -> float:
    """Bytes of every cached RDD, in memory or on disk."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / eventlog.MB


def warm_up(spark, data_dir: str, arrow_workers: bool) -> None:
    """Pay, before timing, what a fresh process pays once whichever key
    runs first: the JIT of the engine's Parquet scan, shuffle, join and
    aggregate paths and, with ``arrow_workers``, the start of the Python
    workers that evaluate Arrow UDFs, one per task slot, importing
    pandas and pyarrow. Plain PySpark on the input tables, so every key
    of the program still runs cold."""
    from pyspark.sql import functions as F

    from crime_data_batch_processing_spark.sources.tables import load_table

    def plus_one(batches):
        for batch in batches:
            yield batch + 1

    orders = load_table(spark, data_dir, "orders")
    customer = load_table(spark, data_dir, "customer")
    (orders.join(customer, orders.o_custkey == customer.c_custkey)
     .groupBy("c_mktsegment").agg(F.sum("o_totalprice").alias("total"))
     .write.format("noop").mode("overwrite").save())
    if not arrow_workers:
        return
    slots = spark.sparkContext.defaultParallelism
    (spark.range(0, 4096 * slots, numPartitions=slots).mapInPandas(plus_one, "id long")
     .write.format("noop").mode("overwrite").save())


def run_key(spark, registry, cachekit, key, data_dir, spans, run_span, check, trace):
    """Build, execute and (if ``check``) verify one key. Returns its record."""
    me = os.getpid()
    rec = {"key": key, "failed": False, "mismatch": None}
    kspan = spans.open(key, run_span["id"])
    cpu0, py0 = procfs.engine_cpu(me)
    df = None
    try:
        s = spans.open(f"{key}:build", kspan["id"])
        rec["build_span"] = s["id"]
        try:
            df = registry.QUERIES[key](spark, data_dir)
        finally:
            rec["build_s"] = spans.close(s)
        s = spans.open(f"{key}:exec", kspan["id"])
        rec["exec_span"] = s["id"]
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            rec["exec_s"] = spans.close(s)
    except Exception as exc:  # a failing key counts; the run goes on
        rec["failed"] = True
        rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
    cpu1, py1 = procfs.engine_cpu(me)
    rec["cpu_s"], rec["python_cpu_s"] = cpu1 - cpu0, py1 - py0
    rec["timed_s"] = rec.get("build_s", 0.0) + rec.get("exec_s", 0.0)
    if trace:
        rec["cache_mb"] = cached_mb(spark)
    if check is not None and not rec["failed"]:
        s = spans.open(f"{key}:check", kspan["id"])
        try:
            rec["mismatch"] = oracle_mismatch(
                df, check.get(registry.ORACLES[key]), check.canon)
        except Exception as exc:  # noqa: BLE001 - reported, counted
            rec["mismatch"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        rec["check_s"] = spans.close(s)
    rec["frames"] = cachekit.release_all()
    spans.close(kspan)
    print(f"{key}: build {rec.get('build_s', 0):.3f} s, exec {rec.get('exec_s', 0):.3f} s, "
          f"check {rec.get('check_s', 0):.3f} s, failed {rec['failed']}, "
          f"mismatch {rec['mismatch']}", flush=True)
    return rec


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--root", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--keys", default="", help="comma-separated keys, in run order")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check", action="store_true",
                    help="compare every key's output with its oracle")
    ap.add_argument("--arrow-workers", action="store_true",
                    help="start the Arrow UDF workers in the warm-up")
    ap.add_argument("--prepare", action="store_true",
                    help="run every workload's keys once, untimed, and compute their oracles")
    args = ap.parse_args()

    spans = Spans()
    run_span = spans.open("run")
    load_start = os.getloadavg()[0]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if args.trace:
        log_dir = os.path.abspath("eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })

    # --- set-up: what every fresh process pays before its first key ---
    t0 = time.perf_counter()
    sys.path.insert(0, args.root)
    from crime_data_batch_processing_spark import cachekit, registry, session

    registry.load_all_operators()
    t1 = time.perf_counter()
    spark = session.get_spark(app_name="perfbench", extra_conf=conf)
    t2 = time.perf_counter()
    warm_up(spark, args.data, args.arrow_workers)
    t3 = time.perf_counter()
    setup = {"registry.import_s": t1 - t0, "session.start_s": t2 - t1,
             "warmup_s": t3 - t2, "setup_s": t3 - t0}

    if args.prepare:
        keys = sorted({k for w in spec.WORKLOADS.values() for k in w["keys"]})
        recs = [run_key(spark, registry, cachekit, k, args.data, spans, run_span, None, False)
                for k in keys]
        oracles = Oracles(args.root, args.data)
        for k in keys:
            oracles.get(registry.ORACLES[k])
        result = {"failed": [r["key"] for r in recs if r["failed"]]}
    else:
        check = Oracles(args.root, args.data) if args.check else None
        progress = register_stream_listener(spark) if args.trace else None
        # One cold pass, as a fresh process of the daily job runs it;
        # with --check, every output is checked between keys, outside
        # the timed spans.
        recs = [run_key(spark, registry, cachekit, k, args.data, spans, run_span,
                        check, bool(args.trace))
                for k in args.keys.split(",")]
        peak_rss = procfs.engine_peak_rss_mb(os.getpid())
        result = summarize(recs, setup)

    if args.trace:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    Spans.close(run_span)
    version = spark.version
    gateway = spark.sparkContext._gateway
    spark.stop()
    if args.trace and not args.prepare:
        result["layers"] = layers(recs, setup, peak_rss, spans, progress,
                                  eventlog.read_events(log_dir))
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)

    result.update({
        "spans": [r for r in spans.records if "end" in r],
        "setup": setup,
        "load_1min": [load_start, os.getloadavg()[0]],
        "spark_version": version,
    })
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


def summarize(recs: list[dict], setup: dict) -> dict:
    """End-to-end numbers of this process's set-up and pass."""
    failed = sum(r["failed"] for r in recs)
    mismatches = sum(r["mismatch"] is not None for r in recs)
    return {
        "metrics": {
            "wall_s": sum(r["timed_s"] for r in recs),
            "engine_cpu_s": sum(r["cpu_s"] for r in recs),
            "setup_s": setup["setup_s"],
        },
        "attempted": len(recs),
        "failed": failed,
        "mismatches": mismatches,
        "keys": recs,
    }


def layers(recs, setup, peak_rss, spans, progress, events) -> dict:
    """Per-layer numbers of the traced pass, plus the Spark counters of
    every key, added to its record."""
    windows = {r["id"]: (r["start"], r["end"]) for r in spans.records
               if r["name"].endswith((":build", ":exec")) and "end" in r}
    counts, tails = eventlog.rollup(events, windows)
    for r in recs:
        r["spark"] = {"build": counts.get(r.get("build_span")),
                      "exec": counts.get(r.get("exec_span"))}
    tot = dict.fromkeys(eventlog.COUNTERS, 0.0)
    stream = dict.fromkeys(("triggers", "empty", "add", "wal", "commit", "plan",
                            "offset", "state_rows", "state_bytes"), 0.0)
    for r in recs:
        for c in r["spark"].values():
            for k, v in (c or {}).items():
                tot[k] += v
        b_win = windows.get(r.get("build_span"))
        mine = [p for p in progress if b_win and b_win[0] <= p["ts"] <= b_win[1]]
        last: dict[str, dict] = {}
        for p in mine:
            last[p["query"]] = p
        r["stream_triggers"] = len(mine)
        stream["triggers"] += len(mine)
        stream["empty"] += sum(p["rows"] == 0 for p in mine)
        for name, field in (("add", "addBatch"), ("wal", "walCommit"),
                            ("commit", "commitOffsets"), ("plan", "queryPlanning"),
                            ("offset", "latestOffset")):
            stream[name] += sum(p["ms"].get(field, 0) for p in mine) / 1e3
        stream["state_rows"] += sum(p["state_rows"] for p in last.values())
        stream["state_bytes"] += sum(p["state_bytes"] for p in last.values())
    build = [r["spark"]["build"] or {} for r in recs]
    ex = [r["spark"]["exec"] or {} for r in recs]
    all_tails = [t for r in recs for sid in (r.get("build_span"), r.get("exec_span"))
                 for t in tails.get(sid, [])]
    return {
        "registry.import_s": setup["registry.import_s"],
        "session.start_s": setup["session.start_s"],
        "build.s": sum(r.get("build_s", 0.0) for r in recs),
        "build.jobs": sum(c.get("jobs", 0) for c in build),
        "build.stages": sum(c.get("stages", 0) for c in build),
        "exec.s": sum(r.get("exec_s", 0.0) for r in recs),
        "exec.jobs": sum(c.get("jobs", 0) for c in ex),
        "exec.stages": sum(c.get("stages", 0) for c in ex),
        "exec.tasks": sum(c.get("tasks", 0) for c in ex),
        "task.run_s": tot["task.run_s"],
        "task.cpu_s": tot["task.cpu_s"],
        "task.gc_s": tot["task.gc_s"],
        "task.failed": tot["task.failed"],
        "task.tail_ratio": statistics.mean(all_tails) if all_tails else 1.0,
        "shuffle.write_mb": tot["shuffle.write_mb"],
        "shuffle.read_mb": tot["shuffle.read_mb"],
        "spill.mb": tot["spill.mb"],
        "scan.input_mb": tot["scan.input_mb"],
        "scan.input_rows": tot["scan.input_rows"],
        "python.cpu_s": sum(r["python_cpu_s"] for r in recs),
        "python.mb_sent": tot["python.mb_sent"],
        "python.mb_returned": tot["python.mb_returned"],
        "cache.frames": sum(r["frames"] for r in recs),
        "cache.peak_mb": max(r.get("cache_mb", 0.0) for r in recs),
        "engine.peak_rss_mb": peak_rss,
        "stream.triggers": stream["triggers"],
        "stream.empty_triggers": stream["empty"],
        "stream.add_batch_s": stream["add"],
        "stream.wal_commit_s": stream["wal"],
        "stream.commit_offsets_s": stream["commit"],
        "stream.query_planning_s": stream["plan"],
        "stream.latest_offset_s": stream["offset"],
        "stream.state_rows": stream["state_rows"],
        "stream.state_mb": stream["state_bytes"] / eventlog.MB,
        "sink.output_mb": tot["sink.output_mb"],
        "sink.output_rows": tot["sink.output_rows"],
        "trace.wall_s": sum(r["timed_s"] for r in recs),
    }


if __name__ == "__main__":
    raise SystemExit(main())
