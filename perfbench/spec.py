"""What the benchmark runs, and what each per-layer number should move.

Names, units and bounds of the metrics live in ``BENCHMARK.json``. This
file holds what that file has no room for: each workload's keys, and for
each per-layer metric the layer it is taken from, the end-to-end metric
it should move and the workloads on which it should move it.

The two workloads were picked from a traced cold pass of the 96 keys of
the four key families in a fresh process each, at SF 0.1 on 4 cores
(build = ``QUERIES[key](spark, data)`` with its eager jobs, exec = the
``noop`` write). Shares of the pass, per family:

=============  =======  ======  ===========  ==========================
family         build s  exec s  build share  other
=============  =======  ======  ===========  ==========================
sql_report       19.3    33.6       36%      20.6 M rows scanned, 24 MB shuffled
llm_iterative    53.1    14.9       78%      237 eager jobs in build
llm_vector       30.0    54.6       35%      28 s Python-worker CPU
ingest_stream    70.4    13.0       84%      24 stream triggers, 5 MB sink output
=============  =======  ======  ===========  ==========================

From each family the benchmark keeps keys that show its share and whose
oracle DuckDB computes in seconds at SF 0.1 (the graph, dedup-cluster
and index keys take 40 s or run out of memory there), few enough that a
run of two fresh processes stays near a minute. The kept keys, traced
the same way (medians of the two processes of one run):

* ``report_vector``: build 2.5 s, exec 9.2 s (78% exec); 3.63 M rows
  scanned, 12.7 MB shuffled, 2.9 MB sent to Python workers, 0.6 s of
  their CPU after set-up started them; no cached frames, streams or
  sink writes. Besides
  ``analytics_large_orders`` it runs the two sql_report keys that
  shuffle the most without Python workers, in a traced pass of all 36
  (``join_interval_overlap`` 7.7 MB, ``analytics_waiting_suppliers``
  4.2 MB and 1.5 M rows scanned), so that scan and shuffle do real
  work and the pass, about 12 s, is long enough that a short host
  burst is a smaller share of it. (The llm_vector key with
  the most Python-worker CPU, ``multimodal_decode``, made a run 12 s
  longer, which 48 runs of a comparison cannot afford.)
* ``iterate_ingest``: build 10.2 s, exec 2.9 s (78% build); 16 jobs
  inside builds, 4 cached frames, one bounded stream with dedup state
  (7,500 state rows), 2.3 MB of sink output, 1.6 MB shuffled; 2.2 s
  of Python-worker CPU in ``text_bpe_train``, none of it through
  Python SQL nodes (``python.mb_sent`` reads 0).
"""

from __future__ import annotations

import random

#: Scale factor of the generated input (lineitem = 6,000,000 x SF rows).
SF = 0.1

WORKLOADS: dict[str, dict] = {
    # sql_report: filter + group-by + join reports over the star schema,
    # one with a range (interval-overlap) join;
    # llm_vector: image thumbnails and a scalar UDF in Python workers.
    "report_vector": {
        "keys": [
            "analytics_large_orders",
            "analytics_waiting_suppliers",
            "join_interval_overlap",
            "multimodal_thumbnail",
            "udf_scalar",
        ],
        # pandas_udf / mapInPandas / Arrow UDFs: set-up starts their
        # Python workers, so the first such key does not pay for it
        "arrow_udfs": True,
    },
    # llm_iterative: BPE training, many small eager jobs and persisted
    # frames; ingest_stream: a bounded stream with dedup state and a
    # partitioned Parquet sink.
    "iterate_ingest": {
        "keys": [
            "sink_partitioned",
            "stream_dedup",
            "text_bpe_train",
        ],
        # text_bpe_train's Python-worker CPU (about 2.3 s a pass) is not
        # Arrow UDF evaluation: an Arrow warm-up did not lower it
        "arrow_udfs": False,
    },
}

#: Printed with the end-to-end metrics and folded into the result's
#: ``failed`` and ``correct``; not in BENCHMARK.json, whose metrics are
#: never 0.
UNBOUNDED = {"failed_frac": "ratio", "oracle_mismatches": "count"}

_R, _I = ("report_vector",), ("iterate_ingest",)
_ALL = _R + _I
_PY = "Python workers (operators.udfs, operators.multimodal, operators.text_analysis)"

#: name -> (layer, end-to-end metric it should move, workloads it should
#: move it on). ``None``: no bounded metric; kept as a guard.
PER_LAYER: dict[str, tuple[str, str | None, tuple[str, ...]]] = {
    "registry.import_s": ("registry", "setup_s", _ALL),
    "session.start_s": ("session", "setup_s", _ALL),
    "build.s": ("operators (driver build)", "wall_s", _I),
    "build.jobs": ("operators (driver build)", "wall_s", _I),
    "build.stages": ("operators (driver build)", "wall_s", _I),
    "exec.s": ("operators (plan execution)", "wall_s", _R),
    "exec.jobs": ("operators (plan execution)", "wall_s", _R),
    "exec.stages": ("operators (plan execution)", "wall_s", _R),
    "exec.tasks": ("operators (plan execution)", "wall_s", _R),
    "task.run_s": ("Spark tasks", "wall_s", _ALL),
    "task.cpu_s": ("Spark tasks", "engine_cpu_s", _ALL),
    "task.gc_s": ("Spark tasks", "engine_cpu_s", _ALL),
    "task.failed": ("Spark tasks", "wall_s", _ALL),
    "task.tail_ratio": ("Spark tasks", "wall_s", _ALL),
    "shuffle.write_mb": ("Spark tasks", "wall_s", _ALL),
    "shuffle.read_mb": ("Spark tasks", "wall_s", _ALL),
    "spill.mb": ("Spark tasks", "wall_s", _R),
    "scan.input_mb": ("sources", "wall_s", _ALL),
    "scan.input_rows": ("sources", "wall_s", _ALL),
    "python.cpu_s": (_PY, "engine_cpu_s", _ALL),
    "python.mb_sent": (_PY, "wall_s", _R),
    "python.mb_returned": (_PY, "wall_s", _R),
    "cache.frames": ("cachekit", "wall_s", _I),
    "cache.peak_mb": ("cachekit", "wall_s", _I),
    "engine.peak_rss_mb": ("JVM + Python workers", None, _ALL),
    "stream.triggers": ("streaming", "wall_s", _I),
    "stream.empty_triggers": ("streaming", "wall_s", _I),
    "stream.add_batch_s": ("streaming", "wall_s", _I),
    "stream.wal_commit_s": ("streaming", "wall_s", _I),
    "stream.commit_offsets_s": ("streaming", "wall_s", _I),
    "stream.query_planning_s": ("streaming", "wall_s", _I),
    "stream.latest_offset_s": ("streaming", "wall_s", _I),
    "stream.state_rows": ("streaming", "wall_s", _I),
    "stream.state_mb": ("streaming", "wall_s", _I),
    "sink.output_mb": ("operators.sinks", "wall_s", _I),
    "sink.output_rows": ("operators.sinks", "wall_s", _I),
    "trace.wall_s": ("benchmark (traced wall_s)", "wall_s", _ALL),
}


def key_order(workload: str, seed: int) -> list[str]:
    """The workload's keys in the order ``seed`` executes them."""
    keys = list(WORKLOADS[workload]["keys"])
    random.Random(seed).shuffle(keys)
    return keys
