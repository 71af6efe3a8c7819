#!/usr/bin/env python3
"""Run one workload of the benchmark and print its metrics.

    python3 perfbench/run.py --workload report_vector --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run in a checkout generates
the input tables and runs every workload's keys once, untimed, so that
the fixtures the program derives from the input exist before any run is
timed. Each run then starts fresh measuring processes (``measure.py``)
one after the other, each in a working directory of its own under
``.perfbench/``, outside the package's import root, so Python workers
see the program only as Spark ships it to them. Each process pays
set-up and runs every key of the workload once; the run reports the
median over its processes.

Output: one ``# name = value unit`` line per metric, the path of the
run's record (stamps, spans and per-key detail), and as the last line
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The exit code is 0 only when that line was
printed.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import procfs  # noqa: E402
import spec  # noqa: E402

PACKAGE = "crime_data_batch_processing_spark"
#: Fresh processes a run starts at least; more start while the timed
#: passes add up to less than --seconds and the run is younger than
#: MORE_PROCESSES_UNTIL_S.
MIN_PROCESSES = 2
MORE_PROCESSES_UNTIL_S = 60
#: Wall-clock limits of one measuring process, in seconds.
PROCESS_LIMIT_S = 75
PREPARE_LIMIT_S = 600


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def source_digest() -> str:
    """sha256 over the program's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def git_sha() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def engine_env(work: str) -> dict[str, str]:
    """Environment of the measuring process: all cores this process may
    use, and Spark's and Python's scratch space inside ``work``."""
    env = dict(os.environ)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
    })
    return env


def _session_live(sid: int) -> list[int]:
    """Pids of the running processes of session ``sid`` (zombies, which
    only wait for their parent to reap them, do not count). The session
    also holds process groups of its own, such as PySpark's worker
    daemon."""
    live = []
    for name in os.listdir("/proc"):
        fields = procfs.stat_fields(int(name)) if name.isdigit() else None
        if fields is not None and int(fields[3]) == sid and fields[0] != "Z":
            live.append(int(name))
    return live


def stop_session(proc: subprocess.Popen) -> None:
    """Stop every process left in ``proc``'s session and wait until each
    has ended, escalating from SIGTERM to SIGKILL."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _session_live(proc.pid)
        if not pids:
            break
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 15
        while _session_live(proc.pid) and time.monotonic() < deadline:
            proc.poll()
            time.sleep(0.2)
    proc.wait()


def run_measure(args: list[str], work: str, limit_s: float) -> int | None:
    """Run measure.py in a session of its own. Returns its exit
    code, or None if it overran ``limit_s`` and was killed."""
    with open(os.path.join(work, "measure.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "measure.py"), "--root", ROOT, *args],
            cwd=work, env=engine_env(work), stdout=log, stderr=log,
            start_new_session=True,
        )
        try:
            return proc.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            return None
        finally:
            stop_session(proc)


def fresh_workdir(name: str) -> str:
    """An empty working directory under ``.perfbench/work/``."""
    work = os.path.join(STATE, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def ensure_input(sf: float) -> tuple[str, dict]:
    """Generate the tables once per checkout and scale, then run every
    workload's keys once so the program's derived fixtures exist, and
    compute their oracle results.

    The directory's name carries a digest of the checkout path: the
    program keys some scratch paths by the input directory's base name,
    and two checkouts must not share them.
    """
    tag = hashlib.sha256(ROOT.encode()).hexdigest()[:8]
    data = os.path.join(STATE, f"sf{str(sf).replace('.', '_')}_{tag}")
    rows_file = os.path.join(data, "_ROWS.json")
    if not os.path.exists(rows_file):
        shutil.rmtree(data, ignore_errors=True)
        rows = datagen.generate(ROOT, data, sf)
        with open(rows_file + ".tmp", "w") as f:
            json.dump(rows, f)
        os.replace(rows_file + ".tmp", rows_file)
    with open(rows_file) as f:
        rows = json.load(f)
    keys = sorted({k for w in spec.WORKLOADS.values() for k in w["keys"]})
    digest = hashlib.sha256(" ".join(keys).encode()).hexdigest()[:8]
    marker = os.path.join(data, f"_PREPARED_{digest}")
    if not os.path.exists(marker):
        work = fresh_workdir("prepare")
        out = os.path.join(work, "prepare.json")
        code = run_measure(["--data", data, "--out", out, "--prepare"], work, PREPARE_LIMIT_S)
        if code != 0:
            raise RuntimeError(f"prepare step failed (exit {code}); see {work}/measure.log")
        open(marker, "w").close()
    return data, rows


def aggregate(procs: list[dict]) -> dict:
    """End-to-end numbers of a run: medians over its processes, and
    the failures and oracle mismatches of all of them."""
    recs = [k for p in procs for k in p["keys"]]
    attempted = len(recs)
    failed = sum(k["failed"] for k in recs)
    mismatched = sorted({k["key"] for k in recs if k["mismatch"] is not None})
    metrics = {n: statistics.median(p["metrics"][n] for p in procs)
               for n in procs[0]["metrics"]}
    metrics["failed_frac"] = failed / attempted
    metrics["oracle_mismatches"] = len(mismatched)
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "mismatched_keys": mismatched,
            "correct": failed == 0 and not mismatched}


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", type=float, default=spec.SF,
                    help="scale factor of the generated input (default %(default)s)")
    args = ap.parse_args()
    # a terminated run still stops its measuring processes (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds < 1:
        return fail("--seconds must be at least 1")
    for need in ("BENCHMARK.json", os.path.join(PACKAGE, "registry.py"),
                 os.path.join("tools", "strict_sweep.py"), os.path.join("tools", "gen_soak.py")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return fail(f"{need} not found under {ROOT}: run from a checkout of the program")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    started = time.time()
    load_start = os.getloadavg()[0]
    shutil.rmtree(os.path.join(STATE, "work"), ignore_errors=True)
    try:
        data, rows = ensure_input(args.sf)
    except (OSError, RuntimeError) as exc:
        return fail(str(exc))
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    # Fresh processes, each paying set-up and one cold pass, until the
    # timed passes add up to --seconds; at least MIN_PROCESSES. The
    # first also checks every output against its oracle. Every other
    # process runs the seed's key order reversed, so the key that pays
    # a process's first-key warm-up differs between the two.
    order = spec.key_order(args.workload, args.seed)
    arrow = ["--arrow-workers"] if spec.WORKLOADS[args.workload]["arrow_udfs"] else []
    procs: list[dict] = []
    t_run = time.monotonic()
    while len(procs) < MIN_PROCESSES or (
            sum(p["metrics"]["wall_s"] for p in procs) < args.seconds
            and time.monotonic() - t_run < MORE_PROCESSES_UNTIL_S):
        work = fresh_workdir(os.path.join(name, f"p{len(procs)}"))
        out = os.path.join(work, "result.json")
        keys = order[::-1] if len(procs) % 2 else order
        code = run_measure(
            ["--data", data, "--out", out, "--keys", ",".join(keys),
             "--trace", str(args.trace), *(["--check"] if not procs else []), *arrow],
            work, PROCESS_LIMIT_S,
        )
        if code != 0 or not os.path.exists(out):
            return fail(f"measuring process ended with {code}; see {work}/measure.log")
        with open(out) as f:
            procs.append(json.load(f))
    res = aggregate(procs)

    record = {
        "workload": args.workload,
        "keys": spec.WORKLOADS[args.workload]["keys"],
        "seed": args.seed,
        "sf": args.sf,
        "rows": rows,
        "cores": len(os.sched_getaffinity(0)),
        "git_sha": git_sha(),
        "source_sha256": source_digest(),
        "spark_version": procs[0]["spark_version"],
        "load_1min_start_end": [load_start, os.getloadavg()[0]],
        "started_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(started)),
        **res,
        "processes": procs,
    }
    if args.trace:
        record["layers"] = {n: statistics.median(p["layers"][n] for p in procs)
                            for n in procs[0]["layers"]}
    os.makedirs(os.path.join(STATE, "records"), exist_ok=True)
    rec_path = os.path.join(STATE, "records", f"{name}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1)

    if args.trace:
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        values = record["layers"]
        shown = list(units)
    else:
        units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        shown = list(units)
        units.update(spec.UNBOUNDED)
        values = res["metrics"]
    for n, u in units.items():
        print(f"# {n} = {values[n]:.6g} {u}")
    print(f"# sf {args.sf} rows {json.dumps(rows)} cores {record['cores']} "
          f"passes {[round(p['metrics']['wall_s'], 3) for p in procs]} s, "
          f"record {os.path.relpath(rec_path, ROOT)}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in shown},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
