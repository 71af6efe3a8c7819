#!/usr/bin/env python3
"""Self-check of the benchmark on a tiny input (sf0.001).

    python3 perfbench/selfcheck.py [--workloads report_vector,iterate_ingest]

Runs each workload once untraced and once traced, from the checkout
root, and fails (exit 1) when:

* a run fails, or its output lacks an end-to-end metric named in
  ``BENCHMARK.json`` or its unit;
* a per-layer metric named in ``BENCHMARK.json`` has no mapping in
  ``spec.PER_LAYER``, is missing from a traced run or lacks its unit,
  or is 0 on a workload where ``spec.PER_LAYER`` says it should move
  something (guards that are 0 on a healthy tree are exempt);
* a ``stream_*`` key ran no Spark job inside its build span.

It prints each workload's tracing overhead: traced minus untraced
``wall_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import spec  # noqa: E402

#: Per-layer metrics that read 0 on a healthy tree: they guard against
#: a regression rather than measure work.
ZERO_GUARDS = {"spill.mb", "task.failed", "stream.empty_triggers"}


def run(workload: str, trace: int, sf: float) -> tuple[dict, list[str], str]:
    """(final JSON, '# name = value unit' lines, record path) of one run."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", str(sf)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"{workload} trace={trace}: exit {out.returncode}: {out.stderr[-500:]}")
    lines = out.stdout.strip().splitlines()
    record = next(ln.split(" record ")[1] for ln in lines if " record " in ln)
    return json.loads(lines[-1]), [ln for ln in lines if " = " in ln], record


def check_workload(bench: dict, workload: str, sf: float) -> tuple[list[str], float]:
    errs = []
    plain, shown, _ = run(workload, 0, sf)
    traced, _, record = run(workload, 1, sf)
    for res, label in ((plain, "untraced"), (traced, "traced")):
        if not res["correct"] or res["failed"]:
            errs.append(f"{workload} {label}: correct={res['correct']} failed={res['failed']}")
    printed = [(m["name"], m["unit"]) for m in bench["end_to_end"]] + list(spec.UNBOUNDED.items())
    for name, unit in printed:
        if not any(ln.startswith(f"# {name} = ") and ln.endswith(f" {unit}") for ln in shown):
            errs.append(f"{workload}: end-to-end {name} not printed with unit {unit}")
    for m in bench["end_to_end"]:
        got = plain["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"]:
            errs.append(f"{workload}: end-to-end {m['name']} missing or without unit")
    for m in bench["per_layer"]:
        name, got = m["name"], traced["metrics"].get(m["name"])
        if name not in spec.PER_LAYER:
            errs.append(f"per-layer {name} has no mapping in spec.PER_LAYER")
        elif got is None or got.get("unit") != m["unit"]:
            errs.append(f"{workload}: per-layer {name} missing or without unit")
        elif workload in spec.PER_LAYER[name][2] and name not in ZERO_GUARDS \
                and not got["value"]:
            errs.append(f"{workload}: per-layer {name} is 0 on a workload it maps to")
    with open(os.path.join(ROOT, record)) as f:
        procs = json.load(f)["processes"]
    for k in (k for p in procs for k in p["keys"]):
        if k["key"].startswith("stream_") and not k["spark"]["build"]["jobs"]:
            errs.append(f"{workload}: {k['key']} ran no job inside its build span")
    overhead = traced["metrics"]["trace.wall_s"]["value"] - plain["metrics"]["wall_s"]["value"]
    return errs, overhead


def main() -> int:
    ap = argparse.ArgumentParser(description="Self-check the benchmark at sf0.001.")
    ap.add_argument("--workloads", default=",".join(spec.WORKLOADS))
    ap.add_argument("--sf", type=float, default=0.001)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errs: list[str] = []
    for w in args.workloads.split(","):
        try:
            werrs, overhead = check_workload(bench, w, args.sf)
        except (RuntimeError, subprocess.TimeoutExpired) as exc:
            errs.append(str(exc))
            continue
        errs += werrs
        print(f"{w}: tracing overhead {overhead:+.3f} s (traced minus untraced wall_s)")
    for e in errs:
        print(f"FAIL {e}")
    print("selfcheck:", "FAILED" if errs else "ok")
    return 1 if errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
