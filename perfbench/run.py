#!/usr/bin/env python3
"""Run one workload of the fact-pipeline benchmark and print its metrics.

    python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source if needed (build.py),
runs the workload in one JVM at local[nproc], checks every operation's
output, and prints:

  - a header (nproc, sf, seed, source digest, JVM heap, traced or not),
  - every workload metric by name and unit,
  - as the last line, one JSON object {correct, attempted, failed, metrics}:
    the end-to-end metrics with --trace 0, the per-layer metrics with
    --trace 1.

The full result (header, workload metrics, the printed metrics) is also
written to .bench_out/<workload>-seed<seed>-trace<trace>.json.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("build", "maintain", "curate")
HEAP = "2g"
# Every run must end within this many seconds; the first run in a
# checkout also compiles, and gets the longer limit.
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880


def source_id():
    head = ROOT / ".git" / "HEAD"
    if head.is_file():
        proc = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              text=True)
        if proc.returncode == 0:
            return proc.stdout.strip()
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.monotonic()

    first = not (ROOT / ".bench_build" / "classes").is_dir()
    try:
        classes = build.ensure(ROOT)
    except build.BuildError as e:
        sys.exit(f"perfbench: cannot build: {e}")

    run_dir = ROOT / ".bench_build" / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    record_file = run_dir / "record.json"
    cmd = build.java_command(classes, HEAP, run_dir / "tmp") + [
        "perfbench.PerfBench", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", str(run_dir / "data"), "--out", str(record_file)]
    limit = (FIRST_RUN_LIMIT_S if first else RUN_LIMIT_S) - (time.monotonic() - t0)
    # a SIGTERM ends this process through the finally below, which stops
    # and reaps the JVM before its files are removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)
    try:
        _, err = proc.communicate(timeout=limit)
        if proc.returncode != 0 or not record_file.is_file():
            sys.stderr.write(err[-6000:])
            sys.exit(f"perfbench: {args.workload} aborted (exit {proc.returncode})")
        record = json.loads(record_file.read_text())
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {args.workload} did not finish within {limit:.0f} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in err.splitlines():
        if line.startswith("FAILED "):
            print(line, file=sys.stderr)

    h = record["header"]
    header = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "traced": bool(args.trace), "nproc": os.cpu_count(), "cores": h["cores"],
        "sf": h["sf"], "symbols": h["symbols"], "docs": h["docs"],
        "git_sha": source_id(), "source_sha256": (classes / build.STAMP).read_text(),
        "jvm_heap": f"-Xms{HEAP} -Xmx{HEAP} -XX:+AlwaysPreTouch", "max_heap_mb": h["max_heap_mb"],
        "spark": h["spark"],
    }
    ops = record["ops"]
    failed = sum(1 for o in ops if o["failure"])
    failures = [dict(workload=args.workload, op=o["kind"], seq=o["seq"], **o["failure"])
                for o in ops if o["failure"]]
    workload_metrics = stats.detail(record)
    breakdown = stats.op_breakdown(record) if args.trace else {}
    if args.trace:
        metrics = stats.per_layer(record)
        units = dict(stats.layer_metric_names())
    else:
        metrics = stats.end_to_end(record)
        units = dict(stats.END_TO_END)

    print("# " + " ".join(f"{k}={v}" for k, v in header.items()))
    for name, (value, unit, n) in workload_metrics.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"{args.workload}.{name} = {shown} {unit} (n={n})")
    units = stats.breakdown_units() | units
    for name, value in breakdown.items():
        print(f"{args.workload}.{name} = {value:.6g} {units[name]}")
    for f in failures:
        print(f"failure: {f}")
    print("# phases " + " ".join(f"{k}={v:.3f}" for k, v in record["notes"].items()
                                  if k.endswith("_s")))

    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({"header": header, "failures": failures, "notes": record["notes"],
                    "workload_metrics": {k: {"value": v, "unit": u, "n": n}
                                         for k, (v, u, n) in workload_metrics.items()},
                    "layer_breakdown": breakdown, "metrics": metrics}, indent=1) + "\n")

    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
