#!/usr/bin/env python3
"""Compare a parent and a change checkout on the benchmark.

    # >= 10 alternating parent/change pairs per workload, then one traced
    # run each and the per-layer metrics that moved
    python3 perfbench/compare.py pairs --parent ../parent --change . \\
        [--workloads build,maintain,curate] [--out compare.json]

    # verdicts again from a saved comparison
    python3 perfbench/compare.py report compare.json

    # tracing overhead of one checkout: traced vs untraced op_s_p50
    python3 perfbench/compare.py overhead --checkout . --workload build

Pair i runs seed SEED0 + i on both sides; even pairs run the parent first,
odd pairs the change. Each side's median and quartiles are reported per
workload and metric, with the verdict of stats.verdict: a gain needs the
change to win at least nine tenths of the pairs and the medians to differ
by more than the parent's interquartile distance; a metric whose spread
exceeds its bound is "unresolved", or "not-worse" when every change run
reads better than every parent run. Both checkouts must carry the same
benchmark files.
"""

import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

PAIRS = 10
SEED0 = 1000
# seeds of the traced/untraced runs that give the tracing overhead
OVERHEAD_SEEDS = (1, 2, 3)


def bench_digest(checkout: Path) -> str:
    h = hashlib.sha256()
    h.update((checkout / "BENCHMARK.json").read_bytes())
    for f in sorted((checkout / "perfbench").rglob("*")):
        if f.is_file() and "__pycache__" not in f.parts:
            h.update(str(f.relative_to(checkout)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def run_once(checkout: Path, workload: str, seed: int, seconds: int, trace: int):
    """One run; returns its printed metrics, its workload metrics and, when
    traced, its op-kind layer breakdown."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{checkout}: {workload} seed {seed} failed:\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        print(f"warning: {checkout} {workload} seed {seed}: {result['failed']} "
              f"of {result['attempted']} ops failed", file=sys.stderr)
    saved = json.loads((checkout / ".bench_out" /
                        f"{workload}-seed{seed}-trace{trace}.json").read_text())
    return ({k: v["value"] for k, v in result["metrics"].items()},
            {k: v["value"] for k, v in saved["workload_metrics"].items()},
            saved["layer_breakdown"])


def fmt_side(values):
    q1, med, q3 = stats.quartiles(values) if len(values) > 1 else (values[0],) * 3
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}]"


def report_metric(name, pairs, better, bound):
    wins = sum(1 for p, c in pairs if (c < p if better == "lower" else c > p))
    v = stats.verdict(pairs, better, bound)
    print(f"  {name:18s} parent {fmt_side([p for p, _ in pairs]):32s} "
          f"change {fmt_side([c for _, c in pairs]):32s} "
          f"wins {wins}/{len(pairs)}  bound {bound}  -> {v}")


def report(bench: dict, runs: dict) -> None:
    # workload metrics carry no bound of their own: they are judged by
    # the bound of the unit wall they make up
    detail_bound = next(m["bound"] for m in bench["end_to_end"] if m["name"] == "op_s_p50")
    for workload, data in runs.items():
        print(f"\n== {workload}: {len(data['pairs'])} pairs")
        for m in bench["end_to_end"]:
            report_metric(m["name"], [(p[m["name"]], c[m["name"]]) for p, c in data["pairs"]],
                          m["better"], m["bound"])
        print("  workload metrics:")
        gated = {m["name"] for m in bench["end_to_end"]} | {"ops_failed_frac"}
        for name in (n for n in data["detail"][0][0] if n not in gated):
            pairs = [(p[name], c[name]) for p, c in data["detail"]
                     if p.get(name) is not None and c.get(name) is not None]
            if pairs:
                better = "higher" if name.endswith("_per_s") else "lower"
                report_metric(name, pairs, better, detail_bound)
        if "traced" in data:
            moved = stats.layer_diff(data["traced"]["parent"], data["traced"]["change"])
            print("  per-layer metrics that moved by more than 10% (traced runs):")
            for name, p, c, share in moved[:20]:
                print(f"    {name:40s} {p:12.4g} -> {c:12.4g}  ({share:+.0%})")
            if not moved:
                print("    none")


def cmd_pairs(a) -> None:
    parent, change = Path(a.parent).resolve(), Path(a.change).resolve()
    if bench_digest(parent) != bench_digest(change):
        raise SystemExit("the two checkouts carry different benchmark files; "
                         "measure both with identical benchmark code")
    bench = json.loads((change / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    runs = {}
    for w in workloads:
        data = runs.setdefault(w, {"pairs": [], "detail": []})
        for i in range(PAIRS):
            seed = SEED0 + i
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            got = {side: run_once(path, w, seed, seconds, 0) for side, path in order}
            data["pairs"].append((got["parent"][0], got["change"][0]))
            data["detail"].append((got["parent"][1], got["change"][1]))
            print(f"{w} pair {i + 1}/{PAIRS} seed {seed}: "
                  f"op_s_p50 parent {got['parent'][0]['op_s_p50']:.4g} "
                  f"change {got['change'][0]['op_s_p50']:.4g}", flush=True)
        traced = {side: run_once(path, w, SEED0, seconds, 1)
                  for side, path in (("parent", parent), ("change", change))}
        data["traced"] = {side: {**m, **b} for side, (m, _, b) in traced.items()}
        if a.out:
            Path(a.out).write_text(json.dumps({"bench": bench, "runs": runs}, indent=1))
    report(bench, runs)


def cmd_report(a) -> None:
    saved = json.loads(Path(a.file).read_text())
    report(saved["bench"], saved["runs"])


def cmd_overhead(a) -> None:
    checkout = Path(a.checkout).resolve()
    bench = json.loads((checkout / "BENCHMARK.json").read_text())
    plain, traced = [], []
    for seed in OVERHEAD_SEEDS:
        plain.append(run_once(checkout, a.workload, seed, bench["run_seconds"], 0)[0]["op_s_p50"])
        traced.append(
            run_once(checkout, a.workload, seed, bench["run_seconds"], 1)[0]["trace.op_s_p50"])
    p, t = statistics.median(plain), statistics.median(traced)
    print(f"{a.workload}: op_s_p50 untraced {p:.4g} s, traced {t:.4g} s "
          f"over {len(OVERHEAD_SEEDS)} seeds: tracing overhead {t / p - 1:+.1%}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--workloads")
    p.add_argument("--out")
    p.set_defaults(fn=cmd_pairs)
    r = sub.add_parser("report")
    r.add_argument("file")
    r.set_defaults(fn=cmd_report)
    o = sub.add_parser("overhead")
    o.add_argument("--checkout", default=".")
    o.add_argument("--workload", required=True)
    o.set_defaults(fn=cmd_overhead)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
