"""Run the benchmark over several seeds and print every metric.

    python3 perfbench/summary.py --seeds 1 2 3 4 5 [--workloads color corpus] [--trace]

For each workload, runs ``run.py`` once per seed (untraced, one process
after another) and prints every end-to-end metric by name and unit: the
median over runs, the quartile spread as a share of the median against
the bound in BENCHMARK.json, and the highest percentile with at least
ten pooled samples beyond it, with the sample count.  Every run's output
checks are counted.  It then runs the first seed once more and checks
that the inputs (their digest) and the quality metrics
(``REPEATABLE``) repeat exactly.  With ``--trace`` it makes one traced
run per workload (first seed), prints the per-layer metrics, and
reports the tracing overhead: the traced run's end-to-end values against
the untraced medians.  Exits non-zero if a run failed, a check failed or
a repeat differed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PERCENTILES = (99, 95, 90, 75, 50)
REPEATABLE = ("colors_used", "gate_dup_recall", "recall_at_5")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict] | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if len(lines) < 2:
        print(f"  {workload} seed {seed}: no result (exit {p.returncode})\n{p.stderr[-2000:]}")
        return None
    detail, result = json.loads(lines[-2]), json.loads(lines[-1])
    for err in detail.get("errors", []):
        print(f"  {workload} seed {seed}: {err.splitlines()[0]}")
    return detail, result


def spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else 0.0


def tail(samples: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(samples)
    for p in PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            q = statistics.quantiles(samples, n=100, method="inclusive")[p - 1]
            return f"p{p}={q:.4g} (n={n})"
    return f"n={n}, too few for a tail"


def repeats(workload: str, seed: int, seconds: int, first) -> bool:
    """Run ``seed`` again: its inputs and quality metrics must repeat."""
    again = run_once(workload, seed, seconds, 0)
    if first is None or again is None:
        return False
    a, b = first[0], again[0]
    pairs = {k: (a["end_to_end"][k]["value"], b["end_to_end"].get(k, {}).get("value"))
             for k in REPEATABLE if k in a["end_to_end"]}
    pairs["inputs.sha256"] = (a["inputs"]["sha256"], b["inputs"]["sha256"])
    same = all(x == y for x, y in pairs.values())
    print(f"   seed {seed} again: {'repeats' if same else 'DIFFERS'}: "
          + " ".join(f"{k} {x} / {y}" for k, (x, y) in pairs.items()))
    return same and again[1]["failed"] == 0


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args(argv)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    ok = True
    for w in args.workloads:
        by_seed = {s: run_once(w, s, args.seconds, 0) for s in args.seeds}
        runs = [r for r in by_seed.values() if r]
        attempted = sum(r["attempted"] for _, r in runs)
        failed = sum(r["failed"] for _, r in runs)
        ok &= len(runs) == len(args.seeds) and failed == 0
        print(f"\n== {w}: {len(runs)}/{len(args.seeds)} runs, checks+calls "
              f"{attempted} attempted, {failed} failed")
        if not runs:
            continue
        d0 = runs[0][0]
        print(f"   provenance {json.dumps(d0['provenance'])}")
        print(f"   inputs {json.dumps(d0['inputs'])}")
        medians: dict[str, float] = {}
        for name, v in d0["end_to_end"].items():
            vals = [d["end_to_end"][name]["value"] for d, _ in runs if name in d["end_to_end"]]
            pooled = [x for d, _ in runs for x in d["samples"].get(name, [])]
            medians[name] = statistics.median(vals)
            sp = spread(vals)
            gate = ""
            if name in bounds:
                gate = f"  bound {bounds[name]:.2f} {'ok' if sp <= bounds[name] / 3 else 'WIDE'}"
            print(f"   {name:16s} {medians[name]:12.4f} {v['unit']:6s} spread {sp:6.3f}"
                  f"  {tail(pooled) if pooled else ''}{gate}")
            print(f"   {'':16s} runs: {' '.join(f'{x:.4g}' for x in vals)}")
        ok &= repeats(w, args.seeds[0], args.seconds, by_seed[args.seeds[0]])
        if args.trace:
            traced = run_once(w, args.seeds[0], args.seconds, 1)
            if traced is None:
                ok = False
                continue
            d, r = traced
            ok &= r["failed"] == 0
            print("   tracing overhead (traced run vs untraced median):")
            for name, v in d["end_to_end"].items():
                if medians.get(name):
                    print(f"     {name:16s} {v['value'] / medians[name] - 1:+.3f}")
            print("   per-layer (per measured cycle):")
            for name, v in r["metrics"].items():
                print(f"     {name:44s} {v['value']:14.4f} {v['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
