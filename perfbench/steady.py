"""Steadiness self-check: run the benchmark twice over the same seeds and
report, per workload and end-to-end metric, each set's median and
quartiles, the spread (q3 - q1) / median, and the shift of the second
median against the first — both as shares, set against the bounds in
BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--sets 2] [--workload NAME ...]

Runs from the repository root, one benchmark process at a time; the
raw results go to stdout as JSON, the table to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    p = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    out["wall_s"] = time.perf_counter() - t0
    return out


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10, help="seeds per set")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seeds = range(args.first_seed, args.first_seed + args.runs)
    raw: dict = {}
    for s in range(args.sets):
        for w in workloads:
            for seed in seeds:
                r = run_once(bench["command"], w, seed, bench["run_seconds"])
                raw.setdefault(w, []).append({"set": s, "seed": seed, **r})
                print(f"set {s} {w} seed {seed} wall {r['wall_s']:.1f}s: " + " ".join(
                    f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                    file=sys.stderr, flush=True)

    report, ok = {}, True
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            sets = [[r["metrics"][name]["value"] for r in raw[w] if r["set"] == s]
                    for s in range(args.sets)]
            sums = [summary(v) for v in sets]
            worse = [
                (x["median"] - sums[0]["median"]) / sums[0]["median"]
                * (1 if m["better"] == "lower" else -1)
                for x in sums[1:]
            ]
            steady = all(x["spread"] <= bound / 3 for x in sums) or name == "setup_s"
            shift_ok = all(d <= bound for d in worse)
            ok &= steady and shift_ok
            report.setdefault(w, {})[name] = {"sets": sums, "worse_share": worse,
                                               "bound": bound}
            print(f"{w:14s} {name:16s} " + " | ".join(
                f"med {x['median']:.4g} q1 {x['q1']:.4g} q3 {x['q3']:.4g} "
                f"spread {x['spread']:.3f}" for x in sums)
                + f" | worse {', '.join(f'{d:+.3f}' for d in worse)} bound {bound}"
                + ("" if steady and shift_ok else "  <-- NOT STEADY"),
                file=sys.stderr)
        failed = sum(r["failed"] for r in raw[w])
        ok &= failed == 0
        print(f"{w}: {failed} failed of {sum(r['attempted'] for r in raw[w])}",
              file=sys.stderr)
    print(json.dumps({"steady": ok, "report": report, "raw": raw}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
