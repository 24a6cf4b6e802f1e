#!/usr/bin/env python3
"""Steadiness check: do two sets of runs of the same build agree?

    python3 perfbench/steady.py            # every workload, 2 sets of 10 runs
    python3 perfbench/steady.py --trace    # the same, plus the tracing overhead

Each set runs every workload once per seed, seeds 1..10, untraced. Per
workload and end-to-end metric it prints each set's quartiles, the spread
(quartile distance over the median) of each set, and the shift of the
second set's median from the first's. A metric agrees when both spreads
and the absolute shift stay within its bound in BENCHMARK.json. It also
prints the ops attempted and failed in every run, and the share of CPU
time the hypervisor stole during each run (as run.py reports it); runs
above STEAL_FLAG are flagged, since their times were measured on a
stolen host. With --trace it adds, per workload, an untraced and then a
traced run of seed 1, and reports the tracing overhead as the traced
run's op_p50_s against the untraced one's; running the two back to back
keeps a change in the host's load between them small.
Writes the whole record to perfbench/out/steady.json; exits 1 if a
check fails.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SEEDS = range(1, 11)
SETS = 2
STEAL_FLAG = 0.05
STEAL_LINE = re.compile(r"^\[perfbench\] steal share ([0-9.]+)$", re.M)


def run(workload, seed, seconds, trace):
    t0 = time.monotonic()
    p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {p.returncode})")
    r = json.loads(lines[-1])
    r["wall_s"] = time.monotonic() - t0
    steal = STEAL_LINE.findall(p.stderr)
    r["steal"] = float(steal[-1]) if steal else 0.0
    return r


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    metrics = spec["end_to_end"]
    results = [{w: [] for w in workloads} for _ in range(SETS)]
    for s in range(SETS):
        for w in workloads:
            for seed in SEEDS:
                r = run(w, seed, spec["run_seconds"], 0)
                results[s][w].append(r)
                flag = "  STOLEN" if r["steal"] > STEAL_FLAG else ""
                print(f"set {s + 1} {w} seed {seed}: attempted {r['attempted']} "
                      f"failed {r['failed']} correct {r['correct']} "
                      f"steal {r['steal']:.3f} ({r['wall_s']:.1f} s){flag}", flush=True)
    ok = True
    report = {}
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':<20}" + "".join(
            f"{'set' + str(s + 1) + ' q1/median/q3':>36}" for s in range(SETS))
            + f"{'spread':>16}{'shift':>9}{'bound':>7}  verdict")
        report[w] = {}
        for m in metrics:
            name, bound = m["name"], m["bound"]
            qs = [statistics.quantiles([r["metrics"][name]["value"] for r in results[s][w]], n=4)
                  for s in range(SETS)]
            spreads = [(q3 - q1) / q2 for q1, q2, q3 in qs]
            shift = (qs[1][1] - qs[0][1]) / qs[0][1]
            good = abs(shift) <= bound and max(spreads) <= bound
            ok &= good
            report[w][name] = {"quartiles": qs, "spread": spreads, "shift": shift,
                               "bound": bound, "ok": good}
            print(f"  {name:<20}" + "".join(
                f"{q1:>12.4g}{q2:>12.4g}{q3:>12.4g}" for q1, q2, q3 in qs)
                + f"{'/'.join(f'{x:.3f}' for x in spreads):>16}{shift:>9.3f}{bound:>7}  "
                + ("ok" if good else "OUT OF BOUND"))
        shares = [sum(r["failed"] for r in results[s][w]) /
                  sum(r["attempted"] for r in results[s][w]) for s in range(SETS)]
        if len(set(shares)) > 1 or not all(r["correct"] for s in results for r in s[w]):
            ok = False
        steals = [[r["steal"] for r in results[s][w]] for s in range(SETS)]
        stolen = sum(x > STEAL_FLAG for ss in steals for x in ss)
        print(f"  failed share per set: {shares}")
        print("  steal per set (median/max): " + ", ".join(
            f"{statistics.median(ss):.3f}/{max(ss):.3f}" for ss in steals)
            + f"; {stolen} runs above {STEAL_FLAG}")
        report[w]["failed_share"] = shares
        report[w]["steal"] = steals
    if a.trace:
        print("\ntracing overhead (op_p50_s of a traced run vs an untraced run just before it)")
        for w in workloads:
            plain = run(w, SEEDS[0], spec["run_seconds"], 0)
            traced_run = run(w, SEEDS[0], spec["run_seconds"], 1)
            trace = json.loads((BENCH / "out" / f"trace-{w}-s{SEEDS[0]}.json").read_text())
            traced = trace["end_to_end"]["op_p50_s"]["value"]
            base = plain["metrics"]["op_p50_s"]["value"]
            report[w]["trace_overhead"] = traced / base - 1
            print(f"  {w}: traced {traced:.3f} s (steal {traced_run['steal']:.3f}), "
                  f"untraced {base:.3f} s (steal {plain['steal']:.3f}), "
                  f"overhead {traced / base - 1:+.1%}")
    out = BENCH / "out"
    out.mkdir(exist_ok=True)
    (out / "steady.json").write_text(json.dumps(
        {"seeds": list(SEEDS), "report": report,
         "runs": {f"set{s + 1}": results[s] for s in range(SETS)}}, indent=1))
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
