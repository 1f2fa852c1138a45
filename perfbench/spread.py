#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, as a regression check
measures it: for each workload, run the benchmark once per seed and report,
per metric, the median and the interquartile distance as a share of the
median (`statistics.quantiles(values, n=4)`), against the metric's bound in
BENCHMARK.json.

    python3 perfbench/spread.py [--seeds 1-10] [--workloads a,b] [--out results.jsonl]

Run it from the repository root. Each run's JSON result is appended to
`--out` (default `.bench_build/spread.jsonl`), so two sets of runs can be
compared with `--compare <file>`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(rows, bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in sorted({r["workload"] for r in rows}):
        runs = [r for r in rows if r["workload"] == w]
        print(f"{w}: {len(runs)} runs, {sum(r['seconds'] for r in runs):.0f} s in total "
              f"(longest {max(r['seconds'] for r in runs):.1f} s)")
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            share = (q3 - q1) / med if med else float("inf")
            gated = name != "setup_s"
            verdict = "ok" if share <= bound / 3 else ("within bound" if share <= bound else "TOO WIDE")
            if gated and share > bound:
                ok = False
            print(f"  {name:14s} median {med:12.4f}  iqr/median {share:7.4f}  bound {bound:5.3f}  "
                  f"{verdict if gated else '(not gated)'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default=os.path.join(".bench_build", "spread.jsonl"))
    ap.add_argument("--compare", default="", help="an earlier --out file: compare medians")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    rows = []
    os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
    for w in workloads:
        for s in seeds_of(a.seeds):
            cmd = bench["command"] + ["--workload", w, "--seed", str(s), "--seconds",
                                      str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            p = subprocess.run(cmd, capture_output=True, text=True)
            took = time.time() - t0
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
                sys.exit(f"{w} seed {s} failed (rc={p.returncode})")
            row = {"workload": w, "seed": s, "seconds": took,
                   "result": json.loads(p.stdout.strip().splitlines()[-1])}
            print(f"{w} seed {s}: {took:.1f} s  " + "  ".join(
                f"{k}={v['value']:.4g}" for k, v in row["result"]["metrics"].items()), flush=True)
            with open(a.out, "a") as fh:
                fh.write(json.dumps(row) + "\n")
            rows.append(row)
    ok = summarize(rows, bench)
    if a.compare:
        with open(a.compare) as fh:
            first = [json.loads(l) for l in fh if l.strip()]
        for m in bench["end_to_end"]:
            for w in workloads:
                v1 = [r["result"]["metrics"][m["name"]]["value"] for r in first if r["workload"] == w]
                v2 = [r["result"]["metrics"][m["name"]]["value"] for r in rows if r["workload"] == w]
                if not v1 or not v2:
                    continue
                m1, m2 = statistics.median(v1), statistics.median(v2)
                worse = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
                flag = "ok" if worse <= m["bound"] else "WORSE THAN BOUND"
                if worse > m["bound"]:
                    ok = False
                print(f"compare {w:18s} {m['name']:14s} {m1:10.4f} -> {m2:10.4f}  "
                      f"worse by {worse:+.4f} (bound {m['bound']})  {flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
