#!/usr/bin/env python3
"""Runs the benchmark on several seeds per workload and reports each
metric's median and quartile spread (IQR as a share of the median), the
figure the bounds in BENCHMARK.json are set from.

    python3 perfbench/steadiness.py --runs 10 --first-seed 1 \
        --workloads board rag_ingest --out steadiness.json
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def cpu_ticks():
    """(steal, total) jiffies of the machine, or None where /proc/stat is missing.
    Steal is time a virtual CPU was runnable but the host ran another guest."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return f[7], sum(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None,
                    help="defaults to run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {"seconds": seconds, "trace": a.trace, "workloads": {}}
    for w in a.workloads:
        runs = []
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0, c0 = time.time(), cpu_ticks()
            p = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(seed),
                                                   "--seconds", str(seconds), "--trace", a.trace],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            elapsed, c1 = time.time() - t0, cpu_ticks()
            steal = (c1[0] - c0[0]) / max(1, c1[1] - c0[1]) if c0 and c1 else None
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                # no result line: keep the run, with why, and go on
                runs.append({"seed": seed, "exit": p.returncode, "elapsed_s": round(elapsed, 1),
                             "no_result": p.stderr.strip().splitlines()[-20:]})
                print(f"{w} seed={seed} exit={p.returncode} printed no result", file=sys.stderr, flush=True)
                continue
            # the harness's summary line: set-up cycle, warm and timed pass times
            log = [line for line in p.stderr.splitlines() if line.startswith("perfbench ")]
            passes = [line for line in log if line.startswith(f"perfbench {w} seed=")]
            runs.append({"seed": seed, "exit": p.returncode, "elapsed_s": round(elapsed, 1),
                         "steal_share": None if steal is None else round(steal, 4),
                         "passes": passes[-1] if passes else None, "log": log,
                         "correct": res["correct"], "attempted": res["attempted"],
                         "failed": res["failed"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed={seed} exit={p.returncode} elapsed={elapsed:.1f}s steal={steal} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  file=sys.stderr, flush=True)
        summary = {}
        done = [r for r in runs if "metrics" in r]
        for m in (done[0]["metrics"] if done else ()):
            vals = [r["metrics"][m] for r in done]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[m] = {"median": med, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / med if med else None, "bound": bounds.get(m)}
        report["workloads"][w] = {"runs": runs, "summary": summary,
                                  "elapsed_median_s": statistics.median(r["elapsed_s"] for r in runs)}
        for m, s in summary.items():
            print(f"{w:<11} {m:<14} median={s['median']:.4g} spread={s['spread']:.3f} "
                  f"bound={s['bound']}", file=sys.stderr)
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
