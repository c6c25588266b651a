#!/usr/bin/env python3
"""Run the flagship benchmark over several seeds and summarise it.

From the repository root:

    python3 flagship_bench/baseline.py --seeds 1-10 [--workloads a,b] \\
        [--trace 0] [--out flagship_bench/baseline.json]

For every workload and metric it prints the median, the quartiles and the
interquartile spread as a share of the median (statistics.quantiles,
n=4), and for end-to-end metrics whether that spread is within the
metric's bound in BENCHMARK.json. --out writes the same summary as JSON.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.load(open(os.path.join(os.getcwd(), "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out")
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    summary = {}
    ok = True
    for w in args.workloads.split(","):
        values, runs = {}, []
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", args.trace],
                capture_output=True, text=True)
            wall = time.time() - t0
            try:
                result = json.loads(p.stdout.strip().split("\n")[-1])
            except ValueError:
                result = None
            good = p.returncode == 0 and result is not None and result["correct"]
            ok = ok and good
            runs.append({"seed": seed, "exit": p.returncode, "wall_s": round(wall, 1),
                         "correct": bool(result and result["correct"])})
            print("%s seed %d: exit %d, %.1f s%s" % (w, seed, p.returncode, wall,
                                                    "" if good else " FAILED"), flush=True)
            if not good:
                sys.stderr.write(p.stderr[-3000:])
                continue
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        metrics = {}
        for name, vs in values.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0],) * 3
            spread = (q3 - q1) / med if med else 0.0
            metrics[name] = {"median": med, "q1": q1, "q3": q3, "iqr_over_median": spread,
                             "values": vs}
            bound = bounds.get(name) if args.trace == "0" else None
            flag = "" if bound is None else ("  ok" if spread <= bound else "  OVER bound %.2f" % bound)
            if name == "setup_s" and bound is not None:
                flag += " (spread not gated)"
            print("  %-38s median %14.4f  iqr/median %.3f%s" % (name, med, spread, flag))
        summary[w] = {"runs": runs, "metrics": metrics}
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"host": {"cores": os.cpu_count(), "machine": platform.machine(),
                                "python": platform.python_version()},
                       "seeds": args.seeds, "trace": args.trace, "workloads": summary},
                      f, indent=1, sort_keys=True)
            f.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
