"""Runs the benchmark over several seeds and reports each end-to-end
metric's median and spread, the way the benchmark's acceptance is judged:
the spread is the distance between the first and third quartile of the
runs (statistics.quantiles(values, n=4)) as a share of their median.

    python3 perfbench/spread.py [--workloads a,b] [--seeds 1,2,3] [--seconds n]

Run it from the root of the repository. A metric is steady when its spread
is under a third of its bound in BENCHMARK.json; setup_s is not held to that.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default=",".join(str(s) for s in range(1, 11)))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args(argv)
    seeds = [int(s) for s in a.seeds.split(",")]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    walls = []
    for w in a.workloads.split(","):
        values = {}
        for seed in seeds:
            t0 = time.time()
            out = subprocess.run([sys.executable, os.path.join(ROOT, bench["command"][1]),
                                  "--workload", w, "--seed", str(seed), "--seconds", str(a.seconds),
                                  "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                sys.stderr.write(out.stderr[-2000:])
                raise SystemExit(f"{w} seed {seed}: exit code {out.returncode}")
            r = json.loads(out.stdout.splitlines()[-1])
            if not r["correct"]:
                failures = [l for l in out.stderr.splitlines() if l.startswith("FAILED")]
                print(f"{w} seed {seed}: {r['failed']} of {r['attempted']} calls failed, "
                      f"left out of the spread: {failures[:1]}", flush=True)
                continue
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s wall, "
                  + ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med
            steady = k == "setup_s" or spread < bounds[k] / 3
            print(f"  {w} {k}: median {med:.4g}, spread {spread:.3f}, bound {bounds[k]}"
                  f"{'' if steady else '  NOT STEADY'}", flush=True)
    runs = 4 + 22 * len(bench["workloads"])
    print(f"mean wall per run {statistics.mean(walls):.1f} s; "
          f"{runs} runs would take about {runs * statistics.mean(walls):.0f} s")


if __name__ == "__main__":
    main(sys.argv[1:])
