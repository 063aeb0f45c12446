"""Runs every workload over several seeds and reports, per end-to-end
metric, the median, the quartiles and their distance as a share of the
median, the spread that each metric's bound limits. It
also reports each run's wall time.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads serve,churn] [--runs-out runs.jsonl]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs-out", help="append every run's result line here")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    print("| workload | metric | median | q1 | q3 | (q3-q1)/median | bound |")
    print("|---|---|---|---|---|---|---|")
    walls = {}
    for w in a.workloads.split(","):
        values = {}
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], capture_output=True, text=True, cwd=ROOT)
            walls.setdefault(w, []).append(time.time() - t0)
            if p.returncode != 0:
                sys.stderr.write("%s seed %d failed:\n%s\n" % (w, s, p.stderr[-3000:]))
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            if a.runs_out:
                with open(a.runs_out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": s, "wall_s": walls[w][-1],
                                        "result": r}) + "\n")
            if not r["correct"]:
                sys.stderr.write("%s seed %d: output check failed\n" % (w, s))
            for k, v in r["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            print("| %s | %s | %.4g | %.4g | %.4g | %.3f | %s |"
                  % (w, k, med, q1, q3, (q3 - q1) / med if med else 0.0, bounds.get(k)))
    print()
    print("| workload | runs | median wall s | max wall s |")
    print("|---|---|---|---|")
    for w, ws in walls.items():
        print("| %s | %d | %.1f | %.1f |" % (w, len(ws), statistics.median(ws), max(ws)))


if __name__ == "__main__":
    main()
