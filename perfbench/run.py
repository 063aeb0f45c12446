"""Benchmark entry point.

    python3 perfbench/run.py --workload <serve|churn> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the program from source if needed (perfbench/build.py), runs one
workload in one JVM, and prints one JSON line last: the output-check
verdict, operations attempted and failed, and the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). Run from the root of a
checkout; everything it writes stays under the build directory there.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("serve", "churn")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def run_jvm(classes, workload, seed, seconds, trace, run_dir):
    """Runs one workload; returns the raw result dict written by the JVM."""
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    # -UsePerfData: no hsperfdata file under /tmp
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC",
           "-Djava.io.tmpdir=" + tmp]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--dir", run_dir,
            "--out", result, "--queries", os.path.join(HERE, "queries.json")]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: run exceeded %d s, see %s" % (RUN_TIMEOUT_S, log))
    if code != 0 or not os.path.exists(result):
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        raise SystemExit("perfbench: run failed (exit %d), see %s" % (code, log))
    with open(result) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    classes = build.build()
    run_dir = os.path.join(build.build_dir(), "runs", "%s-%d-%d" % (a.workload, a.seed, a.trace))
    raw = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, run_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    if a.trace:
        metrics = stats.per_layer(a.workload, raw)
    else:
        metrics = stats.end_to_end(a.workload, raw)
    failed_checks = [c for c in raw["checks"] if not c["ok"]]
    for c in raw["checks"]:
        sys.stderr.write("check %s: %s %s\n" % (c["name"], "ok" if c["ok"] else "FAILED",
                                                c["detail"]))
    for f in raw["failures"]:
        sys.stderr.write("failed op: %s\n" % f)
    print(json.dumps({
        "correct": not failed_checks and raw["failed"] == 0,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
