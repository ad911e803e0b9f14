"""Runs one workload of the benchmark and prints its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of the repository. It builds the program and the
benchmark from source (perfbench/build.py), makes the workload's inputs
under .bench_build/perfbench, and runs the workload in one JVM with Spark at
local[4]. The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The lines before it hold
the host context and, in a traced run, the per-layer table.

--pin 1 records the row count of every query of a suite workload into
perfbench/expected/ instead of measuring.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

import build

WORKLOADS = ("infer", "suite_sf0.01")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A copy of the repository's fixed sf0.01 test tables (TESTDATA.md, seed 42),
# read by suite_sf0.01.
CORPUS = os.path.join(build.HERE, "corpus", "sf0.01")


def java_cmd(classes, work, main, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    # A fixed, pre-touched heap and the parallel collector: with G1's
    # concurrent threads and heap resizing the run-to-run spread of the
    # suite on 4 cores was about twice as wide.
    return (["java"] + opens + [
        "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
        "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-cp", build.classpath(classes), main] + args)


def run_jvm(cmd, cwd):
    """Runs the JVM in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        raise SystemExit(f"perfbench: {cmd[-1]} ran past {JVM_TIMEOUT_S} s and was stopped")
    return proc.returncode, out


def fresh(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "unknown"


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--pin", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    classes = build.build()
    work = fresh(os.path.join(build.OUT, "work"))
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--corpus", CORPUS,
            "--expected", os.path.join(build.HERE, "expected"), "--pin", str(a.pin),
            "--ctx.commit", commit(),
            "--ctx.source_digest", build.read(os.path.join(build.OUT, "classes.digest"))[:16]]
    code, out = run_jvm(java_cmd(classes, work, "perfbench.Main", args), work)
    lines = out.splitlines()
    if a.pin:
        return 0 if code == 0 else 1
    if code != 0 or not lines:
        raise SystemExit(f"perfbench: the workload's JVM exited with code {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit("perfbench: malformed result line")
    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}_seed{a.seed}_trace{a.trace}.txt"), "w") as fh:
        fh.write(out)
    for f in os.listdir(work):
        if f.startswith("trace_"):
            os.replace(os.path.join(work, f), os.path.join(results, f"{a.workload}_seed{a.seed}_{f}"))
    shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
