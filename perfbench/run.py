"""Run one benchmark workload (or all of them) and print its result.

    python3 perfbench/run.py --workload kg_bulk --seed 1 --seconds 32 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Builds the program and the harness from the checkout's sources on first use
(see build.py), then runs the workload in one JVM with a local[nproc] Spark
session. The last line of stdout is the result object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
The full run record (seed, per-operation times, spans) is written to
.bench_build/results/. Exits non-zero, without a result, when the build or
the run fails.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# the benchmark's workloads; `all` runs these
WORKLOADS = ["kg_increments", "shacl_service"]
# runnable by name only: it fails the oracle at the seed state (see README.md)
EXTRA = ["kg_bulk"]
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (the same list as the
# program's build.sbt and Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_one(cp, workload, seed, seconds, trace):
    """Run one workload in its own JVM; return its result object or None."""
    tag = "%s-seed%d-trace%d" % (workload, seed, trace)
    work = os.path.join(build.BUILD, "work", "%s-%d" % (tag, os.getpid()))
    record = os.path.join(build.BUILD, "results", tag + ".json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # For steady timings: a fixed-size heap and the stop-the-world parallel
    # collector (no heap resizing between operations, no concurrent GC
    # threads competing with Spark's tasks), and JIT compile thresholds at a
    # fifth of the default, so Spark's planning and scheduling code reaches
    # steady state within the warm-up instead of over the first dozen
    # operations.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:CompileThresholdScaling=0.2",
           "-Xss4m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j.configurationFile=" + os.path.join(build.HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--root", build.ROOT,
            "--work", os.path.join(work, "run"), "--record", record]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work,
                            start_new_session=True)

    def stop(signum, _frame):
        # the JVM runs in its own process group: take it down with us
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("[bench] %s timed out after %ds" % (tag, RUN_TIMEOUT_S), file=sys.stderr)
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        print("[bench] %s exited with code %d" % (tag, proc.returncode), file=sys.stderr)
        return None
    try:
        result = json.loads(lines[-1])
    except ValueError:
        print("[bench] %s printed no result" % tag, file=sys.stderr)
        return None
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("[bench] %s result has keys %s" % (tag, sorted(result)), file=sys.stderr)
        return None
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=32)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        cp = build.classpath()
    except (build.BuildError, OSError, subprocess.SubprocessError) as e:
        print("[bench] build failed: %s" % e, file=sys.stderr)
        return 2

    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for name in names:
        r = run_one(cp, name, a.seed, a.seconds, a.trace)
        if r is None:
            return 1
        results[name] = r
        for metric, m in r["metrics"].items():
            print("[bench] %s %s = %.6g %s" % (name, metric, m["value"], m["unit"]),
                  file=sys.stderr)
        print("[bench] %s correct=%s attempted=%d failed=%d failed_frac=%.4f" % (
            name, r["correct"], r["attempted"], r["failed"],
            r["failed"] / max(1, r["attempted"])), file=sys.stderr)

    if a.workload == "all":
        for name, r in results.items():
            for metric, m in r["metrics"].items():
                print("%s %s %.6g %s" % (name, metric, m["value"], m["unit"]))
        total = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {"%s.%s" % (n, k): v for n, r in results.items()
                        for k, v in r["metrics"].items()},
        }
        print(json.dumps(total))
    else:
        print(json.dumps(results[a.workload]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
