#!/usr/bin/env python3
"""Flagship benchmark: WARC -> ZipNum cluster build and cdx-server lookups.

Run from the repository root:

    python3 flagship_bench/run.py --workload build-many-small --seed 1 \\
        --seconds 15 --trace 0

Builds the program and the benchmark from source (flagship_bench/build.py,
into .bench_build/), generates the seeded corpus, runs one JVM with a
local Spark session and prints the JVM's report line followed by the
result object as the last line of stdout. --trace 1 reports the
per-layer metrics instead of the end-to-end ones and writes spans plus
the listener's job, stage and task metrics to
.bench_build/traces/<workload>-seed<seed>.json. Everything the run
writes stays under .bench_build/; its scratch directory is removed at
exit. Exit status is non-zero when a check fails or no result is made.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    root = os.getcwd()
    out = os.path.join(root, ".bench_build")
    classpath = build.build(root, out)

    work = os.path.join(out, "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    trace_out = os.path.join(out, "traces", "%s-seed%d.json" % (args.workload, args.seed))
    jvm = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        jvm += ["--add-opens", p + "=ALL-UNNAMED"]
    jvm += [
        "-Dspark.ui.enabled=false",
        "-Dspark.local.dir=" + tmp,
        "-Dspark.driver.host=127.0.0.1",
        "-Dspark.driver.bindAddress=127.0.0.1",
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-Dderby.system.home=" + os.path.join(work, "derby"),
    ]
    cmd = jvm + ["-cp", classpath, "graftbench.Main",
                 "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", args.trace,
                 "--work", work, "--trace-out", trace_out]
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=work)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print("flagship_bench: run exceeded %d s" % JVM_TIMEOUT_S, file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = stdout.rstrip("\n").split("\n")
    for line in lines[:-1]:
        print(line)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print(lines[-1])
        print("flagship_bench: no result (exit %d)" % proc.returncode, file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0 if proc.returncode == 0 and result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
