#!/usr/bin/env python3
"""Build file of the flagship benchmark.

Compiles the program (src/main/scala plus src/main/resources) and the
benchmark (flagship_bench/src) from source with the Scala compiler that
ships among the Spark distribution's jars, so no build tool and no
network are needed. Output goes to <out>/classes; a stamp over every
input skips the compile when nothing changed.

    python3 flagship_bench/build.py [OUT_DIR]     # default .bench_build
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark distribution's jars, the program's only dependencies."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise SystemExit("flagship_bench: SPARK_HOME must name a Spark distribution")
    return os.path.join(home, "jars")


def _inputs(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    resources = sorted(
        p for p in glob.glob(os.path.join(root, "src/main/resources/**"), recursive=True)
        if os.path.isfile(p))
    bench = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    return main, resources, bench


def _stamp(root, files):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    for p in files:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _scalac(classpath, out, sources):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-cp", classpath]
    subprocess.run(cmd + ["@" + argfile], check=True, stdout=sys.stderr)
    os.remove(argfile)


def build(root, out_dir):
    """Compile if needed; return the run classpath."""
    main, resources, bench = _inputs(root)
    if not main or not bench:
        raise SystemExit("flagship_bench: no program sources under %s/src/main/scala" % root)
    classes = os.path.join(out_dir, "classes")
    main_out, bench_out = os.path.join(classes, "main"), os.path.join(classes, "bench")
    stamp = _stamp(root, main + resources + bench)
    stamp_file = os.path.join(classes, "stamp")
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(classes, ignore_errors=True)
        print("flagship_bench: compiling %d program and %d benchmark sources"
              % (len(main), len(bench)), file=sys.stderr)
        _scalac(None, main_out, main)
        res_root = os.path.join(root, "src/main/resources")
        for p in resources:
            dst = os.path.join(main_out, os.path.relpath(p, res_root))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        _scalac(main_out, bench_out, bench)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([bench_out, main_out, os.path.join(spark_jars(), "*")])


if __name__ == "__main__":
    print(build(os.getcwd(), sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
