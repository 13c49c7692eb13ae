"""Build file of the benchmark: compiles the program and the benchmark.

The program (`src/main/scala`) and the benchmark's own sources
(`perfbench/src`) are compiled with the Scala compiler that ships in the
Spark distribution's `jars/` directory, the same directory the program's
sbt build compiles against. Output goes to `.bench_build/` at the checkout
root, keyed by a hash of every source file, so an unchanged checkout
compiles once.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory next to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources(base):
    return sorted(glob.glob(os.path.join(base, "**", "*.scala"), recursive=True))


def compile_scala(jars, srcs, out, extra_cp):
    os.makedirs(out)
    args_file = out + ".args"
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join([os.path.join(jars, "*")] + extra_cp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-d", out] + SCALAC_OPTS
    if extra_cp:
        cmd += ["-classpath", os.pathsep.join(extra_cp)]
    proc = subprocess.run(cmd + ["@" + args_file], stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])


def build():
    """Compile if needed; return the runtime classpath as a list."""
    main_srcs = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_srcs = sources(os.path.join(BENCH_DIR, "src"))
    if not main_srcs:
        raise BuildError("no program sources under src/main/scala")
    if not bench_srcs:
        raise BuildError("no benchmark sources under perfbench/src")
    jars = spark_jars()
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for p in main_srcs + bench_srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    target = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    main_out = os.path.join(target, "main")
    bench_out = os.path.join(target, "bench")
    if not os.path.exists(os.path.join(target, "OK")):
        tmp = target + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compile_scala(jars, main_srcs, os.path.join(tmp, "main"), [])
        resources = os.path.join(ROOT, "src", "main", "resources")
        if os.path.isdir(resources):
            shutil.copytree(resources, os.path.join(tmp, "main"),
                            dirs_exist_ok=True)
        compile_scala(jars, bench_srcs, os.path.join(tmp, "bench"),
                      [os.path.join(tmp, "main")])
        shutil.rmtree(target, ignore_errors=True)
        os.rename(tmp, target)
        open(os.path.join(target, "OK"), "w").close()
    return [bench_out, main_out, os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
