"""Build file of the benchmark: compiles the program and the benchmark.

The program (`src/main/scala`) and the benchmark's own code (`perfbench/src`)
are compiled with the Scala compiler that ships among Spark's jars, against
those same jars, so no build tool or network is needed. Output goes under
`.bench_build/perfbench/{main,bench}-<digest>`; each digest covers the
sources compiled into it, so an unchanged tree is built once per checkout.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
SCALA = "2.13.17"


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else next to the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars (SPARK_HOME={home})")
    return jars


def sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def digest(files):
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def scalac(classpath, out_dir, files):
    compiler = [j for j in classpath if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    os.makedirs(out_dir, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-cp", os.pathsep.join(classpath), "-d", out_dir] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit(f"perfbench: compile failed ({len(files)} files into {out_dir})")


def compiled(target, classpath, files):
    """Compiles `files` into `target` once; an OK marker records success."""
    if not os.path.isfile(os.path.join(target, "OK")):
        tmp = target + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        scalac(classpath, tmp, files)
        shutil.rmtree(target, ignore_errors=True)
        os.rename(tmp, target)
        open(os.path.join(target, "OK"), "w").close()
    return target


def build():
    """Returns the runtime classpath, compiling first when sources changed."""
    program = sources(PROGRAM_SRC)
    if not program:
        raise SystemExit(f"perfbench: no program sources under {PROGRAM_SRC}")
    bench = sources(BENCH_SRC)
    jars = spark_jars()
    main_dir = compiled(os.path.join(OUT, "main-" + digest(program)), jars, program)
    bench_dir = compiled(os.path.join(OUT, "bench-" + digest(program + bench)),
                         jars + [main_dir], bench)
    for d in glob.glob(os.path.join(OUT, "main-*")) + glob.glob(os.path.join(OUT, "bench-*")):
        if d not in (main_dir, bench_dir):
            shutil.rmtree(d, ignore_errors=True)  # builds of other source trees
    return [bench_dir, main_dir, os.path.join(os.path.dirname(jars[0]), "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
