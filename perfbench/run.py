"""The benchmark's one command.

    python3 perfbench/run.py --workload bulk_validate|small_batches \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the benchmark from
source on first use (see build.py), runs one workload in one JVM, records
the host's run conditions around it, and prints the JVM's notes followed by
one JSON result line (the last line of standard output).

    python3 perfbench/run.py --selftest      # the benchmark's own tests
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

OUT = build.OUT
RUN_TIMEOUT_S = 170
WORKLOADS = ("bulk_validate", "small_batches")

# Fixed JVM settings, recorded with every run. The program's own JVM options
# (build.sbt javaOptions) plus: a fixed heap, C1-only JIT, no perf-data file. Tiered JIT
# keeps recompiling the per-run generated classes for minutes, so operation
# times never settle inside a run; under C1 they are flat after warm-up.
JVM_FLAGS = [
    "-XX:TieredStopAtLevel=1",
    "-XX:-UsePerfData",  # no /tmp/hsperfdata_* file: write only inside the checkout
    "-Xms3g", "-Xmx3g",
    "-XX:-DontCompileHugeMethods",
    "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def proc_stat():
    """(steal, iowait, total) jiffies summed over all CPUs."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7] if len(v) > 7 else 0, v[4], sum(v[:8])


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def java_cmd(classpath, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + JVM_FLAGS + opens + ["-Djava.io.tmpdir=" + tmp,
            "-cp", os.pathsep.join(classpath), main] + args)


def run_jvm(cmd, log_path):
    """Runs the JVM; its stderr (Spark's log) goes to a file. Returns
    (exit code, stdout lines)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=ROOT)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            out, _ = p.communicate()
            sys.stderr.write(f"perfbench: run exceeded {RUN_TIMEOUT_S} s, killed\n")
            return 124, out.splitlines()
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--inject", default="", help="e.g. throw@4,wrong@5 (failure-path test)")
    ap.add_argument("--extra", default="", help="extra perfbench.Bench arguments, e.g. '--bulk-clips 50000'")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    try:
        classpath = build.build()
    except SystemExit as e:
        sys.stderr.write(f"{e}\n")
        return 2
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    try:
        if a.selftest:
            code, lines = run_jvm(java_cmd(classpath, "perfbench.SelfTest", [], tmp),
                                  os.path.join(OUT, "selftest.log"))
            print("\n".join(lines))
            return code

        work = os.path.join(OUT, f"work-{os.getpid()}")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", work,
                "--traces", os.path.join(OUT, "traces")] + a.extra.split()
        if a.inject:
            args += ["--inject", a.inject]
        steal0, io0, tot0 = proc_stat()
        load0, t0 = loadavg(), time.time()
        code, lines = run_jvm(java_cmd(classpath, "perfbench.Bench", args, tmp),
                              os.path.join(OUT, f"last-{a.workload}.log"))
        steal1, io1, tot1 = proc_stat()
        hz = os.sysconf("SC_CLK_TCK")
        cond = {"wall_s": round(time.time() - t0, 3),
                "steal_core_s": (steal1 - steal0) / hz, "iowait_core_s": (io1 - io0) / hz,
                "steal_share": (steal1 - steal0) / max(1, tot1 - tot0),
                "load1_before": load0, "load1_after": loadavg(), "nproc": os.cpu_count()}
        shutil.rmtree(work, ignore_errors=True)
        result = None
        if lines and lines[-1].startswith("{"):
            result = json.loads(lines[-1])
            lines = lines[:-1]
        for ln in lines:
            print(ln)
        print("# conditions " + json.dumps(cond))
        with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                "seconds": a.seconds, "exit": code, "conditions": cond,
                                "notes": lines, "result": result}) + "\n")
        if result is None:
            sys.stderr.write(f"perfbench: no result (exit {code}); see {OUT}/last-{a.workload}.log\n")
            return code or 1
        print(json.dumps(result))
        return code
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
