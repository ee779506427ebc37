"""Runs one workload of the graft benchmark.

    python3 perfbench/run.py --workload kmeans_csv --seed 1 --seconds 8 --trace 0

Builds the program from source if needed (see build.py), then runs the
benchmark harness in one JVM sized from the host: cores from the CPUs
this process may use, heap from MemTotal (half of it, clamped to
2..8 GB, as the repository's test command does). The last line of
stdout is the result JSON; all generated files stay under .bench_build.
"""
import argparse
import os
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ["kmeans_csv", "dedup_corpus", "ann_embed"]


def heap_gb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return min(8, max(2, int(line.split()[1]) // 2097152))
    return 2


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit("build: %s" % e)
    work = build.OUT
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx%dg" % heap_gb(), "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "--add-modules", "jdk.incubator.vector"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--work", work]
    # Spark prefers this variable to spark.local.dir; keep scratch in the tree
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=a.seconds + 150)
    except subprocess.TimeoutExpired:
        sys.exit("benchmark process did not finish in time")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    sys.stdout.write(out)
    if proc.returncode != 0:
        sys.exit("benchmark process exited with code %d" % proc.returncode)


if __name__ == "__main__":
    main()
