#!/usr/bin/env python3
"""graft's benchmark: build the program from source, run one workload.

    python3 perfbench/run.py --workload registry_short --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The first run compiles src/main/scala and
the benchmark's own Scala sources (perfbench/src) with the Scala compiler
that ships among the Spark jars, into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the classes while the sources are
unchanged. Spark comes from $SPARK_HOME/jars, or from the installation
that holds the spark-submit on PATH.

The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("registry_short", "pipeline_heavy", "genomic_io")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark 4 on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        fail(f"no Spark jars with a Scala compiler under $SPARK_HOME/jars ({home})")
    return jars


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"no program sources at {main}: run from the repository root")
    out = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root, jars):
    """Compile into <build>/classes unless the sources are unchanged."""
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    classes = os.path.join(build_dir, "classes")
    srcs = sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    h = hashlib.sha256()
    for p in srcs + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return build_dir, classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(build_dir, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    t0 = time.time()
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + args_file],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compile failed")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print(f"[perfbench] compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return build_dir, classes


def java_cmd(classes, jars, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>
    return (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
            ["-cp", os.pathsep.join([classes] + jars), main] + args)


def run_jvm(cmd, timeout):
    """Run the JVM in its own process group; return (code, stdout lines)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"run exceeded {timeout} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ("record",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", help="registry entry whose expected digest is replaced "
                    "by a wrong one, to show a wrong answer counts as failed")
    ap.add_argument("--sf", help="record: scale factor of the generated tables")
    ap.add_argument("--names", help="record: file listing registry entries")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    root = os.getcwd()
    jars = spark_jars()
    build_dir, classes = build(root, jars)
    work = os.path.join(build_dir, "work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    try:
        if a.self_test:
            code, lines = run_jvm(java_cmd(classes, jars, work, "graft.perfbench.SelfTest", []),
                                  RUN_TIMEOUT_S)
            print("\n".join(lines))
            sys.exit(code)
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--home", HERE, "--work", work]
        for k in ("corrupt", "sf", "names"):
            if getattr(a, k):
                args += ["--" + k, getattr(a, k)]
        code, lines = run_jvm(java_cmd(classes, jars, work, "graft.perfbench.Main", args),
                              RUN_TIMEOUT_S if a.workload != "record" else 3600)
        if a.workload == "record":
            print("\n".join(lines))
            sys.exit(code)
        result = [l for l in lines if l.startswith('{"correct"')]
        if code != 0 or not result:
            fail(f"workload {a.workload} exited with {code} and no result")
        for l in lines:
            if l.startswith('{"nproc"'):
                print(l)
        print(result[-1])
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
