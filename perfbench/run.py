#!/usr/bin/env python3
"""Land-Registry benchmark for graft: one workload, one seed, one run.

Run from the root of a checkout:

    python3 perfbench/run.py --workload monthly_update --seed 1 --seconds 10 --trace 0

Builds graft from `src/main/scala` and the benchmark from
`perfbench/scala` with the Scala compiler that ships in Spark's jar
directory (`$SPARK_HOME/jars`, or beside `spark-submit` on the PATH),
caching the classes under `.bench_build/`, then runs the workload in
one JVM. The
last line of standard output is the run's JSON result. Exits non-zero,
without a result, when the sources or the toolchain are missing or the
run fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("monthly_update", "analyst_reads", "corpus_dedup")
RUN_LIMIT_S = 170
HEAP = "3g"

# JDK 17 module openings Spark needs outside spark-submit (the same
# list as the repository's sbt build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[graftbench] {msg}", file=sys.stderr)
    sys.exit(2)


def scala_files(root):
    out = []
    for d, _, fs in os.walk(root):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars_dir = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars_dir):
        die("no Spark jar directory; set SPARK_HOME")
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
    compiler = [j for j in jars if os.path.basename(j).split("-2.13")[0] in
                ("scala-compiler", "scala-library", "scala-reflect")]
    if len(compiler) != 3:
        die(f"no scala-compiler/library/reflect jars in {jars_dir}")
    return jars, compiler


def compile_once(name, sources, classpath, compiler, key, resources=None):
    """Compile `sources` (and add `resources`) into
    .bench_build/<name>-<key>/classes.jar unless done. A jar, not a
    directory: the JVM's class-data archive only takes classes from jars."""
    out = os.path.join(BUILD, f"{name}-{key}")
    jar = os.path.join(out, "classes.jar")
    if os.path.isfile(jar):
        return jar
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(classpath), "-d", os.path.join(tmp, "classes.jar"),
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        die(f"compiling {name} failed")
    if resources and os.path.isdir(resources):
        with zipfile.ZipFile(os.path.join(tmp, "classes.jar"), "a") as z:
            for d, _, fs in os.walk(resources):
                for f in fs:
                    z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), resources))
    print(f"[graftbench] compiled {name} ({len(sources)} files) in {time.time() - t0:.1f}s",
          file=sys.stderr)
    for old in os.listdir(BUILD):  # earlier builds of the same part
        if old.startswith(f"{name}-") and old != os.path.basename(tmp):
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.rename(tmp, out)
    return jar


def build():
    main_src = os.path.join(ROOT, "src", "main", "scala")
    main_res = os.path.join(ROOT, "src", "main", "resources")
    bench_src = os.path.join(HERE, "scala")
    if not os.path.isdir(main_src) or not scala_files(main_src):
        die(f"no graft sources under {main_src}; run from the root of a graft checkout")
    if not scala_files(bench_src):
        die(f"no benchmark sources under {bench_src}")
    if shutil.which("java") is None:
        die("no java on PATH")
    jars, compiler = spark_jars()
    res = [os.path.join(d, f) for d, _, fs in os.walk(main_res) for f in fs]
    graft_key = digest(scala_files(main_src) + sorted(res), ":".join(jars))
    graft = compile_once("graft", scala_files(main_src), jars, compiler, graft_key, main_res)
    bench_key = digest(scala_files(bench_src), graft_key)
    bench = compile_once("bench", scala_files(bench_src), [graft] + jars, compiler, bench_key)
    classpath = [bench, graft] + jars
    return classpath, class_archive(classpath, bench_key)


def class_archive(classpath, key):
    """The JVM class-data archive for this build, made once by a training
    JVM that runs every workload's set-up and dumps the classes it loaded
    at exit. Runs that map it start their JVM and Spark session several
    seconds sooner. None if it cannot be made."""
    jsa = os.path.join(BUILD, f"classes-{key}.jsa")
    if not os.path.isfile(jsa):
        t0 = time.time()
        work = os.path.join(BUILD, "work", str(os.getpid()))
        os.makedirs(work, exist_ok=True)
        code, _ = run_jvm(classpath, "graftbench.Train", ["--work", work], limit=600,
                          extra=[f"-XX:ArchiveClassesAtExit={jsa}.tmp"], quiet=True)
        shutil.rmtree(work, ignore_errors=True)
        if code != 0 or not os.path.isfile(jsa + ".tmp"):
            print("[graftbench] no class-data archive; runs start without it", file=sys.stderr)
            return None
        for old in os.listdir(BUILD):  # archives of earlier builds
            if old.startswith("classes-") and old.endswith(".jsa"):
                os.remove(os.path.join(BUILD, old))
        os.rename(jsa + ".tmp", jsa)
        print(f"[graftbench] class-data archive made in {time.time() - t0:.1f}s", file=sys.stderr)
    return jsa


def run_jvm(classpath, main_class, args, limit=RUN_LIMIT_S, extra=(), quiet=False):
    """Run one JVM; relay its output; return (exit code, last stdout line)."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"] + list(extra) + ["-XX:+UseG1GC",
            # C1 only: under the full tiered JIT the short analyst queries run
            # while C2 is still compiling, ~35 % slower and too unsteady for
            # the bounds within a run's window (measured in README.md)
            "-XX:TieredStopAtLevel=1",
            # Spark generates many classes; the C1-only default code cache
            # (48 MB) fills, and a full cache stops the JVM
            "-XX:ReservedCodeCacheSize=256m", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", ":".join(classpath), main_class] + args)
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"[graftbench] run exceeded {limit}s and was stopped", file=sys.stderr)
        return 124, ""
    last = ""
    for line in out.splitlines():
        if line.startswith("{"):
            last = line
        elif not quiet:
            print(line, flush=True)
    return p.returncode, last


def clear_stale_work():
    """Remove work directories of runs that are no longer alive."""
    root = os.path.join(BUILD, "work")
    for d in os.listdir(root) if os.path.isdir(root) else []:
        try:
            os.kill(int(d), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
        except PermissionError:
            pass


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("selftest",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", action="store_true",
                    help="give the checks wrong expectations; the run must report failures")
    a = ap.parse_args()

    classpath, archive = build()
    cds = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    if a.workload == "selftest":
        code, _ = run_jvm(classpath, "graftbench.SelfTest", [], extra=cds)
        sys.exit(code)
    work = os.path.join(BUILD, "work", str(os.getpid()))
    clear_stale_work()
    os.makedirs(work)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    kind = "planted" if a.plant_wrong else f"trace{a.trace}"
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-{kind}-{int(time.time())}.json")
    code, last = run_jvm(classpath, "graftbench.Main",
                         ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--work", work, "--out", out]
                         + (["--plant-wrong", "1"] if a.plant_wrong else []), extra=cds)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not last:
        print(f"[graftbench] {a.workload} run failed (exit {code})", file=sys.stderr)
        sys.exit(1)
    print(last)


if __name__ == "__main__":
    main()
