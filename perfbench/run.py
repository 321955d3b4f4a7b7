#!/usr/bin/env python3
"""Seeded lifecycle benchmark of graft.

    python3 perfbench/run.py --workload {ingest,serve,batch_serve} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Builds graft (src/main/scala) plus the
benchmark (perfbench/src) with the Scala compiler that ships in the Spark
distribution ($SPARK_HOME/jars, or the first Spark install on PATH), caching the
classes under .bench_build/ by a digest of the sources. The same build
step publishes the serving corpus's index generations once and dumps the
classes it loaded into a class-data-sharing archive that later runs map,
which cuts JVM and Spark start-up several-fold. Then runs the
workload in a fresh JVM on local[nproc], prints the metric lines and, as
the last line, one JSON result. Exits non-zero without a result when the
build or the run fails. Everything the run writes stays under
.bench_build/; the per-run directory is removed at exit, and a traced
run's spans are kept as .bench_build/traces/<workload>-s<seed>.jsonl.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("ingest", "serve", "batch_serve")
RUN_TIMEOUT_S = 170
HEAP = "3g"
# Spark on JDK 17 outside spark-submit needs these (build.sbt sets the same).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of $SPARK_HOME, else of the first Spark install on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if any(os.path.basename(j).startswith("spark-core_") for j in jars):
            return jars
    fail("no Spark jars found: set SPARK_HOME")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        fail("no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(jars):
    """Compiles once per source digest; returns (classes jar, digest)."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD, "classes-" + digest)
    jar = os.path.join(out, "perfbench.jar")
    if os.path.exists(os.path.join(out, "ok")):
        return jar, digest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-", os.path.basename(j))]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", ":".join(jars), "@" + argfile]
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("build failed")
    # class-data sharing maps classes from jars only, so package them
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(out):
            for f in files:
                if f.endswith(".class"):
                    p = os.path.join(d, f)
                    z.write(p, os.path.relpath(p, out))
    open(os.path.join(out, "ok"), "w").close()
    return jar, digest


def commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "none"
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
                           timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def jvm(classes, jars, work, args, timeout, cds):
    """Runs the benchmark main in a fresh JVM whose scratch stays in `work`.

    `cds` is a (flag, archive) pair: the build step dumps the classes it
    loaded into a class-data-sharing archive, which every later JVM maps
    instead of loading those classes again. A run requires the mapping
    (-Xshare:on), so a JVM that cannot map the archive fails instead of
    silently starting several times slower.
    """
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ,
               GRAFT_ARTIFACT_DIR=os.path.join(work, "artifacts"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    flag, _ = cds
    share = ["%s=%s" % cds] + (["-Xshare:on"] if flag == "-XX:SharedArchiveFile" else [])
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-Xmx" + HEAP, "-Xss8m", "-XX:-UsePerfData", "-Xlog:cds=off",
            "-Xlog:cds+dynamic=off"] + share
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", ":".join([classes] + jars), "graft.perfbench.PerfBench"] + args)
    sys.stdout.flush()
    p = subprocess.Popen(cmd, env=env, cwd=work)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        fail("stopped by signal %d" % signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail("run exceeded %ds" % timeout)
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_DFL)


def serving(classes, jars, digest):
    """Publishes the serving corpus's generations once per build."""
    out = os.path.join(BUILD, "serving-" + digest)
    if os.path.exists(os.path.join(out, "ok")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    print("perfbench: publishing the serving generations", file=sys.stderr)
    if jvm(classes, jars, out, ["prepare", out], 800,
           ("-XX:ArchiveClassesAtExit", os.path.join(out, "classes.jsa"))) != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail("publishing the serving generations failed")
    for scratch in ("tmp", "local", "warehouse"):
        shutil.rmtree(os.path.join(out, scratch), ignore_errors=True)
    open(os.path.join(out, "ok"), "w").close()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes, digest = build(jars)
    serve_dir = serving(classes, jars, digest)
    run_dir = os.path.join(BUILD, "runs", "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    result = os.path.join(run_dir, "result.json")
    os.environ["PERFBENCH_COMMIT"] = "%s+src:%s" % (commit(), digest)
    try:
        code = jvm(classes, jars, run_dir,
                   [a.workload, str(a.seed), str(a.seconds), str(a.trace), run_dir, result, serve_dir],
                   RUN_TIMEOUT_S, ("-XX:SharedArchiveFile", os.path.join(serve_dir, "classes.jsa")))
        if code != 0 or not os.path.exists(result):
            fail("run failed with exit code %d" % code)
        with open(result) as fh:
            line = fh.read().strip()
        json.loads(line)
        spans = os.path.join(run_dir, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(spans, os.path.join(BUILD, "traces", "%s-s%d.jsonl" % (a.workload, a.seed)))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(line, flush=True)


if __name__ == "__main__":
    main()
