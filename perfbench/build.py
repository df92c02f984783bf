"""Build file of the benchmark: compiles the engine (``src/main/scala``) and
the benchmark harness (``perfbench/harness``) with the Scala compiler that
ships in Spark's jar directory, into ``.bench_build/classes-<digest>``.

The digest covers every source file, so a checkout builds once and a
changed source builds again.  Run on its own (``python3 perfbench/build.py``)
it prints the classes directory.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# Spark 4.x on JDK 17 needs these when a session starts outside
# spark-submit; the same list as the engine's own build.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jar directory, from SPARK_HOME or the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("perfbench: Spark not found (set SPARK_HOME)")
    return jars


def sources():
    srcs = []
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "harness")):
        if not os.path.isdir(top):
            sys.exit(f"perfbench: no sources at {os.path.relpath(top, ROOT)}")
        for d, _, files in os.walk(top):
            srcs += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(srcs)


def build(cores):
    """Compile if needed; return the classes directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(srcs))
    cp = os.path.join(spark_jars(), "*")
    t0 = time.time()
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-d", tmp, "-classpath", cp, "-nowarn",
         "-Ybackend-parallelism", str(max(1, min(cores, 8))), "@" + args],
        check=True, stdout=sys.stderr, timeout=800)
    os.remove(args)
    open(os.path.join(tmp, "DONE"), "w").close()
    # drop the classes of earlier sources
    for old in os.listdir(BUILD):
        if old.startswith("classes-") and os.path.join(BUILD, old) != tmp:
            shutil.rmtree(os.path.join(BUILD, old), ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return out


def java_cmd(classes, heap, main, args):
    """The java command line that runs `main` against the built classes."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", f"-Xmx{heap}", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false"] + ADD_OPENS +
            ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
             main] + args)


if __name__ == "__main__":
    print(build(len(os.sched_getaffinity(0))))
