"""Build file of the benchmark harness.

Compiles the engine sources (`src/main/scala`) together with the harness
sources (`perfbench/src`) with the Scala compiler that ships in the Spark
jar directory, the same jars the engine's own build compiles against, and
packs the classes into `.bench_build/perfbench/graftbench.jar`. It then
makes a class-data-sharing archive (`app.jsa`) from a short warm-up run, so
a benchmark JVM skips most class loading. A stamp over every source file's
path and bytes makes a rebuild happen only when a source changed.

    python3 perfbench/build.py          # build (no-op when up to date)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "graftbench.jar")
ARCHIVE = os.path.join(OUT, "app.jsa")
STAMP = os.path.join(OUT, "stamp")


def spark_jars_dir():
    """The jar directory the engine's build.sbt compiles against
    (`unmanagedBase`), unless $SPARK_JARS_DIR names another."""
    if "SPARK_JARS_DIR" in os.environ:
        return os.environ["SPARK_JARS_DIR"]
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    engine = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                       recursive=True)
    harness = glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True)
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    if not harness:
        raise SystemExit("perfbench: no harness sources under perfbench/src")
    return sorted(engine) + sorted(harness)


def jars():
    d = spark_jars_dir()
    js = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not js:
        raise SystemExit(f"perfbench: no jars in {d}")
    return js


def stamp_of(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: the harness jar, then the Spark jars."""
    return os.pathsep.join([JAR] + jars())


def share_flags():
    """JVM flags that map the class-data-sharing archive, if there is one."""
    return [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []


def make_archive(java_cmd):
    """Record the classes a warm-up run loads into ARCHIVE; a failed
    warm-up leaves no archive, and runs then load classes as usual."""
    work = os.path.join(OUT, "warmup")
    os.makedirs(work, exist_ok=True)
    cmd = java_cmd(["--warmup", work], classpath(), work)
    cmd.insert(1, f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       cwd=work)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)


def build(java_cmd, verbose=True):
    """Build when a source changed. `java_cmd(args, cp, tmpdir)` gives the
    command line of a harness JVM (run.jvm_cmd)."""
    srcs = sources()
    want = stamp_of(srcs)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return
    if os.path.exists(OUT):
        shutil.rmtree(OUT)
    os.makedirs(CLASSES)
    js = jars()
    compiler = [j for j in js if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(js),
           "-d", CLASSES, "@" + argfile]
    if verbose:
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("perfbench: compile failed")
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, fs in os.walk(CLASSES):
            for n in fs:
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, CLASSES))
    shutil.rmtree(CLASSES)
    if verbose:
        print("perfbench: recording the class-data-sharing archive", file=sys.stderr)
    make_archive(java_cmd)
    with open(STAMP, "w") as f:
        f.write(want + "\n")


if __name__ == "__main__":
    import run
    build(run.jvm_cmd)
