"""Build the benchmark: compile the engine's Scala sources together with
the harness in perfbench/src into one class directory.

The engine builds against the jars of the Spark distribution (found at
$SPARK_HOME/jars, else at the `unmanagedBase` that build.sbt names),
which also carry the Scala compiler, so the build needs no dependency
resolution. Output goes to .bench_build/perfbench/classes-<digest>,
keyed on every source byte, so an unchanged checkout is never rebuilt.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("perfbench: no Spark jars (set SPARK_HOME)")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit("perfbench: engine sources not found under src/main/scala")
    found = []
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                if f.endswith(".java"):
                    sys.exit(f"perfbench: Java source {f} is not supported by this build")
                if f.endswith(".scala"):
                    found.append(os.path.join(d, f))
    return sorted(found)


def jar(jars, prefix):
    hits = sorted(f for f in os.listdir(jars) if f.startswith(prefix) and f.endswith(".jar"))
    if not hits:
        sys.exit(f"perfbench: no {prefix}*.jar in {jars}")
    return os.path.join(jars, hits[-1])


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(jars.encode())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".complete")):
        return classes
    tmp = classes + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    compiler = ":".join(jar(jars, p) for p in ("scala-compiler-", "scala-library-", "scala-reflect-"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit("perfbench: compile failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    try:
        os.rename(tmp, classes)
    except OSError:  # another build finished first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in os.listdir(OUT):
        if old.startswith("classes-") and os.path.join(OUT, old) != classes and ".tmp" not in old:
            shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
