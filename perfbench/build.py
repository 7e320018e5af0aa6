"""Build file of the benchmark: compiles the library (`src/main/scala`)
together with the harness (`perfbench/src`) with the Scala compiler that
ships in the Spark distribution, against the classpath build.sbt uses
(its `unmanagedBase` jar directory and `scalaVersion`). Output goes
to `.bench_build/perfbench/classes` under the checkout root and is reused
while no source file changed (a content hash is kept next to it).

Usage: python3 perfbench/build.py      (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def sbt_setting(pattern):
    """A quoted value from build.sbt, so both builds use one classpath
    and one Scala version."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(pattern, fh.read())
    if not m:
        raise RuntimeError(f"build.sbt has no match for {pattern}")
    return m.group(1)


def spark_jars():
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    return sbt_setting(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)')


def sources():
    found = []
    for base in ("src/main/scala", "src/main/java", "perfbench/src"):
        for ext in ("scala", "java"):
            found += glob.glob(os.path.join(ROOT, base, "**", f"*.{ext}"),
                               recursive=True)
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def source_hash():
    return digest(sources())


def build(log=sys.stderr):
    """Compile if needed; return the classes dir. Raises on failure."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("no src/main/scala next to perfbench: "
                           "nothing to build")
    files = sources()
    stamp = digest(files)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.sha256")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = spark_jars()
    version = sbt_setting(r'scalaVersion\s*:=\s*"([^"]+)"')
    compiler = [os.path.join(jars, f"scala-{n}-{version}.jar")
                for n in ("compiler", "library", "reflect")]
    missing = [j for j in compiler if not os.path.exists(j)]
    if missing:
        raise RuntimeError(f"Scala compiler jars not found: {missing}")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx3g",
           f"-Djava.io.tmpdir={OUT}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-cp", os.path.join(jars, "*"),
           "-d", classes, "@" + args_file]
    subprocess.run(cmd, check=True, stdout=log, stderr=log, cwd=ROOT)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
