"""Compile the billing program (src/main/scala) and the benchmark
(billbench/src) into one class directory with the Scala compiler that ships
with Spark. A stamp of every source file's content skips the compile when
nothing changed.

    python3 billbench/build.py        # from the repository root
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "billbench"
CLASSES = OUT / "classes"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, or else the `unmanagedBase`
    that build.sbt compiles the program against."""
    if os.environ.get("SPARK_HOME"):
        jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        jars = pathlib.Path(m.group(1) if m else "jars")
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"build: no Spark jars with a Scala compiler under {jars}")
    return str(jars / "*")


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        sys.exit("build: no program sources under src/main/scala")
    return program + sorted((ROOT / "billbench" / "src").glob("*.scala"))


def build():
    """Return the class directory, compiling first if any source changed."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [pathlib.Path(__file__)]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = OUT / "stamp"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return CLASSES
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = spark_jars()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(tmp), "-cp", cp, "@" + str(argfile)],
        cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
