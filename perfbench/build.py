"""Build the program and the benchmark harness with the Scala compiler.

The program's main sources (src/main/scala) and perfbench/harness are
compiled together against the jar directory that build.sbt names as
`unmanagedBase` (Spark ships scala-compiler in it). The classes go to
.bench_build/classes and are rebuilt only when a source changes.

    python3 perfbench/build.py        # build if stale, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def jar_dir() -> Path:
    """The jar directory build.sbt compiles against; $SPARK_HOME/jars if
    build.sbt names none."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text()) if sbt.is_file() else None
    if m:
        return Path(m.group(1))
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sys.exit("build: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    srcs = sorted(main.rglob("*.scala")) if main.is_dir() else []
    if not srcs:
        sys.exit(f"build: no program sources under {main}")
    return srcs + sorted((ROOT / "perfbench" / "harness").glob("*.scala"))


def build() -> str:
    """Compile if any source changed; return the runtime classpath."""
    srcs = sources()
    jars = sorted(str(j) for j in jar_dir().glob("*.jar"))
    if not jars:
        sys.exit(f"build: no jars in {jar_dir()}")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes())
    classes, stamp = BUILD / "classes", BUILD / "classes.sha256"
    cp = os.pathsep.join([str(classes)] + jars)
    if stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jar_cp = os.pathsep.join(jars)
    proc = subprocess.run(
        [java(), "-Xss16m", "-Xmx2g", "-cp", jar_cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(classes), "-classpath", jar_cp]
        + [str(s) for s in srcs],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"build: scalac exited {proc.returncode}")
    stamp.write_text(digest.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
