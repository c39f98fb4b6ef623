"""Build file of the benchmark.

Compiles the program (`src/main/scala`) together with the benchmark harness
(`perfbench/scala`) into `.bench_build/classes`, using the Scala compiler that
ships among Spark's jars (the jars `build.sbt` compiles against), so no build
tool or download is involved. A stamp holding a digest of every source skips
the compile when nothing changed.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the `unmanagedBase` directory `build.sbt` names."""
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
        jars = Path(found.group(1) if found else "jars")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    return program + sorted((ROOT / "perfbench" / "scala").rglob("*.scala"))


def build() -> Path:
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = OUT / "classes.stamp"
    classes = OUT / "classes"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    cp = f"{spark_jars()}/*"
    staging = OUT / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xmx3g", "-Xss32m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-cp", cp, "-d", str(staging), f"@{argfile}"]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
