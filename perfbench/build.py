"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/src/main/scala`) with the Scala compiler
that ships in Spark's jar directory, into `<build dir>/classes`.

The build is skipped when a stamp of every source file's path and content
matches the last successful build.

Run on its own: python3 perfbench/build.py [build dir]   (from the repo root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars(root: Path) -> Path:
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    names as `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    return Path(m.group(1)) if m else root / "jars"


def sources(root: Path) -> list:
    dirs = [root / "src" / "main" / "scala", HERE / "src" / "main" / "scala"]
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def stamp(root: Path, files: list) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root: Path, out: Path, timeout: float) -> Path:
    """Returns the class directory, compiling first if any source changed."""
    classes = out / "classes"
    files = sources(root)
    want = stamp(root, files)
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cp = str(spark_jars(root) / "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, "@" + str(argfile)]
    with open(out / "build.log", "w") as log:
        subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, check=True,
                       timeout=timeout)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    target = Path(sys.argv[1] if len(sys.argv) > 1 else ".bench_build").resolve()
    target.mkdir(parents=True, exist_ok=True)
    print(build(Path.cwd(), target, timeout=900))
