"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into .bench_build/perfbench/classes
with the Scala compiler that ships among the Spark jars. A stamp over the
source contents skips the compile when nothing changed.

    python3 perfbench/build.py          # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """Jars of the Spark install at SPARK_HOME, or the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = sorted((Path(home) / "jars").glob("*.jar")) if home else []
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars found (SPARK_HOME={home})")
    return [str(j) for j in jars]


def sources():
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"perfbench: program sources missing: {PROGRAM_SRC}")
    files = sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        raise SystemExit("perfbench: no Scala sources to build")
    return files


def build():
    """Compile if the sources changed; return the classes directory."""
    files = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    if classes.exists():
        shutil.rmtree(classes)
    classes.mkdir(parents=True)
    cp = os.pathsep.join(jars)
    args_file = OUT / "scalac.args"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, "@" + str(args_file)]
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({res.returncode})")
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build())
