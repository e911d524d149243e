"""Build file of the benchmark package.

Compiles the program's main sources (src/main/scala) together with the
harness (perfbench/src) into .bench_build/classes, using the Scala
compiler that ships in the Spark distribution's jars directory (the
same directory the program's build.sbt compiles against). A digest of
the sources is stored beside the classes; an unchanged tree is not
rebuilt.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def spark_jars() -> Path:
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else
    the one beside spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark jars directory with a Scala compiler (set SPARK_HOME)")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit(f"perfbench: program sources not found under {ROOT / 'src/main/scala'}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return os.pathsep.join([str(CLASSES), str(RESOURCES), str(spark_jars() / "*")])


def build() -> None:
    files = sources()
    want = digest(files)
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == want:
        return
    jars = spark_jars()
    staging = BUILD / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(staging), f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        sys.exit(f"perfbench: compilation failed ({proc.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)
    STAMP.write_text(want)


if __name__ == "__main__":
    build()
