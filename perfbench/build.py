"""Compile the engine and the benchmark into .bench_build/perfbench/classes.

The engine sources (src/main/scala) and the benchmark sources
(perfbench/scala) are compiled together with the Scala compiler that ships
among Spark's jars, against those same jars, so no build tool and no
dependency resolution is involved. A stamp of every source file's content
skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("spark-core_*.jar")):
            return c
    raise BuildError("no Spark installation found (set SPARK_HOME)")


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    bench = sorted((ROOT / "perfbench" / "scala").glob("*.scala"))
    if not bench:
        raise BuildError("no benchmark sources under perfbench/scala")
    return engine + bench


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compile if needed; returns the classes directory."""
    jars = spark_jars()
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    files = sources()
    want = stamp(files, jars)
    stamp_file = OUT / "stamp"
    if CLASSES.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return CLASSES
    staging = OUT / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-classpath", cp, f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise BuildError(f"scalac exited with {res.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)
    stamp_file.write_text(want)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
