"""Build file of the benchmark: compiles the engine's sources (src/main/scala)
together with the benchmark's (perfbench/src) into .bench_build/classes,
using the Scala compiler and the jars of the Spark distribution found via
SPARK_HOME (or the spark-submit on PATH). A stamp of the sources skips the
compile when nothing changed.

Usage, from the repository root: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            sys.exit("build: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        sys.exit(f"build: no jars directory under SPARK_HOME={home}")
    return jars


def jar(jars: Path, prefix: str) -> Path:
    found = sorted(jars.glob(prefix + "-2.*.jar"))
    if not found:
        sys.exit(f"build: no {prefix} jar in {jars}")
    return found[-1]


def sources() -> list:
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        sys.exit("build: missing source directories: " + ", ".join(str(d) for d in missing))
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def ensure() -> str:
    """Compile if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    compiler = [jar(jars, n) for n in ("scala-compiler", "scala-library", "scala-reflect")]
    h = hashlib.sha256()
    for p in srcs + compiler:
        h.update(str(p.relative_to(ROOT) if p.is_relative_to(ROOT) else p.name).encode())
        if p.suffix == ".scala":
            h.update(p.read_bytes())
    stamp = CLASSES / ".stamp"
    runtime_cp = f"{CLASSES}{os.pathsep}{jars}/*"
    if stamp.is_file() and stamp.read_text() == h.hexdigest():
        return runtime_cp
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    compile_cp = os.pathsep.join(str(p) for p in sorted(jars.glob("*.jar")))
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
         "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", compile_cp]
        + [str(p) for p in srcs],
        stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed with exit code {r.returncode}")
    (tmp / ".stamp").write_text(h.hexdigest())
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return runtime_cp


if __name__ == "__main__":
    print(ensure())
