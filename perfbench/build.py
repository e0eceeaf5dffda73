#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) together
with the benchmark's own code (perfbench/src) into one jar.

    python3 perfbench/build.py        # from the repository root

The compiler is the Scala 2.13 compiler jar that ships with Spark's jars, so
the build needs no dependency resolution and writes only under
.bench_build/. A stamp over every source file's path and bytes skips the
compile when nothing changed since the last successful build.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
JAR = BUILD / "perfbench.jar"
STAMP = BUILD / "perfbench.stamp"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"build: no program sources at {program}")
    files = sorted(program.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    return files


def stamp_of(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(" ".join(sorted(p.name for p in spark_jars().glob("scala-*.jar"))).encode())
    return h.hexdigest()


def build() -> Path:
    """Returns the jar, compiling first when the sources changed."""
    files = sources()
    jars = spark_jars()
    if not (jars / f"scala-compiler-{scala_version(jars)}.jar").is_file():
        raise SystemExit(f"build: no Scala compiler jar under {jars}")
    stamp = stamp_of(files)
    if STAMP.is_file() and STAMP.read_text() == stamp and JAR.is_file():
        return JAR
    out = BUILD / "classes"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", cp] + [str(f) for f in files]
    print(f"build: compiling {len(files)} files", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit("build: compile failed")
    tmp = JAR.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(out.rglob("*.class")):
            z.write(f, f.relative_to(out).as_posix())
    tmp.replace(JAR)
    shutil.rmtree(out)
    STAMP.write_text(stamp)
    return JAR


def scala_version(jars: Path) -> str:
    libs = sorted(jars.glob("scala-library-*.jar"))
    if not libs:
        raise SystemExit(f"build: no scala-library jar under {jars}")
    return libs[0].name[len("scala-library-"):-len(".jar")]


if __name__ == "__main__":
    print(build())
