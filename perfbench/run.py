#!/usr/bin/env python3
"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload ingest_small_files --seed 1 --seconds 5 --trace 0

builds the program and the benchmark code (perfbench/build.py), generates
the workload's inputs from the seed, runs the benchmark in one JVM and prints the
result JSON as the last line of stdout. See perfbench/README.md.

    python3 perfbench/run.py --pin VERIFY_DUMP --scale sf0.1

prints fingerprints.tsv rows for a graft.Verify dump instead.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
WORKLOADS = ("ingest_small_files", "ingest_large_files", "query_mix")

# The fixed test tables of each scale (TESTDATA.md); read, never written.
TABLES = {sf: Path.home() / "testdata" / sf for sf in ("sf0.1", "sf0.001")}

KIB, MIB = 1024, 1024 * 1024
# Corpus shapes: (pairs, smallest, largest). Each pair is one incompressible
# and one compressible file of the same size; sizes step evenly from the
# smallest to the largest, so the seed changes the bytes, names and order
# but never the corpus size. Small files stay under one 512 KiB default
# chunk; large files span 24 to 40 chunks each.
CORPORA = {
    "full": {"ingest_small_files": (80, 4 * KIB, 256 * KIB),
             "ingest_large_files": (2, 12 * MIB + 12345, 20 * MIB + 12345)},
    "tiny": {"ingest_small_files": (3, 4 * KIB, 64 * KIB),
             "ingest_large_files": (1, 1 * MIB + 12345, 1 * MIB + 12345)},
}
WARM_CORPUS = (2, 4 * KIB, 64 * KIB)

JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData"]
DEADLINE_S = 175
# Task slots. Two keep the run's CPU demand near half of a four-core VM,
# where the host steals far less time than from four busy cores, and the
# scheduler, listener, GC and JIT threads do not queue behind the tasks.
CORES = min(2, os.cpu_count() or 1)
# Class-data-sharing archive of the classes a short ingest run loads; it
# only shortens JVM start-up and is rebuilt with the jar.
CDS = build.BUILD / "perfbench.jsa"
CDS_STAMP = build.BUILD / "perfbench.jsa.stamp"


def make_corpus(out: Path, seed: int, shape) -> list:
    """Writes the corpus under `out`; returns its manifest rows."""
    pairs, lo, hi = shape
    rng = random.Random(seed)
    words = [bytes(rng.choice(b"abcdefghijklmnopqrstuvwxyz0123456789 ,.;\n")
                   for _ in range(rng.randint(3, 12))) for _ in range(4096)]
    # ~12 KiB, so repeats fall inside one compression block of the topic codec
    dictionary = b" ".join(rng.choice(words) for _ in range(1500))
    sizes = [lo + (hi - lo) * i // max(1, pairs - 1) for i in range(pairs)]
    files = [(size, kind) for size in sizes for kind in ("bin", "txt")]
    rng.shuffle(files)
    rows = []
    for i, (size, kind) in enumerate(files):
        if kind == "bin":
            data = rng.randbytes(size)
        else:
            parts, total = [], 0
            while total < size:
                a = rng.randrange(len(dictionary) - 1024)
                piece = dictionary[a:a + rng.randint(64, 1024)]
                parts.append(piece)
                total += len(piece)
            data = b"".join(parts)[:size]
        rel = f"d{i % 8}/f{i:05d}.{kind}"
        path = out / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_bytes(data)
        rows.append(f"{rel}\t{size}\t{hashlib.sha256(data).hexdigest()}")
    return rows


def ingest_args(work: Path, workload: str, seed: int, scale: str) -> list:
    rows = make_corpus(work / "corpus", seed, CORPORA[scale][workload])
    (work / "manifest.tsv").write_text("\n".join(rows) + "\n")
    make_corpus(work / "warm-corpus", seed + 1, WARM_CORPUS)
    return ["--corpus", str(work / "corpus"), "--warm-corpus", str(work / "warm-corpus"),
            "--manifest", str(work / "manifest.tsv")]


def class_archive(jar: Path) -> list:
    """JVM flags that use the class-data-sharing archive, made first by a
    short training run when the jar changed. Without it the JVM just loads
    classes from the jars."""
    stamp = build.STAMP.read_text()
    if not (CDS.is_file() and CDS_STAMP.is_file() and CDS_STAMP.read_text() == stamp):
        CDS.unlink(missing_ok=True)
        work = build.BUILD / "work" / f"train-{os.getpid()}"
        shutil.rmtree(work, ignore_errors=True)
        work.mkdir(parents=True)
        try:
            args = ["--workload", "ingest_small_files", "--seed", "0", "--seconds", "1",
                    "--trace", "0", "--work", str(work)] + ingest_args(
                        work, "ingest_small_files", 0, "tiny")
            print("build: training the class-data-sharing archive", file=sys.stderr, flush=True)
            run_jvm(java_cmd(jar, work, args, [f"-XX:ArchiveClassesAtExit={CDS}"]),
                    work, time.monotonic() + DEADLINE_S)
        except SystemExit as e:
            print(f"build: no class-data-sharing archive ({e})", file=sys.stderr, flush=True)
            CDS.unlink(missing_ok=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        CDS_STAMP.write_text(stamp)
    return [f"-XX:SharedArchiveFile={CDS}"] if CDS.is_file() else []


def java_cmd(jar: Path, work: Path, args: list, extra: list = ()) -> list:
    jars = build.spark_jars()
    return (["java"] + JVM_FLAGS + list(extra) + [
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dspark.local.dir={work / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        "-cp", f"{jar}:{jars}/*", "perfbench.Main"] + args)


def run_jvm(cmd: list, work: Path, deadline: float) -> str:
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=work, text=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: the JVM ran past the deadline")
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: the JVM exited with {proc.returncode}")
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--tiny", action="store_true",
                    help="self-test scale: sf0.001 tables and a few-file corpus")
    ap.add_argument("--inject", choices=("flip-byte", "bad-fingerprint"),
                    help="self-test: corrupt one output or one pinned fingerprint")
    ap.add_argument("--pin", help="graft.Verify dump directory to fingerprint")
    ap.add_argument("--scale", default="sf0.1", choices=sorted(TABLES))
    a = ap.parse_args()
    if not a.pin and not a.workload:
        ap.error("--workload is required")

    jar = build.build()
    cds = class_archive(jar)
    # a cold checkout's first run compiles first; the run's own deadline
    # starts after the build
    deadline = time.monotonic() + DEADLINE_S
    work = build.BUILD / "work" / f"{a.workload or 'pin'}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.pin:
            out = run_jvm(java_cmd(jar, work, [
                "--pin", str(Path(a.pin).resolve()), "--scale", a.scale], cds), work, deadline)
            sys.stdout.write(out)
            return 0
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)]
        if a.inject:
            args += ["--inject", a.inject]
        if a.trace == "1":
            traces = build.BUILD / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            args += ["--trace-out", str(traces / f"{a.workload}-seed{a.seed}.json")]
        if a.workload == "query_mix":
            scale = "sf0.001" if a.tiny else "sf0.1"
            tables = TABLES[scale]
            if not (tables / "lineitem.parquet").exists():
                raise SystemExit(f"perfbench: test tables missing at {tables}")
            args += ["--tables", str(tables), "--scale", scale,
                     "--fingerprints", str(HERE / "fingerprints.tsv")]
        else:
            args += ingest_args(work, a.workload, a.seed, "tiny" if a.tiny else "full")
        out = run_jvm(java_cmd(jar, work, args, cds), work, deadline)
        lines = [l for l in out.splitlines() if l.strip()]
        result = json.loads(lines[-1])
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
