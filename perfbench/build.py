#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's main sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
into one class directory under .bench_build/, with the Scala compiler that
ships in the Spark distribution's jars. No network, no build server.

The output is stamped with a digest of every compiled source, so a repeat
build of unchanged sources is a no-op.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = CLASSES / "BUILD_STAMP"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise SystemExit("build: no SPARK_HOME and no spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise SystemExit(f"build: no Spark jars under {jars}")
    return jars


def classpath() -> str:
    return os.pathsep.join(str(j) for j in sorted(spark_jars().glob("*.jar")))


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    own = BENCH / "src"
    if not main.is_dir():
        raise SystemExit(f"build: engine sources missing ({main.relative_to(ROOT)})")
    found = sorted(main.rglob("*.scala")) + sorted(own.rglob("*.scala"))
    if not found:
        raise SystemExit("build: no Scala sources found")
    return found


def digest(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compile if the stamp is stale; return the class directory."""
    files = sources()
    want = digest(files)
    if STAMP.exists() and STAMP.read_text() == want:
        return CLASSES
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    args = OUT / "scalac.args"
    args.write_text("\n".join(str(f) for f in files) + "\n")
    cp = classpath()
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-nowarn", "-d", str(tmp), f"@{args}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    (tmp / "BUILD_STAMP").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    print(build())
