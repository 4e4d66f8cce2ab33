#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(src/main/scala, src/main/resources) and the benchmark's own sources
(perfbench/src) into one jar with the Scala compiler that ships in Spark's
jar directory. Nothing is downloaded.

    python3 perfbench/build.py [--root <checkout>]

The build is skipped when a stamp of every source file and of the jar
listing matches the last build, so runs never pay for a build they do not
need. Output: <checkout>/.bench_build/perfbench.jar, <checkout>/.bench_build/stamp.
The classes are packed in a jar (not left in a directory) so that the JVM
can put them in a class-data-sharing archive (see run.py).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources(root: Path):
    dirs = [root / "src" / "main" / "scala", root / "perfbench" / "src"]
    missing = [str(d) for d in dirs if not d.is_dir()]
    if missing:
        raise SystemExit(f"perfbench: source directory missing: {', '.join(missing)}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def resources(root: Path):
    d = root / "src" / "main" / "resources"
    return sorted(p for p in d.rglob("*") if p.is_file()) if d.is_dir() else []


def stamp(root: Path, files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def build(root: Path) -> Path:
    """Build if needed; returns the jar."""
    out = root / ".bench_build"
    classes = out / "classes"
    jar = out / "perfbench.jar"
    srcs = sources(root)
    res = resources(root)
    want = stamp(root, srcs + res)
    stamp_file = out / "stamp"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return jar
    jar.unlink(missing_ok=True)
    if not spark_jars().is_dir():
        raise SystemExit(f"perfbench: no Spark jars at {spark_jars()}")
    if classes.exists():
        shutil.rmtree(classes)
    classes.mkdir(parents=True)
    argfile = out / "scalac-args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    base = root / "src" / "main" / "resources"
    for p in res:
        dst = classes / p.relative_to(base)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    tmp = out / "perfbench.jar.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())
    tmp.replace(jar)
    shutil.rmtree(classes)
    stamp_file.write_text(want)
    return jar


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", default=".")
    a = ap.parse_args()
    print(build(Path(a.root).resolve()))


if __name__ == "__main__":
    main()
