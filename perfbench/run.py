#!/usr/bin/env python3
"""Run one benchmark workload from the root of a checkout:

    python3 perfbench/run.py --workload <pip_broadcast|skew_shuffle|layout_query>
                             --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source when needed (build.py),
generates the seed's inputs unless cached (perfbench.Generate, in a JVM of
its own), then starts the measured JVM (perfbench.Main) with a fixed 3 GB
heap. Both JVMs load classes from a class-data-sharing archive, which the
first run after a build records from an untimed training run
(pip_broadcast, seed 0): it halves a JVM's cold start. That JVM prints every metric by name and unit and, as the last line
of standard output, one JSON object: correct, attempted, failed and metrics
(end-to-end metrics, or per-layer metrics with --trace 1).
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HEAP = "3g"
# Spark on JDK 17 needs these outside spark-submit (as in the engine's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# Time a run may take after the build before it is stopped.
RUN_LIMIT_S = 170


def java(cp, main_class, args, env, limit_s, flags=()):
    """Run one JVM with the run's heap and flags; stdout is returned, stderr
    passes through. Stops it when it outlives `limit_s`."""
    here = Path(__file__).resolve().parent
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *flags, f"-Djava.io.tmpdir={env['SPARK_LOCAL_DIRS']}",
           f"-Dlog4j2.configurationFile={here / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", *opens,
           "-cp", cp, main_class, *args]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: run exceeded {RUN_LIMIT_S} s and was stopped")
    except BaseException:
        # interrupted (SIGINT, or SIGTERM below): the JVM ends with us
        proc.kill()
        proc.wait()
        raise
    return proc.returncode, out


def class_archive(jar, cp, env, train_args):
    """The class-data-sharing archive for this build, recorded on first use
    by a training run that exits normally; None if recording failed."""
    key = hashlib.sha256(jar.read_bytes()).hexdigest()[:12]
    jsa = jar.parent / f"classes-{key}.jsa"
    if jsa.is_file():
        return jsa
    for old in jar.parent.glob("classes-*.jsa*"):
        old.unlink()
    tmp = jar.parent / f"classes-{key}.jsa.tmp"
    print("perfbench: recording the class-data-sharing archive", file=sys.stderr, flush=True)
    code, _ = java(cp, "perfbench.Generate", train_args, env, RUN_LIMIT_S)
    if code == 0:
        code, _ = java(cp, "perfbench.Main", [*train_args, "--seconds", "0", "--trace", "0"], env,
                       RUN_LIMIT_S, [f"-XX:ArchiveClassesAtExit={tmp}"])
    if code == 0 and tmp.is_file():
        tmp.replace(jsa)
        return jsa
    tmp.unlink(missing_ok=True)
    return None


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: stopped"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["pip_broadcast", "skew_shuffle", "layout_query"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    root = Path.cwd().resolve()
    jar = build.build(root)
    tmp = root / ".bench_build" / "work" / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cp = os.pathsep.join([str(jar), str(build.spark_jars() / "*")])
    here = Path(__file__).resolve().parent
    # cached inputs are keyed by the generator's source, so a changed
    # generator never meets tables written by an earlier one
    data_key = hashlib.sha256((here / "src" / "perfbench" / "Gen.scala").read_bytes()).hexdigest()[:12]
    data_root = root / ".bench_build" / "data"
    if data_root.is_dir():
        for old in data_root.iterdir():
            if old.name != data_key:
                shutil.rmtree(old, ignore_errors=True)
    def inputs(workload, seed):
        return ["--workload", workload, "--seed", str(seed), "--root", str(root),
                "--data", str(data_root / data_key)]
    # Spark's shuffle and spill files stay inside the checkout
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    jsa = class_archive(jar, cp, env, inputs("pip_broadcast", 0))
    flags = [f"-XX:SharedArchiveFile={jsa}"] if jsa else []
    t0 = time.monotonic()
    code, out = java(cp, "perfbench.Generate", inputs(a.workload, a.seed), env, RUN_LIMIT_S, flags)
    if code != 0:
        sys.stdout.write(out)
        sys.exit(f"perfbench: input generation failed (exit {code})")
    code, out = java(cp, "perfbench.Main", [*inputs(a.workload, a.seed), "--seconds", str(a.seconds),
                                            "--trace", a.trace],
                     env, RUN_LIMIT_S - (time.monotonic() - t0), flags)
    lines = out.rstrip("\n").split("\n")
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        sys.exit(f"perfbench: run failed (exit {code})")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
