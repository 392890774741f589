#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source (see build.py),
then runs the workload in one JVM at local[nproc]. Progress and the run record
go to stdout; the last stdout line is the JSON result. Spark's own logs go to
stderr. Build outputs, inputs and run records stay under $CARGO_TARGET_DIR
(default .bench_build) in the current directory.
"""

import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

# one run must end within 180 s, however long --seconds asks for
JVM_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would pass (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    base = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve()
    try:
        classes = build.build(base)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1

    work = base / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cp = os.pathsep.join([str(classes)] + [str(j) for j in build.spark_jars()])
    cmd = [build.java(), "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", str(work), "--records", str(base / "records")]
    (work / "tmp").mkdir()

    # a terminated run.py still stops and waits for the JVM (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            encoding="utf-8", errors="replace")
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = stdout.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith('{"correct"'):
        # no result line on failure: whatever the JVM printed goes to stderr
        sys.stderr.write(stdout)
        print(f"benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 1
    sys.stdout.write(stdout)
    return 0


if __name__ == "__main__":
    sys.exit(main())
