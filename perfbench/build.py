#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources (src/main/scala)
together with the benchmark's own (perfbench/src) into one class directory.

It uses the Scala compiler that ships with Spark's jars ($SPARK_HOME/jars), so
it needs no dependency resolution. Outputs are keyed by a hash of every source
file, so an unchanged tree is not compiled twice.

    python3 perfbench/build.py [build-dir]      # prints the class directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


class BuildError(Exception):
    pass


def spark_home():
    """$SPARK_HOME, else the first Spark installation (a spark-submit with a
    jars directory beside its bin) on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if submit.is_file() and (submit.resolve().parent.parent / "jars").is_dir():
            return submit.resolve().parent.parent
    raise BuildError("SPARK_HOME is unset and no Spark installation is on PATH")


def spark_jars():
    jars_dir = spark_home() / "jars"
    jars = sorted(jars_dir.glob("*.jar"))
    if not jars:
        raise BuildError(f"no Spark jars under {jars_dir}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    return program + sorted((BENCH / "src").rglob("*.scala"))


def build(build_dir):
    """Returns the class directory, compiling first when sources changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    out = Path(build_dir).resolve() / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in jars)
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp] + [str(f) for f in srcs]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    (tmp / ".complete").touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
