#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark harness (perfbench/src) into
.bench_build/<source digest>/classes with the Scala compiler that ships in
the program's jar directory, and returns the run classpath.

The jar directory is the one the program's build.sbt names in
`unmanagedBase`, or $SPARK_HOME/jars. A build is reused while no source
file changes; a build that did not finish is never reused.

    python3 perfbench/build.py          # build if needed, print the classpath
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD_DIR = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def program_sources():
    src = ROOT / "src" / "main" / "scala"
    if not (ROOT / "build.sbt").is_file() or not src.is_dir():
        raise BuildError(f"no program to build: {ROOT} holds no build.sbt "
                         "and src/main/scala")
    files = sorted(src.rglob("*.scala"))
    if not files:
        raise BuildError("src/main/scala holds no sources")
    return files


def harness_sources():
    return sorted((BENCH / "src").rglob("*.scala"))


def jar_dir():
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  (ROOT / "build.sbt").read_text())
    cands = [Path(m.group(1))] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for d in cands:
        if d.is_dir() and any(d.glob("spark-core_*.jar")):
            return d
    raise BuildError("no Spark jar directory: neither build.sbt's "
                     "unmanagedBase nor $SPARK_HOME/jars holds spark-core")


def digest(files):
    h = hashlib.sha256()
    for f in files + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Compile if needed; return (classes_dir, classpath string)."""
    prog = program_sources()
    harness = harness_sources()
    jars = jar_dir()
    jar_cp = str(jars / "*")
    out = BUILD_DIR / digest(prog + harness)
    classes = out / "classes"
    stamp = out / "BUILT"
    cp = os.pathsep.join([str(classes), jar_cp])
    if stamp.is_file():
        return classes, cp
    if out.exists():
        shutil.rmtree(out)
    classes.mkdir(parents=True)
    compiler = []
    for n in ("compiler", "library", "reflect"):
        found = sorted(jars.glob(f"scala-{n}-2.13*.jar"))
        if not found:
            raise BuildError(f"no scala-{n} 2.13 jar in {jars}")
        compiler.append(str(found[0]))
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in prog + harness) + "\n")
    print(f"[perfbench] compiling {len(prog)} program + {len(harness)} "
          f"harness sources into {classes}", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-classpath", jar_cp, "-d", str(classes), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    # older builds of other source states are dead weight
    for d in BUILD_DIR.iterdir():
        if d.is_dir() and d != out:
            shutil.rmtree(d, ignore_errors=True)
    stamp.write_text("ok\n")
    return classes, cp


if __name__ == "__main__":
    try:
        print(build()[1])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
