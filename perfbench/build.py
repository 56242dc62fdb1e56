#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with
the Scala compiler that ships in the Spark distribution build.sbt
compiles against (or $SPARK_HOME), straight into a class directory.
No sbt: a build must not write outside the checkout, and build time
counts in no metric.

The output directory is keyed by a hash of every source file, so an
unchanged tree is compiled once per checkout.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jar_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        sys.exit("perfbench: set SPARK_HOME; build.sbt names no Spark jar directory")
    return m.group(1)


def spark_jars():
    jars = sorted(glob.glob(os.path.join(spark_jar_dir(), "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        sys.exit(f"perfbench: no Spark jars with scala-compiler in {spark_jar_dir()}")
    return jars


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        sys.exit("perfbench: no program sources under src/main/scala; run from a full checkout")
    return main + sorted((HERE / "src").rglob("*.scala"))


def ensure_built():
    """The compiled class directory for the current sources."""
    srcs, jars = sources(), spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(jars).encode())
    classes = OUT / f"classes-{h.hexdigest()[:16]}"
    if (classes / ".complete").exists():
        return classes
    tmp = OUT / "build-tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    (tmp / "sources.txt").write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = os.pathsep.join(jars)
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
         "-d", str(tmp / "classes"), f"@{tmp / 'sources.txt'}"],
        check=True, stdout=sys.stderr)
    (tmp / "classes" / ".complete").touch()
    shutil.rmtree(classes, ignore_errors=True)
    (tmp / "classes").rename(classes)
    shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(ensure_built())
